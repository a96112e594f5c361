package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index._
import graft.search.{Engine, ScoringRule}

/** Checkpoint/resume contract of the segment store
  * (reference: src/Repository.cpp:1198-1215 checkpoint;
  * buildindex/IndriBuildIndex.cpp:609-656 recovery; FIXTURES.md resume
  * test: rerun after partial failure == single-run output).
  */
class StoreResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(analyzerMode = "simple", blockSize = 32, numBuckets = 4)

  private def buildIdx() = {
    val corpus = graft.corpus.CorpusSynthesizer.corpus(spark, 200)
    val docs = IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
    IndexBuilder.build(docs.select("docId", "content"), cfg)
  }

  test("writeAll → open round-trips; resume skips committed tables") {
    val dir = java.nio.file.Files.createTempDirectory("segstore").toString
    val idx = buildIdx()
    val written1 = SegmentStore.writeAll(idx, dir, cfg)
    assert(written1 == Set("segments", "dictionary", "doclens", "stats", "manifest", "fields"))

    // identical rerun writes nothing (full resume)
    assert(SegmentStore.writeAll(idx, dir, cfg).isEmpty)

    // simulate a crash that lost two tables' markers (partial failure)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "dictionary", "_GRAFT_SUCCESS"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "stats", "_GRAFT_SUCCESS"))
    val written2 = SegmentStore.writeAll(idx, dir, cfg)
    assert(written2 == Set("dictionary", "stats"))

    // config change invalidates everything (fingerprint mismatch)
    val cfg2 = cfg.copy(blockSize = 16)
    val idx2 = buildIdx().copy(segments =
      IndexBuilder.buildSegments(idx.postings, idx.stats.totalDocs, cfg2).toDF())
    assert(SegmentStore.writeAll(idx2, dir, cfg2).size == 6)

    // open() view answers queries identically to the in-memory build
    val stored = SegmentStore.open(spark, dir)
    assert(stored.stats == idx.stats)
    val storedIdx = InvertedIndex(
      postings = null, dictionary = stored.dictionary, doclens = stored.doclens,
      stats = stored.stats, segments = stored.segments)
    val eMem = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "okapi"))
    val eDisk = new Engine(spark, storedIdx, cfg.analyzer, ScoringRule(method = "okapi"))
    val q = "#combine(return license)"
    val rMem = eMem.runQuery(q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rDisk = eDisk.runQuery(q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rMem == rDisk && rMem.nonEmpty)

    // per-partition lineage manifest rows audit the build
    val manifest = spark.read.parquet(s"$dir/manifest")
    assert(manifest.where(col("status") === "complete").count() > 0)
    val totalPostings = manifest.agg(sum("postings")).head().getLong(0)
    assert(totalPostings == idx.postings.count())
  }

  test("open() refuses a half-rewritten store (mixed table fingerprints)") {
    val dir = java.nio.file.Files.createTempDirectory("segstore-mixed").toString
    SegmentStore.writeAll(buildIdx(), dir, cfg)
    // simulate a writeAll under a NEW config dying after rewriting only
    // the segments table: its marker carries the new fingerprint while
    // dictionary/doclens/stats still carry the old one — serving that
    // view would score with stats that disagree with the postings
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "segments", "_GRAFT_SUCCESS"), "new-config-fp")
    val e = intercept[IllegalStateException] { SegmentStore.open(spark, dir) }
    assert(e.getMessage.contains("half-rewritten"))
  }

  test("a crashed rewriteFields swap rolls forward at open()") {
    val dir = java.nio.file.Files.createTempDirectory("segstore-swap").toString
    val fcfg = IndexConfig(analyzerMode = "indri", blockSize = 8, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par")))
    val rows = (1L to 6L)
      .map(i => (i, s"<sec>alpha w$i <par>beta gamma</par></sec>"))
      .toDF("docId", "content")
    SegmentStore.writeAll(IndexBuilder.build(rows, fcfg), dir, fcfg)
    val fields = spark.read.parquet(s"$dir/fields")
    val total = fields.count()
    assert(total > 1)
    // simulate the crash window between rewriteFields' two renames: the
    // complete NEW table (one extent removed) sits at fields.rewrite,
    // the old table is parked at fields.old, and the canonical path is
    // EMPTY — before recovery, open() silently served fieldExtents=null
    val keep = fields.orderBy("docId", "field", "begin").limit((total - 1).toInt)
    keep.write.parquet(s"$dir/fields.rewrite")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "fields"), java.nio.file.Paths.get(dir, "fields.old"))
    val stored = SegmentStore.open(spark, dir)
    assert(stored.fieldExtents != null, "fields table lost after crashed swap")
    assert(stored.fieldExtents.count() == total - 1) // the NEW table won
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "fields.old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "fields.rewrite")))
  }
}
