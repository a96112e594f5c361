package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.CorpusSynthesizer
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

  /** a result's rows with raw score bits */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map { r =>
      r.toSeq.init :+ java.lang.Double.doubleToRawLongBits(r.getDouble(r.length - 1))
    }.toSeq

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

  test("a store whose segments were saved as a Spark-bucketed table opens, serves and compacts like a plain one") {
    val idx = buildIdx()
    val n = cfg.numBuckets
    val plain = Files.createTempDirectory("segstore-plain").toString
    SegmentStore.writeAll(idx, plain, cfg)
    // the older writer: the same tables, but the segments repartitioned by
    // bucket and saved as a bucketed, term-sorted catalog table over the
    // store's directory, then `_BUCKETS` and the markers
    val old = Files.createTempDirectory("segstore-bucketed").toString
    SegmentStore.writeAll(idx, old, cfg)
    val table = s"graft_segments_${Math.abs(old.hashCode)}"
    idx.segments.repartition(n, col("bucket")).write.mode("overwrite")
      .bucketBy(n, "bucket").sortBy("term")
      .option("path", s"$old/segments").saveAsTable(table)
    Files.writeString(Paths.get(old, "segments", "_BUCKETS"), n.toString)
    Files.writeString(Paths.get(old, "segments", "_GRAFT_SUCCESS"), cfg.fingerprint)
    // a later session has no catalog entry; dropping an external table
    // keeps its files
    spark.sql(s"DROP TABLE $table")
    val files = Files.list(Paths.get(old, "segments"))
    val names = try files.iterator().asScala.map(_.getFileName.toString).toSeq finally files.close()
    assert(names.exists(_.matches("part-.*_\\d{5}\\.c000.*\\.parquet")),
      s"no bucket file in $names")

    val fromOld = SegmentStore.open(spark, old)
    val fromPlain = SegmentStore.open(spark, plain)
    assert(fromOld.numBuckets == n && fromPlain.numBuckets == n)
    assert(fromOld.segments.exceptAll(fromPlain.segments).isEmpty &&
      fromPlain.segments.exceptAll(fromOld.segments).isEmpty)
    def engine(st: StoredIndex, method: String) = new Engine(spark,
      InvertedIndex(null, st.dictionary, st.doclens, st.stats, st.segments,
        st.fieldExtents, numBuckets = st.numBuckets),
      cfg.analyzer, ScoringRule(method = method))
    val queries = CorpusSynthesizer.querySet.map(_._2)
    for (method <- Seq("okapi", "dirichlet")) {
      val (eOld, ePlain) = (engine(fromOld, method), engine(fromPlain, method))
      val got = queries.map(q => q -> bits(eOld.runQuery(q, 100)))
      for ((q, rows) <- got)
        assert(rows == bits(ePlain.runQuery(q, 100)), s"$method '$q': bucketed store != plain store")
      assert(got.count(_._2.nonEmpty) > queries.size / 2)
    }

    // compacting the old store equals compactDeletes of the build
    val deleted = (1L to 200L).filter(_ % 7 == 0)
    RepositorySurgery.appendDeletes(spark, old, deleted)
    RepositorySurgery.compactRepository(spark, old)
    val compacted = SegmentStore.open(spark, old)
    val want = IndexBuilder.compactDeletes(idx, deleted.toDF("docId"), cfg)
    assert(compacted.stats == want.stats)
    for (method <- Seq("okapi", "dirichlet")) {
      val eWant = new Engine(spark, want, cfg.analyzer, ScoringRule(method = method))
      val eGot = engine(compacted, method)
      for (q <- queries) {
        val rows = bits(eGot.runQuery(q, 100))
        assert(rows == bits(eWant.runQuery(q, 100)), s"$method '$q': compacted store != compactDeletes")
        assert(rows.forall(r => r.head.asInstanceOf[Long] % 7 != 0))
      }
    }
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
