package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.apps.{BuildIndex, DumpIndex}
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, ScoringRule}

/** The dumpindex application surface over a STORED repository: every
  * command must agree with the in-memory index the repository was built
  * from — term postings (stemmed through the repo's recorded chain,
  * stopwords empty out), field extents, expression list/counts,
  * document vectors, vocabulary, stats, and both metadata lookups.
  */
class DumpIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private object Plans extends AdaptiveSparkPlanHelper

  // tiny tagged corpus: head fields, krovetz-stemmable words, a stopword
  private lazy val corpusRows = (1 to 40).map { i =>
    val extra = ("merges " * (i % 3)) + ("stacks " * (i % 2))
    ("r1", f"p$i%04d", "c1",
      s"<head>merge data block$i</head> the $extra data merge")
  }

  private lazy val repoDir: String = {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-di-c").toString
    val rDir = java.nio.file.Files.createTempDirectory("graft-di-r").toString
    corpusRows.toDF("repo", "path", "commit", "content")
      .write.mode("overwrite").parquet(corpusDir)
    val p = BuildIndex.parseParams(
      s"""<parameters>
         |  <index>$rDir</index>
         |  <corpus><path>$corpusDir</path></corpus>
         |  <field><name>head</name></field>
         |  <stemmer><name>krovetz</name></stemmer>
         |  <stopper><word>the</word></stopper>
         |</parameters>""".stripMargin)
    BuildIndex.run(spark, p, IndexConfig(blockSize = 16, numBuckets = 4))
    rDir
  }

  private lazy val cfg = IndexConfig(blockSize = 16, numBuckets = 4,
    stemmerName = "krovetz", stopwords = Set("the"),
    fields = Seq(graft.index.FieldSpec("head")))
  private lazy val memIdx = IndexBuilder.buildFromCorpus(
    corpusRows.toDF("repo", "path", "commit", "content"), cfg)

  test("t/tp decode the stored blocks; argument stems through the chain") {
    val tp = DumpIndex.command(spark, repoDir, "tp", Seq("merge"))
      .select("docId", "tf", "positions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSeq
    val mem = memIdx.postings.where(col("term") === "merge")
      .select("docId", "tf", "positions").orderBy("docId").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Int](2))).toSeq
    assert(tp == mem && tp.nonEmpty)
    // 'Merges' normalizes + kstems to the same entry as 'merge'
    val stemmed = DumpIndex.command(spark, repoDir, "t", Seq("Merges"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(stemmed == tp.map(t => (t._1, t._2)))
    // stopwords dump an empty list, like a term the chain nulls out
    assert(DumpIndex.command(spark, repoDir, "t", Seq("the")).isEmpty)
  }

  test("fp dumps the stored field extents") {
    val fp = DumpIndex.command(spark, repoDir, "fp", Seq("head"))
      .select("docId", "begin", "end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val mem = memIdx.fieldExtents.where(col("field") === "head")
      .select("docId", "begin", "end").orderBy("docId", "begin").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong)).toSeq
    assert(fp == mem && fp.size == 40)
  }

  test("e/x/dx evaluate expressions; only the expression's terms decode") {
    val eng = new Engine(spark, memIdx, cfg.analyzer, ScoringRule(method = "okapi"))
    val eDf = DumpIndex.command(spark, repoDir, "e", Seq("#od1(data merge)"))
    val e = eDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val mem = eng.expressionList("#od1(data merge)")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong)).toSeq
    assert(e == mem && e.nonEmpty)
    assert(DumpIndex.command(spark, repoDir, "x", Seq("#od1(data merge)"))
      .head().getLong(0) == eng.expressionCount("#od1(data merge)"))
    assert(DumpIndex.command(spark, repoDir, "dx", Seq("#od1(data merge)"))
      .head().getLong(0) == eng.documentExpressionCount("#od1(data merge)"))
    // only the expression's terms decode: every segments scan of the
    // `e` plan carries the pushed term filter
    val segmentScans = Plans.collect(eDf.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == "segments") =>
        s.metadata("PushedFilters")
    }
    assert(segmentScans.nonEmpty && segmentScans.forall(_.contains("term")),
      s"a segments scan without the term filter: $segmentScans")
  }

  test("dv rebuilds a document vector from block-pruned decode") {
    val dv = DumpIndex.command(spark, repoDir, "dv", Seq("7"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val mem = memIdx.postings.where(col("docId") === 7)
      .select(col("docId"), explode(col("positions")).as("pos"), col("term"))
      .orderBy("pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(dv == mem && dv.nonEmpty)
  }

  test("v and s dump the stored dictionary and corpus stats") {
    val v = DumpIndex.command(spark, repoDir, "v", Seq())
    assert(v.count() == memIdx.dictionary.count())
    val s = DumpIndex.command(spark, repoDir, "s", Seq()).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) ==
      (memIdx.stats.totalDocs, memIdx.stats.totalTerms, memIdx.stats.uniqueTerms))
  }

  test("tdv joins indexed stems in position order; vtl audits a clean repository") {
    val tdv = DumpIndex.command(spark, repoDir, "tdv", Seq("1", "2", "3"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent expectation straight from the analyzer chain: stems in
    // position order with stopped (null) slots skipped — the reference's
    // "[OOV]" drop (dumpindex.cpp:389-395)
    val an = cfg.analyzer
    val expect = (1 to 3).map { i =>
      i.toLong -> an.analyze(corpusRows(i - 1)._4).filter(_ != null).mkString(" ")
    }.toMap
    assert(tdv == expect)
    assert(expect(1L).contains("merge data block1"), s"fixture sanity: ${expect(1L)}")
    assert(!expect(1L).contains("the")) // stopped slot dropped from the line
    val vtl = DumpIndex.command(spark, repoDir, "vtl", Seq.empty).collect()
    assert(vtl.length == 4)
    assert(vtl.forall(r => r.getBoolean(1) && r.getLong(2) == 0L),
      vtl.map(r => s"${r.getString(0)}=${r.getLong(2)}").mkString(", "))
  }

  test("del/c/m/il: deletes persist and bind at query open, compact releases them, merge federates on disk") {
    import graft.apps.RunQuery
    import graft.index.RepositorySurgery
    def buildRepo(rows: Seq[(String, String, String, String)]): String = {
      val corpusDir = java.nio.file.Files.createTempDirectory("graft-dim-c").toString
      val rDir = java.nio.file.Files.createTempDirectory("graft-dim-r").toString
      rows.toDF("repo", "path", "commit", "content")
        .write.mode("overwrite").parquet(corpusDir)
      BuildIndex.run(spark, BuildIndex.parseParams(
        s"""<parameters>
           |  <index>$rDir</index>
           |  <corpus><path>$corpusDir</path></corpus>
           |  <field><name>head</name></field>
           |  <stemmer><name>krovetz</name></stemmer>
           |  <stopper><word>the</word></stopper>
           |</parameters>""".stripMargin),
        IndexConfig(blockSize = 16, numBuckets = 4))
      rDir
    }
    def postings(df: org.apache.spark.sql.DataFrame) =
      df.select(col("term"), col("docId"), col("tf").cast("long"),
          col("positions").cast("array<int>"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getSeq[Int](3).mkString(","))).toSet

    val dir = buildRepo(corpusRows)
    // il = the full inverted file
    assert(postings(DumpIndex.command(spark, dir, "il", Seq())) ==
      postings(memIdx.postings))

    // del: persists under the repo; DUMP verbs keep the raw lists (the
    // reference prints the inverted file as stored), QUERY surfaces
    // consult the DeletedDocumentList at open
    val qp = RunQuery.parseParams(
      s"""<parameters><index>$dir</index>
         |  <query>#combine(merge data)</query>
         |  <count>50</count><rule>method:dirichlet</rule>
         |</parameters>""".stripMargin)
    def queryDocs(): Set[Long] =
      RunQuery.execute(RunQuery.openEnvironment(spark, qp, graft.analysis.Analyzer()), qp)
        .head._2.select("docId").collect().map(_.getLong(0)).toSet
    assert(queryDocs().contains(7L))
    DumpIndex.command(spark, dir, "del", Seq("7"))
    assert(RepositorySurgery.readDeletes(spark, dir).get
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(DumpIndex.command(spark, dir, "t", Seq("merge"))
      .collect().exists(_.getLong(1) == 7L)) // raw dump: still visible
    // metadata verbs too: dn/di/dd read the raw tables until compaction
    // (reference print_document_name goes straight to the
    // CompressedCollection, dumpindex.cpp:308-313 — only inference-
    // network evaluation consults the DeletedDocumentList)
    assert(DumpIndex.command(spark, dir, "dn", Seq("7")).count() == 1L)
    assert(!queryDocs().contains(7L)) // query open: deleted

    // c: compaction releases the pending deletes — stable docIds, stats
    // = surviving corpus, postings = original minus doc 7, metadata and
    // chain carry over, the deleted/ list is gone
    DumpIndex.command(spark, dir, "c", Seq())
    assert(RepositorySurgery.readDeletes(spark, dir).isEmpty)
    val s = DumpIndex.command(spark, dir, "s", Seq()).head()
    assert(s.getLong(0) == 39L)
    assert(postings(DumpIndex.command(spark, dir, "il", Seq())) ==
      postings(memIdx.postings.where(col("docId") =!= 7)))
    val dn = DumpIndex.command(spark, dir, "dn", Seq("3")).head()
    assert(dn.getString(1) == "r1/p0003@c1")
    assert(graft.apps.BuildIndex.storedAnalyzer(dir).isDefined)
    assert(queryDocs().nonEmpty && !queryDocs().contains(7L))

    // m: offline merge of two half-repos — docIds rebase onto the
    // federation bases (halves split in docno order, so the merged ids
    // equal the whole-corpus build's), metadata rebases, chain copies
    val dirA = buildRepo(corpusRows.take(20))
    val dirB = buildRepo(corpusRows.drop(20))
    val outDir = java.nio.file.Files.createTempDirectory("graft-dim-m").toString
    DumpIndex.command(spark, outDir, "m", Seq(dirA, dirB))
    val ms = DumpIndex.command(spark, outDir, "s", Seq()).head()
    assert(ms.getLong(0) == 40L)
    assert(postings(DumpIndex.command(spark, outDir, "il", Seq())) ==
      postings(memIdx.postings))
    assert(DumpIndex.command(spark, outDir, "fp", Seq("head")).count() == 40L)
    assert(DumpIndex.command(spark, outDir, "dn", Seq("23")).head()
      .getString(1) == "r1/p0023@c1")
    assert(graft.apps.BuildIndex.storedAnalyzer(outDir) ==
      graft.apps.BuildIndex.storedAnalyzer(dirA))
    // members with pending deletes refuse (compact-first rule)
    DumpIndex.command(spark, dirA, "del", Seq("1"))
    val err = intercept[IllegalArgumentException](
      DumpIndex.command(spark, java.nio.file.Files
        .createTempDirectory("graft-dim-m2").toString, "m", Seq(dirA, dirB)))
    assert(err.getMessage.contains("compact"))
  }

  test("di and dn round-trip docno metadata; dt/dd serve the stored collection") {
    val dn = DumpIndex.command(spark, repoDir, "dn", Seq("3"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(dn.length == 1 && dn.head._1 == 3L && dn.head._2.startsWith("r1/"))
    val di = DumpIndex.command(spark, repoDir, "di", Seq("docno", dn.head._2))
      .as[Long].collect()
    assert(di.toSeq == Seq(3L))
    // dt: the raw text from the repository's collection table (the
    // CompressedCollection analogue) — byte-identical to the corpus row
    val dt = DumpIndex.command(spark, repoDir, "dt", Seq("3", "4")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dt == Map(3L -> corpusRows(2)._4, 4L -> corpusRows(3)._4))
    // dd adds the docno column
    val dd = DumpIndex.command(spark, repoDir, "dd", Seq("3")).collect()
    assert(dd.length == 1 && dd(0).getString(1) == dn.head._2 &&
      dd(0).getString(2) == corpusRows(2)._4)
    // pre-collection repositories keep the original refusal
    val bare = java.nio.file.Files.createTempDirectory("graft-nocoll").toString
    graft.index.SegmentStore.writeAll(memIdx, bare, cfg)
    val err = intercept[UnsupportedOperationException](
      DumpIndex.command(spark, bare, "dt", Seq("3")))
    assert(err.getMessage.contains("corpus"))
    intercept[IllegalArgumentException](
      DumpIndex.command(spark, repoDir, "bogus", Seq()))
  }

  test("compact filters deleted text from the collection; merge rebases it") {
    import graft.index.RepositorySurgery
    // fresh repo so deletes here don't disturb the shared fixture
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-cc-c").toString
    val rDir = java.nio.file.Files.createTempDirectory("graft-cc-r").toString
    corpusRows.toDF("repo", "path", "commit", "content")
      .write.mode("overwrite").parquet(corpusDir)
    val p = BuildIndex.parseParams(
      s"""<parameters>
         |  <index>$rDir</index>
         |  <corpus><path>$corpusDir</path></corpus>
         |</parameters>""".stripMargin)
    BuildIndex.run(spark, p, IndexConfig(blockSize = 16, numBuckets = 4))
    DumpIndex.command(spark, rDir, "del", Seq("2", "5"))
    DumpIndex.command(spark, rDir, "c", Seq()).collect()
    val left = BuildIndex.openCollection(spark, rDir).get
      .select("docId").as[Long].collect().sorted
    assert(left.length == 38 && !left.contains(2L) && !left.contains(5L))
    // dt of a compacted-away doc returns nothing; survivors still serve
    assert(DumpIndex.command(spark, rDir, "dt", Seq("2")).count() == 0)
    assert(DumpIndex.command(spark, rDir, "dt", Seq("3")).count() == 1)
    // merge rebases the second member's text past the first's max docId
    val corpus2 = java.nio.file.Files.createTempDirectory("graft-cc-c2").toString
    val rDir2 = java.nio.file.Files.createTempDirectory("graft-cc-r2").toString
    Seq(("r9", "p1", "c1", "lone merge text")).toDF("repo", "path", "commit", "content")
      .write.mode("overwrite").parquet(corpus2)
    BuildIndex.run(spark, BuildIndex.parseParams(
      s"""<parameters>
         |  <index>$rDir2</index>
         |  <corpus><path>$corpus2</path></corpus>
         |</parameters>""".stripMargin), IndexConfig(blockSize = 16, numBuckets = 4))
    val out = java.nio.file.Files.createTempDirectory("graft-cc-m").toString + "/m"
    DumpIndex.command(spark, out, "m", Seq(rDir, rDir2)).collect()
    // member1 max docId is 40 (stable ids through compact) → rebase 41
    val merged = DumpIndex.command(spark, out, "dt", Seq("41")).collect()
    assert(merged.length == 1 && merged(0).getString(1) == "lone merge text")
  }
}
