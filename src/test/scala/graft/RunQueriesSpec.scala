package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, QueryParser, ScoringRule}

/** Batch retrieval (runQueries): per-query results identical to
  * runQuery, and the whole batch pays at most ONE window-count job over
  * the resident block maps (term stats are driver lookups) and ONE
  * complex-leaf SQL stats round (reference:
  * IndriRunQuery batches queries against a shared QueryEnvironment,
  * runquery/IndriRunQuery.cpp:710-726).
  */
class RunQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "alpha beta alpha gamma delta"),
    (2L, "beta beta delta alpha"),
    (3L, "alpha delta delta delta beta gamma"),
    (4L, "gamma gamma alpha beta")
  )
  private val cfg = IndexConfig(analyzerMode = "simple", blockSize = 8, numBuckets = 2)
  private lazy val index = IndexBuilder.build(corpus.toDF("docId", "content"), cfg)

  private val mixed = Seq(
    "#combine(alpha beta)",
    "#combine(#od1(alpha beta) gamma)",
    "#wsyn(0.7 alpha 0.3 delta)",
    "#weight(2 alpha 1 gamma)")

  private def collectAll(dfs: Seq[(String, org.apache.spark.sql.DataFrame)]) =
    dfs.map { case (q, df) =>
      q -> df.select("docId", "score").as[(Long, Double)].collect().toSeq
    }.toMap

  test("dirichlet batch results are identical to per-query runQuery") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "dirichlet"))
    val batch = collectAll(eng.runQueries(mixed, 10))
    mixed.foreach { q =>
      val single = eng.runQuery(q, 10).select("docId", "score").as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"mismatch for $q")
    }
  }

  test("okapi batch (DAAT-eligible + belief-path mixed) identical to per-query runQuery") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "okapi"))
    val batch = collectAll(eng.runQueries(mixed, 10))
    mixed.foreach { q =>
      val single = eng.runQuery(q, 10).select("docId", "score").as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"mismatch for $q")
    }
  }

  /** the queries of `batch` that run on the kernel */
  private def kernelCount(eng: Engine, batch: Seq[String]): Int =
    batch.count(q => eng.runStructured(QueryParser.parse(q), 10).isDefined)

  test("a mixed batch pays one stats job and one SQL execution") {
    // the stats rounds are the kernel window counts (one job over the
    // resident block maps; both batches hold an #od1 kernel query; the
    // term stats are driver-vocabulary lookups) and the belief leaves'
    // SQL execution; a batch pays each once whatever its size. Kernel
    // queries also run one kernel job each at construction.
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "dirichlet"))
    val more = Seq(
      "#combine(gamma delta)",
      "#combine(#od1(beta delta) alpha)",
      "#wsyn(0.5 beta 0.5 gamma)",
      "#weight(1 beta 2 delta)")
    eng.runQueries(mixed ++ more, 10).foreach(_._2.collect()) // warm
    for (batch <- Seq(mixed, mixed ++ more)) {
      val t = JobTally.of(spark)(eng.runQueries(batch, 10))._2
      val what = s"${batch.size}-query batch: $t"
      assert(t.sqlExecutions == 1, what)
      assert(t.jobsOn("resident block maps").size == kernelCount(eng, batch) + 1, what)
    }
  }

  // the one stats job of an all-kernel batch counts its windows
  private def allKernelBatch(batch: Seq[String], statsJobs: Int): Unit = {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "okapi"))
    eng.runQueries(batch, 10).foreach(_._2.collect()) // warm
    val t = JobTally.of(spark)(eng.runQueries(batch, 10))._2
    val what = s"${batch.size}-query batch: $t"
    assert(kernelCount(eng, batch) == batch.size, what)
    assert(t.sqlExecutions == 0, what)
    assert(t.jobs.size == batch.size + statsJobs, what)
    assert(t.jobsOn("resident block maps").size == batch.size + statsJobs, what)
  }

  private val kernelBags = Seq("#combine(alpha beta)", "#weight(2 alpha 1 gamma)", "delta")

  test("an all-kernel batch runs no SQL: one stats job, then one kernel job each") {
    allKernelBatch(Seq(
      "#combine(#od1(alpha beta) gamma)",
      "#combine(#uw4(beta delta) alpha)",
      "#od2(delta beta)") ++ kernelBags, statsJobs = 1)
  }

  test("an all-kernel batch of bags runs one kernel job each and nothing else") {
    // no window to count, and the term stats are driver-vocabulary lookups
    allKernelBatch(kernelBags, statsJobs = 0)
  }

  test("with pending deletes a batch counts its windows in one job, results identical to runQuery") {
    val windows = Seq(
      "#combine(#od1(alpha beta) gamma)",
      "#combine(#uw4(beta delta) alpha)",
      "#weight(0.6 #od2(delta beta) 0.4 gamma)",
      "#uw8(alpha gamma)")
    val batch = windows :+ "#wsyn(0.7 alpha 0.3 delta)"
    for (method <- Seq("okapi", "dirichlet")) {
      val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = method))
      eng.deleteDocuments(Seq(1L, 4L).toDF("docId"))
      val got = collectAll(eng.runQueries(batch, 10))
      batch.foreach { q =>
        val single = eng.runQuery(q, 10).select("docId", "score").as[(Long, Double)].collect().toSeq
        assert(got(q) == single, s"mismatch for $q ($method)")
        assert(single.forall(r => r._1 == 2L || r._1 == 3L), s"deleted doc leaked for $q ($method)")
      }
      assert(windows.forall(q => got(q).nonEmpty), s"an empty window result ($method)")
      assert(kernelCount(eng, batch) == windows.size)
      val t = JobTally.of(spark)(eng.runQueries(batch, 10))._2
      val what = s"$method batch after deletes: $t"
      assert(t.sqlExecutions == 1, what)
      assert(t.jobsOn("resident block maps").size == windows.size + 1, what)
    }
  }

  test("a warm batch of a bag, a passage and a field query: one kernel job each, no SQL") {
    // a `head` field over each doc's first 3 positions
    val fidx = IndexBuilder.build(corpus.toDF("docId", "content"), cfg,
      annotate = df => graft.index.FieldAnnotators.headField(3)(df))
    val eng = new Engine(spark, fidx, cfg.analyzer, ScoringRule(method = "dirichlet"))
    val bag = "#combine(alpha beta)"
    val passage = "#combine[passage2:1](alpha delta)"
    val field = "#weight[head](0.7 beta 0.3 delta)"
    val batch = Seq(bag, passage, field)
    eng.runQueries(batch, 10).foreach(_._2.collect()) // warm: the resident block maps and extents
    val (got, t) = JobTally.of(spark)(eng.runQueries(batch, 10))
    val what = s"bag + passage + field batch: $t"
    // no window, so no window-count job: term stats are driver lookups
    assert(t.sqlExecutions == 0, what)
    assert(t.jobs.size == batch.size, what)
    assert(t.jobsOn("resident block maps").size == batch.size, what)
    assert(t.jobsOn("resident field extents").size == 1, what)
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).toSeq
    val rows = got.map { case (q, df) => q -> bits(df) }.toMap
    assert(rows(bag).nonEmpty && rows(passage).nonEmpty && rows(field).nonEmpty)
    assert(rows(bag) == bits(eng.runQuery(bag, 10)))
    for (q <- Seq(passage, field)) {
      assert(rows(q) == bits(eng.runExtentQuery(q, 10)), s"mismatch for $q")
      assert(rows(q) == bits(eng.runQuery(q, 10)), s"mismatch for $q")
    }
  }

  test("a working-set extent query ranks only the set's extents") {
    // a 200-doc corpus with a `head` field over each doc's first 7
    // positions; the set is every third docId
    val docs = IndexBuilder.assignDocIdsScalable(graft.corpus.CorpusSynthesizer.corpus(spark, 200),
      Seq("repo", "path", "commit")).select("docId", "content")
    val fidx = IndexBuilder.build(docs, cfg, annotate = df => graft.index.FieldAnnotators.headField(7)(df))
    val eng = new Engine(spark, fidx, cfg.analyzer, ScoringRule(method = "dirichlet"))
    val ws = fidx.doclens.select("docId").where($"docId" % 3 === 0)
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).toSeq
    for (q <- Seq("#combine[passage50:25](return license)", "#weight[head](0.7 return 0.3 license)")) {
      val k = 5
      // every extent of the whole index, filtered to the set, cut to k
      val want = bits(eng.runExtentQuery(q, 100000)).filter(_.head.asInstanceOf[Long] % 3 == 0).take(k)
      val got = bits(eng.runQuery(q, k, ws))
      assert(want.size == k, s"$q: the fixture must rank $k extents in the set")
      assert(got == want, s"$q under the working set")
    }
  }
}
