package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, QueryParser, ScoringRule}

/** Batch retrieval (runQueries): per-query results identical to
  * runQuery, and the whole batch pays ONE stats job over the resident
  * block maps (term stats and kernel window counts) and ONE complex-leaf
  * SQL stats round (reference:
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
    // the stats rounds are the term stats and kernel window counts (one
    // job over the resident block maps) and the belief leaves' SQL
    // execution; a batch pays each once whatever its size. Kernel
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

  test("an all-kernel batch runs no SQL: one stats job, then one kernel job each") {
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "okapi"))
    val windows = Seq(
      "#combine(#od1(alpha beta) gamma)",
      "#combine(#uw4(beta delta) alpha)",
      "#od2(delta beta)")
    val bags = Seq("#combine(alpha beta)", "#weight(2 alpha 1 gamma)", "delta")
    for (batch <- Seq(windows ++ bags, bags)) {
      eng.runQueries(batch, 10).foreach(_._2.collect()) // warm
      val t = JobTally.of(spark)(eng.runQueries(batch, 10))._2
      val what = s"${batch.size}-query batch: $t"
      assert(kernelCount(eng, batch) == batch.size, what)
      assert(t.sqlExecutions == 0, what)
      assert(t.jobs.size == batch.size + 1, what)
      assert(t.jobsOn("resident block maps").size == batch.size + 1, what)
    }
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
}
