package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, QueryParser, ScoringRule}

/** The stats round for complex leaves is ONE Spark job regardless of
  * leaf count (reference: src/QueryEnvironment.cpp:957-966 — a single
  * _sumServerQuery over the whole ContextCountGraph), and the batched
  * stats feed the same combiner arithmetic as independently-evaluated
  * children.
  */
class StatsBatchSpec extends AnyFunSuite {
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
  private lazy val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "dirichlet"))

  private val query = "#combine(#od1(alpha beta) #uw4(beta delta) #syn(alpha gamma))"

  test("belief construction runs exactly 1 driver action: ONE batched complex-leaf stats collect") {
    eng.evaluate(QueryParser.parse(query)).df.collect() // warm index build / caches
    // the one action is the leaf-stats round, one SQL execution (AQE fans
    // an execution into several scheduler jobs, so its job count is not
    // the metric); the term stats are lookups in the driver-resident
    // vocabulary and touch no block
    val t = JobTally.of(spark)(eng.evaluate(QueryParser.parse(query)))._2 // construction only
    assert(t.jobsOn("resident block maps").isEmpty && t.sqlExecutions == 1,
      s"expected 1 action for a 3-complex-leaf query (batched leaf stats), saw $t")
  }

  test("batched stats scores == query-order fold of independently-evaluated children") {
    val whole = eng.evaluate(QueryParser.parse(query)).df
      .select("docId", "score").as[(Long, Double)].collect().toMap
    val parts = Seq("#od1(alpha beta)", "#uw4(beta delta)", "#syn(alpha gamma)")
      .map(q => eng.evaluate(QueryParser.parse(q)))
    val partMaps = parts.map(_.df.select("docId", "score").as[(Long, Double)].collect().toMap)
    val doclens = index.doclens.select("docId", "length").as[(Long, Int)].collect().toMap
    val w = 1.0 / parts.length
    val candidates = partMaps.flatMap(_.keySet).toSet
    assert(candidates.nonEmpty && whole.keySet == candidates)
    candidates.foreach { d =>
      var acc = 0.0
      parts.indices.foreach { i =>
        acc += w * partMaps(i).getOrElse(d, parts(i).bg(doclens(d)))
      }
      assert(whole(d) == acc, s"doc $d: ${whole(d)} vs $acc")
    }
  }
}
