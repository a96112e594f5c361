package graft

import java.util.concurrent.{CountDownLatch, Executors}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Daat, Engine, ScoringRule}

/** The resident query index: the kernel's per-bucket block maps and the
  * lexicon are built lazily, once per index, under concurrent queries,
  * and the driver merge of bucket-local top-k lists orders exactly like
  * the Spark sort it replaces.
  */
class ResidentIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val cfg = IndexConfig(blockSize = 16, numBuckets = 8)
  private lazy val index =
    IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 600, seed = 7L), cfg)

  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq

  test("4 threads on a fresh Engine: every result equals its serial belief-path result, bit for bit") {
    val queries = CorpusSynthesizer.querySet.map(_._2)
    for (method <- Seq("okapi", "dirichlet")) {
      val rule = ScoringRule(method = method)
      val ref = new Engine(spark, index, cfg.analyzer, rule)
      val want = queries.map(q => q -> bits(ref.runQuery(q, 1000, useDaat = false))).toMap
      // a fresh handle: the racing queries build its resident structures
      val eng = new Engine(spark, index.copy(), cfg.analyzer, rule)
      val go = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val results = queries.map { q =>
          pool.submit(() => { go.await(); q -> bits(eng.runQuery(q, 1000)) })
        }
        go.countDown()
        results.foreach { f =>
          val (q, got) = f.get()
          assert(got == want(q), s"$method '$q': concurrent kernel result != serial belief path")
        }
      } finally pool.shutdown()
    }
  }

  test("driver merge of bucket top-k lists == orderBy(score.desc, docId.asc).limit(k)") {
    import spark.implicits._
    // bucket-local lists (docIds are disjoint across buckets): score ties
    // across buckets, 0.0 against -0.0, NaN, and fewer rows than large k
    val locals = Seq(
      Seq((1L, 2.5), (3L, 0.0), (5L, -1.0)),
      Seq((2L, 2.5), (4L, -0.0), (6L, -0.0), (9L, Double.NaN)),
      Seq((7L, 0.0), (8L, Double.NegativeInfinity)),
      Seq.empty[(Long, Double)])
    def raw(rs: Seq[(Long, Double)]) =
      rs.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }
    def sparkTop(k: Int) = raw(locals.flatten.toDF("docId", "score")
      .orderBy(col("score").desc, col("docId").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    for (k <- Seq(1, 2, 3, 4, 5, 6, 9, 100))
      assert(raw(Daat.mergeTopK(locals, k).toSeq) == sparkTop(k), s"k=$k")
    // the fixture tells Spark's double order from java.lang.Double.compare,
    // which ranks 0.0 above -0.0 instead of breaking the tie on docId
    val javaOrder = locals.flatten.sortWith { (a, b) =>
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c < 0 else a._1 < b._1
    }
    assert(raw(javaOrder) != sparkTop(100))
  }
}
