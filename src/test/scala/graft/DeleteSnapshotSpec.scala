package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, udf}
import graft.analysis.Analyzer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, ScoringRule}

/** The latches the gated delete list's UDF counts down and waits on. They
  * live in an object, so the local executor's tasks see the driver's
  * instances.
  */
object DeleteLatches {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

/** A query reads the engine's pending deletes as one snapshot: a delete
  * that lands while another query is still collecting the delete set
  * must be served by every later query.
  */
class DeleteSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a delete that lands while a kernel query collects the delete set is served by later queries") {
    import spark.implicits._
    val docs = (1L to 40L).map { i =>
      (i, s"alpha ${if (i % 2 == 0) "beta " else ""}${"alpha " * (i % 5).toInt}filler$i")
    }.toDF("docId", "content")
    val index = IndexBuilder.build(docs, IndexConfig(blockSize = 8, numBuckets = 2))
    val eng = new Engine(spark, index, Analyzer(), ScoringRule(method = "dirichlet"))
    val q = "#combine(alpha beta)"
    def rows(useDaat: Boolean) =
      eng.runQuery(q, 10, useDaat).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val d2 = rows(useDaat = true).take(3).map(_._1)
    assert(d2.size == 3)
    // the first delete list is gated: collecting it enters, then waits
    val gate = udf { (id: Long) =>
      DeleteLatches.entered.countDown()
      DeleteLatches.release.await(120, TimeUnit.SECONDS)
      id
    }
    eng.deleteDocuments(spark.range(39L, 40L).select(gate(col("id")).as("docId")))

    @volatile var failure: Throwable = null
    val a = new Thread(() =>
      try eng.runQuery(q, 10).collect()
      catch { case t: Throwable => failure = t })
    a.start()
    try {
      assert(DeleteLatches.entered.await(120, TimeUnit.SECONDS),
        "the kernel query never collected the delete set")
      eng.deleteDocuments(d2.toDF("docId"))
    } finally DeleteLatches.release.countDown()
    a.join(120000)
    assert(!a.isAlive && failure == null, s"the concurrent query failed: $failure")

    val got = rows(useDaat = true)
    assert(got.nonEmpty)
    assert(got.forall(r => !d2.contains(r._1) && r._1 != 39L),
      s"a deleted doc was served: ${got.map(_._1)} (deleted ${d2 :+ 39L})")
    assert(got == rows(useDaat = false), "kernel != belief path after the delete")
  }
}
