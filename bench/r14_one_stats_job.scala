// Job-count program behind bench/r14_one_stats_job.txt. Not part of the sbt
// build: compile it together with src/main/scala of the commit under test,
// using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') bench/r14_one_stats_job.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP OneStatsJob <work dir> <seed>
// Builds the perfbench `serve` corpus (CorpusSynthesizer.corpus of 4,000
// docs, IndexConfig("indri", blockSize 1024, numBuckets 8)) with a `head`
// field of 7 tokens at local[4], writes it with SegmentStore.writeAll and
// opens and caches it the way `serve` does. Then, per warm query shape, it
// prints the jobs, tasks and SQL executions that constructing the result
// starts and those that collecting it starts, and the warm walls of
// `serve`'s two window queries (runQuery at k = 1000 + collect).
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.corpus.CorpusSynthesizer
import graft.index.{FieldAnnotators, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{Engine, ScoringRule}

package org.apache.spark.r14 {
  /** the listener bus is asynchronous and its handle `private[spark]` */
  object Drain {
    def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

object OneStatsJob {
  def main(args: Array[String]): Unit = {
    val Array(work, seed) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = IndexConfig(analyzerMode = "indri", blockSize = 1024, numBuckets = 8)
    val dir = s"$work/store"
    val docs = IndexBuilder.assignDocIdsScalable(CorpusSynthesizer.corpus(spark, 4000, seed.toLong),
      Seq("repo", "path", "commit")).select("docId", "content")
    SegmentStore.writeAll(IndexBuilder.build(docs, cfg, annotate = df => FieldAnnotators.headField(7)(df)),
      dir, cfg)
    spark.catalog.clearCache()
    val stored = SegmentStore.open(spark, dir)
    val idx = InvertedIndex(null, stored.dictionary.coalesce(4).cache(),
      stored.doclens, stored.stats, stored.segments.cache(), stored.fieldExtents,
      numBuckets = stored.numBuckets, segmentsBucketed = true)
    idx.dictionary.count(); idx.segments.count()

    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val sqls = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ =>
      }
    })
    def tally[T](body: => T): (T, String) = {
      org.apache.spark.r14.Drain(sc)
      jobs.set(0); tasks.set(0); sqls.set(0)
      val out = body
      org.apache.spark.r14.Drain(sc)
      (out, f"${jobs.get}%4d ${tasks.get}%5d ${sqls.get}%4d")
    }
    def engine(method: String) = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = method))
    val okapi = engine("okapi")
    val lm = engine("dirichlet")

    println(s"# ${stored.stats.totalDocs} docs, ${stored.numBuckets} buckets, " +
      s"defaultParallelism ${sc.defaultParallelism}")
    println("# shape              construct: jobs tasks sql   collect: jobs tasks sql   rows")
    def row(shape: String, run: () => DataFrame): Unit = {
      run().collect() // warm: builds the resident structures
      val (df, c) = tally(run())
      val (n, k) = tally(df.collect().length)
      println(f"$shape%-20s           $c              $k  $n%5d")
    }
    row("bag", () => okapi.runQuery("#combine(return license)", 1000))
    row("#od1", () => okapi.runQuery("#od1(return license)", 1000))
    row("#uw8", () => okapi.runQuery("#uw8(class def)", 1000))
    row("empty", () => okapi.runQuery("zzznotaword", 1000))
    row("field extent", () => lm.runExtentQuery("#weight[head](0.7 return 0.3 license)", 1000))
    row("passage", () => lm.runExtentQuery("#combine[passage8:4](return license)", 1000))
    row("OOV extent", () => lm.runExtentQuery("#combine[head](zzznotaword qqqalsonotaword)", 1000))
    row("belief #band", () => okapi.runQuery("#band(return license)", 1000))

    // a mixed batch: 3 bags, 2 window queries and one belief-path query
    val mixed = Seq("#combine(return license)", "#weight(0.7 return 0.3 license)", "class",
      "#od1(return license)", "#uw8(class def)", "#band(return license)")
    for ((name, eng) <- Seq("mixed batch" -> engine("okapi"), "mixed batch, del 2" -> engine("okapi"))) {
      if (name.endsWith("del 2")) {
        import spark.implicits._
        eng.deleteDocuments(Seq(1L, 2L).toDF("docId"))
      }
      eng.runQueries(mixed, 1000).foreach(_._2.collect())
      val (res, c) = tally(eng.runQueries(mixed, 1000))
      val (n, k) = tally(res.map(_._2.collect().length).sum)
      println(f"$name%-20s           $c              $k  $n%5d")
    }

    // warm walls of serve's window queries: runQuery + collect
    for (q <- Seq("#od1(return license)", "#uw8(class def)")) {
      (1 to 5).foreach(_ => okapi.runQuery(q, 1000).collect())
      val ms = (1 to 21).map { _ =>
        val t0 = System.nanoTime(); okapi.runQuery(q, 1000).collect(); (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[walls] $q%-22s median21=${ms(10)}%.1f ms q1=${ms(5)}%.1f q3=${ms(15)}%.1f min=${ms.head}%.1f")
    }
    spark.stop()
  }
}
