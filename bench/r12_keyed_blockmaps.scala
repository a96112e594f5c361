// Block-map layout program behind bench/r12_keyed_blockmaps.txt. Not part of
// the sbt build: compile it together with src/main/scala of the commit under
// test, using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') bench/r12_keyed_blockmaps.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP KeyedBlockMaps <work dir> <seed>
// Builds the perfbench `serve` index (CorpusSynthesizer.corpus of 4,000 docs,
// IndexConfig("indri", blockSize 1024, numBuckets 8)) at local[4], writes it
// with SegmentStore.writeAll, opens and caches it the way `serve` does, and
// prints the blocks held by each InvertedIndex.blockMaps partition, then the
// jobs and SQL executions that collecting a warm kernel result starts, for an
// empty and a non-empty query.
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{Engine, ScoringRule}

object KeyedBlockMaps {
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
    SegmentStore.writeAll(
      IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 4000, seed.toLong), cfg), dir, cfg)
    spark.catalog.clearCache()
    val stored = SegmentStore.open(spark, dir)
    val idx = InvertedIndex(null, stored.dictionary.coalesce(4).cache(),
      stored.doclens, stored.stats, stored.segments.cache(),
      numBuckets = stored.numBuckets, segmentsBucketed = true)
    idx.dictionary.count(); idx.segments.count()
    val counts = idx.blockMaps.map(_.valuesIterator.map(_.length).sum).collect()
    println(s"block-map partitions: ${counts.length}, blocks per partition: " +
      s"${counts.mkString(" / ")} (total ${counts.sum})")

    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val sqls = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ =>
      }
    })
    val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "okapi"))
    for (q <- Seq("zzznotaword", "#combine(return license)")) {
      eng.runQuery(q, 1000).collect()
      val df = eng.runQuery(q, 1000)
      // the listener bus is asynchronous: let it deliver before and after
      Thread.sleep(500)
      jobs.set(0); sqls.set(0)
      val n = df.collect().length
      Thread.sleep(500)
      println(s"collect '$q': rows $n, jobs ${jobs.get}, SQL executions ${sqls.get}, " +
        s"schema ${df.schema.map(f => s"${f.name}:${f.dataType.simpleString}${if (f.nullable) "?" else ""}").mkString(",")}")
    }
    spark.stop()
  }
}
