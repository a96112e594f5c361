// Query-body parity program behind bench/r17_query_body.txt. Not part of the
// sbt build: compile it against the classes of the commit under test
// (`python3 perfbench/build.py` writes them to perfbench/target/classes),
// using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "perfbench/target/classes:$CP" bench/r17_query_body.scala
//   java <the --add-opens flags of build.sbt> -cp out:perfbench/target/classes:src/main/resources:$CP \
//     QueryBody rows <out file> | tally
// It uses only verbs whose signatures both commits share: runExtentQuery and
// runQuery(q, k, workingSet).
//
// rows   raw-bit rows, one block per run:
//         - the extent grid: field and passage queries x dirichlet and jm
//           x k in {10, 1000} x no / 2 pending deletes x useDaat true and
//           false, all through runExtentQuery, on a 600-doc fielded
//           CorpusSynthesizer corpus (seed 7, blockSize 16, 8 buckets, a
//           `head` field over each doc's first 7 positions);
//         - runQuery(q, k, workingSet) over bench/r8_daat_parity.scala's
//           flat and structured lists x its 5 rules x k in {10, 1000}, on
//           its 2,000-doc corpus (seed 7, blockSize 64, 8 buckets), with the
//           working set of every docId divisible by 3.
// tally  jobs and SQL executions of one warm extent query and one warm
//        working-set query: building the result and collecting it.
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.corpus.CorpusSynthesizer
import graft.index.{FieldAnnotators, IndexBuilder, IndexConfig, InvertedIndex}
import graft.search._

package org.apache.spark.r17 {
  /** the listener bus is asynchronous and its handle `private[spark]` */
  object Drain {
    def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

object QueryBody {
  // WandPropertySpec.extentQueries, its OOV and single-term guards, and
  // SparkEntry's q_weight_extent / q_passage shapes over this corpus
  private val extentQueries = Seq(
    "#combine[head](return license)", "#weight[head](0.7 return 0.3 license)",
    "#or[head](return license)", "#max[head](return license)",
    "#sum[head](return license)", "#wsum[head](2.0 return 1.0 license)",
    "#not[head](return)", "#combine[head](zzznotaword return)",
    "#combine[head](zzznotaword qqqalsonotaword)", "#combine[head](return)",
    "#combine[passage8:4](return license)", "#weight[passage8:4](0.6 val 0.4 import)",
    "#combine[passage8:4](return)", "#combine[passage10:5](class def)",
    "#combine[passage50:25](return license)")
  private val extentRules = Seq("method:dirichlet", "method:jm,collectionLambda:0.4")

  // bench/r8_daat_parity.scala's flat and structured query lists and rules
  private val flat = Seq(
    "return", "#combine(return license)", "#combine(class def val import)",
    "#combine(return return class)", "#weight(0.7 return 0.3 license)",
    "#weight(3.0 val 1.0 static 2.0 import)", "#combine(zzznotaword return)",
    "#combine(uniq1x5 return)", "#combine(return #combine(license class))")
  private val structured = Seq(
    Reformulate.sdm(Seq("return", "license", "class")),
    Reformulate.fdm(Seq("val", "import", "static")),
    "#combine(#od1(return license) #uw4(class def))",
    "#weight(0.6 #combine(return class) 0.2 #combine(#od2(return class)) 0.2 #combine(#uw8(return class)))",
    "#weight(0.8 #combine(return zzznotaword) 0.2 #combine(#od1(return zzznotaword)))",
    "#combine(#od1(return return) val)",
    "#uw12(return license class)")
  private val rules = Seq("method:okapi", "method:tfidf", "method:dirichlet",
    "method:jm,collectionLambda:0.4", "method:two,mu:2500,lambda:0.4")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", out) => rows(spark, out)
      case Array("tally") => tally(spark)
      case _ => sys.error("usage: QueryBody rows <out file> | tally")
    }
    spark.stop()
  }

  private def fieldedIndex(spark: SparkSession): InvertedIndex = {
    val docs = IndexBuilder.assignDocIdsScalable(CorpusSynthesizer.corpus(spark, 600, seed = 7L),
      Seq("repo", "path", "commit")).select("docId", "content")
    IndexBuilder.build(docs, IndexConfig(blockSize = 16, numBuckets = 8),
      annotate = df => FieldAnnotators.headField(7)(df))
  }

  private def gridIndex(spark: SparkSession): (IndexConfig, InvertedIndex) = {
    val cfg = IndexConfig(blockSize = 64, numBuckets = 8)
    (cfg, IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 2000, seed = 7L), cfg))
  }

  private def workingSet(spark: SparkSession, index: InvertedIndex): DataFrame =
    index.doclens.select("docId").where(col("docId") % 3 === 0)

  private def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case x => String.valueOf(x)
  }.mkString("\t"))

  private def rows(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    val sb = new StringBuilder
    def block(head: String, rs: Seq[String]): Unit = {
      sb.append(s"## $head\trows=${rs.length}\n")
      rs.foreach(r => sb.append(r).append('\n'))
    }
    val fx = fieldedIndex(spark)
    // the 2 pending deletes: the top doc of the first field query and of
    // the first passage query (dirichlet, no deletes)
    val probe = new Engine(spark, fx, Analyzer(), ScoringRule.parse("method:dirichlet"))
    val deleted = Seq("#combine[head](return license)", "#combine[passage8:4](return license)")
      .map(q => probe.runExtentQuery(q, 1).head().getLong(0))
    var n = 0
    for (rule <- extentRules; dels <- Seq(Nil, deleted)) {
      val eng = new Engine(spark, fx, Analyzer(), ScoringRule.parse(rule))
      if (dels.nonEmpty) eng.deleteDocuments(dels.toDF("docId"))
      for (q <- extentQueries; k <- Seq(10, 1000); useDaat <- Seq(true, false)) {
        block(s"extent\t$rule\tdeletes=${dels.mkString(",")}\tk=$k\tdaat=$useDaat\t$q",
          bits(eng.runExtentQuery(q, k, useDaat)))
        n += 1
      }
    }
    val (cfg, idx) = gridIndex(spark)
    val ws = workingSet(spark, idx)
    for (rule <- rules) {
      val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule.parse(rule))
      for (q <- flat ++ structured; k <- Seq(10, 1000)) {
        block(s"ws\t$rule\tk=$k\t$q", bits(eng.runQuery(q, k, ws)))
        n += 1
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[rows] $n runs, deletes ${deleted.mkString(",")}, ${sb.length} chars")
  }

  private def tally(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val sqls = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ =>
      }
    })
    def measure[T](what: String)(body: => T): T = {
      org.apache.spark.r17.Drain(sc)
      jobs.clear(); sqls.set(0)
      val out = body
      org.apache.spark.r17.Drain(sc)
      val js = jobs.asScala.toSeq.sortBy(_.jobId)
      val onMaps = js.count(_.stageInfos.exists(_.rddInfos.exists(_.name == "resident block maps")))
      println(s"[tally] $what: ${js.size} jobs ($onMaps on the resident block maps), " +
        s"${sqls.get} SQL executions")
      out
    }
    val fx = fieldedIndex(spark)
    val eng = new Engine(spark, fx, Analyzer(), ScoringRule.parse("method:dirichlet"))
    val ws = workingSet(spark, fx).cache()
    ws.count()
    for (q <- Seq("#weight[head](0.7 return 0.3 license)", "#combine[passage8:4](return license)")) {
      eng.runExtentQuery(q, 10).collect(); eng.runExtentQuery(q, 10).collect() // warm
      val df = measure(s"runExtentQuery('$q', 10) build")(eng.runExtentQuery(q, 10))
      measure(s"runExtentQuery('$q', 10) collect")(df.collect())
    }
    val q = "#combine(return license)"
    eng.runQuery(q, 10, ws).collect(); eng.runQuery(q, 10, ws).collect() // warm
    val df = measure(s"runQuery('$q', 10, workingSet) build")(eng.runQuery(q, 10, ws))
    measure(s"runQuery('$q', 10, workingSet) collect")(df.collect())
  }
}
