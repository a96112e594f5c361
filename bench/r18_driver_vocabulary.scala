// Driver-vocabulary program behind bench/r18_driver_vocabulary.txt. Not part
// of the sbt build: compile it against the classes of the commit under test
// (`python3 perfbench/build.py` writes them to perfbench/target/classes),
// using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "perfbench/target/classes:$CP" bench/r18_driver_vocabulary.scala
//   java <the --add-opens flags of build.sbt> -cp out:perfbench/target/classes:src/main/resources:$CP \
//     DriverVocabulary rows <out file> | tally <work dir> | cost <work dir> <docs>
// It compiles against the commits before and after the vocabulary: it
// reaches InvertedIndex.vocabulary by reflection and says so when it is
// absent.
//
// rows   raw-bit rows, one block per run:
//         - bench/r16_topdocs.scala's `rows` grid on its plain index: the
//           r8 grid (5 rules x k in {10, 1000} x CorpusSynthesizer.querySet
//           and bench/r8_daat_parity.scala's flat and structured lists),
//           runQuery on a 2,000-doc corpus (seed 7, blockSize 64, 8
//           buckets);
//         - bench/r17_query_body.scala's `rows`: its extent grid through
//           runExtentQuery on a 600-doc fielded corpus and its working-set
//           grid through runQuery(q, k, workingSet) on the r8 corpus.
// tally  bench/r14_one_stats_job.scala's shape table on the perfbench
//        `serve` index (4,000 docs, seed 1, a 7-token `head` field): per
//        warm shape, the jobs, tasks and SQL executions of constructing
//        the result and of collecting it; plus a warm termStatsFor and a
//        working-set passage query.
// cost   the perfbench `serve` index shape at <docs> docs (seed 1, no
//        field): the cold first query's wall on a fresh open (runQuery at
//        k = 1000 + collect), the warm wall, the vocabulary's SizeEstimator
//        bytes and its bytes per term.
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SizeEstimator

import graft.analysis.Analyzer
import graft.corpus.CorpusSynthesizer
import graft.index.{FieldAnnotators, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search._

package org.apache.spark.r18 {
  /** the listener bus is asynchronous and its handle `private[spark]` */
  object Drain {
    def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

object DriverVocabulary {
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
  private val queries = (CorpusSynthesizer.querySet.map(_._2) ++ flat ++ structured).distinct

  // bench/r17_query_body.scala's extent queries and rules
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

  // the perfbench `serve` index configuration
  private val serveCfg = IndexConfig(analyzerMode = "indri", blockSize = 1024, numBuckets = 8)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", out) => rows(spark, out)
      case Array("tally", work) => tally(spark, work)
      case Array("cost", work, docs) => cost(spark, work, docs.toLong)
      case _ => sys.error("usage: DriverVocabulary rows <out file> | tally <work dir> | cost <work dir> <docs>")
    }
    spark.stop()
  }

  /** the index's driver vocabulary, when InvertedIndex has one */
  private def vocabulary(index: InvertedIndex): Option[AnyRef] =
    classOf[InvertedIndex].getMethods.find(m => m.getName == "vocabulary" && m.getParameterCount == 0)
      .map(_.invoke(index))

  // ---- rows ----

  private def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case x => String.valueOf(x)
  }.mkString("\t"))

  private def rows(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    val sb = new StringBuilder
    var n = 0
    def block(head: String, rs: Seq[String]): Unit = {
      sb.append(s"## $head\trows=${rs.length}\n")
      rs.foreach(r => sb.append(r).append('\n'))
      n += 1
    }
    // r16's plain-index grid
    val cfg = IndexConfig(blockSize = 64, numBuckets = 8)
    val idx = IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 2000, seed = 7L), cfg)
    for (rule <- rules) {
      val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule.parse(rule))
      for (k <- Seq(10, 1000); q <- queries) block(s"grid\t$rule\tk=$k\t$q", bits(eng.runQuery(q, k)))
    }
    // r17's extent grid, with its 2 pending deletes: the top doc of the
    // first field query and of the first passage query
    val fdocs = IndexBuilder.assignDocIdsScalable(CorpusSynthesizer.corpus(spark, 600, seed = 7L),
      Seq("repo", "path", "commit")).select("docId", "content")
    val fx = IndexBuilder.build(fdocs, IndexConfig(blockSize = 16, numBuckets = 8),
      annotate = df => FieldAnnotators.headField(7)(df))
    val probe = new Engine(spark, fx, Analyzer(), ScoringRule.parse("method:dirichlet"))
    val deleted = Seq("#combine[head](return license)", "#combine[passage8:4](return license)")
      .map(q => probe.runExtentQuery(q, 1).head().getLong(0))
    for (rule <- extentRules; dels <- Seq(Nil, deleted)) {
      val eng = new Engine(spark, fx, Analyzer(), ScoringRule.parse(rule))
      if (dels.nonEmpty) eng.deleteDocuments(dels.toDF("docId"))
      for (q <- extentQueries; k <- Seq(10, 1000); useDaat <- Seq(true, false))
        block(s"extent\t$rule\tdeletes=${dels.mkString(",")}\tk=$k\tdaat=$useDaat\t$q",
          bits(eng.runExtentQuery(q, k, useDaat)))
    }
    // r17's working-set grid
    val ws = idx.doclens.select("docId").where(col("docId") % 3 === 0)
    for (rule <- rules) {
      val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule.parse(rule))
      for (q <- flat ++ structured; k <- Seq(10, 1000)) block(s"ws\t$rule\tk=$k\t$q", bits(eng.runQuery(q, k, ws)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[rows] $n runs, deletes ${deleted.mkString(",")}, ${sb.length} chars")
  }

  // ---- the perfbench serve index ----

  /** builds, writes and opens the `serve` index the way perfbench does: a
    * cached coalesced dictionary and cached segments
    */
  private def serveIndex(spark: SparkSession, dir: String, docs: Long, field: Boolean): InvertedIndex = {
    val corpus = CorpusSynthesizer.corpus(spark, docs, 1L)
    val built =
      if (!field) IndexBuilder.buildFromCorpus(corpus, serveCfg)
      else IndexBuilder.build(IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
        .select("docId", "content"), serveCfg, annotate = df => FieldAnnotators.headField(7)(df))
    SegmentStore.writeAll(built, dir, serveCfg)
    spark.catalog.clearCache()
    open(spark, dir)
  }

  private def open(spark: SparkSession, dir: String): InvertedIndex = {
    val stored = SegmentStore.open(spark, dir)
    val idx = InvertedIndex(null, stored.dictionary.coalesce(4).cache(),
      stored.doclens, stored.stats, stored.segments.cache(), stored.fieldExtents,
      numBuckets = stored.numBuckets)
    idx.dictionary.count(); idx.segments.count()
    idx
  }

  // ---- tally ----

  private def tally(spark: SparkSession, work: String): Unit = {
    import spark.implicits._
    val idx = serveIndex(spark, s"$work/store", 4000, field = true)
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
    def measure[T](body: => T): (T, String) = {
      org.apache.spark.r18.Drain(sc)
      jobs.set(0); tasks.set(0); sqls.set(0)
      val out = body
      org.apache.spark.r18.Drain(sc)
      (out, f"${jobs.get}%4d ${tasks.get}%5d ${sqls.get}%4d")
    }
    def engine(method: String) = new Engine(spark, idx, serveCfg.analyzer, ScoringRule(method = method))
    val okapi = engine("okapi")
    val lm = engine("dirichlet")

    println(s"# ${idx.stats.totalDocs} docs, ${idx.numBuckets} buckets, " +
      s"defaultParallelism ${sc.defaultParallelism}, vocabulary ${vocabulary(idx).fold("absent")(_ => "present")}")
    println("# shape              construct: jobs tasks sql   collect: jobs tasks sql   rows")
    def row(shape: String, run: () => DataFrame): Unit = Try(run().collect()).failed.toOption match {
      case Some(e) => println(f"$shape%-20s           throws ${e.getClass.getSimpleName}: ${e.getMessage.take(60)}")
      case None =>
        val (df, c) = measure(run())
        val (n, k) = measure(df.collect().length)
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
      if (name.endsWith("del 2")) eng.deleteDocuments(Seq(1L, 2L).toDF("docId"))
      eng.runQueries(mixed, 1000).foreach(_._2.collect())
      val (res, c) = measure(eng.runQueries(mixed, 1000))
      val (n, k) = measure(res.map(_._2.collect().length).sum)
      println(f"$name%-20s           $c              $k  $n%5d")
    }

    // a warm term-stats lookup, and a working-set passage query
    okapi.termStatsFor(Seq("return", "license"))
    val (ts, c) = measure(okapi.termStatsFor(Seq("return", "license", "zzznotaword")))
    println(f"${"termStatsFor"}%-20s           $c              ${"-"}%14s  ${ts.size}%5d")
    val ws = idx.doclens.select("docId").where(col("docId") % 3 === 0).cache()
    ws.count()
    row("ws passage", () => lm.runQuery("#combine[passage50:25](return license)", 1000, ws))
  }

  // ---- cost ----

  private def cost(spark: SparkSession, work: String, docs: Long): Unit = {
    val dir = s"$work/store-$docs"
    val t0 = System.nanoTime()
    serveIndex(spark, dir, docs, field = false)
    val buildS = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    // a fresh open, as a server start: the first query pays the vocabulary
    // (when there is one) and the block maps
    val idx = open(spark, dir)
    val eng = new Engine(spark, idx, serveCfg.analyzer, ScoringRule(method = "okapi"))
    val q = "#combine(return license)"
    def wallMs(body: => Any): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 }
    val coldMs = wallMs(eng.runQuery(q, 1000).collect())
    (1 to 5).foreach(_ => eng.runQuery(q, 1000).collect())
    val warm = (1 to 11).map(_ => wallMs(eng.runQuery(q, 1000).collect())).sorted
    val v = idx.dictionary.count()
    val tokens = idx.stats.totalTerms
    println(f"[cost] docs=$docs%d tokens=$tokens%d V=$v%d unique/tokens=${v.toDouble / tokens}%.4f " +
      f"build+write=${buildS}%.1f s cold=${coldMs}%.1f ms warm median11=${warm(5)}%.1f ms")
    vocabulary(idx) match {
      case None => println("[cost] vocabulary: absent")
      case Some(voc) =>
        val bytes = SizeEstimator.estimate(voc)
        val perTerm = bytes.toDouble / v
        println(f"[cost] vocabulary: $bytes%d bytes = ${bytes / 1048576.0}%.2f MiB, ${perTerm}%.1f bytes/term; " +
          f"at V = 11M: ${perTerm * 11e6 / 1073741824.0}%.2f GiB")
    }
  }
}
