// Topdocs-seed decision program behind bench/r16_topdocs.txt. Not part of
// the sbt build: compile it against the classes of the commit under test
// (`python3 perfbench/build.py` writes them to perfbench/target/classes),
// using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "perfbench/target/classes:$CP" bench/r16_topdocs.scala
//   java <the --add-opens flags of build.sbt> -cp out:perfbench/target/classes:src/main/resources:$CP \
//     TopdocsLab rows <out prefix> | seeds | walls <sf dir> <reps> <tag> [queries [warm]] | tally <sf dir> [query]
// It compiles against the commits before and after the seed's deletion: the
// seed's API (InvertedIndex.topdocs, Engine.topdocsSeed and Daat.wand's
// seedTheta) is reached by reflection, and the modes that need it say so
// when it is absent. bench/r8_daat_parity.scala, which sets `topdocs` by
// name, compiles only against its own commits.
//
// rows   the bench/r8_daat_parity.scala grid (5 rules x k in {10, 1000} x
//        its query list, runQuery rows as raw double bits) on the plain
//        index to <prefix>.plain and, where the index has the field, on the
//        index that carries topdocs to <prefix>.topdocs.
// seeds  for every term-leaf plan of the grid (window plans need the
//        engine's private leaf cursors and are left out), the engine's seed
//        θ0 against the final k-th score of a local Daat.Cursor run, and the
//        blocks decoded exhaustive / unseeded / seeded.
// walls  warm walls (median of <reps> after 2, or [warm], untimed runs) of
//        every driver query that runs the kernel on SparkEntry.engine's
//        repository, or of the comma-separated [queries].
// tally  jobs and SQL executions of one warm driver query (default
//        q_lm_dirichlet): building its DataFrame (the kernel runs here) and
//        collecting it.
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig, InvertedIndex}
import graft.search._

package org.apache.spark.r16 {
  /** the listener bus is asynchronous and its handle `private[spark]` */
  object Drain {
    def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

object TopdocsLab {
  // bench/r8_daat_parity.scala's flat and structured query lists
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

  // the driver queries that run the kernel on SparkEntry.engine's repository
  private val driverQueries = Seq("q_tfidf_topk", "q_bm25_daat", "q_lm_dirichlet", "q_lm_jm",
    "q_lm_twostage", "q_bm25_deleted", "q_hyphen_query", "q_twostage_window",
    "q_jm_doclambda", "q_sdm", "q_fdm")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", prefix) => rows(spark, prefix)
      case Array("seeds") => seeds(spark)
      case Array("walls", sfDir, reps, tag) => walls(spark, sfDir, reps.toInt, tag, driverQueries, 2)
      case Array("walls", sfDir, reps, tag, names) =>
        walls(spark, sfDir, reps.toInt, tag, names.split(",").toSeq, 2)
      case Array("walls", sfDir, reps, tag, names, warm) =>
        walls(spark, sfDir, reps.toInt, tag, names.split(",").toSeq, warm.toInt)
      case Array("tally", sfDir) => tally(spark, sfDir, "q_lm_dirichlet")
      case Array("tally", sfDir, name) => tally(spark, sfDir, name)
      case _ => sys.error("usage: TopdocsLab rows <prefix> | seeds | walls <sf dir> <reps> <tag> [queries [warm]] | tally <sf dir> [query]")
    }
    spark.stop()
  }

  // ---- the seed's API, present only before its deletion ----

  /** `index` carrying `td` as its topdocs, when InvertedIndex has the field */
  private def withTopdocs(index: InvertedIndex, td: DataFrame): Option[InvertedIndex] = {
    val names = index.productElementNames.toIndexedSeq
    val at = names.indexOf("topdocs")
    if (at < 0) None
    else {
      val fields = index.productIterator.map(_.asInstanceOf[AnyRef]).toArray
      fields(at) = td
      val copy = classOf[InvertedIndex].getMethods.find(_.getName == "copy").get
      Some(copy.invoke(index, fields: _*).asInstanceOf[InvertedIndex])
    }
  }

  private def topdocsSeed(eng: Engine, p: Daat.StructuredPlan, k: Int): Double =
    classOf[Engine].getMethod("topdocsSeed", classOf[Daat.StructuredPlan], Integer.TYPE,
      classOf[Set[_]]).invoke(eng, p, Int.box(k), Set.empty[Long]).asInstanceOf[Double]

  private def wandSeeded(cs: Array[Daat.Cursor], p: Daat.StructuredPlan, k: Int,
                         theta: Double): Seq[(Long, Double)] =
    Daat.getClass.getMethod("wand", classOf[Array[Daat.DaatCursor]], classOf[Daat.StructuredPlan],
      Integer.TYPE, java.lang.Boolean.TYPE, java.lang.Double.TYPE, classOf[Set[_]])
      .invoke(Daat, cs.map(c => c: Daat.DaatCursor), p, Int.box(k), Boolean.box(false),
        Double.box(theta), Set.empty[Long]).asInstanceOf[Seq[(Long, Double)]]

  // ---- rows ----

  private def gridIndex(spark: SparkSession): (IndexConfig, InvertedIndex) = {
    // small blocks and 8 buckets give the skip logic real work
    val cfg = IndexConfig(blockSize = 64, numBuckets = 8,
      topdocsMinDf = 20L, topdocsFraction = 0.05)
    (cfg, IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 2000, seed = 7L), cfg))
  }

  private def rows(spark: SparkSession, prefix: String): Unit = {
    val (cfg, idx) = gridIndex(spark)
    val indexes = Seq("plain" -> idx) ++
      withTopdocs(idx, IndexBuilder.buildTopdocs(idx.postings, cfg).cache()).map("topdocs" -> _)
    for ((name, index) <- indexes) {
      val out = new StringBuilder
      for (rule <- rules) {
        val eng = new Engine(spark, index, cfg.analyzer, ScoringRule.parse(rule))
        for (k <- Seq(10, 1000); q <- queries) {
          val rs = eng.runQuery(q, k).collect().map(r => (r.getLong(0), r.getDouble(1)))
          out.append(s"## $rule\tk=$k\t$q\trows=${rs.length}\n")
          rs.foreach { case (d, s) =>
            out.append(s"$d\t${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(s))}\n")
          }
        }
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$prefix.$name"), out.toString)
      println(s"[rows] $name: ${out.length} chars")
    }
  }

  // ---- seeds ----

  /** the engine's kernel plan of a term-leaf query (Engine.kernelLeaves +
    * runKernel for trees without windows), or None for other shapes
    */
  private def termPlan(eng: Engine, index: InvertedIndex, rule: ScoringRule, analyzer: graft.analysis.Analyzer,
                       q: String): Option[(Daat.StructuredPlan, Seq[String])] = {
    val baseline = rule.method == "okapi" || rule.method == "tfidf"
    val stopped = "\u0000stopped"
    def termsOnly(n: QueryNode): Boolean = n match {
      case _: TermNode => true
      case CombineNode(cs) => cs.nonEmpty && cs.forall(termsOnly)
      case WeightNode(cs) => cs.nonEmpty && cs.forall(c => c._1 >= 0 && termsOnly(c._2)) && cs.exists(_._1 > 0)
      case _ => false
    }
    val ast = QueryParser.parse(q)
    if (!termsOnly(ast)) return None
    def qtfMap(n: QueryNode): Map[String, Int] = QueryParser.termLeaves(n)
      .flatMap(t => Option(analyzer.processTerm(t))).groupBy(identity).map { case (t, xs) => t -> xs.length }
    val leafIdx = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Int]
    def leaf(m: (String, Int)): Daat.FoldTree = Daat.FLeaf(leafIdx.getOrElseUpdate(m, leafIdx.size))
    def walk(n: QueryNode, root: Boolean): Daat.FoldTree = n match {
      case cn @ CombineNode(cs) =>
        val w = if (root && baseline) 1.0 else 1.0 / cs.size
        val qtfs = qtfMap(cn)
        Daat.FNode(cs.map(c => (w, child(c, qtfs))).toArray)
      case wn @ WeightNode(cs) =>
        val qtfs = qtfMap(wn)
        val weights =
          if (root && baseline) cs.map(_._1)
          else { val total = cs.map(c => math.abs(c._1)).sum; cs.map(_._1 / total) }
        Daat.FNode(cs.zip(weights).map { case ((_, c), w) => (w, child(c, qtfs)) }.toArray)
      case l => child(l, qtfMap(l))
    }
    def child(c: QueryNode, qtfs: Map[String, Int]): Daat.FoldTree = c match {
      case TermNode(t) =>
        val pt = analyzer.processTerm(t)
        val qtf = if (baseline && pt != null) qtfs.getOrElse(pt, 1) else 1
        leaf((if (pt == null) stopped else pt, qtf))
      case sub => walk(sub, root = false)
    }
    val tree = walk(ast, root = true)
    val metas = leafIdx.keys.toArray
    val effW = new Array[Double](metas.length)
    def accEff(t: Daat.FoldTree, w: Double): Unit = t match {
      case Daat.FLeaf(i) => effW(i) += w
      case Daat.FNode(cs) => cs.foreach { case (cw, ch) => accEff(ch, w * cw) }
    }
    accEff(tree, 1.0)
    val tstats = eng.termStatsFor(metas.map(_._1).toSeq)
    val leaves = metas.zipWithIndex.map { case ((p, qtf), i) =>
      val ts = tstats.getOrElse(p, TermStats(0, 0))
      val fn = Scorers.forTerm(rule, ts.ctf.toDouble, index.stats.totalTerms.toDouble,
        ts.df.toDouble, index.stats.totalDocs, qtf = qtf)
      val minDl = math.max(ts.minDl, 1)
      (Daat.boundedLeaf(p, null, fn, effW(i), !baseline, ts.ctf.toDouble, minDl), if (ts.ctf > 0) minDl else 0)
    }
    val live = leaves.collect { case (_, m) if m > 0 => m }
    if (live.isEmpty) return None
    val leafPlans = leaves.map(_._1)
    val baseMax = if (baseline) 0.0 else Daat.foldWith(tree, li => leafPlans(li).scoreAt(0.0, live.min))
    Some((Daat.StructuredPlan(leafPlans, tree, lm = !baseline, baseMax = baseMax), metas.map(_._1).toSeq))
  }

  private def seeds(spark: SparkSession): Unit = {
    val (cfg, idx) = gridIndex(spark)
    val seeded = withTopdocs(idx, IndexBuilder.buildTopdocs(idx.postings, cfg).cache()).getOrElse {
      println("[seeds] InvertedIndex has no topdocs field: nothing is seeded at this commit")
      return
    }
    println("# rule\tk\tquery\tθ0\tk-th score\tθ0/k-th\tdecoded exhaustive/unseeded/seeded\trows equal")
    var plans = 0; var fired = 0; var saved = 0L; var total = 0L
    for (ruleSpec <- rules) {
      val rule = ScoringRule.parse(ruleSpec)
      val eng = new Engine(spark, seeded, cfg.analyzer, rule)
      for (k <- Seq(10, 1000); q <- queries; (p, terms) <- termPlan(eng, idx, rule, cfg.analyzer, q)) {
        plans += 1
        val rows = idx.segments.where(col("term").isin(terms: _*))
          .select("term", "firstDoc", "lastDoc", "numDocs", "maxTf", "minDl",
            "docsDelta", "tfs", "dls").collect().groupBy(_.getString(0))
        def mk(): Array[Daat.Cursor] = p.leaves.map { l =>
          val bs = rows.getOrElse(l.term, Array.empty).map { r =>
            Daat.Block(r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5),
              r.getAs[Array[Byte]](6), r.getAs[Array[Byte]](7), r.getAs[Array[Byte]](8))
          }.sortBy(_.firstDoc)
          new Daat.Cursor(bs, l, p.lm)
        }
        val engineRows = eng.runQuery(q, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val (cFull, cCold) = (mk(), mk())
        val rFull = Daat.wand(cFull.map(c => c: Daat.DaatCursor), p, k, exhaustive = true)
        val rCold = Daat.wand(cCold.map(c => c: Daat.DaatCursor), p, k, exhaustive = false)
        val theta0 = topdocsSeed(eng, p, k)
        val kth = if (rCold.size >= k) rCold.last._2 else Double.NaN
        val dFull = cFull.map(_.decodedBlocks).sum
        val dCold = cCold.map(_.decodedBlocks).sum
        val (dSeed, rSeed) =
          if (theta0 == Double.NegativeInfinity) (dCold, rCold)
          else { val c = mk(); val r = wandSeeded(c, p, k, theta0); (c.map(_.decodedBlocks).sum, r) }
        val same = rFull == rCold && rCold == rSeed && rCold == engineRows
        if (theta0 > Double.NegativeInfinity) { fired += 1; saved += dCold - dSeed; total += dCold }
        println(f"$ruleSpec\tk=$k\t$q\t${if (theta0 == Double.NegativeInfinity) "-" else f"$theta0%.6f"}\t" +
          f"$kth%.6f\t${if (theta0 == Double.NegativeInfinity) "-" else f"${theta0 / kth}%.4f"}\t" +
          s"$dFull/$dCold/$dSeed\t$same")
      }
    }
    println(s"[seeds] $plans term-leaf plans, seed fired on $fired; seeded runs decoded $saved of " +
      s"$total unseeded blocks fewer")
  }

  // ---- walls and tally ----

  private def walls(spark: SparkSession, sfDir: String, reps: Int, tag: String,
                    names: Seq[String], warm: Int): Unit = {
    for (name <- names) {
      val q = graft.SparkEntry.queries(name)
      def run(): Unit = q(spark, sfDir).collect()
      // untimed: the first builds the shared repository; all warm the JIT
      (1 to warm).foreach(_ => run())
      val ms = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[walls] $tag%-8s $name%-18s median=${ms(reps / 2)}%.1f ms " +
        ms.map(m => f"$m%.1f").mkString("[", " ", "]"))
    }
  }

  private def tally(spark: SparkSession, sfDir: String, name: String): Unit = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val sqls = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ =>
      }
    })
    def measure[T](what: String)(body: => T): T = {
      org.apache.spark.r16.Drain(sc)
      jobs.clear(); sqls.set(0)
      val t0 = System.nanoTime()
      val out = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      org.apache.spark.r16.Drain(sc)
      val js = jobs.asScala.toSeq.sortBy(_.jobId)
      println(f"[tally] $what: ${js.size} jobs, ${sqls.get} SQL executions, wall $wallMs%.1f ms")
      js.foreach { j =>
        val rdds = j.stageInfos.flatMap(_.rddInfos.map(_.name)).distinct
        val on = if (rdds.contains("resident block maps")) "reads the resident block maps"
                 else "reads no block map"
        println(s"[tally]   job ${j.jobId}: ${j.stageInfos.size} stages, $on, ${ends.get(j.jobId) - j.time} ms")
      }
      out
    }
    val q = graft.SparkEntry.queries(name)
    q(spark, sfDir).collect(); q(spark, sfDir).collect() // warm
    val df = measure(s"$name construct (the kernel runs here)")(q(spark, sfDir))
    measure(s"$name collect")(df.collect())
  }
}
