package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{BandNode, Engine, OdNode, QueryParser, ScoringRule, TermNode, UwNode}

/** Host-sized benchmark over fixed work: one `local[nproc]` JVM per run.
  *
  *   HostBench <build|serve> <seed> <trace 0|1> <workDir> <resultJson>
  *
  * Every run of a workload does the same warm-up and the same number of
  * timed ops, whatever the code's speed: a time-bounded loop would let a
  * faster change do more ops, read as using more memory, and (on growing
  * state) as slower. Every op's output is checked; a failed op is left
  * out of the timings and counted. With trace 1 the timed ops alternate
  * traced and untraced in pairs, and the result carries the per-layer
  * ledger instead of the end-to-end metrics.
  */
object HostBench {

  /** build: docs per corpus. A build is mostly fixed Spark cost (about 30
    * jobs), so a small corpus leaves room in the run for the warm-up.
    */
  val BuildDocs = 2000
  /** serve: docs in the served index */
  val ServeDocs = 4000
  val Cfg = IndexConfig(analyzerMode = "indri", blockSize = 1024, numBuckets = 8)
  val TopK = 1000

  /** build: untimed, unchecked builds (the first pays the cold JIT and
    * codegen; the wall is near its plateau from the 4th), then timed builds
    */
  val BuildWarmup = 3
  val BuildTimed = 2
  val BuildTracedPairs = 3

  /** serve: 7 timed pool passes after the reference pass (210 queries, 10
    * beyond the nearest-rank p95). The query path does not reach its
    * plateau within a run: C2 is still compiling it late in the run (see
    * README).
    */
  val ServePoolPasses = 7

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, traceArg, workDir, resultFile) = args
    val bench = new HostBench(workload, seedArg.toLong, traceArg == "1", workDir)
    val result = try bench.run() finally bench.spark.stop()
    Files.writeString(Paths.get(resultFile), Json(result))
    if (bench.trace) Files.writeString(Paths.get(resultFile + ".ledger"), Json(bench.ledgerDump))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** nearest-rank percentile: the smallest sample with at least p of all samples at or below it */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** VmHWM of this JVM in MB */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

final class HostBench(val workload: String, seed: Long, val trace: Boolean, work: String) {
  import HostBench._

  val cpus: Int = Runtime.getRuntime.availableProcessors
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // at this corpus size adaptive execution coalesces the salted merge into
    // one task; traced builds keep its shuffle partitions apart, so that
    // index.task_skew compares more than one task
    .config("spark.sql.adaptive.coalescePartitions.enabled", (!(trace && workload == "build")).toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val ledger: Ledger = if (trace) new Ledger(spark.sparkContext, workload) else null

  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  /** per traced op: its spans and per-layer Spark work (the ledger artifact) */
  private val ledgerOps = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; problems += what; System.err.println(s"[perfbench] FAILED: $what") }
    ok
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $workload: $msg")

  /** wall clock of the run so far: JVM start, session start and all set-up */
  private def uptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def run(): Map[String, Any] = {
    workload match {
      case "build" => runBuild()
      case "serve" => runServe()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    metrics("peak_rss_mb") = peakRssMb
    Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "problems" -> problems.toSeq, "metrics" -> metrics.toMap) ++ info
  }

  def ledgerDump: Map[String, Any] = Map("workload" -> workload, "seed" -> seed, "ops" -> ledgerOps.toSeq)

  // ------------------------------------------------------------------
  // build: buildFromCorpus + SegmentStore.writeAll over a stored corpus
  // ------------------------------------------------------------------

  private final case class BuildOp(id: String, wallS: Double, storeBytes: Long, segmentBytes: Long,
                                   postings: Long)

  private def runBuild(): Unit = {
    val corpusDir = s"$work/corpus"
    CorpusSynthesizer.corpus(spark, BuildDocs, seed).write.parquet(corpusDir)
    log(f"corpus written at ${uptimeS}%.2f s")
    val warm = (0 until BuildWarmup).flatMap(i => buildOp(s"warm-$i", traced = false, checked = false))
    metrics("setup_s") = uptimeS
    val contentBytes = spark.read.parquet(corpusDir)
      .agg(sum(octet_length(col("content")))).head().getLong(0)
    info("warmup_ops") = BuildWarmup
    info("warmup_walls_s") = warm.map(_.wallS)
    log(f"setup ${metrics("setup_s")}%.2f s; warm-up walls ${warm.map(o => f"${o.wallS}%.2f").mkString(" ")}")

    if (!trace) {
      val timed = (0 until BuildTimed).flatMap(i => buildOp(s"op-$i", traced = false))
      val walls = timed.map(_.wallS)
      info("timed_ops") = BuildTimed
      info("op_walls_s") = walls
      metrics("throughput_per_s") = BuildDocs.toDouble * walls.size / walls.sum
      metrics("latency_p50_ms") = median(walls) * 1e3
      metrics("latency_p95_ms") = nearestRank(walls, 0.95) * 1e3
      metrics("index_bytes_per_content_byte") = median(timed.map(_.storeBytes.toDouble)) / contentBytes
    } else {
      // pairs alternate which side runs first, so drift does not bias the overhead
      val pairs = (0 until BuildTracedPairs).map { i =>
        val order = if (i % 2 == 0) Seq(true, false) else Seq(false, true)
        order.map(t => t -> buildOp(s"${if (t) "traced" else "plain"}-$i", traced = t)).toMap
      }
      info("timed_ops") = 2 * BuildTracedPairs
      info("op_walls_s") = pairs.flatMap(_.values.flatten.map(_.wallS))
      ledger.drain()
      val traced = pairs.flatMap(_(true))
      val perOp = traced.map(buildLedger)
      def med(k: String): Double = median(perOp.map(_(k)))
      metrics("index.docids_s") = med("index.docids")
      metrics("analysis.analyze_s") = med("analysis.analyze")
      metrics("index.postings_s") = med("index.postings")
      metrics("index.segments_write_s") = med("index.segments_write")
      metrics("index.shuffle_write_mb") = med("shuffle_write_mb")
      metrics("index.cpu_s") = med("cpu_s")
      metrics("index.gc_s") = med("gc_s")
      metrics("index.task_skew") = med("task_skew")
      metrics("index.postings") = median(traced.map(_.postings.toDouble))
      metrics("index.segment_mb") = median(traced.map(_.segmentBytes.toDouble)) / 1048576
      traceSummary(traced.map(o => (o.id, o.wallS)),
        pairs.collect { case p if p(true).nonEmpty && p(false).nonEmpty => p(true).get.wallS / p(false).get.wallS })
      zeroQueryLayers()
    }
  }

  /** One build op into a fresh store directory; if `checked`, checks the
    * totals before and after SegmentStore.open. Then releases the caches
    * and the store.
    */
  private def buildOp(id: String, traced: Boolean, checked: Boolean = true): Option[BuildOp] = {
    val dir = s"$work/$id"
    try {
      val t0 = System.nanoTime()
      val corpus = spark.read.parquet(s"$work/corpus")
      val idx = if (traced) stagedBuild(id, corpus, dir) else {
        val i = IndexBuilder.buildFromCorpus(corpus, Cfg)
        SegmentStore.writeAll(i, dir, Cfg)
        i
      }
      val t1 = System.nanoTime()
      val wallS = (t1 - t0) / 1e9
      if (!checked) {
        log(f"$id wall $wallS%.3f s")
        return Some(BuildOp(id, wallS, 0L, 0L, 0L))
      }
      // the stored dictionary is the one the build computed, so one read of
      // it checks the df total before and after the store round trip
      val postings = idx.postings.count()
      val stored = SegmentStore.open(spark, dir)
      val storedDfSum = stored.dictionary.agg(sum("df")).head().getLong(0)
      val storedPostings = stored.segments.agg(sum(col("numDocs").cast("long"))).head().getLong(0)
      val ok = check(idx.stats.totalDocs == BuildDocs && stored.stats.totalDocs == BuildDocs &&
          storedDfSum == postings && storedPostings == postings,
        s"$id: totalDocs ${idx.stats.totalDocs}/${stored.stats.totalDocs} (want $BuildDocs), " +
          s"sum df $storedDfSum, postings $postings, stored postings $storedPostings")
      log(f"$id wall $wallS%.3f s${if (traced) " (traced)" else ""}, check ${(System.nanoTime() - t1) / 1e9}%.2f s")
      if (ok) Some(BuildOp(id, wallS, treeBytes(dir), treeBytes(s"$dir/segments"), postings)) else None
    } catch {
      case NonFatal(e) => check(ok = false, s"$id: ${e.getMessage}"); None
    } finally {
      spark.catalog.clearCache()
      rmTree(dir)
    }
  }

  /** buildFromCorpus one public call at a time, each in its own span. The
    * analyze-only pass is extra work: production fuses analysis into the
    * postings pass, so this span measures what that fused pass spends on
    * analysis alone.
    */
  private def stagedBuild(id: String, corpus: DataFrame, dir: String): InvertedIndex = {
    val docs = ledger.span(id, "index.docids") {
      IndexBuilder.assignDocIdsScalable(
        corpus.withColumn("content_sha256", sha2(col("content"), 256)), Seq("repo", "path", "commit"))
        .select(col("docId"), col("content"))
    }
    ledger.span(id, "analysis.analyze") {
      IndexBuilder.tokenize(docs, Cfg).agg(sum(size(col("slots")))).head()
    }
    val idx = ledger.span(id, "index.postings") {
      val i = IndexBuilder.build(docs, Cfg)
      i.doclens.count()
      i
    }
    ledger.span(id, "index.segments_write")(SegmentStore.writeAll(idx, dir, Cfg))
    idx
  }

  /** span seconds per layer plus the op's Spark totals and merge-stage skew */
  private def buildLedger(o: BuildOp): Map[String, Double] = {
    val spans = ledger.spansOf(o.id)
    val work = ledger.workOf(o.id)
    // the salted (term, bucket) merge: the heaviest stage of the segment
    // write that both reads and writes a shuffle (sort + encode between the
    // (term, bucket) exchange and the bucket exchange of the write)
    val merge = ledger.stagesOf(o.id, "index.segments_write")
      .filter(s => s.shuffleReadBytes > 0 && s.shuffleWriteBytes > 0 && s.taskMs.nonEmpty)
      .sortBy(-_.taskMs.sum).headOption
    val skew = merge.map(s => s.taskMs.max / math.max(1.0, median(s.taskMs.map(_.toDouble).toSeq))).getOrElse(Double.NaN)
    recordLedgerOp(o.id, o.wallS, spans, work)
    spans.map(s => s.layer -> s.ms / 1e3).toMap ++ Map(
      "shuffle_write_mb" -> work.values.map(_.shuffleWriteBytes).sum / 1048576.0,
      "cpu_s" -> work.values.map(_.cpuNs).sum / 1e9,
      "gc_s" -> work.values.map(_.gcMs).sum / 1e3,
      "task_skew" -> skew)
  }

  // ------------------------------------------------------------------
  // serve: closed-loop clients over the cached, bucketed stored index
  // ------------------------------------------------------------------

  private val pool: Seq[String] = CorpusSynthesizer.querySet.map(_._2)

  private def queryClass(q: String): String = QueryParser.parse(q) match {
    case _: OdNode | _: UwNode | _: BandNode => "structured"
    case _ => "ranked"
  }

  private final case class QueryOp(id: String, query: String, traced: Boolean, pair: String,
                                   startMs: Long, endMs: Long, wallMs: Double, ok: Boolean)

  private def rows(df: DataFrame): Vector[(Long, Double)] =
    df.collect().iterator.map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"))).toVector

  /** bit-identical top-k: same docs, same order, same score bits */
  private def sameResult(a: Vector[(Long, Double)], b: Vector[(Long, Double)]): Boolean =
    a.size == b.size && a.indices.forall { i =>
      a(i)._1 == b(i)._1 &&
        java.lang.Double.doubleToRawLongBits(a(i)._2) == java.lang.Double.doubleToRawLongBits(b(i)._2)
    }

  private def termLeaves(x: Any): Seq[String] = x match {
    case TermNode(t) => Seq(t)
    case it: Iterable[_] => it.toSeq.flatMap(termLeaves)
    case p: Product => p.productIterator.toSeq.flatMap(termLeaves)
    case _ => Nil
  }

  private def runServe(): Unit = {
    val storeDir = s"$work/store"
    val corpus = CorpusSynthesizer.corpus(spark, ServeDocs, seed)
    val built = IndexBuilder.buildFromCorpus(corpus, Cfg)
    log(f"index built at ${uptimeS}%.2f s")
    SegmentStore.writeAll(built, storeDir, Cfg)
    spark.catalog.clearCache()
    val stored = SegmentStore.open(spark, storeDir)
    // opened the way graft.Bench serves: a small cached lexicon and the
    // cached bucketed segment scan, so the kernel runs with no exchange
    val idx = InvertedIndex(null, stored.dictionary.coalesce(4).cache(),
      stored.doclens, stored.stats, stored.segments.cache(),
      numBuckets = stored.numBuckets, segmentsBucketed = true)
    idx.dictionary.count(); idx.segments.count()
    val eng = new Engine(spark, idx, Cfg.analyzer, ScoringRule(method = "okapi"))
    val clients = math.max(1, cpus / 2)

    log(f"index built, written, opened and cached at ${uptimeS}%.2f s")

    /** runs f(i) on n threads; returns the wall seconds */
    def inThreads(n: Int)(f: Int => Unit): Double = {
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until n).map { c =>
        new Thread(() => try f(c) catch { case e: Throwable => errors.add(e) }, s"perfbench-client-$c")
      }
      val t0 = System.nanoTime()
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!errors.isEmpty) throw errors.peek()
      (System.nanoTime() - t0) / 1e9
    }
    // closed loop: each client sends its next query when the last returns.
    // The seed shuffles `passes` copies of the pool into one sequence and
    // each client takes an equal slice of it, so every query runs exactly
    // `passes` times whatever the seed; the seed never picks the terms.
    def clientLoop(passes: Int)(f: (Int, Int, String) => Unit): Double = {
      val rng = new scala.util.Random(seed)
      val sequence = (0 until passes).flatMap(_ => rng.shuffle(pool))
      val share = sequence.size / clients
      inThreads(clients) { c =>
        sequence.slice(c * share, if (c == clients - 1) sequence.size else (c + 1) * share)
          .zipWithIndex.foreach { case (q, n) => f(c, n, q) }
      }
    }

    // reference pass, also the warm-up: nproc threads split the pool and
    // run the DataFrame belief path, which every served result must match
    // bit for bit
    val reference = new java.util.concurrent.ConcurrentHashMap[String, Vector[(Long, Double)]]()
    val refS = inThreads(cpus) { c =>
      pool.indices.filter(_ % cpus == c).map(pool).foreach { q =>
        reference.put(q, rows(eng.runQuery(q, TopK, useDaat = false)))
      }
    }
    metrics("setup_s") = uptimeS
    log(f"setup ${metrics("setup_s")}%.2f s (reference pass $refS%.2f s)")
    val contentBytes = corpus.agg(sum(octet_length(col("content")))).head().getLong(0)

    val ops = new ConcurrentLinkedQueue[QueryOp]()
    def timedQuery(id: String, q: String, traced: Boolean, pair: String): Unit = {
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try {
        Some(if (!traced) rows(eng.runQuery(q, TopK)) else {
          val ast = ledger.span(id, "search.parse")(QueryParser.parse(q))
          ledger.span(id, "search.stats")(eng.termStatsFor(termLeaves(ast).flatMap(t => Option(Cfg.analyzer.processTerm(t)))))
          val df = ledger.span(id, "search.plan")(eng.runQuery(q, TopK))
          ledger.span(id, "search.exec")(rows(df))
        })
      } catch { case NonFatal(e) => check(ok = false, s"$id '$q': ${e.getMessage}"); None }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val ok = res.exists(r => check(sameResult(r, reference.get(q)), s"$id: top-$TopK of '$q' differs from the belief path"))
      ops.add(QueryOp(id, q, traced, pair, m0, System.currentTimeMillis(), wallMs, ok))
    }

    // traced: each query of the sequence runs twice, traced and plain
    val loopS = clientLoop(if (trace) (ServePoolPasses + 1) / 2 else ServePoolPasses) { (c, n, q) =>
      if (!trace) timedQuery(s"q-$c-$n", q, traced = false, pair = null)
      else {
        val pair = s"p-$c-$n"
        val order = if (n % 2 == 0) Seq(true, false) else Seq(false, true)
        order.foreach(t => timedQuery(s"$pair-${if (t) "traced" else "plain"}", q, t, pair))
      }
    }
    val all = ops.asScala.toSeq
    val good = all.filter(_.ok)
    info("warmup_ops") = pool.size
    info("timed_ops") = all.size
    info("clients") = clients
    info("op_walls_s") = all.map(_.wallMs / 1e3)
    log(f"$clients clients, ${all.size} timed queries in $loopS%.2f s")

    // the comparison itself must flag a dropped doc and a one-ulp score move
    reference.values.asScala.find(_.size >= 2).foreach { r =>
      check(!sameResult(r.patch(1, Nil, 1), r), "self-check: a dropped doc was not flagged")
      check(!sameResult(r.updated(0, (r(0)._1, Math.nextUp(r(0)._2))), r), "self-check: a one-ulp score move was not flagged")
    }
    val postings = stored.segments.agg(sum(col("numDocs").cast("long"))).head().getLong(0)
    val dfSum = idx.dictionary.agg(sum("df")).head().getLong(0)
    check(stored.stats.totalDocs == ServeDocs && dfSum == postings,
      s"stored index: totalDocs ${stored.stats.totalDocs} (want $ServeDocs), sum df $dfSum, postings $postings")

    if (!trace) {
      val walls = good.map(_.wallMs)
      metrics("throughput_per_s") = good.size / loopS
      metrics("latency_p50_ms") = median(walls)
      metrics("latency_p95_ms") = nearestRank(walls, 0.95)
      metrics("index_bytes_per_content_byte") = treeBytes(storeDir).toDouble / contentBytes
    } else {
      ledger.drain()
      val traced = good.filter(_.traced)
      val plain = good.filterNot(_.traced)
      val perOp = traced.map { o =>
        val spans = ledger.spansOf(o.id)
        val work = ledger.workOf(o.id)
        recordLedgerOp(o.id, o.wallMs / 1e3, spans, work)
        val jobMs = Ledger.covered(work.values.flatMap(_.jobIntervals).toSeq, o.startMs, o.endMs)
        spans.map(s => s.layer -> s.ms).toMap ++ Map(
          "driver" -> ((o.endMs - o.startMs) - jobMs).toDouble,
          "jobs" -> work.values.map(_.jobs).sum.toDouble,
          "tasks" -> work.values.map(_.tasks).sum.toDouble,
          "cpu" -> work.values.map(_.cpuNs).sum / 1e6,
          "shuffle_kb" -> work.values.map(w => w.shuffleWriteBytes).sum / 1024.0)
      }
      def med(k: String): Double = median(perOp.map(_(k)))
      def avg(k: String): Double = mean(perOp.map(_(k)))
      metrics("search.parse_ms") = med("search.parse")
      metrics("search.stats_ms") = med("search.stats")
      metrics("search.plan_ms") = med("search.plan")
      metrics("search.exec_ms") = med("search.exec")
      metrics("search.driver_ms") = med("driver")
      metrics("search.jobs_per_query") = avg("jobs")
      metrics("search.tasks_per_query") = avg("tasks")
      metrics("search.cpu_ms") = avg("cpu")
      metrics("search.shuffle_kb") = avg("shuffle_kb")
      metrics("search.ranked_ms") = median(plain.filter(o => queryClass(o.query) == "ranked").map(_.wallMs))
      metrics("search.structured_ms") = median(plain.filter(o => queryClass(o.query) == "structured").map(_.wallMs))
      metrics("index.postings") = postings.toDouble
      metrics("index.segment_mb") = treeBytes(s"$storeDir/segments") / 1048576.0
      val byPair = good.groupBy(_.pair).values.filter(_.size == 2)
      traceSummary(traced.map(o => (o.id, o.wallMs / 1e3)),
        byPair.map(p => p.find(_.traced).get.wallMs / p.find(!_.traced).get.wallMs).toSeq)
      zeroBuildLayers()
    }
  }

  // ------------------------------------------------------------------
  // trace bookkeeping
  // ------------------------------------------------------------------

  private def recordLedgerOp(id: String, wallS: Double, spans: Seq[Span], work: Map[String, LayerWork]): Unit =
    ledgerOps += Map(
      "op" -> id, "wall_s" -> wallS,
      "spans" -> spans.sortBy(_.startNs).map(s => Map("layer" -> s.layer, "ms" -> s.ms)),
      "layers" -> work.map { case (layer, w) => layer -> Map(
        "jobs" -> w.jobs, "tasks" -> w.tasks, "cpu_ms" -> w.cpuNs / 1e6, "gc_ms" -> w.gcMs,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "shuffle_read_bytes" -> w.shuffleReadBytes) })

  /** coverage of each traced op by its own spans (never a union across
    * concurrent clients), total traced wall, and the median traced/untraced
    * wall ratio over the pairs
    */
  private def traceSummary(traced: Seq[(String, Double)], pairRatios: Seq[Double]): Unit = {
    val coverage = traced.map { case (id, wallS) =>
      val spans = ledger.spansOf(id)
      val lo = spans.map(_.startNs).min
      val c = Ledger.covered(spans.map(s => (s.startNs, s.endNs)), lo, Long.MaxValue) / 1e9 / wallS
      check(c >= 0.9, f"$id: its spans cover $c%.4f of its wall, below 0.9")
      c
    }
    metrics("trace.coverage") = coverage.min
    metrics("trace.wall_s") = traced.map(_._2).sum
    metrics("trace.overhead_ratio") = median(pairRatios)
    info("trace_pairs") = pairRatios.size
    log(f"trace: ${traced.size} traced ops, min coverage ${coverage.min}%.4f, overhead ratio ${median(pairRatios)}%.4f over ${pairRatios.size} pairs")
  }

  /** layers this workload does not exercise read 0 */
  private def zeroQueryLayers(): Unit =
    Seq("search.parse_ms", "search.stats_ms", "search.plan_ms", "search.exec_ms", "search.driver_ms",
      "search.jobs_per_query", "search.tasks_per_query", "search.ranked_ms", "search.structured_ms",
      "search.cpu_ms", "search.shuffle_kb").foreach(metrics(_) = 0.0)

  private def zeroBuildLayers(): Unit =
    Seq("index.docids_s", "analysis.analyze_s", "index.postings_s", "index.segments_write_s",
      "index.shuffle_write_mb", "index.cpu_s", "index.gc_s", "index.task_skew").foreach(metrics(_) = 0.0)
}

/** Minimal JSON rendering for the result and ledger files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
