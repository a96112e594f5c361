package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round side benchmarks (guide §1.4 noop-style isolation).
  * Separate main so the frozen driver-contract Bench stays untouched.
  *
  * Modes (first arg):
  *  - kba-scale: times the KBA / webtrack family (scoreStreams,
  *    lmPassageRerank, maxPsgScoringDV) at two corpus sizes, medians of
  *    R reps after an untimed warmup rep. Prints one JSON line.
  *
  * The measurements behind the production PageRank loop, link-harvest
  * regex and span-removal shapes are in bench/r6_pagerank_*.json,
  * bench/r6_harvest_lab.json and bench/r6_spans_lab.json.
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
    if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
      b.config("spark.local.dir", "/dev/shm/spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def medianD(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "kba-scale"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = session(cpus)
    try {
      mode match {
        case "kba-scale" =>
          // round-5 verdict item 6: a 2M-doc scale point for the KBA /
          // webtrack family (the one family without one). Times
          // scoreStreams over a synthesized (docId, title, body) stream
          // and lmPassageRerank / maxPsgScoringDV over a freshly built
          // engine, at 200k and 2M docs, rep medians; reports the
          // executed-plan Exchange count at each scale so "no new
          // Exchange at 2M" is checkable. Needs SPARK_DRIVER_MEM=48g at
          // 2M (the tokenize UDF working set — BENCH.md round 5).
          import spark.implicits._
          import graft.streaming.KbaScorers
          import graft.search.{Engine, WebTrackRerank, ScoringRule}
          import graft.index.{IndexBuilder, IndexConfig}
          val small = sys.env.getOrElse("SPARK_GRAFT_KBA_SMALL", "200000").toLong
          val big = sys.env.getOrElse("SPARK_GRAFT_KBA_DOCS", "2000000").toLong
          val entities = Seq(
            KbaScorers.KbaEntity("e1", Seq("return", "license"),
              Seq("class", "def", "merge", "sort", "return")),
            KbaScorers.KbaEntity("e2", Seq("query", "parse"),
              Seq("index", "query", "token", "buffer")))
          val rerankQs = Seq(("e1", "return license"), ("e2", "query parse"))
          val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
          def exchanges(df: DataFrame): Int = {
            val s = df.queryExecution.executedPlan.toString
            Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
              "Exchange SinglePartition").map(_.r.findAllIn(s).length).sum
          }
          val out3 = Seq(small, big).map { n =>
            // scale-aware shuffle sizing, same rule as the frozen bench
            // (~20k docs per shuffle partition; guide §2.2)
            spark.conf.set("spark.sql.shuffle.partitions",
              math.max(cpus.toLong, n / 20000).toString)
            val docs = spark.range(0, n).map { id =>
              val d = graft.corpus.CorpusSynthesizer.genDoc(42L, id)
              (id, d._2, d._5)
            }.toDF("docId", "title", "body").persist(ser)
            docs.count()
            def timeIt(mk: () => DataFrame): (Double, Seq[Double], Int) = {
              mk().agg(count(lit(1))).head() // untimed warmup rep
              var ex = 0
              val ts = (1 to reps).map { _ =>
                val t0 = System.nanoTime()
                val df = mk()
                df.agg(count(lit(1))).head()
                ex = exchanges(df)
                (System.nanoTime() - t0) / 1e9
              }
              (medianD(ts), ts, ex)
            }
            val (ssMed, ssReps, ssEx) =
              timeIt(() => KbaScorers.scoreStreams(docs, entities,
                idCol = "docId", titleCol = "title", bodyCol = "body"))
            // engine over the same synthesized corpus for the reranks
            val saltBuckets = math.max(8L, math.min(256L, n / 25000)).toInt
            val cfg = IndexConfig(analyzerMode = "indri", blockSize = 1024,
              numBuckets = saltBuckets)
            val tb0 = System.nanoTime()
            val idx = IndexBuilder.buildFromCorpus(
              graft.corpus.CorpusSynthesizer.corpus(spark, n), cfg)
            idx.postings.count()
            val buildSec = (System.nanoTime() - tb0) / 1e9
            val eng = new Engine(spark, idx, cfg.analyzer,
              ScoringRule(method = "dirichlet"))
            val (lmMed, lmReps, lmEx) =
              timeIt(() => KbaScorers.lmPassageRerank(eng, rerankQs, requested = 1000))
            val (dvMed, dvReps, dvEx) =
              timeIt(() => WebTrackRerank.maxPsgScoringDV(eng, rerankQs, k = 1000))
            idx.postings.unpersist(); idx.segments.unpersist()
            docs.unpersist()
            s""""n_$n":{"build_sec":$buildSec,
               |"score_streams":{"median":$ssMed,"reps":${ssReps.mkString("[", ",", "]")},"exchanges":$ssEx},
               |"lm_psg_rerank":{"median":$lmMed,"reps":${lmReps.mkString("[", ",", "]")},"exchanges":$lmEx},
               |"maxpsg_dv":{"median":$dvMed,"reps":${dvReps.mkString("[", ",", "]")},"exchanges":$dvEx}}""".stripMargin.replace("\n", "")
          }
          println(s"""{"metric":"kba_scale","cpus":$cpus,${out3.mkString(",")}}""")
        case other =>
          System.err.println(s"unknown mode: $other")
      }
    } finally spark.stop()
  }
}
