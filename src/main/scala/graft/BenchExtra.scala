package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round side benchmarks (guide §1.4 noop-style isolation).
  * Separate main so the frozen driver-contract Bench stays untouched.
  *
  * Modes (first arg):
  *  - pagerank-lab: times PageRank.compute at several lineage-truncation
  *    cadences over a synthetic 200k-node/600k-edge graph and a 20-node
  *    graph (the two driver fixture scales), medians of R reps after an
  *    untimed warmup rep. Prints one JSON line.
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
    val mode = if (args.nonEmpty) args(0) else "pagerank-lab"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = session(cpus)
    try {
      mode match {
        case "pagerank-lab" =>
          // deterministic harvest-shaped graph: n nodes, 3 out-edges each
          def graph(n: Long): (DataFrame, DataFrame) = {
            val nodes = spark.range(0, n).toDF("id")
            val e = nodes
              .select(col("id").as("src"),
                explode(array(
                  (col("id") * 7 + 1) % n,
                  (col("id") * 13 + 3) % n,
                  (col("id") + 17) % n)).as("dst"))
              .where(col("src") =!= col("dst")).distinct()
            (nodes, e)
          }
          val cadences = Seq(1, 2, 4, 10)
          val out = Seq(200000L, 20L).map { n =>
            val (nodes, edges) = graph(n)
            nodes.count(); edges.count()
            // untimed JIT warmup at this scale
            graft.pipeline.PageRank.compute(nodes, edges, 0.7, 10, 1, true, false).count()
            val rows = cadences.map { ck =>
              val ts = (1 to reps).map { _ =>
                val t0 = System.nanoTime()
                graft.pipeline.PageRank.compute(nodes, edges, 0.7, 10, ck, true, false).count()
                (System.nanoTime() - t0) / 1e9
              }
              s""""ckpt_every_$ck":{"median":${medianD(ts)},"reps":${ts.mkString("[", ",", "]")}}"""
            }
            s""""n_$n":{${rows.mkString(",")}}"""
          }
          println(s"""{"metric":"pagerank_lab","cpus":$cpus,${out.mkString(",")}}""")
        case "pagerank-profile" =>
          // join-strategy lab: the per-iteration joins default to
          // size-based planning, which at fixture scale broadcasts the
          // ranks frame every iteration (driver collect + broadcast ×10);
          // the shuffle_hash hint keeps the zero-exchange co-partitioned
          // join. Times compute() with the hint on/off × cadence 4/5 at
          // both fixture scales and dumps one executed iteration plan.
          def graph2(n: Long): (DataFrame, DataFrame) = {
            val nodes = spark.range(0, n).toDF("id")
            val e = nodes
              .select(col("id").as("src"),
                explode(array(
                  (col("id") * 7 + 1) % n,
                  (col("id") * 13 + 3) % n,
                  (col("id") + 17) % n)).as("dst"))
              .where(col("src") =!= col("dst")).distinct()
            (nodes, e)
          }
          val out2 = Seq(200000L, 20L).map { n =>
            val (nodes, edges) = graph2(n)
            nodes.count(); edges.count()
            graft.pipeline.PageRank.compute(nodes, edges, 0.7, 10, 4, true, false).count() // warmup
            val variants = Seq(
              ("bcast_ck4", 4, false, false), ("shj_ck4", 4, true, false),
              ("shj_ck5", 5, true, false), ("shj_ck5_adapt", 5, true, true))
            val rows = variants.map { case (tag, ck, shj, adapt) =>
              val ts = (1 to reps).map { _ =>
                val t0 = System.nanoTime()
                graft.pipeline.PageRank.compute(nodes, edges, 0.7, 10, ck, shj, adapt).count()
                (System.nanoTime() - t0) / 1e9
              }
              s""""$tag":{"median":${medianD(ts)},"reps":${ts.mkString("[", ",", "]")}}"""
            }
            s""""n_$n":{${rows.mkString(",")}}"""
          }
          // executed plan of one un-checkpointed iteration at 200k, both ways
          locally {
            val (nodes, edges) = graph2(200000L)
            val n = nodes.count().toDouble
            val base = 0.3 / n
            val outDeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
            val eCached = edges.join(outDeg, "src").repartition(col("src")).persist()
            val ids = nodes.select(col("id")).repartition(col("id")).persist()
            // materialize first, like compute(): finalized AQE cached
            // plans report their hash partitioning; unfinalized ones
            // report UnknownPartitioning and re-exchange per iteration
            eCached.count(); ids.count()
            Seq(false, true).foreach { shj =>
              def h(df: DataFrame) = if (shj) df.hint("shuffle_hash") else df
              var pr = ids.select(col("id"), lit(base).as("pr"))
              for (_ <- 1 to 2) {
                val contrib = eCached.join(h(pr), eCached("src") === pr("id"), "left")
                  .select(col("dst").as("id"),
                    (coalesce(col("pr"), lit(base)) / col("outdeg")).as("w"))
                  .groupBy("id").agg(sum("w").as("acc"))
                pr = ids.join(h(contrib), Seq("id"), "left")
                  .select(col("id"), (lit(0.7) * coalesce(col("acc"), lit(0.0)) + base).as("pr"))
              }
              pr.count()
              System.err.println(s"=== two-iteration executed plan (shuffle_hash=$shj) ===")
              System.err.println(pr.queryExecution.toString.linesIterator
                .dropWhile(!_.startsWith("== Physical")).mkString("\n"))
            }
            eCached.unpersist(false); ids.unpersist(false)
          }
          println(s"""{"metric":"pagerank_profile","cpus":$cpus,${out2.mkString(",")}}""")
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
        case "harvest-lab" =>
          // harvest regex-pass lab (guide §1.4). Candidate: extract
          // group 0 once (one full-html regex scan instead of the
          // production shape's two, one per capture group) and rerun the
          // pattern only over each short match string. REFUTED at
          // 200k × 100-link docs: 2.75s production vs 4.60s candidate —
          // the per-exploded-row regexp_extract calls (2 extra Matcher
          // setups × #links rows) cost MORE than the saved document
          // scan, at every tested link density. Kept as the evidence for
          // leaving HarvestLinks.harvest alone.
          import graft.pipeline.HarvestLinks
          val nDocs = sys.env.getOrElse("SPARK_GRAFT_HARVEST_DOCS", "200000").toLong
          val linkSpans = (0 until 100).map { j =>
            concat(lit(s"<p>some filler prose segment $j for realism</p><a href=\"http://s"),
              ((col("id") * 7 + j) % 9).cast("string"), lit(".test/doc"),
              ((col("id") * 13 + j * 31) % nDocs).cast("string"),
              lit(s"""">anchor text $j here</a>"""))
          }
          val docs = spark.range(0, nDocs)
            .select(col("id").as("doc_id"),
              concat(lit("http://src.test/doc"), col("id")).as("url"),
              concat(linkSpans: _*).as("html"))
            .persist()
          docs.count()
          val pat = "<a href=\"([^\"]+)\">([^<]*)</a>"
          // candidate single-document-scan shape, inlined
          def harvestSingleScan(): DataFrame = {
            val ex = docs.select(col("doc_id").as("src_doc"), col("url").as("src_url"),
              expr(s"regexp_extract_all(html, '$pat', 0)").as("__links"))
            ex.select(col("src_doc"), col("src_url"), posexplode(col("__links")))
              .select(col("src_doc"), col("src_url"), col("pos").as("link_ord"),
                regexp_extract(col("col"), pat, 1).as("dst_url"),
                array_join(expr(
                  s"regexp_extract_all(lower(regexp_extract(col, '$pat', 2)), '[a-z0-9]+', 0)"),
                  " ").as("anchor"))
              .where(col("dst_url").isNotNull && col("anchor") =!= "")
          }
          def harvestProd(): DataFrame = HarvestLinks.harvest(docs)
          // row-identity guard: same count + same order-insensitive hash
          def sigOf(df: DataFrame): (Long, Long) = {
            val r = df.agg(count(lit(1)), coalesce(expr(
              "bit_xor(xxhash64(src_doc, src_url, link_ord, dst_url, anchor))"), lit(0L))).head()
            (r.getLong(0), r.getLong(1))
          }
          require(sigOf(harvestProd()) == sigOf(harvestSingleScan()),
            "harvest variants disagree — abort lab")
          val rowsH = Seq(("prod_double_scan", harvestProd _),
                          ("single_scan", harvestSingleScan _)).map {
            case (tag, mk) =>
              mk().write.format("noop").mode("overwrite").save() // warmup
              val ts = (1 to reps).map { _ =>
                val t0 = System.nanoTime()
                mk().write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              }
              s""""$tag":{"median":${medianD(ts)},"reps":${ts.mkString("[", ",", "]")}}"""
          }
          docs.unpersist()
          println(s"""{"metric":"harvest_lab","cpus":$cpus,"docs":$nDocs,${rowsH.mkString(",")}}""")
        case "spans-lab" =>
          // removeRepeatedSpans kept-index selection lab (guide §1.4):
          // filter+array_contains (O(T·C) per doc) vs array_except
          // (O(T+C) hash set). Boilerplate-heavy corpus so covered
          // positions C are a large fraction of T — the worst case for
          // the linear scan and the realistic shape for the operator
          // (it exists because corpora have heavy boilerplate).
          import graft.pipeline.TextPipeline
          val nDocsS = sys.env.getOrElse("SPARK_GRAFT_SPANS_DOCS", "200000").toLong
          val boiler = (0 until 64).map(j => s"boilerplate token$j shared").mkString(" ")
          val docsS = spark.range(0, nDocsS)
            .select(col("id").as("doc_id"),
              concat(lit("unique preamble "), col("id").cast("string"), lit(" words "),
                lit(boiler), lit(" middle "), col("id").cast("string"),
                lit(" "), lit(boiler), lit(" tail"), (col("id") % 97).cast("string"))
                .as("text"))
            .persist()
          docsS.count()
          def runSpans(exceptKept: Boolean): DataFrame =
            TextPipeline.removeRepeatedSpans(docsS, "doc_id", "text", 8, exceptKept)
          // row-identity guard across strategies (order-insensitive hash)
          def sigS(df: DataFrame): (Long, Long) = {
            val r = df.agg(count(lit(1)), coalesce(expr(
              "bit_xor(xxhash64(doc_id, n_tokens, n_kept, text_dedup))"), lit(0L))).head()
            (r.getLong(0), r.getLong(1))
          }
          require(sigS(runSpans(false)) == sigS(runSpans(true)),
            "spans variants disagree — abort lab")
          val rowsS = Seq(("r5_filter_contains", false), ("array_except", true)).map {
            case (tag, f) =>
              runSpans(f).count() // warmup (the fn checkpoints eagerly)
              val ts = (1 to reps).map { _ =>
                val t0 = System.nanoTime()
                runSpans(f).count()
                (System.nanoTime() - t0) / 1e9
              }
              s""""$tag":{"median":${medianD(ts)},"reps":${ts.mkString("[", ",", "]")}}"""
          }
          docsS.unpersist()
          println(s"""{"metric":"spans_lab","cpus":$cpus,"docs":$nDocsS,${rowsS.mkString(",")}}""")
        case other =>
          System.err.println(s"unknown mode: $other")
      }
    } finally spark.stop()
  }
}
