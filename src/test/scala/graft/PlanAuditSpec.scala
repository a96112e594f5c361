package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index._
import graft.search.{Engine, ScoringRule}

/** Physical-plan audits: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — term-predicate pushdown into the
  * parquet segment scan (partition pruning path), hash exchange on the
  * term for the posting merge, and broadcast-free stats round.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(analyzerMode = "simple", blockSize = 32, numBuckets = 4)

  // kernel result schemas, empty results included: `toDF`'s for
  // (Long, Double) and (Long, Int, Int, Double)
  private val docsSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  private val extentsSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("begin", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  test("stored segment scan pushes the term predicate to parquet") {
    val dir = java.nio.file.Files.createTempDirectory("plan-audit").toString
    val docs = graft.corpus.CorpusSynthesizer.corpus(spark, 200)
    val idx = IndexBuilder.buildFromCorpus(docs, cfg)
    SegmentStore.writeAll(idx, dir, cfg)
    val stored = SegmentStore.open(spark, dir)
    val plan = stored.segments
      .where(col("term").isin("return", "license"))
      .queryExecution.executedPlan.toString
    // DataSource V2 parquet shows pushed filters in the scan node
    assert(plan.contains("PushedFilters") && plan.contains("term"),
      s"term filter not pushed to parquet scan:\n$plan")
  }

  test("stored segments: DAAT query plan has NO per-query exchange, results identical") {
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-stored").toString
    val docs = graft.corpus.CorpusSynthesizer.corpus(spark, 300)
    val idx = IndexBuilder.buildFromCorpus(docs, cfg)
    SegmentStore.writeAll(idx, dir, cfg)
    val stored = SegmentStore.open(spark, dir)
    val qIdx = InvertedIndex(null, stored.dictionary, stored.doclens,
      stored.stats, stored.segments, numBuckets = stored.numBuckets)
    // the block maps' partitions: one per core, at most one per bucket
    val parts = math.min(stored.numBuckets, spark.sparkContext.defaultParallelism)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a warm kernel query is 2 jobs over the resident block maps, the
    // stats job and the kernel job: one stage each, one task per
    // block-map partition, nothing shuffled, no SQL plan executed, and
    // the result is a local relation computed by the time runQuery
    // returns
    def audit(method: String, q: String): Unit = {
      val eng = new Engine(spark, qIdx, cfg.analyzer, ScoringRule(method = method))
      val engMem = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = method))
      eng.runQuery(q, 10) // builds the resident structures
      val (df, t) = JobTally.of(spark)(eng.runQuery(q, 10))
      val what = s"$method '$q': $t"
      assert(t.jobs.size == 2, what)
      assert(t.jobsOn("resident block maps").size == 2, what)
      assert(t.jobsOn("resident block maps").forall(_.tasks == parts), what)
      assert(t.jobs.forall(_.stagesRun == 1), what)
      assert(t.jobs.forall(j => j.shuffleReadBytes == 0 && j.shuffleWriteBytes == 0), what)
      assert(t.sqlExecutions == 0, what)
      assert(df.schema == docsSchema, what)
      val (got, tc) = JobTally.of(spark)(rows(df))
      assert(tc.jobs.isEmpty, s"collecting a kernel result ran jobs: $tc")
      // bit-identical to the in-memory index's kernel result
      assert(got.nonEmpty && got == rows(engMem.runQuery(q, 10)), what)
    }
    audit("okapi", "#combine(return license)")
    // LM rules run the same kernel with the same properties
    audit("dirichlet", "#combine(return license)")
    // a lone window query counts its window in the stats job
    audit("okapi", "#od1(return license)")

    // bucket b sits in block-map partition b mod P, and no partition is empty
    val bucketOf = stored.segments.select("term", "firstDoc", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val placed = qIdx.blockMaps.mapPartitionsWithIndex { (p, maps) =>
      Iterator(p -> maps.flatMap(_.iterator.flatMap { case (t, s) => s.blocks.map(b => (t, b.firstDoc)) }).toSeq)
    }.collect()
    assert(placed.length == parts)
    assert(placed.map(_._2.size).sum == bucketOf.size, "blocks lost or duplicated")
    for ((p, blocks) <- placed) {
      assert(blocks.nonEmpty, s"block-map partition $p is empty")
      assert(blocks.forall(b => bucketOf(b) % parts == p),
        s"partition $p holds buckets ${blocks.map(bucketOf).distinct.sorted}")
    }

    // an empty kernel query runs the stats job alone, and its result is
    // a local relation of the kernel schema: collecting it runs no job
    // (Dataset.collect opens a SQL execution, a local scan, for every
    // result alike)
    val eng = new Engine(spark, qIdx, cfg.analyzer, ScoringRule(method = "okapi"))
    for (q <- Seq("zzznotaword", "#combine(hashkey1 mergesort3)")) {
      eng.runQuery(q, 10)
      val (df, t) = JobTally.of(spark)(eng.runQuery(q, 10))
      val what = s"'$q': $t"
      assert(t.jobs.size == 1 && t.jobsOn("resident block maps").size == 1, what)
      assert(t.sqlExecutions == 0, what)
      val (got, tc) = JobTally.of(spark)(rows(df))
      assert(got.isEmpty, what)
      assert(tc.jobs.isEmpty, s"collecting an empty kernel result ran jobs: $tc")
      assert(df.schema == docsSchema, what)
    }
  }

  test("stored fielded index: a warm extent query is 2 jobs over the resident structures") {
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-extents").toString
    val docs = IndexBuilder.assignDocIdsScalable(graft.corpus.CorpusSynthesizer.corpus(spark, 300),
      Seq("repo", "path", "commit")).select("docId", "content")
    val idx = IndexBuilder.build(docs, cfg, annotate = df => FieldAnnotators.headField(7)(df))
    SegmentStore.writeAll(idx, dir, cfg)
    val stored = SegmentStore.open(spark, dir)
    val qIdx = InvertedIndex(null, stored.dictionary, stored.doclens,
      stored.stats, stored.segments, stored.fieldExtents,
      numBuckets = stored.numBuckets)
    val eng = new Engine(spark, qIdx, cfg.analyzer, ScoringRule(method = "dirichlet"))
    val engMem = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "dirichlet"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    val parts = math.min(stored.numBuckets, spark.sparkContext.defaultParallelism)
    // the stats job reads the block maps; then the field query zips them
    // with the resident extents, and a passage query reads them alone
    for ((q, extentJobs) <- Seq("#weight[head](0.7 return 0.3 license)" -> 1,
                                "#combine[passage8:4](return license)" -> 0)) {
      eng.runExtentQuery(q, 10) // builds the resident structures
      val (df, t) = JobTally.of(spark)(eng.runExtentQuery(q, 10))
      val what = s"'$q': $t"
      assert(t.jobs.size == 2, what)
      assert(t.jobsOn("resident block maps").size == 2, what)
      assert(t.jobsOn("resident field extents").size == extentJobs, what)
      assert(t.jobs.forall(_.stagesRun == 1), what)
      assert(t.jobs.forall(j => j.shuffleReadBytes == 0 && j.shuffleWriteBytes == 0), what)
      assert(t.jobsOn("resident block maps").forall(_.tasks == parts), what)
      assert(t.sqlExecutions == 0, what)
      assert(df.schema == extentsSchema, what)
      val (got, tc) = JobTally.of(spark)(rows(df))
      assert(tc.jobs.isEmpty, s"collecting a kernel result ran jobs: $tc")
      assert(got.nonEmpty && got == rows(engMem.runExtentQuery(q, 10)), what)
    }
    // an extent query whose terms the index all lacks runs the stats job
    // alone; its empty result has the same schema and collects with no
    // job
    val (empty, te) = JobTally.of(spark)(
      eng.runExtentQuery("#combine[head](zzznotaword qqqalsonotaword)", 10))
    assert(te.jobs.size == 1 && te.jobsOn("resident block maps").size == 1, s"OOV extent query: $te")
    assert(te.jobsOn("resident field extents").isEmpty, s"OOV extent query: $te")
    assert(empty.schema == extentsSchema)
    val (got, tc) = JobTally.of(spark)(rows(empty))
    assert(got.isEmpty && tc.jobs.isEmpty, s"collecting an empty extent result ran jobs: $tc")
  }

  test("posting build: per-doc aggregation moves no data; segment encode is the only exchange") {
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("docId", "content")
    val idx = IndexBuilder.build(docs, cfg)
    // the postings `build` returns are computed from each document's own
    // row: their plan, the caches behind them included, holds NO exchange
    // (the old posexplode + groupBy(term,docId) shape shuffled every token
    // occurrence)
    val pPlan = idx.postings.queryExecution.executedPlan.toString
    assert(pPlan.contains("InMemoryRelation") && !pPlan.contains("Exchange"),
      s"posting build shuffles token data:\n$pPlan")
    val segPlan = idx.segments.queryExecution.executedPlan.toString
    assert(segPlan.contains("hashpartitioning(term"),
      s"segments build lacks the term-hash exchange:\n$segPlan")
  }

  test("flagship BM25 DataFrame path: term filter pushed into cache scan, codegen in the relational shell") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("docId", "content")
    val idx = IndexBuilder.build(docs, cfg)
    val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "okapi"))
    val df = eng.runQuery("#combine(beta)", 5, useDaat = false)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    // the per-term filter reaches the cached postings scan (InMemory scan
    // filter pushdown — the cache analogue of parquet PushedFilters)
    assert(plan.contains("InMemoryTableScan") && plan.contains("term"),
      s"term predicate not pushed into the postings scan:\n$plan")
    // `*(n)` = WholeStageCodegen span markers; the relational shell
    // (project/filter/explode feeding the aggregates) is codegen'd —
    // collect_list itself is an object aggregate by design
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
  }

  test("removeRepeatedSpans: gram rollup is the only wide exchange, with map-side partial aggregation") {
    import graft.pipeline.TextPipeline
    val docs = Seq((1L, "a b c d e f g h x"), (2L, "p a b c d e f g h"))
      .toDF("doc_id", "text")
    val out = TextPipeline.removeRepeatedSpans(docs, "doc_id", "text", k = 8)
    out.collect()
    // the survivor/count rollup shuffles on the 8-byte gram hash and the
    // cut occurrences come home keyed on the doc id — both with partial
    // aggregation below the exchange (map-side combine), and nothing
    // shuffles raw token arrays. localCheckpoint hides the upstream plan,
    // so audit the pre-checkpoint stages via a rebuilt fragment.
    val toks = docs.select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("__toks"))
    val occ = toks.select(col("doc_id"),
        transform(col("__toks"), t => xxhash64(t)).as("__hs"))
      .select(col("doc_id"), explode(
        when(size(col("__hs")) >= 8,
          transform(sequence(lit(0), size(col("__hs")) - 8),
            i => xxhash64((0 until 8).map(j => element_at(col("__hs"), i + j + 1)): _*)))
          .otherwise(array().cast("array<bigint>"))).as("gh"))
    val plan = occ.groupBy("gh").agg(count(lit(1)).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(gh"),
      s"gram rollup not keyed on the hash:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no partial aggregation below the gram exchange:\n$plan")
  }

  test("dumpindex dt: the docId predicate pushes into the collection parquet scan") {
    import graft.apps.{BuildIndex, DumpIndex}
    val corpusDir = java.nio.file.Files.createTempDirectory("pa-dt-c").toString
    val rDir = java.nio.file.Files.createTempDirectory("pa-dt-r").toString
    Seq(("r1", "p1", "c1", "alpha beta"), ("r1", "p2", "c1", "gamma delta"))
      .toDF("repo", "path", "commit", "content")
      .write.mode("overwrite").parquet(corpusDir)
    BuildIndex.run(spark, BuildIndex.parseParams(
      s"""<parameters>
         |  <index>$rDir</index>
         |  <corpus><path>$corpusDir</path></corpus>
         |</parameters>""".stripMargin), cfg)
    val df = DumpIndex.command(spark, rDir, "dt", Seq("2"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("docId"),
      s"docId predicate not pushed to the collection scan:\n$plan")
  }

  test("harvestlinks chain: broadcast joins only, no shuffle before the final aggregation") {
    import graft.pipeline.HarvestLinks
    val docs = Seq(
      (1L, "http://s.test/p1", """<a href="http://s.test/p2">go</a>"""),
      (2L, "http://s.test/p2", """<a href="http://old.test/r">via</a>"""))
      .toDF("doc_id", "url", "html")
    val redirects = Seq(("http://old.test/r", "http://s.test/p1"))
      .toDF("from_url", "to_url")
    val resolved = HarvestLinks.resolve(
      HarvestLinks.conflate(HarvestLinks.harvest(docs), redirects),
      docs.select(col("url"), col("doc_id")))
    resolved.collect()
    val plan = resolved.queryExecution.executedPlan.toString
    // the harvest itself is a projection + generate over ONE scan; the
    // redirect map and (here) the doc-order side broadcast — the only
    // acceptable shuffle in the chain is the final anchorText groupBy.
    // At 100 TB the doc-order join flips to a shuffled hash join on
    // dst_url, which is the correct web-graph sharding key; what this
    // audit pins is that nothing ELSE shuffles and nothing goes
    // cartesian over the corpus side.
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"unexpected join strategy in the harvest chain:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle before aggregation:\n$plan")
  }

  test("pagerank toIntRanks: no single-partition Exchange (range-partitioned global numbering)") {
    import graft.pipeline.PageRank
    // ties on the rounded score exercise the (score desc, id asc) order
    val scores = (1L to 500L).map(i => (i, (i % 7).toDouble / 10.0))
      .toDF("doc_id", "pr")
    val (lazyRanks, cache) = PageRank.toIntRanksPlan(scores, maxPr = 10)
    try {
      lazyRanks.collect()
      val plan = lazyRanks.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"global single-reducer sort in the ranks plan:\n$plan")
      assert(plan.contains("Exchange rangepartitioning") ||
        plan.contains("InMemoryTableScan"), // cached range partitioning
        s"expected a range-partitioned numbering shape:\n$plan")
      // parity with the specification form: one global row_number window
      val rnWin = org.apache.spark.sql.expressions.Window
        .orderBy(round(col("pr"), 6).desc, col("doc_id").asc)
      val n = 500L
      val b0 = math.pow(n + 1.0, 1.0 / 10)
      var binSize = math.max(1L, (b0 - 1.0).toLong)
      var cum = 0L
      val bounds = Seq.newBuilder[(Long, Int)]
      var r = 10
      while (r >= 2) { cum += binSize; bounds += ((cum, r)); binSize = math.ceil(b0 * binSize).toLong; r -= 1 }
      val bs = bounds.result()
      val rn = row_number().over(rnWin)
      val refRank = bs.tail.foldLeft(when(rn <= bs.head._1, bs.head._2)) {
        case (acc, (up, rk)) => acc.when(rn <= up, rk)
      }.otherwise(1)
      val expected = scores.select(col("doc_id"), refRank.as("rank"))
        .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
      val got = PageRank.toIntRanks(scores, maxPr = 10)
        .collect().map(row => row.getLong(0) -> row.getInt(2)).toMap
      assert(got == expected, "range-partitioned ranks diverge from the global-window specification")
    } finally cache.unpersist()
  }

  test("pagerank convert mode numbering: no single-partition Exchange") {
    import graft.pipeline.PageRank
    // convert's key shape: raw (unrounded) score desc, STRING doc asc —
    // an external prior file is corpus-sized, same scale posture needed
    val in = (1 to 300).map(i => (f"doc$i%03d", (i % 11).toDouble / 11.0))
      .toDF("doc", "val")
    val (numbered, cache, n) =
      PageRank.globalRowNumber(in, Seq(col("val").desc, col("doc").asc))
    try {
      val rows = numbered.select("doc", "__rn").collect()
      assert(n == 300L && rows.length == 300)
      val plan = numbered.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"global single-reducer sort in the convert numbering plan:\n$plan")
      // the distributed row number IS the global sort position
      val expected = in.collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .sortBy { case (d, v) => (-v, d) }
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1L) }.toMap
      assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == expected,
        "distributed numbering diverges from the global sort position")
    } finally cache.unpersist()
  }

  test("KBA scoreStreams: broadcast param joins, no corpus-keyed join, bounded exchanges") {
    import graft.streaming.KbaScorers
    val docs = (1 to 50).map(i =>
      (i.toLong, s"t$i title", s"data merge word$i filler tokens here"))
      .toDF("docId", "title", "body")
    val out = KbaScorers.scoreStreams(docs,
      Seq(KbaScorers.KbaEntity("e1", Seq("data", "merge"), Seq("data", "query"))),
      stopwords = Set("the"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the per-(entity, term) params and per-entity consts are broadcast;
    // the doc size rides the matched-row shuffle, so NO join is keyed by
    // docId over the corpus and nothing goes cartesian or sort-merge
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"unexpected join strategy in scoreStreams:\n$plan")
    // exchanges: groupBy(docId, term) + groupBy(docId, entity) only
    // (AQE plan strings repeat the tree under "== Initial Plan ==" —
    // count the final section only)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(exchanges <= 2, s"more exchanges than the two groupBys:\n$finalPlan")
  }
}
