package graft

import java.util.concurrent.{CountDownLatch, Executors}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusSynthesizer
import graft.index.{FieldAnnotators, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{Daat, Engine, ScoringRule}

/** The resident query index: the kernel's bucket-keyed block maps, the
  * field extents beside them and the lexicon are built lazily, once per
  * index, under concurrent queries, whatever way the segment scan split
  * the stored files, and the driver merge of partition-local top-k lists
  * orders exactly like the Spark sort it replaces.
  */
class ResidentIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val cfg = IndexConfig(blockSize = 16, numBuckets = 8)
  private lazy val index = IndexBuilder.build(
    IndexBuilder.assignDocIdsScalable(CorpusSynthesizer.corpus(spark, 600, seed = 7L),
      Seq("repo", "path", "commit")).select("docId", "content"),
    cfg, annotate = df => FieldAnnotators.headField(7)(df))

  /** a result's rows with raw score bits */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map { r =>
      r.toSeq.init :+ java.lang.Double.doubleToRawLongBits(r.getDouble(r.length - 1))
    }.toSeq

  test("4 threads on a fresh Engine: every result equals its serial belief-path result, bit for bit") {
    val ranked = CorpusSynthesizer.querySet.map(_._2)
    for (method <- Seq("okapi", "dirichlet")) {
      // the LM rule also races the lazy extent build: field and passage
      // queries interleaved with ranked ones (the baseline rejects extents)
      val extents = if (method == "okapi") Nil else WandPropertySpec.extentQueries
      val queries = ranked.zipAll(extents, null, null).flatMap { case (a, b) => Seq(a, b) }
        .filter(_ != null).map(q => (q, extents.contains(q)))
      def run(eng: Engine, q: String, extent: Boolean, useDaat: Boolean) =
        bits(if (extent) eng.runExtentQuery(q, 1000, useDaat) else eng.runQuery(q, 1000, useDaat))
      val rule = ScoringRule(method = method)
      val ref = new Engine(spark, index, cfg.analyzer, rule)
      val want = queries.map { case (q, x) => q -> run(ref, q, x, useDaat = false) }.toMap
      // a fresh handle: the racing queries build its resident structures
      val eng = new Engine(spark, index.copy(), cfg.analyzer, rule)
      val go = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val results = queries.map { case (q, x) =>
          pool.submit(() => { go.await(); q -> run(eng, q, x, useDaat = true) })
        }
        go.countDown()
        results.foreach { f =>
          val (q, got) = f.get()
          assert(got == want(q), s"$method '$q': concurrent kernel result != serial belief path")
        }
      } finally pool.shutdown()
    }
  }

  test("driver merge of bucket top-k lists == orderBy(score.desc, docId.asc).limit(k)") {
    import spark.implicits._
    // bucket-local lists (docIds are disjoint across buckets): score ties
    // across buckets, 0.0 against -0.0, NaN, and fewer rows than large k
    val locals = Seq(
      Seq((1L, 2.5), (3L, 0.0), (5L, -1.0)),
      Seq((2L, 2.5), (4L, -0.0), (6L, -0.0), (9L, Double.NaN)),
      Seq((7L, 0.0), (8L, Double.NegativeInfinity)),
      Seq.empty[(Long, Double)])
    def raw(rs: Seq[(Long, Double)]) =
      rs.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }
    def sparkTop(k: Int) = raw(locals.flatten.toDF("docId", "score")
      .orderBy(col("score").desc, col("docId").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    for (k <- Seq(1, 2, 3, 4, 5, 6, 9, 100))
      assert(raw(Daat.mergeTopK(locals, k).toSeq) == sparkTop(k), s"k=$k")
    // the fixture tells Spark's double order from java.lang.Double.compare,
    // which ranks 0.0 above -0.0 instead of breaking the tie on docId
    val javaOrder = locals.flatten.sortWith { (a, b) =>
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c < 0 else a._1 < b._1
    }
    assert(raw(javaOrder) != sparkTop(100))
  }

  test("a stored index whose bucket files are split across scan partitions serves the belief path's rows") {
    val splitCfg = IndexConfig(blockSize = 16, numBuckets = 8)
    val dir = java.nio.file.Files.createTempDirectory("resident-split").toString
    val built = IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 600, seed = 7L), splitCfg)
    // small row groups on write and small splits on read: Spark splits
    // every bucket file by row group, so a bucket's blocks reach the
    // block-map build in several scan partitions
    def withConf[T](key: String, value: String)(body: => T): T = {
      val old = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    withConf("parquet.block.size", "16384")(SegmentStore.writeAll(built, dir, splitCfg))
    withConf("spark.sql.files.maxPartitionBytes", "32768") {
      val stored = SegmentStore.open(spark, dir)
      assert(stored.segments.rdd.getNumPartitions > stored.numBuckets, "no bucket file was split")
      val index = InvertedIndex(null, stored.dictionary, stored.doclens, stored.stats,
        stored.segments, numBuckets = stored.numBuckets, segmentsBucketed = true)
      for (method <- Seq("okapi", "dirichlet")) {
        val eng = new Engine(spark, index, splitCfg.analyzer, ScoringRule(method = method))
        for (q <- CorpusSynthesizer.querySet.map(_._2))
          assert(bits(eng.runQuery(q, 100)) == bits(eng.runQuery(q, 100, useDaat = false)),
            s"$method '$q': kernel rows != belief path")
      }
    }
  }
}
