package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.corpus.CorpusSynthesizer
import graft.index._
import graft.streaming.IncrementalIndexer

/** The one index-build pass: every build — fieldless, fielded or
  * annotated — and every incremental batch reads and analyzes each
  * document once, caches no token slot array, and a build's tables do
  * not depend on which annotator chain (if any) it ran.
  */
class BuildPassSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(analyzerMode = "indri", blockSize = 4, numBuckets = 2)

  private val rows = Seq(
    (1L, "<title>merge sort</title> body merge text <price>10</price>"),
    (2L, "<title>hash scan</title> merge body body <price>25</price>"),
    (3L, "no fields here merge merge sort"),
    (4L, "<title>sort merge sort</title> tail <price>40</price>"),
    (5L, "alpha beta alpha gamma merge"))

  /** the three build shapes: fieldless, declared fields, annotator chain */
  private val shapes: Seq[(String, IndexConfig, DataFrame => DataFrame)] = Seq(
    ("fieldless", cfg, null),
    ("fielded", cfg.copy(fields = Seq(FieldSpec("title"), FieldSpec("price", "int"))), null),
    ("annotated", cfg, df => FieldAnnotators.nestedHeadField(2)(FieldAnnotators.headField(3)(df))))

  /** the rows, with `content` passed through a non-deterministic UDF that
    * counts its evaluations
    */
  private def counted(): (DataFrame, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator
    val touch = udf { (s: String) => acc.add(1); s }.asNondeterministic()
    (rows.toDF("docId", "raw").select(col("docId"), touch(col("raw")).as("content")), acc)
  }

  private def consume(idx: InvertedIndex): Unit = {
    idx.postings.count(); idx.dictionary.count(); idx.doclens.count()
    idx.segments.count(); idx.fieldExtents.count()
  }

  test("every build analyzes each row once: fieldless, fielded and annotated") {
    for ((name, c, annotate) <- shapes) {
      val (docs, acc) = counted()
      val idx = IndexBuilder.build(docs, c, annotate)
      consume(idx)
      consume(idx) // a second read comes from the cache
      assert(acc.sum == rows.size, s"$name: content evaluated ${acc.sum} times for ${rows.size} rows")
      if (name != "fieldless") assert(idx.fieldExtents.count() > 0, name)
    }
  }

  test("an incremental batch analyzes each row once for its postings and doclens writes") {
    val dir = java.nio.file.Files.createTempDirectory("build-pass-gen").toString
    val (batch, acc) = counted()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    IncrementalIndexer.appendBatch(batch, 0L, dir, cfg)
    assert(acc.sum == rows.size, s"content evaluated ${acc.sum} times for ${rows.size} rows")
    // the pass is released once both writes are done: no RDD the batch
    // persisted is left (compared by id, as the context cleaner may drop
    // an earlier suite's unreferenced RDDs at any time)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(left.isEmpty, s"batch left RDDs ${left.mkString(", ")} persisted")
    // and the generation holds what a full build of the same rows holds
    val gen = IncrementalIndexer.open(spark, dir, cfg)
    val full = IndexBuilder.build(rows.toDF("docId", "content"), cfg)
    assert(sorted(gen.postings) == sorted(full.postings))
    assert(sorted(gen.doclens) == sorted(full.doclens))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** every cache a DataFrame reads, the caches those were built from included */
  private def caches(df: DataFrame): Seq[InMemoryRelation] = {
    def nested(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: Plans.collect(r.cacheBuilder.cachedPlan) {
        case s: InMemoryTableScanExec => s.relation
      }.flatMap(nested)
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.flatMap(nested)
  }

  test("no build caches the token slot array") {
    for ((name, c, annotate) <- shapes) {
      val idx = IndexBuilder.build(rows.toDF("docId", "content"), c, annotate)
      val cached = Seq(idx.postings, idx.doclens, idx.fieldExtents).flatMap(caches)
      assert(cached.nonEmpty, name)
      for (r <- cached) {
        val cols = r.output.map(_.name)
        assert(!cols.contains("slots") && !cols.contains("content"), s"$name caches ${cols.mkString(", ")}")
      }
    }
  }

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(bytesAsSeq).sortBy(_.mkString("\u0001"))

  /** a row with its byte arrays as sequences, so == compares contents */
  private def bytesAsSeq(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case x => x
  }

  test("an identity annotator builds the same index as no annotator, byte for byte") {
    val docs = IndexBuilder.assignDocIdsScalable(CorpusSynthesizer.corpus(spark, 600),
      Seq("repo", "path", "commit")).select("docId", "content").cache()
    val c = IndexConfig(analyzerMode = "indri", blockSize = 32, numBuckets = 8)
    val plain = IndexBuilder.build(docs, c)
    val same = IndexBuilder.build(docs, c, annotate = df => df)
    assert(plain.stats == same.stats)
    assert(plain.stats.totalDocs == 600)
    for ((name, a, b) <- Seq(("postings", plain.postings, same.postings),
                             ("dictionary", plain.dictionary, same.dictionary),
                             ("doclens", plain.doclens, same.doclens),
                             ("segments", plain.segments, same.segments),
                             ("field extents", plain.fieldExtents, same.fieldExtents))) {
      assert(a.schema.map(f => (f.name, f.dataType)) == b.schema.map(f => (f.name, f.dataType)), name)
      val (x, y) = (sorted(a), sorted(b))
      assert(x.size == y.size && x == y, s"$name differ")
    }
    assert(plain.segments.count() > 100)
  }
}
