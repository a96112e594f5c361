package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusSynthesizer
import graft.index.{Federation, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{Engine, ScoringRule, TermStats}
import graft.streaming.IncrementalIndexer

/** Term stats come from the resident block maps' build-time partials
  * (Daat.stats): for every dictionary term they equal the dictionary's
  * (ctf, df, minDocLen) on every kind of index — an in-memory build, a
  * stored index, a federation, an incremental index over several
  * generations and a delete compaction — and a term the dictionary lacks
  * is absent from the result.
  */
class BlockStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // small blocks: frequent terms span several blocks and every bucket
  private val cfg = IndexConfig(blockSize = 8, numBuckets = 4)
  private lazy val docsDf = IndexBuilder.assignDocIdsScalable(
      CorpusSynthesizer.corpus(spark, 240, seed = 13L), Seq("repo", "path", "commit"))
    .select("docId", "content").cache()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def assertDictionaryStats(index: InvertedIndex): Unit = {
    val dict = index.dictionary.select("term", "ctf", "df", "minDocLen").collect()
      .map(r => r.getString(0) -> TermStats(r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    // the fixture must exercise multi-block terms and tf > 1
    assert(dict.values.exists(s => s.df > cfg.blockSize && s.ctf > s.df))
    val eng = new Engine(spark, index, cfg.analyzer, ScoringRule(method = "okapi"))
    val got = eng.termStatsFor(dict.keys.toSeq ++ Seq("zzznotaword", "qqqalsonotaword"))
    val wrong = dict.collect { case (t, s) if !got.get(t).contains(s) => s"$t: ${got.get(t)} vs $s" }
    assert(wrong.isEmpty, s"${wrong.size} of ${dict.size} terms differ, e.g. ${wrong.take(5)}")
    assert(got.keySet == dict.keySet)
  }

  private def build(docs: DataFrame): InvertedIndex = IndexBuilder.build(docs, cfg)

  test("in-memory build") {
    assertDictionaryStats(build(docsDf))
  }

  test("SegmentStore.open index") {
    val dir = tmp("block-stats-store")
    SegmentStore.writeAll(build(docsDf), dir, cfg)
    val stored = SegmentStore.open(spark, dir)
    assertDictionaryStats(InvertedIndex(null, stored.dictionary, stored.doclens, stored.stats,
      stored.segments, numBuckets = stored.numBuckets))
  }

  test("Federation.combine of two members") {
    val half1 = build(docsDf.where(col("docId") <= 100))
    val half2 = build(docsDf.where(col("docId") > 100).withColumn("docId", col("docId") - 100))
    assertDictionaryStats(Federation.combine(Seq(half1, half2)))
  }

  test("IncrementalIndexer.open over 3 generations") {
    val dir = tmp("block-stats-gens")
    Seq((1L, 80L), (81L, 170L), (171L, 240L)).zipWithIndex.foreach { case ((from, to), gen) =>
      IncrementalIndexer.appendBatch(docsDf.where(col("docId").between(from, to)), gen.toLong, dir, cfg)
    }
    assertDictionaryStats(IncrementalIndexer.open(spark, dir, cfg))
  }

  test("IndexBuilder.compactDeletes result") {
    val deleted = (1L to 240L).filter(_ % 3 == 0).toDF("docId")
    assertDictionaryStats(IndexBuilder.compactDeletes(build(docsDf), deleted, cfg))
  }
}
