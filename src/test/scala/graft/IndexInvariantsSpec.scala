package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.CorpusSynthesizer
import graft.index._

/** dumpindex-style consistency invariants
  * (reference: dumpindex/dumpindex.cpp:60-110 cross-checks; FIXTURES.md §3).
  */
class IndexInvariantsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val keys = Seq("repo", "path", "commit")

  private lazy val (docs, index) = {
    val corpus = CorpusSynthesizer.corpus(spark, 500)
    val withSha = corpus.withColumn("content_sha256", sha2(col("content"), 256))
    val d = IndexBuilder.assignDocIdsScalable(withSha, keys).cache()
    val idx = IndexBuilder.build(d.select("docId", "content"), IndexConfig(blockSize = 64, numBuckets = 8))
    (d, idx)
  }

  /** Spark's string order: unsigned UTF-8 bytes — not String.compareTo,
    * which compares UTF-16 units and puts a supplementary character
    * (surrogates 0xD800-0xDFFF) before U+E000-U+FFFF
    */
  private val utf8Order: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** docId oracle: the 1-based rank of each row's (repo, path, commit)
    * key under Spark's string order
    */
  private def keyRanks(df: DataFrame): Map[(String, String, String), Long] =
    df.select(keys.map(col): _*).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sorted(Ordering.Tuple3(utf8Order, utf8Order, utf8Order))
      .zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap

  private def idsOf(df: DataFrame): Map[(String, String, String), Long] =
    df.select("repo", "path", "commit", "docId").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap

  test("docIds dense 1..N and deterministic") {
    val ids = docs.select("docId").as[Long](spark.implicits.newLongEncoder).collect().sorted
    assert(ids.toSeq == (1L to ids.length).toSeq)
    // the ids are the sorted-key ranks, and re-assigning a repartitioned
    // copy gives them again (layout independence)
    val expected = keyRanks(docs)
    assert(expected.size == ids.length) // keys are unique
    assert(idsOf(docs) == expected)
    assert(idsOf(IndexBuilder.assignDocIdsScalable(docs.drop("docId").repartition(7), keys)) == expected)
  }

  test("scalable docId assignment equals the sorted-key rank oracle") {
    val re = IndexBuilder.assignDocIdsScalable(
      docs.drop("docId").repartition(5), keys, partitions = 7)
    assert(re.count() == docs.count())
    assert(idsOf(re) == keyRanks(docs))
    // keys whose UTF-8 byte order differs from their UTF-16 order: U+FF5E
    // (EF BD 9E) sorts before U+1F600 (F0 9F 98 80) in bytes, after its
    // surrogate pair (D83D DE00) in String.compareTo
    import spark.implicits._
    val wide = Seq("\uFF5E", "\uD83D\uDE00", "z", "\u00E9", "a\uD83D\uDE00", "a\uFF5E")
      .flatMap(r => Seq("p1", "p\u00E9").map(p => (r, p, "c", "x")))
      .toDF("repo", "path", "commit", "content")
    val got = idsOf(IndexBuilder.assignDocIdsScalable(wide.repartition(3), keys, partitions = 4))
    assert(got == keyRanks(wide))
    assert(got(("\uFF5E", "p1", "c")) < got(("\uD83D\uDE00", "p1", "c")))
  }

  test("content sha256 row invariant preserved") {
    val bad = docs.where(sha2(col("content"), 256) =!= col("content_sha256")).count()
    assert(bad == 0)
  }

  test("postings sorted positions, tf == size(positions)") {
    val bad = index.postings
      .where(col("tf") =!= size(col("positions")) ||
        col("positions") =!= array_sort(col("positions")))
      .count()
    assert(bad == 0)
  }

  test("dictionary df/ctf match postings aggregates") {
    val agg = index.postings.groupBy("term").agg(
      count(lit(1)).as("df2"), sum(col("tf").cast("long")).as("ctf2"),
      max("doclen").as("maxDl2"), min("doclen").as("minDl2"))
    val joined = index.dictionary.join(agg, "term")
    assert(joined.where(col("df") =!= col("df2") || col("ctf") =!= col("ctf2") ||
      col("maxDocLen") =!= col("maxDl2") || col("minDocLen") =!= col("minDl2")).count() == 0)
    assert(index.dictionary.count() == agg.count())
  }

  test("doclen == sum(tf) + stopped slots; corpus stats consistent") {
    // with no stopwords every position is indexed: doclen == Σ tf per doc
    val perDoc = index.postings.groupBy("docId").agg(sum(col("tf").cast("long")).as("tfsum"))
    val joined = index.doclens.join(perDoc, "docId")
    assert(joined.where(col("length") =!= col("tfsum")).count() == 0)
    val st = index.stats
    assert(st.totalDocs == 500)
    val sumLen = index.doclens.agg(sum(col("length").cast("long"))).head().getLong(0)
    assert(st.totalTerms == sumLen)
    assert(st.uniqueTerms == index.dictionary.count())
  }

  test("stopped corpus: doclen counts null slots") {
    val cfg = IndexConfig(stopwords = Set("return", "class"))
    val idx2 = IndexBuilder.build(docs.select("docId", "content"), cfg)
    // doclens identical to unstopped build (positions preserved)
    val diff = idx2.doclens.join(index.doclens.withColumnRenamed("length", "l2"), "docId")
      .where(col("length") =!= col("l2")).count()
    assert(diff == 0)
    // stopped terms absent from dictionary
    assert(idx2.dictionary.where(col("term").isin("return", "class")).count() == 0)
  }

  test("segment blocks decode back to exact postings") {
    import spark.implicits._
    val blocks = index.segments.as[SegmentBlock].collect()
    val decoded = blocks.flatMap { b =>
      val (ds, tfs, dls, pos) = IndexBuilder.decodeBlock(b)
      assert(b.firstDoc == ds.head && b.lastDoc == ds.last && b.numDocs == ds.length)
      assert(b.maxTf == tfs.max && b.minDl == dls.min)
      assert(ds.toSeq == ds.sorted.toSeq)
      ds.indices.map(i => (b.term, ds(i), tfs(i), dls(i), pos(i).toSeq))
    }.toSeq.sortBy(r => (r._1, r._2))
    val expected = index.postings
      .select("term", "docId", "tf", "doclen", "positions").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getSeq[Int](4)))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(decoded.size == expected.size)
    decoded.zip(expected).foreach { case (a, b) => assert(a == b) }
  }

  test("segment blocks respect blockSize and per-term docId-range disjointness") {
    import spark.implicits._
    val blocks = index.segments.as[SegmentBlock].collect()
    assert(blocks.forall(_.numDocs <= 64))
    blocks.groupBy(_.term).foreach { case (_, bs) =>
      val sorted = bs.sortBy(_.firstDoc)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.lastDoc < b.firstDoc)
        case _ =>
      }
    }
  }

  test("salted build equals unsalted build (skew fixture)") {
    val unsalted = IndexBuilder.buildSegments(index.postings, index.stats.totalDocs,
      IndexConfig(blockSize = 64, numBuckets = 1))
    import spark.implicits._
    def flat(df: org.apache.spark.sql.Dataset[SegmentBlock]) =
      df.collect().flatMap { b =>
        val (ds, tfs, dls, pos) = IndexBuilder.decodeBlock(b)
        ds.indices.map(i => (b.term, ds(i), tfs(i), dls(i), pos(i).toSeq))
      }.toSeq.sortBy(r => (r._1, r._2))
    assert(flat(index.segments.as[SegmentBlock]) == flat(unsalted))
  }

  test("topdocs kept for hot terms only, ranked by tf/len") {
    val td = IndexBuilder.buildTopdocs(index.postings, IndexConfig(topdocsMinDf = 100))
    val hot = index.dictionary.where(col("df") > 100).select("term").collect().map(_.getString(0)).toSet
    val tdTerms = td.select("term").distinct().collect().map(_.getString(0)).toSet
    assert(tdTerms.subsetOf(hot))
    if (hot.nonEmpty) assert(tdTerms.nonEmpty)
  }
}
