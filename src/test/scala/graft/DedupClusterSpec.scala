package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.TextPipeline

/** Min-label-propagation connected components + near-dup cluster
  * canonicalization (keep the minimum id per component).
  */
class DedupClusterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("components: chain + pair + singleton resolve to min-id labels") {
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = TextPipeline.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("components: a 12-node chain given in worst-case order converges") {
    // labels must travel the full diameter; maxIter default must cover it
    val n = 12
    val nodes = (1L to n.toLong).toDF("id")
    val pairs = (1 until n).map(i => (i.toLong + 1, i.toLong)).toDF("a", "b")
    val got = TextPipeline.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L) && got.size == n)
  }

  test("dedupClusters: exact duplicate texts land in one cluster with min-id keeper") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "totally unrelated content about distributed query engines at scale"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (7L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val got = TextPipeline.dedupClusters(docs, "doc_id", "text",
      numHashes = 4, bands = 2)
      .select("doc_id", "keeper", "is_dup")
      .as[(Long, Long, Int)].collect().toMap2
    assert(got(1L) == ((1L, 0)))
    assert(got(3L) == ((1L, 1)))
    assert(got(7L) == ((1L, 1)))
    assert(got(2L)._1 == 2L && got(2L)._2 == 0)
  }

  private implicit class Tuple3Ops(rows: Array[(Long, Long, Int)]) {
    def toMap2: Map[Long, (Long, Int)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("repeatedSpans flags k-gram positions shared across (or within) documents") {
    val shared = "zero one two three four five six seven"  // exactly one 8-gram
    val docs = Seq(
      (1L, s"prefixa $shared"),   // grams: [prefixa..six], [zero..seven]
      (2L, s"$shared suffixb"),   // grams: [zero..seven], [one..suffixb]
      (3L, "eight nine ten eleven twelve thirteen fourteen fifteen")  // unique
    ).toDF("doc_id", "text")
    val got = TextPipeline.repeatedSpans(docs, "doc_id", "text", k = 8)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 0L, 0.0)))
  }

  test("removeRepeatedSpans cuts every repeated k-gram occurrence but the first") {
    val docs = Seq(
      (1L, "a b c d e f g h x y"),              // survivor of the shared gram
      (2L, "p q a b c d e f g h r"),            // loses positions 2..9
      (3L, "unique tokens only here"),          // untouched (short, no grams)
      (4L, "m n o p q r s t m n o p q r s t"))  // within-doc repeat: keeps 0..7
      .toDF("doc_id", "text")
    val out = TextPipeline.removeRepeatedSpans(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, 10L, "a b c d e f g h x y")))
    assert(out(2L) == ((11L, 3L, "p q r")))
    assert(out(3L) == ((4L, 4L, "unique tokens only here")))
    assert(out(4L) == ((16L, 8L, "m n o p q r s t")))
    // kept-index selection strategy is semantics-invariant: the round-5
    // filter+array_contains form must emit byte-identical rows to the
    // array_except default — on the hand fixture AND on random docs
    // with planted shared boilerplate (many covered positions)
    val rnd = new scala.util.Random(7)
    val boiler = (0 until 12).map(j => s"b$j").mkString(" ")
    val randomDocs = (1L to 60L).map { i =>
      val own = Seq.fill(3 + rnd.nextInt(10))("t" + rnd.nextInt(8)).mkString(" ")
      val mid = if (i % 3 == 0) s" $boiler " else " "
      (i, s"$own$mid$own ${if (i % 2 == 0) boiler else "solo" + i}")
    }.toDF("doc_id", "text")
    for (docsCase <- Seq(docs, randomDocs)) {
      val byExcept = TextPipeline.removeRepeatedSpans(docsCase, "doc_id", "text", 8,
        exceptKept = true).collect().map(_.toSeq).sortBy(_.head.toString)
      val byFilter = TextPipeline.removeRepeatedSpans(docsCase, "doc_id", "text", 8,
        exceptKept = false).collect().map(_.toSeq).sortBy(_.head.toString)
      assert(byExcept.toSeq == byFilter.toSeq)
    }
  }

  test("components == scalar union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { _ =>
      val n = 40
      val nodes = (1L to n.toLong)
      val pairs = Seq.fill(30)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // scalar oracle: union-find with min-root canonicalization
      val parent = scala.collection.mutable.Map(nodes.map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val expected = nodes.map(i => i -> find(i)).toMap
      val got = TextPipeline.connectedComponents(
        nodes.toDF("id"), "id", pairs.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
      // the large-star/small-star path must produce the identical partition
      val gotStar = TextPipeline.connectedComponentsStar(
        nodes.toDF("id"), "id", pairs.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(gotStar == expected)
    }
  }

  test("large-star/small-star handles a 64-node chain (past the propagation cap)") {
    // min-label propagation needs diameter rounds (63 > its maxIter=25
    // default and would throw); star reshaping converges logarithmically
    val n = 64
    val nodes = (1L to n.toLong).toDF("id")
    val pairs = (1 until n).map(i => (i.toLong + 1, i.toLong)).toDF("a", "b")
    val got = TextPipeline.connectedComponentsStar(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L) && got.size == n)
    intercept[IllegalStateException] {
      TextPipeline.connectedComponents(nodes, "id", pairs, maxIter = 25)
    }
  }

  test("star components: chain + pair + singleton resolve to min-id labels") {
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = TextPipeline.connectedComponentsStar(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }
}
