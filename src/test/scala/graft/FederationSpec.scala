package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.corpus.CorpusSynthesizer
import graft.index.{BlockCodec, Federation, FieldSpec, IndexBuilder, IndexConfig}
import graft.search.{Engine, QueryParser, ScoringRule}

/** Query-time federation (QueryEnvironment::addIndex): an Engine over
  * Federation.combine of member repositories must behave exactly like an
  * Engine over one repository of the whole corpus — global stats are
  * summed before scoring, docIds rebase onto documentBase offsets, and
  * every query path (DAAT kernel, LM kernel, windows, fields) returns
  * bit-identical scores.
  */
class FederationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(blockSize = 32, numBuckets = 4)

  private lazy val docsDf = {
    val corpus = CorpusSynthesizer.corpus(spark, 400, seed = 11L)
    IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
      .select("docId", "content").cache()
  }

  test("rebaseDeltas shifts the decoded stream without touching later deltas") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val n = 1 + rnd.nextInt(40)
      var v = rnd.nextInt(5).toLong
      val vals = Array.fill(n) { v += 1 + rnd.nextInt(300); v }
      val enc = BlockCodec.encodeDeltas(vals)
      for (base <- Seq(0L, 1L, 127L, 128L, 100000L, 1L << 40)) {
        val shifted = BlockCodec.decodeDeltas(BlockCodec.rebaseDeltas(enc, base), n)
        assert(shifted.toSeq == vals.map(_ + base).toSeq)
        if (base > 0)
          // only the first varint changed
          assert(BlockCodec.rebaseDeltas(enc, base).drop(
            BlockCodec.encodeDeltas(Array(vals(0) + base)).length).toSeq ==
            enc.drop(BlockCodec.encodeDeltas(Array(vals(0))).length).toSeq)
      }
    }
  }

  test("federated halves == whole-corpus engine, bit-exact, on every query path") {
    val whole = IndexBuilder.build(docsDf, cfg)
    val half1 = IndexBuilder.build(docsDf.where(col("docId") <= 200), cfg)
    val half2 = IndexBuilder.build(
      docsDf.where(col("docId") > 200).withColumn("docId", col("docId") - 200), cfg)
    val fed = Federation.combine(Seq(half1, half2))

    assert(fed.stats == whole.stats)
    assert(fed.numBuckets == half1.numBuckets + half2.numBuckets)
    // the federated segments are persisted as unioned, not shuffled: the
    // kernel's resident block maps key their own exchange on `bucket`, so
    // the plan holds no Exchange beyond the members' own build exchanges
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange ".r.findAllIn(df.queryExecution.executedPlan.toString).size
    assert(exchanges(fed.segments) == exchanges(half1.segments) + exchanges(half2.segments),
      s"federated segments are shuffled:\n${fed.segments.queryExecution.executedPlan}")

    val w = new Engine(spark, whole, Analyzer(), ScoringRule(method = "okapi"))
    val f = new Engine(spark, fed, Analyzer(), ScoringRule(method = "okapi"))

    // member-2 docs rebase past member 1's max id — dense 1-based
    // members pack tightly, so global ids equal the whole build's
    assert(f.documentLength(350L) == w.documentLength(350L))
    assert(f.termCount() == w.termCount())
    assert(f.documentCount() == w.documentCount())
    for (t <- Seq("return", "license", "def")) {
      assert(f.termCount(t) == w.termCount(t), s"ctf($t)")
      assert(f.documentCount(t) == w.documentCount(t), s"df($t)")
    }
    assert(f.expressionCount("#od1(public class)") == w.expressionCount("#od1(public class)"))

    val queries = Seq(
      "#combine(return license def)",          // okapi flat bag → WAND kernel
      "#weight(2.0 return 1.0 class)",
      "#combine(#od1(public class) return)",   // window leaf
      "#combine(#uw4(def val) license)",
      "#syn(return class)",
      "#max(return license)",
      "#combine(#wsyn(0.5 return 0.25 class))")
    for (q <- queries; method <- Seq("okapi", "dirichlet", "jm")) {
      w.setScoringRules(s"method:$method")
      f.setScoringRules(s"method:$method")
      val want = w.runQuery(q, 40).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = f.runQuery(q, 40).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"federated != whole for '$q' ($method)")
      assert(got.nonEmpty)
      // results actually span BOTH members (a merge that dropped one
      // member would still "pass" an equality against a broken whole)
      if (q == "#combine(return license def)") {
        assert(got.exists(_._1 <= 200) && got.exists(_._1 > 200))
      }
    }

    // deletes still work over the federated set (anti-join + kernel set)
    f.deleteDocuments(Seq(201L, 5L).toDF("docId"))
    w.deleteDocuments(Seq(201L, 5L).toDF("docId"))
    f.setScoringRules("method:okapi"); w.setScoringRules("method:okapi")
    val gotDel = f.runQuery("#combine(return license def)", 40).collect().toSeq
    assert(gotDel == w.runQuery("#combine(return license def)", 40).collect().toSeq)
    assert(!gotDel.exists(r => r.getLong(0) == 201L || r.getLong(0) == 5L))
  }

  test("federation with field extents: field-restricted scoring matches the whole build") {
    val mk = (i: Long) =>
      (i, s"<sec>alpha w$i <par>beta gamma</par> delta</sec> <par>tail epsilon</par>")
    val rows = (1L to 8L).map(mk).toDF("docId", "content")
    val fcfg = IndexConfig(analyzerMode = "indri", blockSize = 8, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par")))
    val whole = IndexBuilder.build(rows, fcfg)
    val h1 = IndexBuilder.build(rows.where(col("docId") <= 4), fcfg)
    val h2 = IndexBuilder.build(
      rows.where(col("docId") > 4).withColumn("docId", col("docId") - 4), fcfg)
    val fed = Federation.combine(Seq(h1, h2))
    val w = new Engine(spark, whole, fcfg.analyzer, ScoringRule(method = "dirichlet"))
    val f = new Engine(spark, fed, fcfg.analyzer, ScoringRule(method = "dirichlet"))
    for (q <- Seq("beta.par", "#combine(alpha.sec beta.par)", "#any:par")) {
      val want = w.runQuery(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = f.runQuery(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"field federation mismatch for '$q'")
      assert(got.nonEmpty)
    }
    // a member built with NO field config carries an EMPTY extent table —
    // federating it is legal and its docs simply match no field query
    // (global stats still include its tokens)
    val bare = IndexBuilder.build(
      rows.withColumn("docId", col("docId") + 8).select("docId", "content"),
      IndexConfig(analyzerMode = "indri", blockSize = 8, numBuckets = 2))
    val mixed = new Engine(spark, Federation.combine(Seq(whole, bare)),
      fcfg.analyzer, ScoringRule(method = "dirichlet"))
    val anyPar = mixed.runQuery("#any:par", 20).collect().map(_.getLong(0))
    assert(anyPar.nonEmpty && anyPar.forall(_ <= 8L))
    // a hand-built handle with a NULL extent table cannot silently mix
    intercept[IllegalArgumentException] {
      Federation.combine(Seq(h1, h2.copy(fieldExtents = null)))
    }
    // extent restriction / passages through the DAAT kernel (the r5
    // default) — the kernel's candidate ranges come from the REBASED
    // firstDoc/lastDoc block metadata, so a missed patch would silently
    // drop every member-2 extent; pin both paths vs the whole build
    for (q <- Seq("#combine[sec](alpha beta)",
                  "#weight[par](0.7 beta 0.3 gamma)",
                  "#combine[passage4:2](alpha delta)");
         daat <- Seq(true, false)) {
      val want = w.runExtentQuery(q, 50, useDaat = daat).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
      val got = f.runExtentQuery(q, 50, useDaat = daat).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(got == want, s"federated extent mismatch for '$q' daat=$daat")
      assert(got.nonEmpty, s"empty federated extent result for '$q' daat=$daat")
    }
  }

  test("explicit documentBases: overlap is rejected, disjoint bases remap results") {
    val h1 = IndexBuilder.build(docsDf.where(col("docId") <= 50), cfg)
    val h2 = IndexBuilder.build(
      docsDf.where(col("docId") > 350).withColumn("docId", col("docId") - 350), cfg)
    intercept[IllegalArgumentException] {
      Federation.combine(Seq(h1, h2), Seq(0L, 25L)) // 26..75 overlaps 1..50
    }
    val fed = Federation.combine(Seq(h1, h2), Seq(0L, 1000L))
    val f = new Engine(spark, fed, Analyzer(), ScoringRule(method = "okapi"))
    val ids = f.runQuery("#combine(return license)", 100).collect().map(_.getLong(0))
    assert(ids.forall(id => id <= 50 || (id > 1000 && id <= 1050)))
    assert(ids.exists(_ <= 50) && ids.exists(_ > 1000))
  }

  test("explicit documentBases after a zero-doc member: every member shifts by its own base") {
    val empty = IndexBuilder.build(docsDf.where(lit(false)), cfg)
    assert(empty.stats.totalDocs == 0)
    val a = IndexBuilder.build(docsDf.where(col("docId") <= 2), cfg)
    val b = IndexBuilder.build(
      docsDf.where(col("docId") > 2 && col("docId") <= 4).withColumn("docId", col("docId") - 2), cfg)
    def ids(bases: Seq[Long]): Seq[Long] = Federation.combine(Seq(empty, a, b), bases)
      .doclens.select("docId").as[Long].collect().sorted.toSeq
    // paired with the unfiltered base list, `a` took the empty member's
    // base 0 and `b` took 10
    assert(ids(Seq(0L, 10L, 100L)) == Seq(11L, 12L, 101L, 102L))
    // disjoint bases — paired the same way, `a` and `b` both took 0 and
    // the overlap check threw
    assert(ids(Seq(0L, 0L, 100L)) == Seq(1L, 2L, 101L, 102L))
    // the derived bases pack the same ranges with the empty member first
    assert(Federation.derivedBases(Seq(empty, a, b)) == Seq(0L, 0L, 2L))
    assert(ids(Federation.derivedBases(Seq(empty, a, b))) == Seq(1L, 2L, 3L, 4L))
  }

  test("a 0-based member following a 1-based one rebases tightly, bit-exact vs the whole") {
    val whole = IndexBuilder.build(docsDf, cfg)
    val half1 = IndexBuilder.build(docsDf.where(col("docId") <= 200), cfg)
    // member 2 carries 0-BASED local ids (docs 201..400 shifted to
    // 0..199): its derived base must be half1's max + 1 = 201 so local 0
    // lands just past 200. The old scanLeft keyed the 0-based +1 on the
    // PREVIOUS member's min, landing this member ON 200 — a collision
    // the disjointness require rejected for a documented-legal input.
    val half2 = IndexBuilder.build(
      docsDf.where(col("docId") > 200).withColumn("docId", col("docId") - 201), cfg)
    assert(Federation.derivedBases(Seq(half1, half2)) == Seq(0L, 201L))
    val fed = Federation.combine(Seq(half1, half2))
    assert(fed.stats == whole.stats)
    val w = new Engine(spark, whole, Analyzer(), ScoringRule(method = "okapi"))
    val f = new Engine(spark, fed, Analyzer(), ScoringRule(method = "okapi"))
    val want = w.runQuery("#combine(return license def)", 40).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = f.runQuery("#combine(return license def)", 40).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "0-based member federation != whole-corpus engine")
    assert(got.exists(_._1 <= 200) && got.exists(_._1 > 200))
  }
}
