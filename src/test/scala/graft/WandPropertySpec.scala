package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer
import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search._

/** Pruning-safety property (FIXTURES.md: block-max WAND result ==
  * exhaustive DAAT == DataFrame inference-network path, exact doubles).
  */
class WandPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val docsDf = {
    val corpus = CorpusSynthesizer.corpus(spark, 600, seed = 7L)
    IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
      .select("docId", "content").cache()
  }
  // small blocks force many block boundaries — the skip logic gets real work
  private lazy val index = IndexBuilder.build(docsDf, IndexConfig(blockSize = 16, numBuckets = 8))

  private val queries = Seq(
    "return",
    "#combine(return license)",
    "#combine(class def val import)",
    "#combine(return return class)",
    "#weight(0.7 return 0.3 license)",
    "#weight(3.0 val 1.0 static 2.0 import)",
    "#combine(zzznotaword return)",
    "#combine(uniq1x5 return)", // df=1 + hot term: extreme UB spread
    "#combine(return #combine(license class))" // nested terms-only tree
  )

  private def run(engine: Engine, q: String, k: Int, mode: String): Seq[(Long, Double)] = {
    val df = mode match {
      case "wand" => engine.runQuery(q, k, useDaat = true)
      case "exhaustive" =>
        // runQuery dispatches through the same predicate: a defined
        // kernel plan here means the "wand" mode ran the kernel too
        val exh = engine.runStructured(QueryParser.parse(q), k, exhaustive = true)
        assert(exh.isDefined, s"kernel dispatch did not fire for '$q'")
        exh.get
      case "dataframe" => engine.runQuery(q, k, useDaat = false)
    }
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  /** Kernel-level fixture: a one-level plan over `terms` (weight 1
    * each, bounds as the engine derives them) and a maker of fresh
    * cursors over the terms' blocks, collected locally.
    */
  private def kernelFixture(engine: Engine, rule: ScoringRule,
                            terms: Seq[String]): (Daat.StructuredPlan, () => Array[Daat.Cursor]) = {
    import org.apache.spark.sql.functions.col
    import graft.search.Daat._
    val lm = rule.method != "okapi" && rule.method != "tfidf"
    val tstats = engine.termStatsFor(terms)
    val minDls = terms.map(t => math.max(tstats.getOrElse(t, TermStats(0, 0)).minDl, 1))
    val leaves = terms.zip(minDls).map { case (t, minDl) =>
      val ts = tstats.getOrElse(t, TermStats(0, 0))
      val fn = Scorers.forTerm(rule, ts.ctf.toDouble, index.stats.totalTerms.toDouble,
        ts.df.toDouble, index.stats.totalDocs)
      boundedLeaf(t, null, fn, 1.0, lm, ts.ctf.toDouble, minDl)
    }.toArray
    val tree = FNode(leaves.indices.map(i => (1.0, FLeaf(i): FoldTree)).toArray)
    val baseMax = if (lm) foldWith(tree, li => leaves(li).scoreAt(0.0, minDls.min)) else 0.0
    val rows = index.segments.where(col("term").isin(terms: _*))
      .select("term", "firstDoc", "lastDoc", "numDocs", "maxTf", "minDl",
        "docsDelta", "tfs", "dls").collect()
    def mkCursors(): Array[Cursor] = {
      val byTerm = rows.groupBy(_.getString(0))
      leaves.map { l =>
        val bs = byTerm.getOrElse(l.term, Array.empty).map { r =>
          Block(r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5),
            r.getAs[Array[Byte]](6), r.getAs[Array[Byte]](7), r.getAs[Array[Byte]](8))
        }.sortBy(_.firstDoc)
        new Cursor(bs, l, lm)
      }
    }
    (StructuredPlan(leaves, tree, lm, baseMax), () => mkCursors())
  }

  private def wandOn(cs: Array[Daat.Cursor], p: Daat.StructuredPlan, k: Int,
                     exhaustive: Boolean = false): Seq[(Long, Double)] =
    Daat.wand(cs.map(c => c: Daat.DaatCursor), p, k, exhaustive)

  /** pruned vs exhaustive kernel runs over fresh cursors: equal rows,
    * and the blocks each decoded
    */
  private def decodes(mkCursors: () => Array[Daat.Cursor], p: Daat.StructuredPlan,
                      k: Int): (Int, Int) = {
    val (cPruned, cFull) = (mkCursors(), mkCursors())
    val (rPruned, rFull) = (wandOn(cPruned, p, k), wandOn(cFull, p, k, exhaustive = true))
    assert(rPruned == rFull, s"pruned != exhaustive at k=$k")
    (cPruned.map(_.decodedBlocks).sum, cFull.map(_.decodedBlocks).sum)
  }

  /** a mid-frequency term: enough blocks that a warm θ can skip the
    * low-maxTf ones before the heap would have filled on its own
    */
  private def midTerm: String = {
    import org.apache.spark.sql.functions.col
    val n = index.stats.totalDocs
    index.dictionary
      .where(col("df") > n / 10 && col("df") < n / 3)
      .orderBy(col("df").desc).select("term").head().getString(0)
  }

  test("WAND == exhaustive DAAT == DataFrame path, k=10 and k=1000, exact doubles") {
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "okapi"))
    for (q <- queries; k <- Seq(10, 1000)) {
      val wand = run(engine, q, k, "wand")
      val exh = run(engine, q, k, "exhaustive")
      val dfp = run(engine, q, k, "dataframe")
      assert(wand == exh, s"WAND != exhaustive for '$q' k=$k\n wand=${wand.take(5)}\n exh=${exh.take(5)}")
      assert(wand == dfp, s"WAND != DataFrame for '$q' k=$k\n wand=${wand.take(5)}\n df=${dfp.take(5)}")
    }
  }

  test("tfidf rule: WAND == exhaustive == DataFrame (pivot tie-extension regression)") {
    // regression for the unsound block-max skip when a cursor BEYOND the
    // pivot index was tied on the pivot doc: the rejection bounded only
    // cursors ≤ p while the tied cursor still contributed score, so docs
    // were silently dropped. tfidf's tighter bounds tripped it; okapi's
    // never did on this corpus.
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "tfidf"))
    for (q <- queries; k <- Seq(10, 50)) {
      val wand = run(engine, q, k, "wand")
      val exh = run(engine, q, k, "exhaustive")
      val dfp = run(engine, q, k, "dataframe")
      assert(wand == exh, s"WAND != exhaustive for '$q' k=$k (tfidf)")
      assert(wand == dfp, s"WAND != DataFrame for '$q' k=$k (tfidf)")
    }
  }

  test("LM rules (dirichlet/jm/two-stage): WAND == exhaustive == DataFrame, exact doubles") {
    // round 3: flat LM bags run the kernel with background-aware bounds
    // (baseMax + δ algebra). Exactness must hold bit-for-bit against the
    // belief path — including OOV children (background everywhere) and
    // duplicate terms.
    for (method <- Seq("method:dirichlet", "method:jm,collectionLambda:0.4",
                       "method:two,mu:2500,lambda:0.4")) {
      val engine = new Engine(spark, index, Analyzer(), ScoringRule.parse(method))
      for (q <- queries; k <- Seq(10, 1000)) {
        val wand = run(engine, q, k, "wand")
        val exh = run(engine, q, k, "exhaustive")
        val dfp = run(engine, q, k, "dataframe")
        assert(wand == exh, s"WAND != exhaustive for '$q' k=$k ($method)\n wand=${wand.take(5)}\n exh=${exh.take(5)}")
        assert(wand == dfp, s"WAND != DataFrame for '$q' k=$k ($method)\n wand=${wand.take(5)}\n df=${dfp.take(5)}")
      }
    }
  }

  // round 4: SDM/FDM-shaped #combine/#weight trees with #odN/#uwN window
  // leaves run INSIDE the kernel (positions decoded from segment blocks,
  // WindowMatcher per candidate) — must be bit-identical to the nested
  // combineBeliefs DataFrame path, pruned == exhaustive, and the
  // structured dispatch must actually fire (no silent belief fallback).
  private val structuredQueries = Seq(
    graft.search.Reformulate.sdm(Seq("return", "license", "class")),
    graft.search.Reformulate.fdm(Seq("val", "import", "static")),
    "#combine(#od1(return license) #uw4(class def))",
    "#weight(0.6 #combine(return class) 0.2 #combine(#od2(return class)) 0.2 #combine(#uw8(return class)))",
    "#weight(0.8 #combine(return zzznotaword) 0.2 #combine(#od1(return zzznotaword)))",
    "#combine(#od1(return return) val)",
    "#uw12(return license class)"
  )

  test("structured kernel (windows in DAAT): == DataFrame path == exhaustive, all rules") {
    for (method <- Seq("method:okapi", "method:tfidf", "method:dirichlet",
                       "method:jm,collectionLambda:0.4", "method:two,mu:2500,lambda:0.4")) {
      val engine = new Engine(spark, index, Analyzer(), ScoringRule.parse(method))
      for (q <- structuredQueries; k <- Seq(10, 1000)) {
        val ast = QueryParser.parse(q)
        val kernelOpt = engine.runStructured(ast, k)
        assert(kernelOpt.isDefined, s"structured dispatch did not fire for '$q' ($method)")
        val kernel = kernelOpt.get.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val exh = engine.runStructured(ast, k, exhaustive = true).get
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val dfp = run(engine, q, k, "dataframe")
        assert(kernel == exh, s"structured WAND != exhaustive for '$q' k=$k ($method)\n w=${kernel.take(5)}\n e=${exh.take(5)}")
        assert(kernel == dfp, s"structured WAND != DataFrame for '$q' k=$k ($method)\n w=${kernel.take(5)}\n d=${dfp.take(5)}")
      }
    }
  }

  test("structured kernel honors the delete set (dirichlet)") {
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "dirichlet"))
    engine.deleteDocuments {
      import spark.implicits._
      (1L to 600L).filter(_ % 5 == 0).toDF("docId")
    }
    for (q <- structuredQueries.take(4); k <- Seq(10, 100)) {
      val wand = run(engine, q, k, "wand") // runQuery dispatches structured
      val dfp = run(engine, q, k, "dataframe")
      assert(wand == dfp, s"deleted-aware structured WAND != DataFrame for '$q' k=$k")
      assert(wand.forall(_._1 % 5 != 0), s"deleted doc leaked for '$q'")
    }
  }

  test("deleted documents: kernel skip == anti-join belief path (okapi + dirichlet)") {
    // round 3: the kernel consults the in-memory delete set (the
    // DeletedDocumentList bitmap analogue) instead of forcing the
    // belief-path fallback — results must stay bit-identical
    for (method <- Seq("okapi", "dirichlet")) {
      val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = method))
      engine.deleteDocuments {
        import spark.implicits._
        (1L to 600L).filter(_ % 7 == 0).toDF("docId")
      }
      for (q <- queries; k <- Seq(10, 100)) {
        val wand = run(engine, q, k, "wand")
        val dfp = run(engine, q, k, "dataframe")
        assert(wand == dfp, s"deleted-aware WAND != DataFrame for '$q' k=$k ($method)")
        assert(wand.forall(_._1 % 7 != 0), s"deleted doc leaked for '$q' ($method)")
      }
    }
  }

  test("flat and structured kernels: k=0 returns empty like limit(0), no heap NPE") {
    // a zero-capacity TopKHeap NPEs on peek() — the kernel entries must
    // short-circuit k ≤ 0 to the DataFrame path's limit(0) = empty
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "okapi"))
    assert(run(engine, "#combine(return license)", 0, "wand").isEmpty)
    assert(run(engine, "#combine(return license)", 0, "dataframe").isEmpty)
    val lmEng = new Engine(spark, index, Analyzer(), ScoringRule(method = "dirichlet"))
    assert(run(lmEng, "#combine(return license)", 0, "wand").isEmpty)
    val st = lmEng.runStructured(QueryParser.parse("#combine(#od1(return license) val)"), 0)
    assert(st.isDefined && st.get.collect().isEmpty)
    // direct kernel entry: no heap is constructed at k=0
    val emptyPlan = Daat.StructuredPlan(Array.empty, Daat.FNode(Array.empty), lm = false, 0.0)
    assert(Daat.wand(Array.empty[Daat.DaatCursor], emptyPlan, 0, exhaustive = false).isEmpty)
  }

  // window plans over a hot term and a mid-frequency one: `return` under
  // dirichlet; under okapi `return`'s idf is negative, so the okapi plan's
  // term leaf is the positive-idf midTerm. k=1 puts θ at the single best
  // score, where an overstated window bound prunes the true best doc.
  private val lmWindowQuery = "#combine(#od1(return license) return #uw4(class def))"
  private def okapiWindowQuery = s"#combine(#od1(return $midTerm) $midTerm #uw4(class def))"

  test("k = Int.MaxValue: the kernel returns what the belief path does, no heap overflow") {
    // RunQuery's `count` reaches the kernel's TopKHeap as k; sizing its
    // queue at k + 1 overflowed to a negative capacity and every bucket
    // task threw, while the belief path answered the same query
    for (method <- Seq("okapi", "dirichlet")) {
      val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = method))
      val q = "#combine(return license)"
      val kernel = run(engine, q, Int.MaxValue, "wand")
      assert(kernel.nonEmpty && kernel == run(engine, q, Int.MaxValue, "dataframe"),
        s"kernel != DataFrame at k = Int.MaxValue ($method)")
    }
  }

  test("LM WAND stays exact at k = 1, 10, 100") {
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "dirichlet"))
    for (q <- queries :+ lmWindowQuery; k <- Seq(1, 10, 100))
      assert(run(engine, q, k, "wand") == run(engine, q, k, "dataframe"),
        s"LM WAND != DataFrame for '$q' k=$k")
  }

  test("okapi WAND stays exact and decodes fewer blocks than exhaustive") {
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "okapi"))
    for (q <- queries :+ okapiWindowQuery; k <- Seq(1, 10, 100))
      assert(run(engine, q, k, "wand") == run(engine, q, k, "dataframe"),
        s"WAND != DataFrame for '$q' k=$k")

    // kernel level: once the heap holds k docs its θ must skip the
    // mid-frequency term's low-maxTf blocks
    val (p, mkCursors) = kernelFixture(engine, ScoringRule(method = "okapi"), Seq(midTerm))
    val (dPruned, dFull) = decodes(mkCursors, p, 5)
    assert(dPruned < dFull, s"pruning decoded $dPruned blocks vs exhaustive $dFull — no decode saving")
  }

  test("okapi WAND on positive-idf leaves prunes and stays exact") {
    // the planted hot terms have df > N/2, where okapi idf < 0 and a
    // term's bound is 0; leaves with df ≤ N/2 have positive bounds that
    // must prune without changing results
    import org.apache.spark.sql.functions.col
    val n = index.stats.totalDocs
    val Seq(rare, next) = index.dictionary.where(col("df") > n / 10 && col("df") <= n / 2)
      .orderBy(col("df").asc, col("term").asc).select("term").head(2).map(_.getString(0)).toSeq
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "okapi"))
    for (terms <- Seq(Seq(rare), Seq(rare, next)); k <- Seq(1, 5, 20)) {
      val (p, mkCursors) = kernelFixture(engine, ScoringRule(method = "okapi"), terms)
      val (dPruned, dFull) = decodes(mkCursors, p, k)
      assert(dPruned <= dFull)
      // the rare term has 8 blocks: at k = 20 no block's bound falls
      // below the heap's θ, so all 8 decode, as exhaustive; at k = 1 and
      // 5 the heap's θ must skip some
      if (terms.size == 1 && k < 20)
        assert(dPruned < dFull, s"'$rare' k=$k: pruning decoded $dPruned blocks vs exhaustive $dFull")
      val q = terms.mkString("#combine(", " ", ")")
      assert(run(engine, q, k, "wand") == run(engine, q, k, "dataframe"), s"WAND != DataFrame for '$q' k=$k")
    }
  }

  test("okapi WAND with NEGATIVE idf (df > N/2) stays exact") {
    import spark.implicits._
    // 'common' matches 2/3 of the corpus: okapi idf < 0, so every score
    // is negative — a threshold built by clamping per-term contributions
    // to 0 would sit above the true k-th best and return EMPTY
    val docs = (1L to 60L).map { i =>
      val common = if (i <= 40) "common " else ""
      val rare = if (i % 12 == 0) "rare " else ""
      (i, s"$common${rare}filler$i word$i pad")
    }.toDF("docId", "content")
    val cfg = IndexConfig(blockSize = 8, numBuckets = 2,
      topdocsMinDf = 5L, topdocsFraction = 0.5)
    val engine = new Engine(spark, IndexBuilder.build(docs, cfg),
      Analyzer(), ScoringRule(method = "okapi"))
    for (q <- Seq("#combine(common)", "#combine(common rare)"); k <- Seq(5, 20)) {
      val s = run(engine, q, k, "wand")
      assert(s == run(engine, q, k, "dataframe"), s"wand != dataframe for '$q' k=$k")
      assert(s.nonEmpty, s"'$q' k=$k returned empty — unsound threshold")
    }
  }

  test("LM bounds prune: dirichlet WAND decodes fewer blocks than exhaustive") {
    // the baseMax + δ algebra must yield non-vacuous bounds — the kernel
    // must skip block decodes on a mid-frequency term, just like the
    // okapi path
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "dirichlet"))
    val (p, mkCursors) = kernelFixture(engine, ScoringRule(method = "dirichlet"), Seq(midTerm))
    val (dPruned, dFull) = decodes(mkCursors, p, 5)
    assert(dPruned < dFull,
      s"LM pruning decoded $dPruned blocks vs exhaustive $dFull — bounds are vacuous")

    // block-max hops rejected blocks undecoded whatever the list bound,
    // so decode counts cannot tell a vacuous list bound (used by pivot
    // selection and early termination) from a real one: check the bound
    // itself — sound over every posting, and no looser than the
    // (ctf, minDl) corner
    val l = p.leaves.head
    val ts = engine.termStatsFor(Seq(midTerm))(midTerm)
    val minDl = math.max(ts.minDl, 1)
    val corner = l.effWeight * (l.scoreAt(ts.ctf.toDouble, minDl) - l.scoreAt(0.0, minDl))
    val c = mkCursors().head
    var maxDelta = Double.NegativeInfinity
    while (!c.exhausted) {
      maxDelta = math.max(maxDelta, l.effWeight * (l.scoreAt(c.tf.toDouble, c.dl) - l.scoreAt(0.0, c.dl)))
      c.next()
    }
    assert(maxDelta <= l.upperBound && l.upperBound <= corner,
      s"LM list bound ${l.upperBound}: max posting δ $maxDelta, (ctf, minDl) corner $corner")
  }

  test("WAND pruning actually skips block decodes on selective queries") {
    // direct kernel exercise: rare term + mid-frequency term, k=1 — once
    // the rare doc sets θ above the mid term's UB, its remaining blocks
    // must never decode. (A near-universal term like `return` has
    // NEGATIVE idf here, UB=0, and legitimately cannot be pruned when θ
    // is negative — so pick a positive-idf term with many blocks.)
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "okapi"))
    import org.apache.spark.sql.functions.col
    // a real df=1 term whose single posting has a small docId
    val rareTerm = index.dictionary.where(col("df") === 1)
      .join(index.postings, "term")
      .orderBy("docId").select("term")
      .head().getString(0)
    // gather all blocks locally and run the kernel twice
    val (p, mkCursors) = kernelFixture(engine, ScoringRule(method = "okapi"),
      Seq(rareTerm, midTerm))
    val cPruned = mkCursors()
    val rPruned = wandOn(cPruned, p, 1)
    val cFull = mkCursors()
    val rFull = wandOn(cFull, p, 1, exhaustive = true)
    assert(rPruned == rFull)
    val decodedPruned = cPruned.map(_.decodedBlocks).sum
    val decodedFull = cFull.map(_.decodedBlocks).sum
    assert(decodedPruned < decodedFull,
      s"pruning decoded $decodedPruned blocks, exhaustive $decodedFull — no skipping happened")
  }

  // -----------------------------------------------------------------
  // round 5: extent restriction / passages through the DAAT kernel
  // -----------------------------------------------------------------

  private lazy val fieldedIndex = IndexBuilder.build(docsDf,
    IndexConfig(blockSize = 16, numBuckets = 8),
    annotate = df => graft.index.FieldAnnotators.headField(7)(df))

  import WandPropertySpec.extentQueries

  private def runExtents(engine: Engine, q: String, k: Int,
                         useDaat: Boolean): Seq[(Long, Int, Int, Double)] =
    engine.runExtentQuery(q, k, useDaat = useDaat).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq

  private def bits(rows: Seq[(Long, Int, Int, Double)]): Seq[(Long, Int, Int, Long)] =
    rows.map { case (d, b, e, s) => (d, b, e, java.lang.Double.doubleToRawLongBits(s)) }

  test("extent kernel: field + passage contexts == DataFrame path, all restricted ops and LM rules") {
    for (method <- Seq("method:dirichlet", "method:jm,collectionLambda:0.4",
                       "method:two,mu:2500,lambda:0.4")) {
      val engine = new Engine(spark, fieldedIndex, Analyzer(), ScoringRule.parse(method))
      for (q <- extentQueries; k <- Seq(10, 1000)) {
        val kernel = runExtents(engine, q, k, useDaat = true)
        val dfp = runExtents(engine, q, k, useDaat = false)
        assert(kernel == dfp,
          s"extent kernel != DataFrame for '$q' k=$k ($method)\n k=${kernel.take(5)}\n d=${dfp.take(5)}")
        // runQuery takes the same extent plan, bit for bit
        for ((useDaat, want) <- Seq(true -> kernel, false -> dfp)) {
          val got = engine.runQuery(q, k, useDaat = useDaat).collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
          assert(bits(got) == bits(want),
            s"runQuery != runExtentQuery for '$q' k=$k daat=$useDaat ($method)")
        }
      }
    }
  }

  test("extent kernel: all-OOV bags return the empty result on both paths") {
    val engine = new Engine(spark, fieldedIndex, Analyzer(), ScoringRule(method = "dirichlet"))
    val q = "#combine[head](zzznotaword qqqalsonotaword)"
    assert(runExtents(engine, q, 10, useDaat = true).isEmpty)
    assert(runExtents(engine, q, 10, useDaat = false).isEmpty)
  }

  test("extent kernel guards: k=0 empty on both paths, non-positive passage increment rejected") {
    val engine = new Engine(spark, fieldedIndex, Analyzer(), ScoringRule(method = "dirichlet"))
    // k=0: the DataFrame path limits to nothing; the kernel's
    // zero-capacity heap must not NPE on its first offer
    assert(runExtents(engine, "#combine[head](return)", 0, useDaat = true).isEmpty)
    assert(runExtents(engine, "#combine[passage8:4](return)", 0, useDaat = true).isEmpty)
    // increment 0 never advances the sliding window — the kernel would
    // loop forever where the old explode path's sequence() errored;
    // both now fail fast at parse
    for (bad <- Seq("#combine[passage10:0](return)",
                    "#combine[passage10:-2](return)",
                    "#combine[passage0:5](return)")) {
      intercept[IllegalArgumentException](engine.runExtentQuery(bad, 10))
    }
  }

  test("extent kernel honors the delete set (dirichlet)") {
    val engine = new Engine(spark, fieldedIndex, Analyzer(), ScoringRule(method = "dirichlet"))
    engine.deleteDocuments {
      import spark.implicits._
      (1L to 600L).filter(_ % 5 == 0).toDF("docId")
    }
    for (q <- Seq("#weight[head](0.7 return 0.3 license)",
                  "#combine[passage8:4](return license)"); k <- Seq(10, 100)) {
      val kernel = runExtents(engine, q, k, useDaat = true)
      val dfp = runExtents(engine, q, k, useDaat = false)
      assert(kernel == dfp, s"deleted-aware extent kernel != DataFrame for '$q' k=$k")
      assert(kernel.forall(_._1 % 5 != 0), s"deleted doc leaked for '$q'")
    }
  }
}

object WandPropertySpec {
  /** extent-restricted queries over a `head` field and fixed passages:
    * every restricted op, with an OOV child
    */
  val extentQueries = Seq(
    "#combine[head](return license)",
    "#weight[head](0.7 return 0.3 license)",
    "#or[head](return license)",
    "#max[head](return license)",
    "#sum[head](return license)",
    "#wsum[head](2.0 return 1.0 license)",
    "#not[head](return)",
    "#combine[head](zzznotaword return)", // OOV child scores background
    "#combine[passage8:4](return license)",
    "#weight[passage8:4](0.6 val 0.4 import)")
}
