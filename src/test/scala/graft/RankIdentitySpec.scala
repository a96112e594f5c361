package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.corpus.CorpusSynthesizer
import graft.index._
import graft.search._

/** Golden rank-identity gate (BASELINE.json north_star): engine top-k
  * docIDs AND scores must equal the scalar oracle exactly (bit-for-bit
  * doubles — both sides use the reference's factored arithmetic and the
  * same summation order).
  */
class RankIdentitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val K = 50
  private val N = 400L

  private lazy val docsDf = {
    val corpus = CorpusSynthesizer.corpus(spark, N)
    IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
      .select("docId", "content").cache()
  }
  private lazy val docsLocal: Seq[(Long, String)] =
    docsDf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
  private lazy val index = IndexBuilder.build(docsDf, IndexConfig(blockSize = 128, numBuckets = 4))

  private def check(rule: ScoringRule, queries: Seq[(Int, String)]): Unit = {
    val analyzer = Analyzer()
    val engine = new Engine(spark, index, analyzer, rule)
    val oracle = new ScalarOracle(docsLocal, analyzer, rule)
    queries.foreach { case (qid, q) =>
      val got = engine.runQuery(q, K).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.topk(q, K)
      assert(got.map(_._1) == want.map(_._1),
        s"q$qid '$q': docId ranking mismatch\n got=${got.take(10)}\nwant=${want.take(10)}")
      got.zip(want).zipWithIndex.foreach { case (((gd, gs), (wd, ws)), rk) =>
        assert(gs == ws, s"q$qid '$q' rank $rk doc $gd: score $gs != oracle $ws (exact-double gate)")
      }
    }
  }

  private val bagQueries = CorpusSynthesizer.querySet.filter { case (id, _) => id <= 27 }
  private val positionalQueries = CorpusSynthesizer.querySet.filter { case (id, _) => id >= 28 }

  test("okapi BM25 rank identity on the reference query set (bags + weights + OOV)") {
    check(ScoringRule(method = "okapi"), bagQueries)
  }

  test("krovetz-stemmed build + retrieval rank identity (full kstem dictionary in the chain)") {
    // north-star chain: Indri-style tokenize + Krovetz-equivalent
    // stemming as the indexing transformation, end-to-end — the engine
    // (stemmed index + stemmed query processing + WAND) must equal the
    // scalar oracle running the same analyzer bit-for-bit
    val cfgK = IndexConfig(blockSize = 128, numBuckets = 4, stemmerName = "krovetz")
    val idxK = IndexBuilder.build(docsDf, cfgK)
    val az = cfgK.analyzer
    val rule = ScoringRule(method = "okapi")
    val engine = new Engine(spark, idxK, az, rule)
    val oracle = new ScalarOracle(docsLocal, az, rule)
    bagQueries.take(10).foreach { case (qid, q) =>
      val got = engine.runQuery(q, K).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.topk(q, K)
      assert(got == want, s"q$qid '$q' (krovetz chain): mismatch\n got=${got.take(5)}\nwant=${want.take(5)}")
    }
    // the chain really runs kstem (dictionary-gated conflations), even
    // though the synthetic code vocabulary happens to be inflection-free
    assert(az.processTerm("stopped") == "stop")
    assert(az.processTerm("running") == "running") // head word stays
    assert(az.processTerm("italians") == "italy")  // plural → conflation
  }

  test("okapi BM25 rank identity on positional operators (#od1 #uw8 #band)") {
    check(ScoringRule(method = "okapi"), positionalQueries)
  }

  test("lemur tfidf baseline rank identity (the second -baseline mode, idf=log((N+1)/(df+0.5)))") {
    check(ScoringRule(method = "tfidf"), bagQueries)
  }

  test("dirichlet LM rank identity (non-baseline #combine = mean of logs)") {
    check(ScoringRule(method = "dirichlet"), bagQueries.filter { case (id, _) => id != 25 })
    // q25 is all-OOV: LM background-only scoring over an empty candidate
    // set returns no rows on both sides
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "dirichlet"))
    assert(engine.runQuery("zzznotaword", K).count() == 0)
  }

  test("jelinek-mercer rank identity on a query subset") {
    check(ScoringRule(method = "jm"), bagQueries.filter { case (id, _) => Seq(1, 11, 12, 21).contains(id) })
  }

  test("stopword handling: stopped query term scores like reference (null scorer)") {
    val analyzer = Analyzer(stopwords = Set("return"))
    val cfg = IndexConfig(stopwords = Set("return"))
    val idx = IndexBuilder.build(docsDf, cfg)
    val engine = new Engine(spark, idx, analyzer, ScoringRule(method = "okapi"))
    val oracle = new ScalarOracle(docsLocal, analyzer, ScoringRule(method = "okapi"))
    Seq("#combine(return license)", "return").foreach { q =>
      val got = engine.runQuery(q, K).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.topk(q, K)
      assert(got == want, s"'$q' with stopping: $got vs $want")
    }
  }

  test("expression counts match oracle (xcount/dxcount)") {
    val engine = new Engine(spark, index, Analyzer(), ScoringRule(method = "okapi"))
    val oracle = new ScalarOracle(docsLocal, Analyzer(), ScoringRule(method = "okapi"))
    assert(engine.termCount("return") == oracle.ctf("return"))
    assert(engine.documentCount("return") == oracle.df("return"))
    // a warm term count is the stats job over the resident block maps:
    // one job and no SQL execution
    val (ctf, t) = JobTally.of(spark)(engine.termCount("return"))
    assert(ctf == oracle.ctf("return"))
    assert(t.jobs.size == 1 && t.jobsOn("resident block maps").size == 1 && t.sqlExecutions == 0,
      s"termCount: $t")
    assert(engine.termCount() == oracle.totalTerms)
    assert(engine.documentCount() == oracle.totalDocs)
    assert(engine.expressionCount("#od1(return license)") ==
      oracle.topkRawCount(OdNode(1, Seq(TermNode("return"), TermNode("license")))))
  }
}
