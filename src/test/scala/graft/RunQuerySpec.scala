package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.apps.RunQuery
import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig, SegmentStore}
import graft.search.{Engine, ScoringRule}

/** The IndriRunQuery application surface: parameter-file parsing,
  * command-line overlays, baseline translation, query numbering (the
  * reference's offset quirk), execution parity with direct Engine
  * calls, C++ score formatting, and TREC line shape.
  */
class RunQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(blockSize = 32, numBuckets = 4)
  private lazy val docsDf = {
    val corpus = CorpusSynthesizer.corpus(spark, 300, seed = 3L)
    IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
      .select("docId", "content").cache()
  }
  private lazy val idx = IndexBuilder.build(docsDf, cfg)

  test("parseParams covers the reference parameter surface; overlay appends") {
    val xml =
      """<parameters>
        |  <index>/tmp/repoA</index>
        |  <index>/tmp/repoB</index>
        |  <query>return license</query>
        |  <query><number>Q7</number><text>#combine(def val)</text></query>
        |  <query>
        |    <text>class</text>
        |    <workingSetDocno>3</workingSetDocno>
        |    <workingSetDocno>9</workingSetDocno>
        |    <feedbackDocno>4</feedbackDocno>
        |  </query>
        |  <count>25</count>
        |  <rule>method:dirichlet,mu:1000</rule>
        |  <stopper><word>the</word><word>of</word></stopper>
        |  <runID>graft1</runID>
        |  <trecFormat>true</trecFormat>
        |  <queryOffset>150</queryOffset>
        |  <fbDocs>5</fbDocs><fbTerms>12</fbTerms><fbOrigWeight>0.7</fbOrigWeight>
        |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml)
    assert(p.indexPaths == Seq("/tmp/repoA", "/tmp/repoB"))
    assert(p.queries.map(_.text) ==
      Seq("return license", "#combine(def val)", "class"))
    assert(p.queries(1).number.contains("Q7"))
    assert(p.queries(2).workingSet == Seq("3", "9"))
    assert(p.queries(2).feedbackDocs == Seq("4"))
    assert(p.count == 25 && p.rule.contains("method:dirichlet,mu:1000"))
    assert(p.stopwords == Set("the", "of"))
    assert(p.runID == "graft1" && p.trecFormat && p.queryOffset == 150)
    assert(p.fbDocs == 5 && p.fbTerms == 12 && p.fbOrigWeight == 0.7)

    val o = RunQuery.overlay(p, Seq("-count=5", "-stopper.word=and",
      "-query=val var", "-runID=other", "-trecFormat=0"))
    assert(o.count == 5 && o.stopwords == Set("the", "of", "and"))
    assert(o.queries.last.text == "val var" && o.runID == "other" && !o.trecFormat)
  }

  test("ParamTree: ordered multi-map reads + dotted command-line overlay") {
    import graft.apps.ParamTree
    val t = ParamTree.parseXml(
      """<parameters>
        |  <corpus><path>/a</path><class>trectext</class></corpus>
        |  <corpus><path>/b</path></corpus>
        |  <field><name>title</name><numeric>false</numeric></field>
        |  <stopper><word>the</word></stopper>
        |  <count>10</count>
        |</parameters>""".stripMargin)
    // repeated complex elements accumulate in document order
    assert(t.all("corpus").flatMap(_.getOpt("path")) == Seq("/a", "/b"))
    // dotted list read walks EVERY matching branch
    assert(t.list("corpus.path") == Seq("/a", "/b"))
    assert(t.list("stopper.word") == Seq("the"))
    // scalar reads: last occurrence wins (loadCommandLine override shape)
    val o = ParamTree.overlay(t,
      Seq("-count=99", "-stopper.word=of", "-corpus.path=/c",
        "-newblock.inner=x"))
    assert(o.getInt("count", 1) == 99)
    // leaf appends; intermediate path elements reuse the LAST block —
    // so -corpus.path extends corpus[/b], not corpus[/a]
    assert(o.list("stopper.word") == Seq("the", "of"))
    assert(o.all("corpus").flatMap(_.all("path")).map(_.value)
      == Seq("/a", "/b", "/c"))
    assert(o.all("corpus")(1).list("path") == Seq("/b", "/c"))
    // absent intermediate blocks are created
    assert(o.get("newblock.inner", "") == "x")
    // typed defaults
    assert(t.getBool("trecFormat", default = false) == false)
    assert(t.get("field.name", "") == "title")
  }

  test("rule lists, singleBackgroundModel, maxWildcardTerms and the baseline guards") {
    val xml =
      """<parameters>
        |  <index>/tmp/repoA</index>
        |  <query>class</query>
        |  <rule>method:dirichlet,mu:2500</rule>
        |  <rule>field:head,method:jm,lambda:0.3</rule>
        |  <singleBackgroundModel>true</singleBackgroundModel>
        |  <maxWildcardTerms>40</maxWildcardTerms>
        |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml)
    assert(p.rules ==
      Seq("method:dirichlet,mu:2500", "field:head,method:jm,lambda:0.3"))
    assert(p.rule.contains("method:dirichlet,mu:2500")) // head for back-compat
    assert(p.singleBackgroundModel && p.maxWildcardTerms.contains(40))
    // -rule= overlay appends to the list
    val p2 = RunQuery.overlay(p, Seq("-rule=operator:window,method:dirichlet,mu:100"))
    assert(p2.rules.size == 3)
    // baseline + rule is the reference's hard error
    // (runquery/IndriRunQuery.cpp:707-708)
    val bad = p.copy(baseline = Some("okapi"))
    val e = intercept[IllegalArgumentException] {
      RunQuery.environmentFor(spark, idx, bad, graft.analysis.Analyzer())
    }
    assert(e.getMessage.contains("Smoothing rules may not be specified"))
    // baseline rejects indri operators in query text (':634-636)
    val opQ = RunQuery.Params(indexPaths = Seq("x"), baseline = Some("okapi"),
      queries = Seq(RunQuery.QuerySpec(None, "#combine(def val)")))
    val eng = RunQuery.environmentFor(spark, idx, opQ, graft.analysis.Analyzer())
    val e2 = intercept[IllegalArgumentException] {
      RunQuery.execute(eng, opQ)
    }
    assert(e2.getMessage.contains("Can't run baseline on this query"))
  }

  test("a SINGLE rule with a selector engages the per-scorer matching list") {
    // reference SmoothingAnnotatorWalker matches selectors even with one
    // <rule>: 'operator:window,…' must smooth ONLY window scorers, while
    // term scorers keep the walker's mu-2500 dirichlet default — a
    // selector rule applied globally would shift every term score
    val q = "#combine(#1(return license) class)"
    val p = RunQuery.Params(indexPaths = Seq("x"),
      rule = Some("operator:window,method:dirichlet,documentMu:3000"),
      rules = Seq("operator:window,method:dirichlet,documentMu:3000"),
      count = 10, queries = Seq(RunQuery.QuerySpec(None, q)))
    val eng = RunQuery.environmentFor(spark, idx, p, graft.analysis.Analyzer())
    val got = RunQuery.execute(eng, p).head._2.collect()
    // the explicit selector-list engine is the specification
    val ref = new graft.search.Engine(spark, idx, graft.analysis.Analyzer(),
      graft.search.ScoringRule(method = "dirichlet"))
    ref.setScoringRules(Seq("operator:window,method:dirichlet,documentMu:3000"))
    val expect = ref.runQuery(q, 10).collect()
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
    // and a selector-FREE single rule still takes the global fast path
    assert(!RunQuery.hasSelector("method:dirichlet,mu:2500"))
    assert(RunQuery.hasSelector("operator:window,method:dirichlet,documentMu:3000"))
    assert(RunQuery.hasSelector("field:head,method:jm,lambda:0.3"))
  }

  test("baseline + fbDocs routes through the TFIDF expander") {
    // reference: IndriRunQuery.cpp:584-594 — baseline feedback swaps
    // RMExpander for TFIDFExpander with rule method:<baseline>
    val p = RunQuery.Params(indexPaths = Seq("x"), baseline = Some("okapi"),
      count = 10, fbDocs = 3, fbTerms = 5,
      queries = Seq(RunQuery.QuerySpec(None, "return license")))
    val eng = RunQuery.environmentFor(spark, idx, p, graft.analysis.Analyzer())
    val got = RunQuery.execute(eng, p).head._2.collect()
    val rm = graft.search.RelevanceModel.Params(fbDocs = 3, fbTerms = 5,
      fbOrigWeight = 0.5)
    val expect = eng.runQuery(
      graft.search.Expanders.tfidfExpand(eng, "return license", 10, rm), 10)
      .collect()
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
  }

  test("baseline translates to scoring rules like QueryEnvironment::setBaseline") {
    val p = RunQuery.Params()
    assert(RunQuery.scoringSpec(p.copy(baseline = Some("tfidf,k1:1.0,b:0.3")))
      == "method:tfidf,k1:1.0,b:0.3")
    assert(RunQuery.scoringSpec(p.copy(baseline = Some("okapi"))) == "method:okapi")
    assert(RunQuery.scoringSpec(p.copy(rule = Some("method:jm"))) == "method:jm")
    assert(RunQuery.scoringSpec(p) == "method:dirichlet")
    intercept[IllegalArgumentException] {
      RunQuery.scoringSpec(p.copy(baseline = Some("bm25f")))
    }
  }

  test("cppDouble matches g++ ostream << double golden vectors") {
    // goldens generated with g++ (default std::stringstream formatting),
    // the exact stream the reference prints scores through
    val golden = Seq(
      -13.511243 -> "-13.5112", -4.230873 -> "-4.23087", 0.5 -> "0.5",
      -0.000123456 -> "-0.000123456", 1e6 -> "1e+06", 123456.789 -> "123457",
      -1234567.0 -> "-1.23457e+06", 0.0001234567 -> "0.000123457",
      -25.0 -> "-25", 100.0 -> "100", -9.999999 -> "-10",
      3.141592653589793 -> "3.14159", -0.1 -> "-0.1", 7.0 -> "7",
      -19.874561 -> "-19.8746", 0.123456789 -> "0.123457",
      -2.000001 -> "-2", 1e-7 -> "1e-07", -123.4 -> "-123.4",
      55.5555555 -> "55.5556", -31.622776 -> "-31.6228",
      0.999999999 -> "1", -1e-5 -> "-1e-05", 2.5e-5 -> "2.5e-05",
      -0.0 -> "-0",
      // rounding-boundary vectors (g++-verified): the shortest decimal
      // repr sits ON the %g tie, but glibc rounds the exact binary value
      // (-6.806175 stores below the tie → -6.80617, NOT Java's -6.80618);
      // exact-binary ties round half-even (123456.5 → even; 999999.5 and
      // 9999995.0 bump the exponent)
      -6.806175 -> "-6.80617", 123456.5 -> "123456", 999999.5 -> "1e+06",
      9999995.0 -> "1e+07", 1.0000005 -> "1", 0.15625 -> "0.15625",
      -8.125e-5 -> "-8.125e-05", 3.0517578125e-5 -> "3.05176e-05",
      0.0000375 -> "3.75e-05", -0.125 -> "-0.125")
    for ((v, want) <- golden)
      assert(RunQuery.cppDouble(v) == want, s"cppDouble($v)")
  }

  test("execute == direct engine calls; numbering uses the offset quirk") {
    val xml =
      """<parameters>
        |  <query>#combine(return license)</query>
        |  <query><number>Q7</number><text>#combine(def val)</text></query>
        |  <query><text>#combine(class import)</text>
        |    <workingSetDocno>3</workingSetDocno><workingSetDocno>9</workingSetDocno>
        |    <workingSetDocno>17</workingSetDocno><workingSetDocno>40</workingSetDocno>
        |  </query>
        |  <count>15</count>
        |  <rule>method:dirichlet,mu:1000</rule>
        |  <queryOffset>150</queryOffset>
        |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml)
    val eng = RunQuery.environmentFor(spark, idx, p, Analyzer())
    val out = RunQuery.execute(eng, p)
    // reference numbers offset + 0-based position (IndriRunQuery.cpp:671)
    assert(out.map(_._1) == Seq("150", "Q7", "152"))

    val direct = new Engine(spark, idx, Analyzer(),
      ScoringRule.parse("method:dirichlet,mu:1000"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(out(0)._2) == rows(direct.runQuery("#combine(return license)", 15)))
    assert(rows(out(1)._2) == rows(direct.runQuery("#combine(def val)", 15)))
    val ws = Seq(3L, 9L, 17L, 40L).toDF("docId")
    assert(rows(out(2)._2) ==
      rows(direct.runQuery("#combine(class import)", 15, ws)))

    // stopper words null the query term like setStopwords
    val stopped = RunQuery.execute(
      RunQuery.environmentFor(spark, idx,
        p.copy(stopwords = Set("license"), queries = p.queries.take(1)), Analyzer()),
      p.copy(stopwords = Set("license"), queries = p.queries.take(1)))
    val direct2 = new Engine(spark, idx,
      Analyzer(stopwords = Set("license")),
      ScoringRule.parse("method:dirichlet,mu:1000"))
    assert(rows(stopped.head._2) ==
      rows(direct2.runQuery("#combine(return license)", 15)))
  }

  test("query type=nexi routes through the NEXI grammar; extents print") {
    val xml =
      """<parameters>
        |  <query><number>N1</number><type>nexi</type>
        |    <text>return license</text></query>
        |  <query><type>indri</type><text>#combine(return license)</text></query>
        |  <count>10</count><rule>method:dirichlet</rule>
        |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml)
    assert(p.queries.map(_.queryType) == Seq("nexi", "indri"))
    intercept[IllegalArgumentException](RunQuery.parseParams(
      "<parameters><query><type>sql</type><text>x</text></query></parameters>"))
    val eng = RunQuery.environmentFor(spark, idx, p, Analyzer())
    val out = RunQuery.execute(eng, p)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("docId", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // CO NEXI 'return license' ≡ #combine(return license): same engine,
    // same ranking (reference: nexilang.g CO path → CombineNode)
    assert(rows(out(0)._2) == rows(eng.runNexi("return license", 10)))
    assert(rows(out(0)._2) == rows(out(1)._2))

    // extent results carry begin/end into the default output line and
    // tiebreak the ranking (ScoredExtentResult begin/end)
    val extents = Seq((5L, 2, 7, -1.5), (5L, 0, 3, -1.5), (9L, 1, 4, -0.5))
      .toDF("docId", "begin", "end", "score")
    val lines = RunQuery.trecLines(eng, "N1", extents, p.copy(trecFormat = false))
      .select("line").collect().map(_.getString(0))
    assert(lines.toSeq == Seq("-0.5\t9\t1\t4", "-1.5\t5\t0\t3", "-1.5\t5\t2\t7"))

    // a working set restricts NEXI like the reference FilterNode:
    // results == the unrestricted run filtered to the named docs
    // (CO path → runBatch with the working set)
    val full = rows(eng.runNexi("return license", 1000000))
    val wsIds = full.map(_._1).distinct.take(3)
    val ws = wsIds.toDF("docId")
    val got = rows(eng.runNexi("return license", 10, Some(ws)))
    assert(got == full.filter(r => wsIds.contains(r._1)).take(10))
    // the app wires <workingSetDocno> through for type=nexi
    val pws = RunQuery.Params(indexPaths = Seq("x"), count = 10,
      rule = Some("method:dirichlet"),
      queries = Seq(RunQuery.QuerySpec(None, "return license",
        workingSet = wsIds.map(_.toString), queryType = "nexi")))
    assert(rows(RunQuery.execute(eng, pws).head._2) == got)
  }

  test("a passage query in a parameter file runs through execute and prints its extents") {
    val q = "#combine[passage50:25](return license)"
    val xml =
      s"""<parameters>
        |  <query><number>P1</number><text>$q</text></query>
        |  <count>10</count><rule>method:dirichlet</rule>
        |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml).copy(trecFormat = false)
    val eng = RunQuery.environmentFor(spark, idx, p, Analyzer())
    val (num, df) = RunQuery.execute(eng, p).head
    val want = eng.runExtentQuery(q, 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(num == "P1" && want.nonEmpty)
    val lines = RunQuery.trecLines(eng, num, df, p)
      .select("docId", "begin", "end", "line").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(lines == want.map { case (d, b, e, s) =>
      (d, b, e, s"${RunQuery.cppDouble(s)}\t$d\t$b\t$e")
    })
  }

  test("fbDocs routes through RM3 blind feedback") {
    val xml =
      """<parameters>
        |  <query>#combine(return license)</query>
        |  <count>10</count><rule>method:dirichlet</rule>
        |  <fbDocs>5</fbDocs><fbTerms>8</fbTerms><fbOrigWeight>0.6</fbOrigWeight>
        |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml)
    val eng = RunQuery.environmentFor(spark, idx, p, Analyzer())
    val got = RunQuery.execute(eng, p).head._2.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.search.RelevanceModel.runRm3(
      new Engine(spark, idx, Analyzer(), ScoringRule.parse("method:dirichlet")),
      "#combine(return license)", 10,
      graft.search.RelevanceModel.Params(fbDocs = 5, fbTerms = 8, fbOrigWeight = 0.6))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("TREC lines carry number Q0 docno rank score runID; docno from metadata") {
    val p = RunQuery.Params(trecFormat = true, runID = "graftRun", count = 5,
      rule = Some("method:okapi"))
    val eng = RunQuery.environmentFor(spark, idx, p, Analyzer())
    eng.setMetadata(docsDf.select(col("docId"),
      concat(lit("D"), col("docId")).as("docno")))
    val res = eng.runQuery("#combine(return license)", 5)
    val lines = RunQuery.trecLines(eng, "151", res, p).collect()
    assert(lines.length == 5)
    val scores = res.collect().map(r => (r.getLong(0), r.getDouble(1)))
    lines.zipWithIndex.foreach { case (row, i) =>
      val (docId, score) = scores(i)
      assert(row.getString(0) == "151" && row.getInt(1) == i + 1)
      assert(row.getString(3) ==
        s"151 Q0 D$docId ${i + 1} ${RunQuery.cppDouble(score)} graftRun")
    }
    // non-TREC default: score \t docno \t 0 \t 0
    val plain = RunQuery.trecLines(eng, "151", res, p.copy(trecFormat = false))
      .collect().head
    assert(plain.getString(3) ==
      s"${RunQuery.cppDouble(scores.head._2)}\tD${scores.head._1}\t0\t0")
    // without metadata, docno falls back to the docId
    val bare = RunQuery.environmentFor(spark, idx, p, Analyzer())
    val l0 = RunQuery.trecLines(bare, "1", res, p).collect().head
    assert(l0.getString(3).startsWith(s"1 Q0 ${scores.head._1} 1 "))
  }

  test("pathNames climbs the field tree; INEX output blocks carry file/path/rsv") {
    import graft.index.FieldAnnotators
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n"),
      (2L, "x y z")).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "simple", blockSize = 16, numBuckets = 2)
    val built = IndexBuilder.build(docs, cfg2, annotate = df =>
      FieldAnnotators.nestedHeadField(2, parent = "lead", name = "kick")(
        FieldAnnotators.nestedHeadField(4)(
          FieldAnnotators.headField(10)(df))))
    val eng = new Engine(spark, built, cfg2.analyzer, ScoringRule(method = "dirichlet"))
    val res = Seq(
      (1L, 0, 2, -1.5),  // inside kick[0,2) ⊂ lead[0,4) ⊂ head[0,10)
      (1L, 2, 4, -2.0),  // inside lead but past kick
      (1L, 5, 7, -2.5),  // inside head only
      (1L, 12, 14, -3.0), // outside every field → empty path
      (2L, 0, 1, -4.0),  // doc2: kick[0,2) again (3-token doc)
      (1L, 0, 2, -9.9))  // DUPLICATE extent at another rank — must survive
      .toDF("docId", "begin", "end", "score")
    val pathRows = eng.pathNames(res).collect()
    // per-result-row dedup: two ranked results sharing an extent both
    // come back, each with its own path
    assert(pathRows.length == res.count(),
      "pathNames dropped a result row sharing an extent with another")
    assert(pathRows.count(r => r.getLong(0) == 1L && r.getInt(1) == 0 &&
      r.getString(4) == "/head[1]/lead[1]/kick[1]") == 2)
    val paths = pathRows
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(4)).toMap
    assert(paths((1L, 0)) == "/head[1]/lead[1]/kick[1]")
    assert(paths((1L, 2)) == "/head[1]/lead[1]")
    assert(paths((1L, 5)) == "/head[1]")
    assert(paths((1L, 12)) == "")
    assert(paths((2L, 0)) == "/head[1]/lead[1]/kick[1]")
    // INEX blocks (reference: IndriRunQuery.cpp:468-474)
    val p = RunQuery.Params(indexPaths = Seq("x"), runID = "graftrun",
      inex = true, inexDescription = "desc line")
    val lines = RunQuery.inexLines(eng, "T1",
      res.where(col("docId") === 1L && col("begin") === 0 &&
        col("score") === -1.5), p,
      fixedPrecision = Some(6)).collect()
    assert(lines.length == 1)
    assert(lines(0).getString(3) ==
      "    <result>\n      <file>1</file>\n      <path>/head[1]/lead[1]/kick[1]</path>\n      <rsv>-1.500000</rsv>\n    </result>")
    assert(RunQuery.inexHeader(p).head ==
      "<inex-submission participant-id=\"1\" run-id=\"graftrun\" task=\"CO.Thorough\" query=\"automatic\" topic-part=\"T\">")
    assert(RunQuery.inexTopicHeader("T1") == Seq(
      "  <topic topic-id=\"T1\">", "    <collections>",
      "      <collection>ieee</collection>", "    </collections>"))
  }

  test("print flags append document text, passages and snippets to result lines") {
    import graft.apps.BuildIndex
    val corpusDir = java.nio.file.Files.createTempDirectory("rq-pf-c").toString
    val rDir = java.nio.file.Files.createTempDirectory("rq-pf-r").toString
    Seq(("r1", "p1", "c1", "alpha beta gamma delta epsilon"),
        ("r1", "p2", "c1", "gamma gamma zeta"))
      .toDF("repo", "path", "commit", "content")
      .write.mode("overwrite").parquet(corpusDir)
    BuildIndex.run(spark, BuildIndex.parseParams(
      s"""<parameters>
         |  <index>$rDir</index>
         |  <corpus><path>$corpusDir</path></corpus>
         |</parameters>""".stripMargin), IndexConfig(blockSize = 16, numBuckets = 2))
    val p = RunQuery.Params(indexPaths = Seq(rDir),
      queries = Seq(RunQuery.QuerySpec(None, "gamma")), count = 10,
      printDocuments = true, printPassages = true, printSnippets = true)
    val eng = RunQuery.openEnvironment(spark, p, Analyzer())
    val (num, df) = RunQuery.execute(eng, p).head
    val lines = RunQuery.verboseLines(eng, num, df, p, "gamma")
      .collect().map(_.getString(3))
    assert(lines.length == 2)
    // doc2 (tf 2) ranks first: result line + full text (printDocuments) +
    // whole-doc passage + highlighted snippet, newline-separated in order
    val parts = lines(0).split("\n")
    assert(parts.length == 4)
    assert(parts(1) == "gamma gamma zeta")
    assert(parts(2) == "gamma gamma zeta") // begin=end=0 → whole document
    assert(parts(3) == "<b>gamma</b> <b>gamma</b> zeta")
    assert(lines(1).split("\n")(3) == "alpha beta <b>gamma</b> delta epsilon")
    // without a stored collection the flags refuse with the contract
    val eng2 = new Engine(spark, idx, Analyzer(), ScoringRule(method = "okapi"))
    intercept[UnsupportedOperationException] {
      RunQuery.verboseLines(eng2, "1", df, p, "gamma")
    }
  }

  test("openEnvironment federates stored repositories (kernel-only view)") {
    val d1 = java.nio.file.Files.createTempDirectory("rq-repo1").toString
    val d2 = java.nio.file.Files.createTempDirectory("rq-repo2").toString
    SegmentStore.writeAll(
      IndexBuilder.build(docsDf.where(col("docId") <= 150), cfg), d1, cfg)
    SegmentStore.writeAll(
      IndexBuilder.build(
        docsDf.where(col("docId") > 150).withColumn("docId", col("docId") - 150),
        cfg), d2, cfg)
    val xml =
      s"""<parameters>
         |  <index>$d1</index>
         |  <index>$d2</index>
         |  <query>return license def</query>
         |  <count>20</count>
         |  <baseline>okapi</baseline>
         |</parameters>""".stripMargin
    val p = RunQuery.parseParams(xml)
    val eng = RunQuery.openEnvironment(spark, p, Analyzer())
    val got = RunQuery.execute(eng, p).head._2.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val whole = new Engine(spark, idx, Analyzer(), ScoringRule(method = "okapi"))
    assert(got == whole.runQuery("#combine(return license def)", 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(got.exists(_._1 <= 150) && got.exists(_._1 > 150))
  }
}
