package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.Tokenizer
import graft.index._
import graft.search.{Engine, QueryParser, ScoringRule}

/** Field/extent operator semantics
  * (reference: FieldExtent include/indri/FieldExtent.hpp:30-46;
  * ExtentInsideNode src/ExtentInsideNode.cpp; FieldIteratorNode;
  * numeric nodes src/FieldLessNode.cpp:41, src/FieldBetweenNode.cpp:42).
  */
class FieldOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("tokenizeWithTags: extents in token space, nesting, unclosed tags") {
    val (toks, tags) = Tokenizer.tokenizeWithTags(
      "<title>alpha beta</title> gamma <sec>delta <b>eps</b> zeta</sec> <open>tail")
    assert(toks.toSeq == Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "tail"))
    val byName = tags.map(t => t.name -> (t.begin, t.end)).toMap
    assert(byName("title") == (0, 2))
    assert(byName("sec") == (3, 6))
    assert(byName("b") == (4, 5))
    assert(byName("open") == (6, 7)) // unclosed → end of doc
  }

  test("numeric/date payload parsing per FieldSpec") {
    assert(FieldSpec("p", "int").parseNumber("  1234 tail") == 1234L)
    assert(FieldSpec("p", "int").parseNumber("-55") == -55L)
    assert(FieldSpec("p", "int").parseNumber("x") == 0L)
    // reference encoding: days since 01/01/1600 — epochDay + 135140
    // (DateParse.hpp convertDate; 1970-01-03 has epochDay 2)
    assert(FieldSpec("d", "date").parseNumber("1970-01-03") == 135142L)
  }

  test("DateParse matches reference-generated convertDate goldens and the annotator format table") {
    import graft.index.DateParse
    // golden values from the REFERENCE header compiled standalone
    // (g++ over include/indri/DateParse.hpp, same method as the stemmer
    // goldens). Note the reference QUIRK they pin: yearsSince/4 counts
    // the CURRENT year's leap day even for Jan/Feb dates, so every date
    // in a leap year sits +1 above the proleptic-Gregorian day count
    // (2004-01-11 → 147569, not 147568); century non-leap years cancel
    // through the /100 term (1900-03-01 → 109632, the true count).
    assert(DateParse.convertDate("2004", "01", "11") == 147569L)
    assert(DateParse.convertDate("2004", "3", "1") == 147619L)
    assert(DateParse.convertDate("2004", "2", "29") == 147618L)
    assert(DateParse.convertDate("1900", "3", "1") == 109632L)
    assert(DateParse.convertDate("2000", "3", "1") == 146158L)
    assert(DateParse.convertDate("1970", "1", "3") == 135142L)
    assert(DateParse.convertDate("1988", "january", "11") == 141725L)
    assert(DateParse.convertDate("04", "jan", "11") == 0L) // year < 1601
    assert(DateParse.convertDate("2004", "jun", "5") == 147715L)
    assert(DateParse.convertDate("2004", "jul", "5") == 147745L)
    assert(DateParse.convertDate("2004", "sept", "5") == 147807L)
    // every documented DateFieldAnnotator format resolves to 11 Jan 2004
    val expect = 147569L
    assert(DateParse.parseFieldDate("11-01-2004") == expect)   // DD-MM-YYYY
    assert(DateParse.parseFieldDate("11-JAN-2004") == expect)  // DD-Mon-YYYY
    assert(DateParse.parseFieldDate("2004-01-11") == expect)   // YYYY-MM-DD
    assert(DateParse.parseFieldDate("January 11 2004") == expect)
    assert(DateParse.parseFieldDate("11 January 2004") == expect)
    assert(DateParse.parseFieldDate("01/11/2004") == expect)   // MM/DD/YYYY
    assert(DateParse.parseFieldDate("2004/01/11") == expect)   // YYYY/MM/DD
    assert(DateParse.parseFieldDate("20040111") == expect)     // YYYYMMDD
    assert(DateParse.parseFieldDate("1/11/2004") == expect)    // leading 0 optional
    // the annotator's "19"+ two-digit-year WSJ hack
    assert(DateParse.parseFieldDate("01/11/88") == 141725L)
    // quirks: years below 1601 and unknown months collapse to 0
    assert(DateParse.parseFieldDate("11-XYZ-2004") == 0L)
    assert(DateParse.parseFieldDate("1600-06-01") == 0L)
    assert(DateParse.parseFieldDate("garbage") == 0L)
    // reference substr(6,2) tolerance: a 7-digit string parses with the
    // single trailing char as the day ("2004011" → 1 Jan 2004); 6 chars
    // yield an empty day → 0; below 6 the reference substr throws — we 0
    assert(DateParse.parseFieldDate("2004011") == expect - 10L)
    assert(DateParse.parseFieldDate("200401") == 0L)
    assert(DateParse.parseFieldDate("20040") == 0L)
    // month-name prefix table incl. jan/jun/jul disambiguation
    assert(DateParse.parseMonth("June") == 6)
    assert(DateParse.parseMonth("jul") == 7)
    assert(DateParse.parseMonth("SEPT") == 9)
    assert(DateParse.parseMonth("dec") == 12)
  }

  test("#date* reference forms: bare literals over the hardwired 'date' field") {
    import graft.search.{QueryParser, FieldNumNode}
    val d = graft.index.DateParse.convertDate("2004", "01", "11")
    assert(QueryParser.parse("#datebefore(01/11/2004)") ==
      FieldNumNode("less", "date", Long.MinValue, d))
    assert(QueryParser.parse("#dateafter(11-JAN-2004)") ==
      FieldNumNode("greater", "date", d, Long.MaxValue))
    assert(QueryParser.parse("#dateequals(11 january 2004)") ==
      FieldNumNode("equals", "date", d, d))
    assert(QueryParser.parse("#dateequals(January 11 2004)") ==
      FieldNumNode("equals", "date", d, d))
    val d2 = graft.index.DateParse.convertDate("2005", "01", "11")
    assert(QueryParser.parse("#datebetween(01/11/2004 01/11/2005)") ==
      FieldNumNode("between", "date", d, d2))
    // the query side has NO century hack: two-digit years → 0
    assert(QueryParser.parse("#datebefore(11-JAN-04)") ==
      FieldNumNode("less", "date", Long.MinValue, 0L))
    // (field, literal) extension form still parses over any field
    assert(QueryParser.parse("#datebefore(when 2020-06-01)") ==
      FieldNumNode("less", "when", Long.MinValue,
        graft.index.DateParse.parseFieldDate("2020-06-01")))
  }

  // tagged corpus: title field + numeric price + date field
  private lazy val taggedIndex = {
    val rows = Seq(
      (1L, "<title>merge sort</title> body merge text <price>10</price> <when>2020-01-01</when>"),
      (2L, "<title>hash scan</title> merge body body <price>25</price> <when>2020-06-01</when>"),
      (3L, "no fields here merge merge sort"),
      (4L, "<title>sort merge sort</title> tail <price>40</price> <when>2021-01-01</when>")
    ).toDF("docId", "content")
    val cfg = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("title"), FieldSpec("price", "int"), FieldSpec("when", "date")))
    (IndexBuilder.build(rows, cfg), cfg)
  }

  private def engine = {
    val (idx, cfg) = taggedIndex
    new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "okapi"))
  }

  test("#any:f returns every extent of the field") {
    val eng = engine
    val rows = eng.evaluateRaw(QueryParser.parse("#any:title")).df
      .select("docId", "begins", "ends").as[(Long, Seq[Int], Seq[Int])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(rows(0)._2 == Seq(0) && rows(0)._3 == Seq(2))
    assert(rows(2)._3 == Seq(3)) // 3-token title in doc 4
  }

  test("t.f field restriction keeps only extents inside the field") {
    val eng = engine
    // merge.title: doc1 has merge at pos 0 (inside title [0,2)); doc3 has
    // merge but no title; doc4 title=[0,3) contains merge at pos 1
    val rows = eng.evaluateRaw(QueryParser.parse("merge.title")).df
      .select("docId", "begins").as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 4L))
    assert(rows(0)._2 == Seq(0))
    assert(rows(1)._2 == Seq(1))
    // and the parser really produced a FieldRestrictNode
    assert(QueryParser.parse("merge.title").isInstanceOf[graft.search.FieldRestrictNode])
  }

  test("numeric predicates: strict less/greater, inclusive between, equals") {
    val eng = engine
    def docs(q: String): Seq[Long] =
      eng.evaluateRaw(QueryParser.parse(q)).df.select("docId").as[Long].collect().sorted.toSeq
    assert(docs("#less(price 25)") == Seq(1L))            // 10 < 25, not 25
    assert(docs("#greater(price 10)") == Seq(2L, 4L))     // strict
    assert(docs("#between(price 10 25)") == Seq(1L, 2L))  // inclusive both
    assert(docs("#equals(price 40)") == Seq(4L))
  }

  test("date operators map to days-since-1600 numerics (with the leap-boundary quirk)") {
    val eng = engine
    def docs(q: String): Seq[Long] =
      eng.evaluateRaw(QueryParser.parse(q)).df.select("docId").as[Long].collect().sorted.toSeq
    assert(docs("#datebefore(when 2020-06-01)") == Seq(1L))
    assert(docs("#dateafter(when 2020-06-01)") == Seq(4L))
    assert(docs("#datebetween(when 2020-01-01 2020-12-30)") == Seq(1L, 2L))
    assert(docs("#dateequals(when 2021-01-01)") == Seq(4L))
    // reference quirk (convertDate's yearsSince/4 counts the CURRENT
    // leap year even before Feb 29): Dec 31 of a leap year and Jan 1 of
    // the next year encode to the SAME day number, so doc4 (2021-01-01)
    // falls inside a between that ends at 2020-12-31
    assert(graft.index.DateParse.parseFieldDate("2020-12-31") ==
           graft.index.DateParse.parseFieldDate("2021-01-01"))
    assert(docs("#datebetween(when 2020-01-01 2020-12-31)") == Seq(1L, 2L, 4L))
  }

  test("field-restricted belief query scores with ListBelief stats") {
    val eng = engine
    // #combine(merge.title) in okapi baseline: stats from the match list
    // (ContextCount path): occurrences=2, df=2
    val out = eng.runQuery("#combine(merge.title)", 10).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 4L))
    // equal tf (1) and equal doclen? doc1 len=8 (merge sort body merge
    // text 10 + date tokens) — scores must be deterministic and ordered
    assert(out.map(_.getDouble(1)).forall(s => !s.isNaN))
  }

  test("path operators: #child / #descendant / #parent over the tag tree") {
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps</sec> <par>tail</par>"),
      (2L, "<par>solo</par> <sec>plain</sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b")))
    val idx = IndexBuilder.build(rows, cfg2)
    val eng = new Engine(spark, idx, cfg2.analyzer, ScoringRule(method = "okapi"))
    def ext(q: String): Seq[(Long, Seq[Int], Seq[Int])] =
      eng.evaluateRaw(QueryParser.parse(q)).df
        .select("docId", "begins", "ends").as[(Long, Seq[Int], Seq[Int])]
        .collect().sortBy(_._1).toSeq

    // doc1 token positions: alpha0 beta1 gamma2 delta3 eps4 tail5
    // sec=[0,5); par(in sec)=[1,4); b=[2,3); par(top)=[5,6)
    // par/sec: only the nested par
    assert(ext("#child(par sec)") == Seq((1L, Seq(1), Seq(4))))
    // b//sec: b is nested (through par) inside sec
    assert(ext("#descendant(b sec)") == Seq((1L, Seq(2), Seq(3))))
    // b/sec: NOT a direct child of sec
    assert(ext("#child(b sec)").isEmpty)
    // par extents that directly contain a b extent
    assert(ext("#parent(par b)") == Seq((1L, Seq(1), Seq(4))))
    // doc2 has no nesting at all
    assert(ext("#descendant(par sec)") == Seq((1L, Seq(1), Seq(4))))
  }

  test("#combine[f] scores each field extent as its own context (dirichlet)") {
    val (idx, tcfg) = taggedIndex
    val eng = new Engine(spark, idx, tcfg.analyzer, ScoringRule(method = "dirichlet"))
    val got = eng.runExtentQuery("#combine[title](merge sort)", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))

    // scalar: candidates = docs with merge or sort; titles:
    // d1 [0,2) merge@0 sort@1; d2 [0,2) neither inside... d2 terms: hash
    // scan (title) merge body body — merge at pos 2 outside title; d4
    // [0,3) sort@0 merge@1 sort@2
    val T = idx.stats.totalTerms.toDouble
    def ctf(t: String) = idx.dictionary.where(col("term") === t)
      .select("ctf").as[Long].head().toDouble
    def dir(tf: Int, cf: Double, ctx: Int) =
      math.log((tf + 2500.0 * cf) / (ctx + 2500.0))
    val cfM = ctf("merge") / T; val cfS = ctf("sort") / T
    def comb(tfM: Int, tfS: Int, ctx: Int) =
      0.5 * dir(tfM, cfM, ctx) + 0.5 * dir(tfS, cfS, ctx)
    val expected = Seq(
      (1L, 0, 2, comb(1, 1, 2)),
      (2L, 0, 2, comb(0, 0, 2)),
      (4L, 0, 3, comb(1, 2, 3))
    ).sortBy { case (d, b, _, s) => (-s, d, b) }
    assert(got.length == 3)
    got.zip(expected).foreach { case ((d1, b1, e1, s1), (d2, b2, e2, s2)) =>
      assert(d1 == d2 && b1 == b2 && e1 == e2)
      assert(math.abs(s1 - s2) < 1e-12)
    }
  }

  test("#combine[passageW:I] scores fixed sliding windows") {
    val (idx, tcfg) = taggedIndex
    val eng = new Engine(spark, idx, tcfg.analyzer, ScoringRule(method = "dirichlet"))
    val got = eng.runExtentQuery("#combine[passage4:2](merge)", 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // doc3 "no fields here merge merge sort": len 6, passages begin 0,2,4
    // with ends min(b+4, 6) → (0,4) tf1, (2,6) tf2, (4,6) tf1
    val d3 = got.filter(_._1 == 3L).map(t => (t._2, t._3)).sorted.toSeq
    assert(d3 == Seq((0, 4), (2, 6), (4, 6)))
    // okapi baseline must reject extent restriction like the reference
    val okapiEng = new Engine(spark, idx, tcfg.analyzer, ScoringRule(method = "okapi"))
    intercept[IllegalArgumentException] {
      okapiEng.runExtentQuery("#combine[title](merge)", 5)
    }
  }

  test("NEXI CAS/CO subset: parity with extent restriction, nested paths, parser guards") {
    import graft.search.NexiParser
    val (idx, tcfg) = taggedIndex
    val eng = new Engine(spark, idx, tcfg.analyzer, ScoringRule(method = "dirichlet"))
    // CAS single field == #combine[f](terms)
    val nexi = eng.runNexi("//title[about(., merge sort)]", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    val er = eng.runExtentQuery("#combine[title](merge sort)", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(nexi == er)
    // CO == #combine (document ranking); +prefix stripped, -term →
    // NotNode, quoted phrase → ODNode (round 4; nexilang.g:439-480)
    val co = eng.runNexi("+merge sort -body", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val comb = eng.runQuery("#combine(merge sort #not(body))", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(co == comb)
    val coPhrase = eng.runNexi("\"merge sort\" body", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val combPhrase = eng.runQuery("#combine(#od1(merge sort) body)", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(coPhrase == combPhrase)

    // nested path //sec//par: par extents inside a sec ancestor
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps</sec> <par>tail</par>"),
      (2L, "<par>solo beta</par> <sec>plain</sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b")))
    val idx2 = IndexBuilder.build(rows, cfg2)
    val eng2 = new Engine(spark, idx2, cfg2.analyzer, ScoringRule(method = "dirichlet"))
    val nested = eng2.runNexi("//sec//par[about(., beta)]", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    // doc2's top-level par is NOT inside a sec — only doc1's [1,4)
    assert(nested == Seq((1L, 1, 4)))

    // boolean clause (nexilang.g:312-334): two abouts, one and/or
    val booled = NexiParser.parse("//a[about(., x y) and about(., z)]")
    assert(booled.clauses == Seq(Seq("x", "y"), Seq("z")) && booled.op.contains("and"))
    val ored = NexiParser.parse("//a[about(., x) OR about(., z)]")
    assert(ored.op.contains("or"))
    // and == combine 1/k of the per-about beliefs inside each extent:
    // //par[about(., beta) and about(., beta)] must score exactly like
    // //par[about(., beta)] (mean of two identical group scores)
    val single = eng2.runNexi("//par[about(., beta)]", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    val doubled = eng2.runNexi("//par[about(., beta) and about(., beta)]", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(doubled == single)
    // or == log(1 − Π(1 − exp(s_g))) — strictly above either branch
    val orScores = eng2.runNexi("//par[about(., beta) or about(., beta)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    single.foreach { case (d, b, _, s) =>
      val so = orScores((d, b))
      assert(so > s && math.abs(so - math.log(1 - math.pow(1 - math.exp(s), 2))) < 1e-9)
    }

    // two-level CAS: //sec[about(., alpha)]//par[about(., beta)] scores
    // the par-inside-sec extents only; doc1's trailing par [5,6) and
    // doc2's root-level par never pair with a sec extent
    val nested2 = eng2.runNexi("//sec[about(., alpha)]//par[about(., beta)]", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(nested2.map(t => (t._1, t._2, t._3)) == Seq((1L, 1, 4)))
    // score = dirichlet(alpha | sec [0,5)) + dirichlet(beta | par [1,4))
    // corpus totals: T = 9 (doc1: 6 content slots... recompute from the
    // engine's own stats to stay robust to tokenizer details
    val tt = eng2.termCount().toDouble
    val cfA = eng2.termCount("alpha") / tt
    val cfB = eng2.termCount("beta") / tt
    val want2 = math.log((1 + 2500.0 * cfA) / (5 + 2500.0)) +
      math.log((1 + 2500.0 * cfB) / (3 + 2500.0))
    assert(math.abs(nested2.head._4 - want2) < 1e-9)
    // boolean multi-about clauses at BOTH levels: score = [or|and over
    // sec [0,5)] + [and|or over par [1,4)]; doc2 is a candidate through
    // beta but its par is not inside its sec
    def p(t: String, tf: Int, ctx: Int) =
      (tf + 2500.0 * eng2.termCount(t) / tt) / (ctx + 2500.0)
    def fold(op: String, a: Double, b: Double) =
      if (op == "or") math.log(1 - (1 - a) * (1 - b))
      else 0.5 * math.log(a) + 0.5 * math.log(b)
    Seq(("or", "and"), ("and", "or")).foreach { case (op1, op2) =>
      val got = eng2.runNexi(s"//sec[about(., alpha) $op1 about(., gamma)]" +
          s"//par[about(., beta) $op2 about(., gamma)]", 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(got.map(t => (t._1, t._2, t._3)) == Seq((1L, 1, 4)))
      assert(math.abs(got.head._4 - (fold(op1, p("alpha", 1, 5), p("gamma", 1, 5)) +
        fold(op2, p("beta", 1, 3), p("gamma", 1, 3)))) < 1e-9)
    }

    // numeric predicates parse (round 3 — scored as occurrence beliefs)
    val num = NexiParser.parse("//a[.//b > 5]")
    assert(num.nexiClauses == Seq(NexiParser.NumericClause("b", "greater", 5L)))
    assert(NexiParser.parse("//a[.//b <= 5]").nexiClauses ==
      Seq(NexiParser.NumericClause("b", "less", 6L))) // grammar's inclusive rewrite
    val mixed = NexiParser.parse("//a[about(., x) and .//b >= 3]")
    assert(mixed.nexiClauses(1) == NexiParser.NumericClause("b", "greater", 2L)
      && mixed.op.contains("and"))

    // parser guards: three clauses, deep paths, unknown filter syntax
    // filterParens: redundant outer parens peel off
    assert(NexiParser.parse("//a[(about(., x))]") == NexiParser.parse("//a[about(., x)]"))

    // parenthesized clause nesting (round 4): the tree parses and folds
    // per node — (c or c) and c over identical beliefs s gives
    // or(s,s)/2 + s/2 with or(s,s) = ln(1 − (1 − e^s)²)
    val parenQ = NexiParser.parse("//a[(about(., x) and about(., y)) or about(., z)]")
    assert(parenQ.tree.isDefined && parenQ.clauses == Seq(Seq("x"), Seq("y"), Seq("z")))
    val parenScores = eng2.runNexi(
      "//par[(about(., beta) or about(., beta)) and about(., beta)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    single.foreach { case (d, b, _, s) =>
      val orPart = math.log(1 - math.pow(1 - math.exp(s), 2))
      assert(math.abs(parenScores((d, b)) - (orPart / 2 + s / 2)) < 1e-9)
    }
    // unparenthesized 3-filter chain folds left-associative:
    // (c1 and c2) and c3
    val chain = NexiParser.parse("//a[about(., x) and about(., y) and about(., z)]")
    assert(chain.tree.contains(NexiParser.ClauseBool("and",
      NexiParser.ClauseBool("and",
        NexiParser.ClauseLeaf(NexiParser.AboutClause(None, Seq(NexiParser.PlainTerm("x")))),
        NexiParser.ClauseLeaf(NexiParser.AboutClause(None, Seq(NexiParser.PlainTerm("y"))))),
      NexiParser.ClauseLeaf(NexiParser.AboutClause(None, Seq(NexiParser.PlainTerm("z")))))))

    // three-level path (round 4): //sec//par//b walks the ancestor
    // chain b → par → sec; doc1's gamma-b qualifies, nothing in doc2
    val deep = eng2.runNexi("//sec//par//b[about(., gamma)]", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(deep == Seq((1L, 2, 3)))
    // order matters: //par//sec//b requires sec BETWEEN b and par — no match
    assert(eng2.runNexi("//par//sec//b[about(., gamma)]", 10).count() == 0)
  }

  test("NEXI phrase and negated leaves inside about() (round 4)") {
    import graft.search.NexiParser
    // same two-doc field corpus as the CAS tests:
    // doc1 tokens alpha beta gamma delta eps tail, par extents [1,4) [5,6)
    // doc2 tokens solo beta plain, par extent [0,2)
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps</sec> <par>tail</par>"),
      (2L, "<par>solo beta</par> <sec>plain</sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b")))
    val idx2 = IndexBuilder.build(rows, cfg2)
    val eng2 = new Engine(spark, idx2, cfg2.analyzer, ScoringRule(method = "dirichlet"))
    val tt = eng2.termCount().toDouble

    // leaf parsing: quoted → PhraseTerm, -x → NotTerm, -"a b" → Not(Phrase)
    val pq = NexiParser.parse("""//par[about(., "beta gamma" -delta +eps -"a b")]""")
    assert(pq.leafGroups == Seq(Seq(
      NexiParser.PhraseTerm(Seq("beta", "gamma")),
      NexiParser.NotTerm(NexiParser.PlainTerm("delta")),
      NexiParser.PlainTerm("eps"),
      NexiParser.NotTerm(NexiParser.PhraseTerm(Seq("a", "b"))))))
    assert(pq.clauses == Seq(Seq("eps"))) // legacy plain surface

    // phrase leaf: "beta gamma" matches doc1 at begin 1 (len 2) —
    // contained in par [1,4), NOT in [5,6); doc2 has no adjacency so it
    // is no candidate. Window stats: ctf=1, df=1.
    val ph = eng2.runNexi("""//par[about(., "beta gamma")]""", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    assert(ph.keySet == Set((1L, 1), (1L, 5)))
    val cfP = 1.0 / tt
    assert(math.abs(ph((1L, 1)) - math.log((1 + 2500.0 * cfP) / (3 + 2500.0))) < 1e-9)
    assert(math.abs(ph((1L, 5)) - math.log((0 + 2500.0 * cfP) / (1 + 2500.0))) < 1e-9)

    // negated leaf: ½ln(p_beta) + ½ln(1 − p_gamma) per extent; doc2's
    // par [0,2) has beta but no gamma — its Not belief is near 0
    val ng = eng2.runNexi("//par[about(., beta -gamma)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    val cfB = eng2.termCount("beta") / tt
    val cfG = eng2.termCount("gamma") / tt
    def pDir(tf: Int, ctx: Int, cf: Double) = (tf + 2500.0 * cf) / (ctx + 2500.0)
    assert(math.abs(ng((1L, 1)) -
      (0.5 * math.log(pDir(1, 3, cfB)) + 0.5 * math.log1p(-pDir(1, 3, cfG)))) < 1e-9)
    assert(math.abs(ng((2L, 0)) -
      (0.5 * math.log(pDir(1, 2, cfB)) + 0.5 * math.log1p(-pDir(0, 2, cfG)))) < 1e-9)

    // a phrase with an OOV constituent cannot match anywhere: zero-stat
    // child, cf-guarded — still deterministic, no crash
    val oov = eng2.runNexi("""//par[about(., beta "beta zzzmissing")]""", 10)
    assert(oov.count() > 0)

    // structured leaves inside the two-level CAS form: the outer phrase
    // scores over the sec extent [0,5), the inner plain term over the
    // nested par [1,4); doc2's par is not inside its sec — no pair
    val nested = eng2.runNexi(
      """//sec[about(., "beta gamma")]//par[about(., beta)]""", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(nested.map(t => (t._1, t._2, t._3)) == Seq((1L, 1, 4)))
    val wantNested = math.log((1 + 2500.0 * cfP) / (5 + 2500.0)) +
      math.log((1 + 2500.0 * cfB) / (3 + 2500.0))
    assert(math.abs(nested.head._4 - wantNested) < 1e-9)

    // negated leaf through the relative-about path: each sec extent
    // takes the max over nested par extents of ½ln(p_beta)+½ln(1−p_gamma)
    val relNeg = eng2.runNexi("//sec[about(.//par, beta -gamma)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    assert(math.abs(relNeg((1L, 0)) -
      (0.5 * math.log(pDir(1, 3, cfB)) + 0.5 * math.log1p(-pDir(1, 3, cfG)))) < 1e-9)

    // relative about combined with a boolean (round 4): per sec extent,
    // ½·[max over contained par of ln(p_beta|par)] + ½·ln(p_alpha|sec).
    // doc2's sec [2,3) contains no par — under `and` the extent drops,
    // under `or` the surviving plain branch scores alone (noisy-or of 1)
    val cfA = eng2.termCount("alpha") / tt
    val relAnd = eng2.runNexi("//sec[about(.//par, beta) and about(., alpha)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    assert(relAnd.keySet == Set((1L, 0)))
    assert(math.abs(relAnd((1L, 0)) -
      (0.5 * math.log(pDir(1, 3, cfB)) + 0.5 * math.log(pDir(1, 5, cfA)))) < 1e-9)
    val relOr = eng2.runNexi("//sec[about(.//par, beta) or about(., alpha)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    assert(relOr.keySet == Set((1L, 0), (2L, 2)))
    val orWant1 = math.log(1 -
      (1 - pDir(1, 3, cfB)) * (1 - pDir(1, 5, cfA)))
    assert(math.abs(relOr((1L, 0)) - orWant1) < 1e-9)
    assert(math.abs(relOr((2L, 2)) - math.log(pDir(0, 1, cfA))) < 1e-9)
  }

  test("NEXI relative about mixed with numeric predicates; baseline/two-level guards") {
    // corpus with a numeric field n INSIDE sec so containment matters:
    // doc1 tokens alpha0 beta1 gamma2 delta3 eps4 7@5 tail6 —
    //   sec [0,6), par [1,4) [6,7), b [2,3), n [5,6) value 7
    // doc2 tokens solo0 beta1 plain2 3@3 —
    //   par [0,2), sec [2,4), n [3,4) value 3
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps <n>7</n></sec> <par>tail</par>"),
      (2L, "<par>solo beta</par> <sec>plain <n>3</n></sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b"),
        FieldSpec("n", parse = "int")))
    val idx2 = IndexBuilder.build(rows, cfg2)
    val eng2 = new Engine(spark, idx2, cfg2.analyzer, ScoringRule(method = "dirichlet"))
    val tt = eng2.termCount().toDouble
    val cfB = eng2.termCount("beta") / tt
    def dir(tf: Int, ctx: Int, cf: Double) =
      math.log((tf + 2500.0 * cf) / (ctx + 2500.0))
    // numeric clause stats from the one-job ContextCount round: the
    // corpus has ONE n extent with value > 5 (doc1's 7) → occ 1, cf 1/T
    val cfN = 1.0 / tt

    // and: ½·[max over contained par of dirichlet(beta|par)] +
    //      ½·dirichlet(occ of matching n extents | sec context).
    // doc2's sec [2,4) contains no par → the rel conjunct is
    // unscorable and the extent drops (same rule as the relative boolean)
    val relNum = eng2.runNexi("//sec[about(.//par, beta) and .//n > 5]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    assert(relNum.keySet == Set((1L, 0, 6)))
    val want1 = 0.5 * dir(1, 3, cfB) + 0.5 * dir(1, 6, cfN)
    assert(math.abs(relNum((1L, 0, 6)) - want1) < 1e-9)

    // or: doc1 noisy-ors both branches; doc2's sec keeps only the
    // numeric branch (occ 0 — its n extent fails the predicate)
    val relNumOr = eng2.runNexi("//sec[about(.//par, beta) or .//n > 5]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    assert(relNumOr.keySet == Set((1L, 0, 6), (2L, 2, 4)))
    val orWant1 = math.log(1 -
      (1 - math.exp(dir(1, 3, cfB))) * (1 - math.exp(dir(1, 6, cfN))))
    assert(math.abs(relNumOr((1L, 0, 6)) - orWant1) < 1e-9)
    assert(math.abs(relNumOr((2L, 2, 4)) - dir(0, 2, cfN)) < 1e-9)

    // plain-about + numeric unchanged by the rel machinery: the about
    // group scores in the sec context itself
    val plainNum = eng2.runNexi("//sec[about(., alpha) and .//n > 5]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    val cfA = eng2.termCount("alpha") / tt
    assert(math.abs(plainNum((1L, 0, 6)) -
      (0.5 * dir(1, 6, cfA) + 0.5 * dir(1, 6, cfN))) < 1e-9)

    // mixed leaf kinds inside parenthesized nesting (round 4 —
    // nexilang.g:312-363 places no restriction on the filter kinds at
    // any depth): (rel or num) and about folds or-first, then halves
    val cfA2 = eng2.termCount("alpha") / tt
    val treeMix = eng2.runNexi(
      "//sec[(about(.//par, beta) or .//n > 5) and about(., alpha)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    assert(treeMix.keySet == Set((1L, 0, 6), (2L, 2, 4)))
    assert(math.abs(treeMix((1L, 0, 6)) - (orWant1 / 2 + dir(1, 6, cfA2) / 2)) < 1e-9)
    // doc2's sec: the rel side is undefined (no contained par) so the
    // or keeps only the numeric branch; the and then halves with alpha
    assert(math.abs(treeMix((2L, 2, 4)) -
      (dir(0, 2, cfN) / 2 + dir(0, 2, cfA2) / 2)) < 1e-9)
    // (rel and num) or about: doc2's and-side drops (rel undefined) and
    // the or degrades to the plain-about belief alone
    val treeMix2 = eng2.runNexi(
      "//sec[(about(.//par, beta) and .//n > 5) or about(., alpha)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    assert(math.abs(treeMix2((1L, 0, 6)) - math.log(1 -
      (1 - math.exp(want1)) * (1 - math.exp(dir(1, 6, cfA2))))) < 1e-9)
    assert(math.abs(treeMix2((2L, 2, 4)) - dir(0, 2, cfA2)) < 1e-9)

    // general two-level CAS (round 4 — nexilang.g:180-206 reuses the
    // unrestricted clause rule in the second bracket): a relative about
    // inside the first level scores in ITS level's context, and an
    // undefined level drops the pair
    val nestedRel = eng2.runNexi(
      "//sec[about(., alpha) and about(.//par, beta)]//par[about(., beta)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    // doc1: outer = ½·dir(alpha|sec[0,6)) + ½·[max over par⊆sec of
    // dir(beta|par)]; inner = dir(beta|par[1,4)). doc2's sec contains
    // no par → outer undefined → no rows
    assert(nestedRel.keySet == Set((1L, 1, 4)))
    assert(math.abs(nestedRel((1L, 1, 4)) -
      ((dir(1, 6, cfA2) + dir(1, 3, cfB)) / 2 + dir(1, 3, cfB))) < 1e-9)
    // numeric predicate as the ENTIRE first-level clause
    val nestedNum = eng2.runNexi("//sec[.//n > 5]//par[about(., beta)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    assert(nestedNum.keySet == Set((1L, 1, 4)))
    assert(math.abs(nestedNum((1L, 1, 4)) -
      (dir(1, 6, cfN) + dir(1, 3, cfB))) < 1e-9)
    // parenthesized mixed tree at the INNER level: doc1's n extent
    // [5,6) is outside par [1,4) → numeric occ 0 (still defined)
    val cfG = eng2.termCount("gamma") / tt
    val nestedTree = eng2.runNexi(
      "//sec[about(., alpha)]//par[(about(., beta) or .//n > 5) and about(., gamma)]", 10)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    val innerOr = math.log(1 -
      (1 - math.exp(dir(1, 3, cfB))) * (1 - math.exp(dir(0, 3, cfN))))
    assert(nestedTree.keySet == Set((1L, 1, 4)))
    assert(math.abs(nestedTree((1L, 1, 4)) -
      (dir(1, 6, cfA2) + (innerOr / 2 + dir(1, 3, cfG) / 2))) < 1e-9)

    // guard: CO negation under okapi/tfidf baseline → #not over a
    // positive log?-space score would be NaN; rejected like the
    // reference's baseline complex-operator check
    val okapiEng = new Engine(spark, idx2, cfg2.analyzer, ScoringRule(method = "okapi"))
    intercept[IllegalArgumentException] {
      okapiEng.runNexi("beta -gamma", 10)
    }
  }

  test("shrinkage-smoothed extent scores match the scalar model (JM, non-recursive)") {
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps</sec> <par>tail</par>"),
      (2L, "<par>solo beta</par> <sec>plain</sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b")))
    val idx = IndexBuilder.build(rows, cfg2)
    val eng = new Engine(spark, idx, cfg2.analyzer, ScoringRule(method = "jm"))
    val got = eng.runShrinkageQuery("par", Seq("beta"), 10,
      parentWeight = 0.2, docWeight = 0.2, lambda = 0.4)
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap

    // scalar model: T = 6 + 3 = 9 tokens, cf(beta) = 2/9
    val cf = 2.0 / 9.0
    def p(down: Double) = math.log(0.6 * down + 0.4 * cf)
    // doc1 [1,4): own MLE 1/3, parent sec [0,5) MLE 1/5, pDoc = .6*(1/6)+.4*cf
    val pDoc1 = 0.6 * (1.0 / 6.0) + 0.4 * cf
    val d1a = p(0.6 * (1.0 / 3.0) + 0.2 * (1.0 / 5.0) + 0.2 * pDoc1)
    // doc1 [5,6): own 0, root-level: .8*0 + .2*pDoc
    val d1b = p(0.8 * 0.0 + 0.2 * pDoc1)
    // doc2 [0,2): own 1/2, root-level, pDoc = .6*(1/3)+.4*cf
    val pDoc2 = 0.6 * (1.0 / 3.0) + 0.4 * cf
    val d2 = p(0.8 * 0.5 + 0.2 * pDoc2)
    assert(got.keySet == Set((1L, 1, 4), (1L, 5, 6), (2L, 0, 2)))
    assert(math.abs(got((1L, 1, 4)) - d1a) < 1e-12)
    assert(math.abs(got((1L, 5, 6)) - d1b) < 1e-12)
    assert(math.abs(got((2L, 0, 2)) - d2) < 1e-12)
  }

  test("shrinkage rule strings + recursive smoothing match the scalar model") {
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps</sec> <par>tail</par>"),
      (2L, "<par>solo beta</par> <sec>plain</sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b")))
    val idx = IndexBuilder.build(rows, cfg2)
    val eng = new Engine(spark, idx, cfg2.analyzer, ScoringRule(method = "jm"))
    // rule strings exactly as addShrinkageRule consumes them: b is
    // length-proportional into par, par is absolute 0.25 into sec
    val got = eng.runShrinkageQuery("b", Seq("beta"), 10,
      parentWeight = 0.2, docWeight = 0.2, lambda = 0.4,
      rules = Seq("recursive:true",
        "field:par,weight:0.25,length:false",
        "field:b,weight:0.5,length:true"))
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap

    // doc1 only (doc2 has no b): beta@1, doclen 6, T=9, cf=2/9
    // tree: sec[0,5) ⊃ par[1,4) ⊃ b[2,3); par[5,6) root
    val cf = 2.0 / 9.0
    val pDoc1 = (1 - 0.4) * (1.0 / 6.0) + 0.4 * cf
    // up (recursive, bottom-up; relative = (base·len + Σla·up)/divisor)
    val upB = 1.0 * (((0.0 * 1) + 0.0) / 1.0) + 0.0
    val upPar1 = { // b rule: length-proportional, la = 0.5·1
      var rel = (1.0 / 3.0) * 3; rel += (0.5 * 1) * upB
      1.0 * (rel / (3.0 + 0.5 * 1)) + 0.0
    }
    val upSec = { // par rule: absolute 0.25 of par's RECURSIVE up
      val rel = ((1.0 / 5.0) * 5) / 5.0
      (1.0 - 0.25) * rel + 0.25 * upPar1
    }
    // down (recursive: mix the parent's DOWN)
    val downSec = (1 - 0.2) * upSec + 0.2 * pDoc1
    val downPar1 = (1 - 0.2 - 0.2) * upPar1 + 0.2 * downSec + 0.2 * pDoc1
    val downB = (1 - 0.2 - 0.2) * upB + 0.2 * downPar1 + 0.2 * pDoc1
    val want = 1.0 * math.log((1 - 0.4) * downB + 0.4 * cf)
    assert(got.keySet == Set((1L, 2, 3)))
    assert(math.abs(got((1L, 2, 3)) - want) < 1e-12)
  }

  test("shrinkage queryLevelCombine:true mixes in log space (scalar model)") {
    val rows = Seq(
      (1L, "<sec>alpha <par>beta <b>gamma</b> delta</par> eps</sec> <par>tail</par>"),
      (2L, "<par>solo beta</par> <sec>plain</sec>")
    ).toDF("docId", "content")
    val cfg2 = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par"), FieldSpec("b")))
    val idx = IndexBuilder.build(rows, cfg2)
    val eng = new Engine(spark, idx, cfg2.analyzer, ScoringRule(method = "jm"))
    val got = eng.runShrinkageQuery("b", Seq("beta"), 10,
      parentWeight = 0.2, docWeight = 0.2, lambda = 0.4,
      rules = Seq("recursive:true,queryLevelCombine:true",
        "field:par,weight:0.25,length:false",
        "field:b,weight:0.5,length:true"))
      .collect().map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    // qlc: bases are λ-mixed LOG scores, passes mix logs, no final remix
    val cf = 2.0 / 9.0
    def lg(m: Double) = math.log((1 - 0.4) * m + 0.4 * cf)
    val pDoc1 = math.log((1 - 0.4) * (1.0 / 6.0) + 0.4 * cf)
    val upB = 1.0 * ((lg(0.0) * 1 + 0.0) / 1.0) + 0.0
    val upPar1 = { var rel = lg(1.0 / 3.0) * 3; rel += (0.5 * 1) * upB
      1.0 * (rel / (3.0 + 0.5 * 1)) + 0.0 }
    val upSec = (1.0 - 0.25) * ((lg(1.0 / 5.0) * 5) / 5.0) + 0.25 * upPar1
    val downSec = (1 - 0.2) * upSec + 0.2 * pDoc1
    val downPar1 = (1 - 0.2 - 0.2) * upPar1 + 0.2 * downSec + 0.2 * pDoc1
    val downB = (1 - 0.2 - 0.2) * upB + 0.2 * downPar1 + 0.2 * pDoc1
    assert(got.keySet == Set((1L, 2, 3)))
    assert(math.abs(got((1L, 2, 3)) - 1.0 * downB) < 1e-12)
  }

  test("appendText annotator: anchor tokens extend positions and doclen") {
    val docs = Seq(
      (1L, "alpha beta", "click here"),
      (2L, "gamma", null.asInstanceOf[String])
    ).toDF("docId", "content", "anchor")
    val cfg3 = IndexConfig(analyzerMode = "simple", blockSize = 16, numBuckets = 2)
    val idx = IndexBuilder.build(docs, cfg3,
      annotate = FieldAnnotators.appendText("anchor", cfg3.analyzer))
    val lens = idx.doclens.as[(Long, Int)].collect().toMap
    assert(lens(1L) == 4 && lens(2L) == 1) // anchor tokens count toward doclen
    val p = idx.postings.where(col("term") === "click")
      .select("docId", "positions").as[(Long, Seq[Int])].collect()
    assert(p.toSeq == Seq((1L, Seq(2)))) // appended AFTER the doc's tokens
  }

  test("annotator fields: headField + numericField on the simple analyzer") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", 4L),
      (2L, "beta beta beta", 3L)
    ).toDF("docId", "content", "nval")
    val cfg = IndexConfig(analyzerMode = "simple", blockSize = 16, numBuckets = 2)
    val idx = IndexBuilder.build(docs, cfg,
      annotate = df => FieldAnnotators.numericField("nval", "nval")(
        FieldAnnotators.headField(2)(df)))
    val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule(method = "okapi"))
    val heads = eng.evaluateRaw(QueryParser.parse("beta.head")).df
      .select("docId", "begins").as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(heads.map(_._1).toSeq == Seq(1L, 2L))
    assert(heads(0)._2 == Seq(1))       // beta at pos 1 in doc1
    assert(heads(1)._2 == Seq(0, 1))    // first two betas in doc2
    val eq = eng.evaluateRaw(QueryParser.parse("#equals(nval 3)")).df
      .select("docId").as[Long].collect().toSeq
    assert(eq == Seq(2L))
  }

  test("NEXI hardening: rel-about trees sans numerics, dotted CO terms, phrase stem collisions") {
    val rows = Seq(
      (1L, "<sec>alpha <par>beta gamma</par> delta</sec>"),
      (2L, "<sec>alpha epsilon</sec> <par>beta</par>")
    ).toDF("docId", "content")
    val cfg = IndexConfig(analyzerMode = "indri", blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec"), FieldSpec("par")))
    val eng = new Engine(spark, IndexBuilder.build(rows, cfg), cfg.analyzer,
      ScoringRule(method = "dirichlet"))
    // parenthesized tree with a relative-about leaf and NO numeric
    // clause — used to die on Seq.empty.reduce in the CAS scorer
    val mixed = eng.runNexi(
      "//sec[(about(.//par, beta) and about(., alpha)) or about(., delta)]", 10)
      .collect().map(_.getLong(0))
    assert(mixed.contains(1L)) // doc1's sec nests a par containing beta

    // CO terms with interior dots stay PLAIN terms: the old query-string
    // round-trip re-lexed 'node.js' as a field restriction, which throws
    // on a fieldless index ('no field extents indexed')
    val plainRows = Seq(
      (1L, "node js tutorial text"), (2L, "other document entirely")
    ).toDF("docId", "content")
    val plainCfg = IndexConfig(analyzerMode = "indri",
      blockSize = 16, numBuckets = 2)
    val plainEng = new Engine(spark,
      IndexBuilder.build(plainRows, plainCfg),
      plainCfg.analyzer, ScoringRule(method = "dirichlet"))
    val co = plainEng.runNexi("node.js tutorial", 10)
      .collect().map(_.getLong(0))
    assert(co.nonEmpty) // 'tutorial' matches doc1; no re-lex, no throw

    // phrase constituents are already processed — a stem that collides
    // with a stopword ('running'→porter→'run', 'run' stopped) must look
    // up VERBATIM, not re-enter the chain and null out
    val stemRows = Seq(
      (1L, "<sec>running shoes fit well</sec>"),
      (2L, "<sec>unrelated text entirely</sec>")
    ).toDF("docId", "content")
    val stemCfg = IndexConfig(analyzerMode = "indri", stemmerName = "porter",
      stopwords = Set("run"), blockSize = 16, numBuckets = 2,
      fields = Seq(FieldSpec("sec")))
    val stemEng = new Engine(spark, IndexBuilder.build(stemRows, stemCfg),
      stemCfg.analyzer, ScoringRule(method = "dirichlet"))
    val ph = stemEng.runNexi("""//sec[about(., "running shoes")]""", 10)
      .collect().map(_.getLong(0))
    assert(ph.contains(1L), "phrase with stopword-colliding stem must match")
  }

  test("baseline root rewrites: or/max/sum → Plus, wsum → WPlus, #not rejected") {
    val (idx, tcfg) = taggedIndex
    val okapiEng = new Engine(spark, idx, tcfg.analyzer, ScoringRule(method = "okapi"))
    val dfEq = (a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =>
      a.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        b.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // UnweightedCombinationNode roots rewrite to PlusNode — a plain sum,
    // identical to #combine's baseline Plus (QueryEnvironment.cpp:897-931)
    assert(dfEq(okapiEng.runQuery("#or(merge body)", 10, useDaat = false),
      okapiEng.runQuery("#combine(merge body)", 10, useDaat = false)))
    assert(dfEq(okapiEng.runQuery("#max(merge body)", 10, useDaat = false),
      okapiEng.runQuery("#combine(merge body)", 10, useDaat = false)))
    assert(dfEq(okapiEng.runQuery("#sum(merge body)", 10, useDaat = false),
      okapiEng.runQuery("#combine(merge body)", 10, useDaat = false)))
    // WeightedCombinationNode root → WPlusNode (raw weights): equal
    // weights 1.0 sum exactly like Plus
    assert(dfEq(okapiEng.runQuery("#wsum(1.0 merge 1.0 body)", 10, useDaat = false),
      okapiEng.runQuery("#combine(merge body)", 10, useDaat = false)))
    // NotNode is NOT an UnweightedCombinationNode: no rewrite exists,
    // the reference throws — and log(1−exp(okapi)) would be NaN, which
    // Spark ranks above every real score
    intercept[IllegalArgumentException] {
      okapiEng.runQuery("#not(merge)", 10, useDaat = false).collect()
    }
    // no NaN anywhere in the rewritten results
    val all = okapiEng.runQuery("#or(merge body)", 10, useDaat = false).collect()
    assert(all.forall(r => !r.getDouble(1).isNaN))
  }
}
