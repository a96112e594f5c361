package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.analysis.Analyzer
import graft.index.{Federation, InvertedIndex, SegmentStore}
import graft.search.{Engine, RelevanceModel, ScoringRule}

/** The IndriRunQuery application surface (reference:
  * runquery/IndriRunQuery.cpp): an XML parameter file names the
  * repositories, queries, retrieval rule and output options; the app
  * opens the repositories into one QueryEnvironment (multiple `<index>`
  * elements federate — QueryEnvironment::addIndex), runs every query,
  * and prints TREC-scorable lines.
  *
  * Parameter surface (same element names as the reference's usage block,
  * IndriRunQuery.cpp:30-260): `index`*, `query`* (bare text or
  * `<number>`, `<text>`, repeated `<workingSetDocno>` and
  * `<feedbackDocno>` children),
  * `count`, `rule`, `baseline`, `stopper.word`*, `runID`, `trecFormat`,
  * `queryOffset`, `fbDocs`, `fbTerms`, `fbOrigWeight`. Command-line
  * overlays are `-key=value` pairs appended to the tree
  * (Parameters::loadCommandLine).
  */
object RunQuery {

  /** one parsed `<query>` element (reference: push_queue,
    * runquery/IndriRunQuery.cpp:657-690). `queryType` is the
    * `<type>indri|nexi</type>` child — nexi routes through the NEXI
    * grammar and returns scored extents (reference: IndriRunQuery.cpp
    * usage block; QueryEnvironment parses NEXI when queryType="nexi").
    */
  final case class QuerySpec(
      number: Option[String],
      text: String,
      workingSet: Seq[String] = Nil,
      feedbackDocs: Seq[String] = Nil,
      queryType: String = "indri")

  final case class Params(
      indexPaths: Seq[String] = Nil,
      queries: Seq[QuerySpec] = Nil,
      count: Int = 1000,
      rule: Option[String] = None,
      // ALL <rule> entries, in order — more than one engages the
      // selector-matching rule list (QueryEnvironment::setScoringRules
      // takes a vector; SmoothingAnnotatorWalker matches per scorer)
      rules: Seq[String] = Nil,
      baseline: Option[String] = None,
      stopwords: Set[String] = Set.empty,
      runID: String = "indri",
      trecFormat: Boolean = false,
      queryOffset: Int = 0,
      fbDocs: Int = 0,
      fbTerms: Int = 10,
      fbOrigWeight: Double = 0.5,
      singleBackgroundModel: Boolean = false,
      maxWildcardTerms: Option[Int] = None,
      // INEX submission format (reference: IndriRunQuery.cpp:731-747,
      // 503-520, 468-474): <inex/> switches the output to the
      // <inex-submission> wrapper with per-topic <result> blocks
      inex: Boolean = false,
      inexParticipantID: String = "1",
      inexTask: String = "CO.Thorough",
      inexTopicPart: String = "T",
      inexDescription: String = "",
      inexQuery: String = "automatic",
      // verbose output toggles (reference: IndriRunQuery.cpp:579-582)
      printQuery: Boolean = false,
      printDocuments: Boolean = false,
      printPassages: Boolean = false,
      printSnippets: Boolean = false)

  // ------------------------------------------------------------------
  // parameter parsing
  // ------------------------------------------------------------------

  /** Parse an indri `<parameters>` XML document into the typed app
    * params — the reference app's typed reads off the [[ParamTree]].
    * Repeated elements accumulate in order.
    */
  def parseParams(xml: String): Params = fromTree(ParamTree.parseXml(xml))

  def fromTree(t: ParamTree): Params = Params(
    indexPaths = t.kids.collect {
      case (n, v) if n == "index" || n == "server" => v.value
    },
    queries = t.all("query").map { q =>
      if (q.kids.isEmpty) QuerySpec(None, q.value)
      else QuerySpec(
        number = q.first("number").map(_.value),
        // bare text fallback when no <text> child — reference
        // push_queue reads the element value itself
        text = q.first("text").map(_.value).getOrElse(q.value),
        workingSet = q.all("workingSetDocno").map(_.value),
        feedbackDocs = q.all("feedbackDocno").map(_.value),
        queryType = q.get("type", "indri") match {
          case t @ ("indri" | "nexi") => t
          case other => throw new IllegalArgumentException(
            s"unknown query type '$other' (indri|nexi)")
        })
    },
    count = t.getInt("count", 1000),
    rule = t.list("rule").headOption,
    rules = t.list("rule"),
    baseline = t.getOpt("baseline"),
    stopwords = t.list("stopper.word").toSet,
    runID = t.get("runID", "indri"),
    trecFormat = t.getBool("trecFormat", default = false),
    queryOffset = t.getInt("queryOffset", 0),
    fbDocs = t.getInt("fbDocs", 0),
    fbTerms = t.getInt("fbTerms", 10),
    fbOrigWeight = t.getDouble("fbOrigWeight", 0.5),
    singleBackgroundModel = t.getBool("singleBackgroundModel", default = false),
    maxWildcardTerms = t.getOpt("maxWildcardTerms").map(_.toInt),
    inex = t.getOpt("inex").isDefined,
    inexParticipantID = t.get("inex.participantID", "1"),
    inexTask = t.get("inex.task", "CO.Thorough"),
    inexTopicPart = t.get("inex.topicPart", "T"),
    inexDescription = t.get("inex.description", ""),
    inexQuery = t.get("inex.query", "automatic"),
    printQuery = t.getBool("printQuery", default = false),
    printDocuments = t.getBool("printDocuments", default = false),
    printPassages = t.getBool("printPassages", default = false),
    printSnippets = t.getBool("printSnippets", default = false))

  /** `-key=value` command-line overlay (Parameters::loadCommandLine);
    * `-stopper.word=x` appends a stopword like the reference's dotted
    * path form.
    */
  def overlay(p: Params, args: Seq[String]): Params =
    args.foldLeft(p) { (acc, a) =>
      val s = a.stripPrefix("-")
      val i = s.indexOf('=')
      require(i > 0, s"command-line parameter must be -key=value: $a")
      val (k, v) = (s.substring(0, i), s.substring(i + 1))
      k match {
        case "index" | "server" => acc.copy(indexPaths = acc.indexPaths :+ v)
        case "query" => acc.copy(queries = acc.queries :+ QuerySpec(None, v))
        case "count" => acc.copy(count = v.toInt)
        case "rule" =>
          acc.copy(rule = acc.rule.orElse(Some(v)), rules = acc.rules :+ v)
        case "baseline" => acc.copy(baseline = Some(v))
        case "stopper.word" => acc.copy(stopwords = acc.stopwords + v)
        case "runID" => acc.copy(runID = v)
        case "trecFormat" => acc.copy(trecFormat = v == "true" || v == "1")
        case "queryOffset" => acc.copy(queryOffset = v.toInt)
        case "fbDocs" => acc.copy(fbDocs = v.toInt)
        case "fbTerms" => acc.copy(fbTerms = v.toInt)
        case "fbOrigWeight" => acc.copy(fbOrigWeight = v.toDouble)
        case "singleBackgroundModel" =>
          acc.copy(singleBackgroundModel = v == "true" || v == "1")
        case "maxWildcardTerms" => acc.copy(maxWildcardTerms = Some(v.toInt))
        // the reference's loadCommandLine overlays ANY dotted key —
        // dropping the inex family here silently printed TREC lines
        // instead of the <inex-submission> wrapper
        case "inex" => acc.copy(inex = true) // existence check, like fromTree
        case "inex.participantID" => acc.copy(inexParticipantID = v)
        case "inex.task" => acc.copy(inexTask = v)
        case "inex.topicPart" => acc.copy(inexTopicPart = v)
        case "inex.description" => acc.copy(inexDescription = v)
        case "inex.query" => acc.copy(inexQuery = v)
        case "printQuery" => acc.copy(printQuery = v == "true" || v == "1")
        case "printDocuments" => acc.copy(printDocuments = v == "true" || v == "1")
        case "printPassages" => acc.copy(printPassages = v == "true" || v == "1")
        case "printSnippets" => acc.copy(printSnippets = v == "true" || v == "1")
        case _ => acc
      }
    }

  /** The `-rule`/`-baseline` pair → engine scoring rule. Baseline values
    * are `(tfidf|okapi)[,k:v]*` (reference: IndriRunQuery.cpp usage;
    * QueryEnvironment::setBaseline) — same comma/colon shape as rule
    * strings with the method leading.
    */
  def scoringSpec(p: Params): String = p.baseline match {
    case Some(b) =>
      val parts = b.split(",", 2)
      val m = parts(0).trim match {
        case "tfidf" => "tfidf"
        case "okapi" => "okapi"
        case other => throw new IllegalArgumentException(
          s"unknown baseline '$other' (tfidf|okapi)")
      }
      if (parts.length > 1) s"method:$m,${parts(1)}" else s"method:$m"
    case None => p.rule.getOrElse("method:dirichlet")
  }

  /** true when a rule string carries a SmoothingAnnotatorWalker
    * selector key (node:/field:/operator:) — such rules must go
    * through the per-scorer matching list even when alone
    */
  private[graft] def hasSelector(ruleText: String): Boolean =
    ruleText.split(",").iterator.map(_.trim).exists { part =>
      val k = part.split(":", 2)(0).trim
      k == "node" || k == "field" || k == "operator"
    }

  // ------------------------------------------------------------------
  // environment assembly
  // ------------------------------------------------------------------

  /** Open every `<index>` path and federate (addIndex semantics). The
    * stored handles are kernel-only views (postings = null), the same
    * shape Bench queries stored repositories with. Repositories built by
    * [[BuildIndex]] carry a metadata side table (docno + configured
    * fields); when every member has one, it attaches — rebased onto the
    * federation's documentBase offsets — so TREC lines print real
    * docnos and workingSet/feedback docnos resolve.
    */
  def openEnvironment(spark: SparkSession, p: Params,
                      analyzer: Analyzer): Engine = {
    require(p.indexPaths.nonEmpty, "no <index> elements in parameters")
    val members = p.indexPaths.map { dir =>
      val st = SegmentStore.open(spark, dir)
      InvertedIndex(null, st.dictionary, st.doclens, st.stats, st.segments,
        st.fieldExtents, numBuckets = st.numBuckets)
    }
    val idx = if (members.size == 1) members.head else Federation.combine(members)
    // repositories record their analysis chain (BuildIndex.writeChain):
    // when every member agrees, query through THAT chain — stemming or
    // stopping queries differently than the postings is always wrong
    val chains = p.indexPaths.flatMap(BuildIndex.storedAnalyzer)
    // all-or-nothing: when SOME members record a chain, they must all
    // record the same one — silently falling back to the caller default
    // would stem queries differently than the postings (zero/wrong
    // results with no error); DumpIndex.merge requires the same
    require(chains.isEmpty ||
      (chains.size == p.indexPaths.size && chains.distinct.size == 1),
      "federated members' recorded analysis chains are absent or " +
        s"disagree across ${p.indexPaths.mkString(", ")} — querying " +
        "through one chain against postings built with another is " +
        "always wrong; rebuild the odd member or align the chains")
    val az = if (chains.nonEmpty) chains.head else analyzer
    val eng = environmentFor(spark, idx, p, az)
    val metas = p.indexPaths.map(BuildIndex.openMetadata(spark, _))
    if (metas.forall(_.isDefined)) {
      val rebased =
        if (members.size == 1) metas.head.get
        else Federation.derivedBases(members).zip(metas).map { case (b, m) =>
          m.get.withColumn("docId", col("docId") + lit(b))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
      eng.setMetadata(rebased)
    }
    // priors installed by MakePrior attach by name; docs outside a
    // member's table carry the reference lowProbability default, and
    // federated members rebase like metadata (a prior name present in
    // SOME members still covers the others through the default)
    val bases =
      if (members.size == 1) Seq(0L) else Federation.derivedBases(members)
    // pending deletes persisted by `dumpindex del` (the reference's
    // on-disk DeletedDocumentList): every member's list attaches,
    // rebased like metadata, until a compact releases it
    val dels = p.indexPaths.zip(bases).flatMap { case (dir, b) =>
      graft.index.RepositorySurgery.readDeletes(spark, dir)
        .map(_.withColumn("docId", col("docId") + lit(b)))
    }
    if (dels.nonEmpty) eng.deleteDocuments(dels.reduce(_ unionByName _))
    // stored collections attach like metadata (rebased), serving
    // documents()/printDocuments/printPassages/printSnippets text
    val colls = p.indexPaths.zip(bases).flatMap { case (dir, b) =>
      BuildIndex.openCollection(spark, dir)
        .map(_.withColumn("docId", col("docId") + lit(b)))
    }
    if (colls.size == p.indexPaths.size)
      eng.setCollection(colls.reduce(_ unionByName _))
    val priorNames = p.indexPaths.flatMap(MakePrior.storedPriors).distinct
    for (name <- priorNames) {
      val tables = p.indexPaths.zip(bases).flatMap { case (dir, b) =>
        if (MakePrior.storedPriors(dir).contains(name))
          Some(MakePrior.open(spark, dir, name)
            .withColumn("docId", col("docId") + lit(b)))
        else None
      }
      eng.setPrior(name, tables.reduce(_.unionByName(_)),
        defaultLog = MakePrior.DefaultLogPrior)
    }
    eng
  }

  /** Same assembly over an already-built index (tests / the driver
    * contract, where the repository lives in memory).
    */
  def environmentFor(spark: SparkSession, idx: InvertedIndex, p: Params,
                     analyzer: Analyzer): Engine = {
    val az = analyzer.copy(stopwords = analyzer.stopwords ++ p.stopwords)
    // reference validation (runquery/IndriRunQuery.cpp:707-708)
    require(!(p.baseline.isDefined && p.rules.nonEmpty),
      "Smoothing rules may not be specified when running a baseline.")
    val eng = new Engine(spark, idx, az, ScoringRule.parse(scoringSpec(p)))
    // the selector-matching list engages for two or more <rule> entries
    // OR any single rule carrying a node:/field:/operator: selector —
    // the reference SmoothingAnnotatorWalker matches selectors even
    // with one rule (non-matching scorers keep the mu-2500 default);
    // only a lone selector-free rule takes the global fast path
    if (p.baseline.isEmpty &&
        (p.rules.size > 1 || p.rules.exists(hasSelector)))
      eng.setScoringRules(p.rules)
    if (p.singleBackgroundModel) eng.setSingleBackgroundModel(true)
    p.maxWildcardTerms.foreach(eng.setMaxWildcardTerms)
    eng
  }

  // ------------------------------------------------------------------
  // execution
  // ------------------------------------------------------------------

  /** Run every query: numbering is `<number>` when present else
    * queryOffset + position — the reference numbers from the OFFSET
    * itself, not offset+1, despite its own usage text
    * (runquery/IndriRunQuery.cpp:671 `queryOffset + int(i)`; the doc
    * string says "one less than the starting query number").
    * Plain queries batch through runQueries (one shared stats round —
    * the QueryThread pool analogue); working-set, relevance-feedback
    * (feedbackDocno → RM over exactly those docs) and blind-feedback
    * (fbDocs) queries run individually like the reference's per-thread
    * paths.
    */
  def execute(engine: Engine, p: Params): Seq[(String, DataFrame)] = {
    val spark = engine.spark
    import spark.implicits._
    // docno strings resolve through metadata when attached, else they
    // must be numeric ids (reference working sets/feedback sets name
    // documents by DOCNO metadata)
    def resolveDocs(docnos: Seq[String]): Seq[Long] =
      scala.util.Try(docnos.map(_.toLong)).getOrElse(
        engine.documentIDsFromMetadata("docno", docnos)
          .collect().map(_.getLong(0)).toSeq)

    val numbered = p.queries.zipWithIndex.map { case (q, i) =>
      (i, q.number.getOrElse((p.queryOffset + i).toString), q)
    }
    // baseline mode rejects indri operators in EVERY query (reference:
    // IndriRunQuery.cpp:634-636 — '#' or '.' anywhere in the text)
    if (p.baseline.isDefined)
      numbered.foreach { case (_, _, q) =>
        require(!q.text.contains("#") && !q.text.contains("."),
          s"Can't run baseline on this query: ${q.text}\n" +
            "indri query language operators are not allowed.")
      }
    val plain = numbered.filter { case (_, _, q) =>
      q.queryType == "indri" &&
        q.workingSet.isEmpty && q.feedbackDocs.isEmpty && p.fbDocs == 0
    }
    val batched: Map[Int, DataFrame] =
      if (plain.isEmpty) Map.empty
      else engine.runQueries(plain.map(_._3.text), p.count)
        .zip(plain).map { case ((_, df), (i, _, _)) => i -> df }.toMap
    numbered.map { case (i, num, q) =>
      val df = batched.getOrElse(i, {
        if (q.queryType == "nexi")
          // scored extents (docId, begin, end, score) — the extent
          // bounds ride into the output lines; a working set restricts
          // the CAS target extents before scoring (FilterNode semantics)
          engine.runNexi(q.text, p.count,
            if (q.workingSet.isEmpty) None
            else Some(resolveDocs(q.workingSet).toDF("docId")))
        else if (q.workingSet.nonEmpty)
          engine.runQuery(q.text, p.count, resolveDocs(q.workingSet).toDF("docId"))
        else if (q.feedbackDocs.nonEmpty) {
          // true relevance feedback: expansion over EXACTLY the named
          // docs (reference: relFBDocs replace the retrieval as the
          // feedback set, runquery/IndriRunQuery.cpp:385-400). The
          // expander is whichever the environment built: TFIDF whenever
          // baseline is set, RM otherwise (IndriRunQuery.cpp:584-598)
          val top = resolveDocs(q.feedbackDocs).map(_ -> 0.0)
          val rm = RelevanceModel.Params(fbDocs = top.size,
            fbTerms = p.fbTerms, fbOrigWeight = p.fbOrigWeight)
          if (p.baseline.isDefined)
            engine.runQuery(
              graft.search.Expanders.tfidfExpandFromResults(
                engine, q.text, top, rm), p.count)
          else {
            val probs = RelevanceModel.rm1FromResults(engine, top, rm)
              .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
            engine.runQuery(
              RelevanceModel.expandedQuery(q.text, probs, rm), p.count)
          }
        } else if (p.baseline.isDefined) {
          // baseline + fbDocs: the reference swaps in the TFIDF expander
          // with rule = method:<baseline> (IndriRunQuery.cpp:584-594)
          val rm = RelevanceModel.Params(fbDocs = p.fbDocs,
            fbTerms = p.fbTerms, fbOrigWeight = p.fbOrigWeight)
          engine.runQuery(
            graft.search.Expanders.tfidfExpand(engine, q.text, p.count, rm),
            p.count)
        } else {
          val rm = RelevanceModel.Params(fbDocs = p.fbDocs,
            fbTerms = p.fbTerms, fbOrigWeight = p.fbOrigWeight)
          RelevanceModel.runRm3(engine, q.text, p.count, rm)
        }
      })
      num -> df
    }
  }

  // ------------------------------------------------------------------
  // presentation
  // ------------------------------------------------------------------

  /** C++ default-ostream double formatting (what the reference streams
    * into every output line): %g semantics at precision 6 — trailing
    * zeros trimmed, two-digit exponent. Pinned against g++-generated
    * golden vectors in RunQuerySpec.
    */
  def cppDouble(v: Double, precision: Int = 6): String = {
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    if (v == 0.0)
      return if (java.lang.Double.doubleToRawLongBits(v) != 0L) "-0" else "0"
    // glibc %g rounds the EXACT binary value of the double to
    // `precision` significant digits (ties to even) — Java's Formatter
    // instead rounds the SHORTEST decimal representation half-up, which
    // flips the last digit whenever that shortest form sits exactly on
    // the rounding boundary (e.g. -6.806175 stores as -6.8061749999…,
    // so C prints -6.80617 but Java's "%.6g" prints -6.80618). Exact
    // BigDecimal + HALF_EVEN reproduces the C behavior byte-for-byte.
    val sign = if (v < 0) "-" else ""
    val bd = new java.math.BigDecimal(math.abs(v))
      .round(new java.math.MathContext(precision, java.math.RoundingMode.HALF_EVEN))
    val digits = bd.unscaledValue.toString
    val e = bd.precision - bd.scale - 1 // value = d.ddd… × 10^e
    def trimFrac(frac: String): String = {
      val t = frac.reverse.dropWhile(_ == '0').reverse
      if (t.isEmpty) "" else "." + t
    }
    if (e < -4 || e >= precision) {
      val mant = digits.head + trimFrac(digits.tail)
      val es = if (e < 0) "-" else "+"
      sign + mant + f"e$es${math.abs(e)}%02d"
    } else if (e >= 0) {
      val ds = if (digits.length < e + 1) digits.padTo(e + 1, '0') else digits
      sign + ds.take(e + 1) + trimFrac(ds.drop(e + 1))
    } else {
      sign + "0." + ("0" * (-e - 1)) + digits.reverse.dropWhile(_ == '0').reverse
    }
  }

  /** TREC-scorable result lines: `number Q0 docno rank score runID`
    * (reference: IndriRunQuery.cpp:459-466); the non-TREC default is
    * `score\tdocno\tbegin\tend` (:475-480; whole-document results carry
    * the default extent begin=0, end=0 —
    * include/indri/ScoredExtentResult.hpp:52-53). `docno` resolves
    * through the docno metadata
    * attribute when the engine carries a metadata table, else the docId.
    * `fixedPrecision` switches score text to %.Nf — the cross-engine-
    * deterministic form the driver oracle uses (C++ %g formatting is
    * covered separately by the golden-vector spec).
    */
  def trecLines(engine: Engine, number: String, results: DataFrame,
                p: Params, fixedPrecision: Option[Int] = None): DataFrame = {
    // extent results (NEXI / passage queries) carry begin/end columns:
    // they tiebreak the ranking and print in the non-TREC line
    val hasExtents = results.columns.contains("begin")
    val order =
      if (hasExtents) Seq(col("score").desc, col("docId").asc, col("begin").asc)
      else Seq(col("score").desc, col("docId").asc)
    val ranked = results
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
    val withName = scala.util.Try(
      engine.documentMetadata(ranked.select("docId"), Seq("docno"))).toOption match {
      case Some(meta) =>
        ranked.join(meta, Seq("docId"), "left")
          .withColumn("docno",
            coalesce(col("docno"), col("docId").cast("string")))
      case None => ranked.withColumn("docno", col("docId").cast("string"))
    }
    val scoreTxt = fixedPrecision match {
      case Some(n) => format_string(s"%.${n}f", round(col("score"), n))
      case None => udf((d: Double) => cppDouble(d)).apply(col("score"))
    }
    val (beginTxt, endTxt) =
      if (hasExtents) (col("begin").cast("string"), col("end").cast("string"))
      else (lit("0"), lit("0"))
    val line =
      if (p.trecFormat)
        concat_ws(" ", lit(number), lit("Q0"), col("docno"),
          col("rank").cast("string"), scoreTxt, lit(p.runID))
      else
        concat_ws("\t", scoreTxt, col("docno"), beginTxt, endTxt)
    withName.select(lit(number).as("query_number"), col("rank"),
      col("docId"), line.as("line"),
      beginTxt.cast("int").as("begin"), endTxt.cast("int").as("end"))
      .orderBy(col("rank"))
  }

  /** [[trecLines]] plus the verbose per-result appendices (reference:
    * IndriRunQuery.cpp:483-498): `printDocuments` appends the stored
    * text, `printPassages` the byte slice covering the result extent's
    * token span (positions[begin].begin … positions[end-1].end), and
    * `printSnippets` the SnippetBuilder line. All three need the
    * repository's stored collection. Appendices ride inside the `line`
    * column separated by newlines, preserving the reference's print
    * order.
    */
  def verboseLines(engine: Engine, number: String, results: DataFrame,
                   p: Params, queryText: String,
                   fixedPrecision: Option[Int] = None): DataFrame = {
    val base = trecLines(engine, number, results, p, fixedPrecision)
    if (!(p.printDocuments || p.printPassages || p.printSnippets)) return base
    val coll = engine.collectionTable.getOrElse(throw new UnsupportedOperationException(
      "printDocuments/printPassages/printSnippets need a repository with a " +
        "stored collection (BuildIndex writes one)"))
    var out = base.join(coll.select(col("docId"), col("content")),
      Seq("docId"), "left")
    var line = col("line")
    if (p.printDocuments)
      line = concat_ws("\n", line, coalesce(col("content"), lit("")))
    if (p.printPassages) {
      val az = engine.analyzer
      val passageUdf = udf { (text: String, b: Int, e: Int) =>
        if (text == null) ""
        else {
          val (bs, es) = az.tokenOffsets(text)
          if (b >= 0 && e > b && e <= bs.length) text.substring(bs(b), es(e - 1))
          else text // whole-document results print the full text
        }
      }
      line = concat_ws("\n", line,
        passageUdf(col("content"), col("begin"), col("end")))
    }
    if (p.printSnippets) {
      val snips = graft.search.Snippets.build(
        coll.join(base.select("docId").distinct(), Seq("docId"), "left_semi"),
        queryText, engine.analyzer)
      out = out.join(snips, Seq("docId"), "left")
      line = concat_ws("\n", line, coalesce(col("snippet"), lit("")))
    }
    out.select(col("query_number"), col("rank"), col("docId"),
      line.as("line"), col("begin"), col("end"))
      .orderBy(col("rank"))
  }

  /** INEX submission wrapper lines (reference: IndriRunQuery.cpp:
    * 738-747, 778-780 — note `  <description>\n` + the description on
    * its own line + `\n  </description>`)
    */
  def inexHeader(p: Params): Seq[String] = Seq(
    s"<inex-submission participant-id=\"${p.inexParticipantID}\"" +
      s" run-id=\"${p.runID}\" task=\"${p.inexTask}\"" +
      s" query=\"${p.inexQuery}\" topic-part=\"${p.inexTopicPart}\">",
    "  <description>",
    p.inexDescription,
    "  </description>")

  def inexFooter: Seq[String] = Seq("</inex-submission>")

  /** One query's INEX topic block (reference: IndriRunQuery.cpp:503-511
    * topic header with the hardwired ieee collection, :468-474 the
    * per-result file/path/rsv block). The `path` is the deepest field
    * extent containing the result extent (QueryEnvironment::pathNames);
    * whole-document results get begin = end = 0, which any extent
    * starting at 0 contains — so they take that extent's path exactly
    * like the reference's findLeaf descent (only documents with no
    * position-0 extent get the empty path). Returns (rank, docId,
    * block) rows.
    */
  def inexLines(engine: Engine, number: String, results: DataFrame,
                p: Params, fixedPrecision: Option[Int] = None): DataFrame = {
    val hasExtents = results.columns.contains("begin")
    val order =
      if (hasExtents) Seq(col("score").desc, col("docId").asc, col("begin").asc)
      else Seq(col("score").desc, col("docId").asc)
    val base0 = results
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
    val base =
      if (hasExtents) base0
      else base0.withColumn("begin", lit(0)).withColumn("end", lit(0))
    val withPath = engine.pathNames(base)
    val withName = scala.util.Try(
      engine.documentMetadata(withPath.select("docId"), Seq("docno"))).toOption match {
      case Some(meta) =>
        withPath.join(meta, Seq("docId"), "left")
          .withColumn("docno",
            coalesce(col("docno"), col("docId").cast("string")))
      case None => withPath.withColumn("docno", col("docId").cast("string"))
    }
    val scoreTxt = fixedPrecision match {
      case Some(n) => format_string(s"%.${n}f", round(col("score"), n))
      case None => udf((d: Double) => cppDouble(d)).apply(col("score"))
    }
    val block = concat(
      lit("    <result>\n      <file>"), col("docno"),
      lit("</file>\n      <path>"), col("path"),
      lit("</path>\n      <rsv>"), scoreTxt,
      lit("</rsv>\n    </result>"))
    withName.select(lit(number).as("query_number"), col("rank"),
      col("docId"), block.as("line"))
      .orderBy(col("rank"))
  }

  /** the per-topic wrapper around [[inexLines]] output */
  def inexTopicHeader(number: String): Seq[String] = Seq(
    s"  <topic topic-id=\"$number\">",
    "    <collections>",
    "      <collection>ieee</collection>",
    "    </collections>")

  def inexTopicFooter: Seq[String] = Seq("  </topic>")

  /** parse file + overlay args + open + run + print — the `main` shape */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunQuery <param.xml> [-key=value ...]")
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args.head)), "UTF-8")
    val p = overlay(parseParams(xml), args.tail.toSeq)
    val spark = SparkSession.builder()
      .appName("graft-runquery")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    val engine = openEnvironment(spark, p, Analyzer())
    if (p.inex) {
      inexHeader(p).foreach(println)
      for ((num, df) <- execute(engine, p)) {
        inexTopicHeader(num).foreach(println)
        inexLines(engine, num, df, p).collect().foreach(r => println(r.getString(3)))
        inexTopicFooter.foreach(println)
      }
      inexFooter.foreach(println)
    } else {
      val byNum = p.queries.zipWithIndex.map { case (q, i) =>
        q.number.getOrElse((p.queryOffset + i).toString) -> q.text
      }.toMap
      for ((num, df) <- execute(engine, p)) {
        if (p.printQuery) println(s"# query: ${byNum.getOrElse(num, "")}")
        verboseLines(engine, num, df, p, byNum.getOrElse(num, ""))
          .collect().foreach(row => println(row.getString(3)))
      }
    }
    spark.stop()
  }
}
