package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.Analyzer
import graft.index.{CorpusStats, InvertedIndex}

/** A raw (match) node evaluated to a distributed extent list:
  * df = (docId: Long, begins: Array[Int], ends: Array[Int], doclen: Int).
  * tf = begins.length. Mirrors ListIteratorNode extents
  * (reference: include/indri/DocListIterator.hpp:30-33 — term extent at
  * position p is [p, p+1)).
  */
final case class RawResult(df: DataFrame)

/** A belief node evaluated to scores over its candidate documents plus a
  * composable background score for documents outside its match set
  * (the NullScorer/background semantics of the inference network).
  * df = (docId: Long, score: Double, doclen: Int).
  */
final case class Belief(df: DataFrame, bg: Int => Double)

/** An annotated retrieval: ranked results plus per-node match extents
  * for the returned documents (reference:
  * include/indri/QueryAnnotation.hpp:30-43).
  */
final case class QueryAnnotation(results: DataFrame, annotations: DataFrame)

/** Global term statistics gathered in the stats round
  * (reference two-round design: src/QueryEnvironment.cpp:957-984 — stats
  * are summed across servers BEFORE scoring; here: one broadcast-sized
  * collect from the dictionary, never a per-doc collect).
  */
final case class TermStats(ctf: Long, df: Long, minDl: Int = 1)

/** one per-field shrinkage smoothing rule (reference: ShrinkageBeliefNode
  * smoothing_rule, include/indri/ShrinkageBeliefNode.hpp:54-58). Top
  * level so broadcasting a rule map never drags an Engine $outer
  * reference (and its Datasets) into the closure.
  */
final case class ShrinkRule(field: String, weight: Double,
                            lengthProportional: Boolean)

/** Serializable fold tree for parenthesized NEXI clause nesting
  * (reference: src/nexilang.g:312-363): leaves index the per-extent
  * clause-belief array; [[ClauseScorer]] folds `and` as CombineNode over
  * two children (½·l + ½·r mean of logs), `or` as OrNode
  * (log(1−Π(1−exp))). Top level so broadcasting a tree never captures
  * an Engine $outer.
  */
sealed trait ScoreTree extends Serializable
final case class ScoreLeaf(g: Int) extends ScoreTree
final case class ScoreBool(or: Boolean, left: ScoreTree, right: ScoreTree) extends ScoreTree

/** Score-combination ops + fold for [[Engine]]'s generic combiner — top
  * level, like ShrinkRule/ScoreTree above, so the combine UDF never
  * captures an Engine $outer. Class-nested versions made every
  * combined-belief task closure serialize the Engine AND its
  * SparkSession — which works only while the session's lazy
  * ObservationManager field is uninitialized; the first
  * `Dataset.observe` anywhere in the session initializes it and every
  * later combined query then dies with Task-not-serializable (found by
  * the round-6 sf0.1 full-gate run).
  */
private[search] object CombineOps {
  sealed trait CombineOp extends Serializable
  case object OpSum extends CombineOp            // PlusNode / weighted sums
  case object OpWsum extends CombineOp           // log(Σ w·exp(s))
  case object OpOr extends CombineOp             // log(1 − Π(1 − exp(s)))
  case object OpMax extends CombineOp

  def fold(op: CombineOp, weights: Array[Double], scores: Array[Double]): Double = op match {
    case OpSum =>
      var acc = 0.0; var i = 0
      while (i < scores.length) { acc += weights(i) * scores(i); i += 1 }
      acc
    case OpWsum =>
      var acc = 0.0; var i = 0
      while (i < scores.length) { acc += weights(i) * math.exp(scores(i)); i += 1 }
      math.log(acc)
    case OpOr =>
      var notAny = 1.0; var i = 0
      while (i < scores.length) { notAny *= (1.0 - math.exp(scores(i))); i += 1 }
      math.log(1.0 - notAny)
    case OpMax =>
      var acc = Double.NegativeInfinity; var i = 0
      while (i < scores.length) { if (scores(i) > acc) acc = scores(i); i += 1 }
      acc
  }
}

object ScoreTree {
  /** map a parsed ClauseTree to leaf indices in in-order positions */
  def from(t: NexiParser.ClauseTree): ScoreTree = {
    var next = -1
    def walk(n: NexiParser.ClauseTree): ScoreTree = n match {
      case NexiParser.ClauseLeaf(_) => next += 1; ScoreLeaf(next)
      case NexiParser.ClauseBool(op, l, r) =>
        val lt = walk(l); val rt = walk(r)
        ScoreBool(op == "or", lt, rt)
    }
    walk(t)
  }
}

/** Per-extent NEXI clause-belief evaluator behind every CAS shape (one
  * or two levels; about, relative-about and numeric leaves; flat or
  * parenthesized folds). Children and groups use a GLOBAL numbering so
  * ONE prepLeaves round + ONE numeric-stats round serve both levels of
  * a two-level query; an instance scores the group range [gLo, gHi)
  * and folds it with its level's connector (flat and/or, or a
  * parenthesized ScoreTree whose leaves are range-local). Top-level and
  * Serializable so broadcast closures never capture an Engine $outer.
  *
  * Undefined-group semantics (the flat path's rules): a relative about
  * with no contained extent is undefined; `or` skips an undefined side
  * (noisy-or over the defined ones), `and` drops the extent — at every
  * fold node. Returns None when the whole clause is undefined.
  */
private[search] final class ClauseScorer(
    fns: Array[TermScoreFunction],
    termIdx: Map[String, Seq[Int]],
    childStart: Array[Int],
    wChild: Array[Double],
    lens: Array[Int],
    negs: Array[Boolean],
    numFnByGroup: Map[Int, TermScoreFunction],
    relOfGroup: Array[String],
    gLo: Int, gHi: Int,
    isOr: Boolean,
    tree: ScoreTree) extends Serializable {

  /** bag belief of children [firstChild, lastChild) in context [b, e):
    * children fold in query order (deterministic FP), missing terms
    * contribute tf = 0, negated children map through ln(1 − e^s)
    */
  private def bag(firstChild: Int, lastChild: Int,
                  tp: Map[String, Seq[Int]], b: Int, e: Int): Double = {
    val ctx = e - b
    val tfByChild = new Array[Int](fns.length)
    if (tp != null) tp.foreach { case (t, ps) =>
      termIdx.getOrElse(t, Nil).foreach { ci =>
        if (ci >= firstChild && ci < lastChild) {
          val len = lens(ci)
          // greedy non-overlap count (reference ListBeliefNode rule;
          // len=1 term matches are never overlapping — identical)
          var c0 = 0
          var lastEnd = 0
          ps.foreach { p =>
            if (p >= b && p + len <= e && p >= lastEnd) { c0 += 1; lastEnd = p + len } }
          tfByChild(ci) = c0
        }
      }
    }
    var acc = 0.0
    var ci = firstChild
    while (ci < lastChild) {
      var sc = fns(ci).scoreOccurrence(tfByChild(ci).toDouble, ctx)
      if (negs(ci)) sc = math.log1p(-math.exp(sc))
      acc += wChild(ci) * sc
      ci += 1
    }
    acc
  }

  /** clause belief in context [b, e); numx rows = (globalGroup, begins,
    * ends) of matching numeric-predicate extents, relx rows = (field,
    * begins, ends) of relative-about target extents
    */
  def score(tp: Map[String, Seq[Int]], numx: Seq[Row], relx: Seq[Row],
            b: Int, e: Int): Option[Double] = {
    val n = gHi - gLo
    val ctx = e - b
    val groupScore = new Array[Double](n)
    val defined = new Array[Boolean](n)
    var g = gLo
    while (g < gHi) {
      val li = g - gLo
      if (relOfGroup(g) == null) {
        // plain about group (numeric groups add below over the empty
        // child range) in [b, e)
        groupScore(li) = bag(childStart(g), childStart(g + 1), tp, b, e)
        defined(li) = !numFnByGroup.contains(g)
      } else if (relx != null) {
        relx.foreach { r =>
          if (r.getString(0) == relOfGroup(g)) {
            val sbs = r.getSeq[Int](1); val ses = r.getSeq[Int](2)
            var best = Double.NegativeInfinity
            var any = false
            sbs.indices.foreach { si =>
              if (sbs(si) >= b && ses(si) <= e) {
                any = true
                val s0 = bag(childStart(g), childStart(g + 1), tp, sbs(si), ses(si))
                if (s0 > best) best = s0
              }
            }
            if (any) { groupScore(li) = best; defined(li) = true }
          }
        }
      }
      g += 1
    }
    // numeric groups: contained matching extents count as occurrences
    numFnByGroup.foreach { case (gi, fn) =>
      if (gi >= gLo && gi < gHi) {
        var occ = 0
        if (numx != null) numx.foreach { r =>
          if (r.getInt(0) == gi) {
            val nb = r.getSeq[Int](1); val ne = r.getSeq[Int](2)
            var lastEnd = 0
            nb.indices.foreach { j =>
              if (nb(j) >= b && ne(j) <= e && nb(j) >= lastEnd) {
                occ += 1; lastEnd = ne(j)
              }
            }
          }
        }
        groupScore(gi - gLo) += 1.0 * fn.scoreOccurrence(occ.toDouble, ctx)
        defined(gi - gLo) = true
      }
    }
    if (tree != null) {
      def foldT(t: ScoreTree): (Double, Boolean) = t match {
        case ScoreLeaf(g0) => (groupScore(g0), defined(g0))
        case ScoreBool(or0, l, r) =>
          val (ls, ld) = foldT(l); val (rs, rd) = foldT(r)
          if (or0) {
            if (ld && rd)
              (math.log(1.0 - (1.0 - math.exp(ls)) * (1.0 - math.exp(rs))), true)
            else if (ld) (ls, true)
            else if (rd) (rs, true)
            else (0.0, false)
          } else if (ld && rd) (ls / 2 + rs / 2, true)
          else (0.0, false)
      }
      val (s, d) = foldT(tree)
      if (d) Some(s) else None
    } else if (n == 1) {
      if (defined(0)) Some(groupScore(0)) else None
    } else if (isOr) {
      if (!defined.exists(identity)) None
      else {
        var notAny = 1.0; var i = 0
        while (i < n) {
          if (defined(i)) notAny *= (1.0 - math.exp(groupScore(i)))
          i += 1
        }
        Some(math.log(1.0 - notAny))
      }
    } else {
      if (defined.exists(d0 => !d0)) None
      else {
        var s = 0.0; var i = 0
        while (i < n) { s += groupScore(i) / n; i += 1 }
        Some(s)
      }
    }
  }
}

/** The QueryEnvironment facade (reference:
  * include/indri/QueryEnvironment.hpp:176-346) over Spark DataFrames.
  *
  * Scoring follows the inference-network semantics with the baseline
  * rewrite applied automatically for okapi/tfidf rules
  * (reference: src/QueryEnvironment.cpp:895-937): root #combine → plain
  * sum (PlusNode), root #weight → raw-weighted sum (WPlusNode).
  *
  * Floating-point determinism: every combiner folds its children in
  * query order (duplicates included), so scores are bit-reproducible and
  * match the scalar oracle that does the same.
  */
final class Engine(
    // @transient: an Engine accidentally captured in a task closure must
    // NOT drag the SparkSession with it — the session stops being
    // Java-serializable the moment anything initializes its lazy
    // ObservationManager (first Dataset.observe in the session), and no
    // executor-side code path reads `spark` anyway (driver-only field)
    @transient val spark: SparkSession,
    val index: InvertedIndex,
    val analyzer: Analyzer,
    var rule: ScoringRule = ScoringRule(method = "okapi")
) extends Serializable {

  import spark.implicits._
  import CombineOps._

  def setScoringRules(spec: String): Unit = {
    rule = ScoringRule.parse(spec); smoothRules = Nil
  }

  /** One selector-carrying smoothing rule (reference:
    * include/indri/SmoothingAnnotatorWalker.hpp:30-35 rule_type).
    */
  private final case class SmoothRule(node: String, field: String,
                                      op: String, parsed: ScoringRule)

  private var smoothRules: Seq[SmoothRule] = Nil

  /** Rule LISTS with `node:` / `field:` / `operator:` selectors — the
    * QueryEnvironment::setScoringRules(vector) surface. Each scorer takes
    * the LAST matching rule (the walker iterates in reverse,
    * SmoothingAnnotatorWalker.hpp:87-100); non-selector keys accumulate
    * into the smoothing spec in order; scorers matched by no rule take
    * the reference default `method:dirichlet,mu:2500`
    * (SmoothingAnnotatorWalker.hpp:104). `field` matches the scorer's
    * CONTEXT field (context restriction / extent restriction / NEXI CAS
    * path — a multi-field context matches only `field:*`, mirroring the
    * walker's single-child ExtentOr descent); `operator` matches "term"
    * for term/wsyn leaves and "window" for #odN/#uwN.
    */
  def setScoringRules(specs: Seq[String]): Unit = {
    rule = ScoringRule(method = "dirichlet") // the walker's default
    smoothRules = specs.map { ruleText =>
      var node = "RawScorerNode"; var fld = "*"; var op = "*"
      val smoothing = new StringBuilder
      ruleText.split(",").iterator.map(_.trim).filter(_.nonEmpty).foreach { p =>
        val (k, v) = p.split(":", 2) match {
          case Array(key, value) => (key, value)
          case _ => throw new IllegalArgumentException(
            s"malformed scoring-rule component '$p' in rule '$ruleText' " +
              "(expected key:value)")
        }
        k.trim match {
          case "node" => node = v.trim
          case "field" => fld = v.trim
          case "operator" => op = v.trim
          case key =>
            if (smoothing.nonEmpty) smoothing.append(",")
            smoothing.append(key).append(":").append(v.trim)
        }
      }
      SmoothRule(node, fld, op, ScoringRule.parse(smoothing.toString))
    }
  }

  /** last-matching-rule resolution for one scorer (reference:
    * SmoothingAnnotatorWalker.hpp:87-100 _matchSmoothingRule)
    */
  private def ruleFor(field: String, op: String): ScoringRule =
    smoothRules.reverseIterator
      .find(r => r.node == "RawScorerNode" &&
        (r.field == field || r.field == "*") &&
        (r.op == op || r.op == "*"))
      .map(_.parsed).getOrElse(rule)

  /** the walker's operator class for a raw leaf
    * (SmoothingAnnotatorWalker.hpp:128-141: ODNode/UWNode → "window",
    * IndexTerm/WeightedExtentOr → "term", anything else → "?")
    */
  private def opClassOf(node: QueryNode): String = node match {
    case _: OdNode | _: UwNode => "window"
    case _: TermNode | _: WsynNode => "term"
    case _ => "?"
  }

  /** named per-doc log-prior tables: name → ((docId, logPrior), default
    * log-prior for docs missing from the table) — the makeprior/PriorNode
    * pair (reference: makeprior/makeprior.cpp, src/PriorNode.cpp)
    */
  private var priors: Map[String, (DataFrame, Double)] = Map.empty

  def setPrior(name: String, table: DataFrame, defaultLog: Double = 0.0): Unit =
    priors += name -> (table.select(col("docId"), col("logPrior")), defaultLog)

  /** Deleted-document list (reference: src/DeletedDocumentList.cpp —
    * bitmap consulted during evaluation and merge). Belief-path queries
    * anti-join it; the DAAT kernel consults a broadcast in-memory set
    * (the bitmap analogue, bounded by DaatDeleteCap pending deletions)
    * and falls back to the anti-join path only beyond the cap — mass
    * deletions should compact instead (reference merge-time skipping:
    * src/IndexWriter.cpp:575-580).
    */
  private var deletedDocs: Option[DataFrame] = None
  private var deletedSetCache: Option[Option[Set[Long]]] = None

  def deleteDocuments(docIds: DataFrame): Unit = {
    val d = docIds.select(col(docIds.columns.head).cast(LongType).as("docId"))
    deletedDocs = Some(deletedDocs.map(_.union(d).distinct()).getOrElse(d))
    deletedSetCache = None
  }

  /** The pending-delete set as a driver-side bitmap for the DAAT paths —
    * the reference's DeletedDocumentList is exactly this in-memory
    * structure, bounded by pending deletions until the next compaction
    * (reference: src/DeletedDocumentList.cpp). Above the cap the kernel
    * paths defer to the anti-join belief path (mass deletions should
    * compact instead).
    */
  private val DaatDeleteCap = 100000

  /** placeholder for stopped/OOV window members in kernel plans — the
    * NUL prefix cannot collide with a real processed term
    */
  private val StoppedSentinel = "\u0000stopped"
  private def daatDeletedSet: Option[Set[Long]] = {
    deletedSetCache.getOrElse {
      val computed = deletedDocs match {
        case None => Some(Set.empty[Long])
        case Some(d) =>
          val rows = d.limit(DaatDeleteCap + 1).collect()
          if (rows.length > DaatDeleteCap) None
          else Some(rows.map(_.getLong(0)).toSet)
      }
      deletedSetCache = Some(computed)
      computed
    }
  }

  /** Rebuild the engine's index without the pending deletes and clear
    * the list — the Repository trim/compaction verb (reference:
    * IndexEnvironment::compact; merge-time skipping
    * src/IndexWriter.cpp:575-580). Collection statistics change to the
    * surviving corpus, exactly as a fresh build over it would.
    */
  def compacted(cfg: graft.index.IndexConfig): Engine = deletedDocs match {
    case None => this
    case Some(d) =>
      new Engine(spark, graft.index.IndexBuilder.compactDeletes(index, d, cfg),
        analyzer, rule)
  }

  /** drop deleted documents from any per-doc result — the
    * DeletedDocumentList bitmap consulted during ALL evaluation paths
    * (reference: src/DeletedDocumentList.cpp)
    */
  private def notDeleted(df: DataFrame): DataFrame = deletedDocs match {
    case Some(d) => df.join(d, Seq("docId"), "left_anti")
    case None => df
  }

  private def stats: CorpusStats = index.stats
  private def baseline: Boolean = rule.method == "okapi" || rule.method == "tfidf"

  /** wildcard expansion cap, settable like the reference's
    * QueryEnvironment::setMaxWildcardTerms (reference:
    * include/indri/InferenceNetworkBuilder.hpp:64 default 100;
    * src/QueryEnvironment.cpp:1400-1408)
    */
  var maxWildcardTerms = 100
  def setMaxWildcardTerms(n: Int): Unit = maxWildcardTerms = n

  /** single background model: when true, context-restricted scorers
    * smooth against the PLAIN collection background (the reference's
    * NoContextCountGraphCopier — stats gathered with the context
    * stripped) while their foreground counts stay in-context
    * (reference: src/QueryEnvironment.cpp:953-966,1410-1414;
    * QueryEnvironment::setSingleBackgroundModel, default false)
    */
  private var singleBackground = false
  def setSingleBackgroundModel(b: Boolean): Unit = singleBackground = b

  /** run a term through the query-side analysis chain (reference:
    * QueryEnvironment::stemTerm — null when stopped/empty)
    */
  def stemTerm(term: String): String = analyzer.processTerm(term)

  // ------------------------------------------------------------------
  // stats round
  // ------------------------------------------------------------------

  /** Gather per-term global stats for the query's term leaves — the
    * ContextSimpleCountAccumulator path (reference:
    * src/ContextSimpleCountAccumulator.cpp — answered from the lexicon,
    * no posting scan). One tiny collect (#queryTerms rows).
    */
  def termStatsFor(terms: Seq[String]): Map[String, TermStats] = {
    if (terms.isEmpty) return Map.empty
    index.dictionary
      .where(col("term").isin(terms.distinct: _*))
      .select("term", "ctf", "df", "minDocLen")
      .collect()
      .map(r => r.getString(0) -> TermStats(r.getLong(1), r.getLong(2), r.getInt(3)))
      .toMap
  }

  // ------------------------------------------------------------------
  // raw (extent) evaluation
  // ------------------------------------------------------------------

  private def termRaw(term: String): RawResult = {
    val df = index.postingsView(Seq(term))
      .select(
        col("docId"),
        col("positions").as("begins"),
        transform(col("positions"), p => p + 1).as("ends"),
        col("doclen"))
    RawResult(df)
  }

  /** empty match list (stopped/OOV query term → NullScorerNode analogue) */
  private def emptyRaw: RawResult = {
    val schema = StructType(Seq(
      StructField("docId", LongType), StructField("begins", ArrayType(IntegerType)),
      StructField("ends", ArrayType(IntegerType)), StructField("doclen", IntegerType)))
    RawResult(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** public entry — applies the deleted-document filter once on top of
    * the recursive evaluation
    */
  def evaluateRaw(node: QueryNode): RawResult =
    RawResult(notDeleted(evalRaw(node).df))

  private def evalRaw(node: QueryNode): RawResult = node match {
    case TermNode(t) =>
      val pt = analyzer.processTerm(t)
      if (pt == null) emptyRaw else termRaw(pt)

    case WildcardNode(prefix) =>
      val pt = Option(analyzer.processTerm(prefix)).getOrElse(prefix.toLowerCase)
      // range-bounded prefix probe: [pt, pt+U+FFFF] is a sortable range
      // predicate, so a sorted/range-partitioned dictionary prunes row
      // groups by min/max stats instead of scanning a 10^9-term
      // vocabulary; startsWith keeps exactness
      val expansions = index.dictionary
        .where(col("term") >= pt && col("term") <= pt + "\uffff" &&
          col("term").startsWith(pt))
        .orderBy("term").limit(maxWildcardTerms)
        .select("term").as[String].collect().toSeq
      if (expansions.isEmpty) emptyRaw
      else evalRaw(SynNode(expansions.map(TermNode(_))))

    case SynNode(children) =>
      // union of extents (reference: src/ExtentOrNode.cpp — merged, sorted)
      val raws = children.map(evalRaw).map(_.df)
      val stacked = raws.reduce(_ union _)
      val merged = stacked
        .select(col("docId"), arrays_zip(col("begins"), col("ends")).as("ex"), col("doclen"))
        .groupBy("docId")
        .agg(array_sort(flatten(collect_list(col("ex")))).as("ex"),
          first(col("doclen")).as("doclen"))
      RawResult(merged.select(
        col("docId"),
        col("ex.begins").as("begins"),
        col("ex.ends").as("ends"),
        col("doclen")))

    case WsynNode(children) =>
      // weights only affect belief scoring via extent weights; for match
      // semantics it is the synonym union (weights staged)
      evalRaw(SynNode(children.map(_._2)))

    case OdNode(window, children) =>
      windowRaw(children, ordered = true, window)

    case UwNode(window, children) =>
      windowRaw(children, ordered = false, window)

    case BandNode(children) =>
      // boolean AND: extent = whole document when all children match
      // (reference: src/BooleanAndNode.cpp)
      val raws = children.map(evalRaw).map(_.df)
      val joined = raws.map(_.select("docId", "doclen")).reduce { (a, b) =>
        a.join(b.select("docId"), Seq("docId"), "inner")
      }.dropDuplicates("docId")
      RawResult(joined.select(
        col("docId"),
        array(lit(0)).as("begins"),
        array(col("doclen")).as("ends"),
        col("doclen")))

    case AnyFieldNode(f) =>
      RawResult(fieldRaw(f))

    case FieldNumNode(op, f, lo, hi) =>
      // (reference: src/FieldLessNode.cpp:41 x < c; FieldGreaterNode x > c;
      // FieldBetweenNode.cpp:42 low <= x <= high; FieldEqualsNode x == c)
      val pred = op match {
        case "less"    => col("number") < hi
        case "greater" => col("number") > lo
        case "between" => col("number") >= lo && col("number") <= hi
        case "equals"  => col("number") === lo
      }
      RawResult(fieldRaw(f, pred))

    case FieldPathNode(op, a, b) =>
      // (reference: src/ExtentChildNode.cpp fast loop over index-recorded
      // ordinal/parent links; ExtentDescendantNode; ExtentParentNode)
      val ex = fieldExtents
      val selected = op match {
        case "child" =>
          // a extents whose DIRECT parent is a b extent
          ex.where(col("field") === a && col("parentField") === b)
        case "parent" =>
          // a extents that are the direct parent of some b extent
          val kids = ex.where(col("field") === b && col("parentField") === a)
            .select(col("docId"), col("parentOrdinal").as("ordinal")).distinct()
          ex.where(col("field") === a).join(kids, Seq("docId", "ordinal"), "left_semi")
        case "descendant" =>
          // a extents with ANY ancestor of field b: walk the parent chain
          // per document (extent trees are small per doc)
          val grouped = ex.groupBy("docId").agg(
            collect_list(struct(col("field"), col("begin"), col("end"),
              col("ordinal"), col("parentField"), col("parentOrdinal"))).as("all"))
          val descUdf = udf { (all: Seq[Row]) =>
            val byKey = all.map(r => (r.getString(0), r.getInt(3)) -> r).toMap
            all.filter { r =>
              r.getString(0) == a && {
                var pf = r.getString(4); var po = r.getInt(5)
                var found = false
                var hops = 0
                while (pf != null && !found && hops < 64) {
                  if (pf == b) found = true
                  else byKey.get((pf, po)) match {
                    case Some(p) => pf = p.getString(4); po = p.getInt(5)
                    case None => pf = null
                  }
                  hops += 1
                }
                found
              }
            }.map(r => (r.getInt(1), r.getInt(2)))
          }
          grouped.select(col("docId"), explode(descUdf(col("all"))).as("be"))
            .select(col("docId"), col("be._1").as("begin"), col("be._2").as("end"),
              lit(0L).as("number"), lit(0).as("ordinal"),
              lit(null).cast("string").as("parentField"), lit(0).as("parentOrdinal"),
              lit(a).as("field"))
      }
      RawResult(selected
        .groupBy("docId").agg(
          sort_array(collect_list(struct(col("begin"), col("end")))).as("ex"))
        .join(index.doclens, Seq("docId"), "inner")
        .select(col("docId"), col("ex.begin").as("begins"),
          col("ex.end").as("ends"), col("length").as("doclen")))

    case FieldRestrictNode(child, f) =>
      // ExtentInside: child extents fully contained in a field extent
      // (reference: src/ExtentInsideNode.cpp — inner.begin >= outer.begin
      // && inner.end <= outer.end)
      val c = evalRaw(child)
      val fx = fieldExtents.where(col("field") === f)
        .groupBy("docId").agg(
          sort_array(collect_list(struct(col("begin"), col("end")))).as("fex"))
      val insideUdf = udf { (bs: Seq[Int], es: Seq[Int], fb: Seq[Int], fe: Seq[Int]) =>
        val ob = scala.collection.mutable.ArrayBuffer.empty[Int]
        val oe = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < bs.length) {
          var j = 0
          var in = false
          while (j < fb.length && !in) {
            if (bs(i) >= fb(j) && es(i) <= fe(j)) in = true
            j += 1
          }
          if (in) { ob += bs(i); oe += es(i) }
          i += 1
        }
        (ob.toArray, oe.toArray)
      }
      val joined = c.df.join(fx, Seq("docId"), "inner")
        .withColumn("ex", insideUdf(col("begins"), col("ends"),
          col("fex.begin"), col("fex.end")))
        .where(size(col("ex._1")) > 0)
        .select(col("docId"), col("ex._1").as("begins"),
          col("ex._2").as("ends"), col("doclen"))
      RawResult(joined)

    case FieldListRestrictNode(child, fields) =>
      // t.f1,f2 — ExtentInside against the ExtentAnd of the field lists:
      // child extents contained in an INTERSECTION region of all listed
      // fields (reference: indrilang.g:511-527; intersection walk
      // src/ExtentAndNode.cpp:33-74 — touching intersections coalesce.
      // The reference's >2-field fold leaks each intermediate pass's
      // final region into the member vector (ExtentAndNode.cpp:73
      // pushes to `_extents`); we fold the pairwise walk correctly).
      val c = evalRaw(child)
      val fx = fieldExtents.where(col("field").isin(fields: _*))
        .groupBy("docId", "field").agg(
          sort_array(collect_list(struct(col("begin"), col("end")))).as("fex"))
        .groupBy("docId").agg(
          collect_list(struct(col("field"), col("fex"))).as("byField"))
        .where(size(col("byField")) === fields.distinct.length)
      val bcFields = fields.distinct
      val andUdf = udf { (bs: Seq[Int], es: Seq[Int], byField: Seq[Row]) =>
        // pairwise ExtentAnd fold over the field lists, then containment
        def and(one: Seq[(Int, Int)], two: Seq[(Int, Int)]): Seq[(Int, Int)] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var (i, j) = (0, 0)
          var cur = (0, 0)
          while (i < one.length && j < two.length) {
            val ib = math.max(one(i)._1, two(j)._1)
            val ie = math.min(one(i)._2, two(j)._2)
            val ibc = math.min(ib, ie)
            if (cur._2 < ibc) {
              if (cur._1 < cur._2) out += cur
              cur = (ibc, ie)
            } else cur = (cur._1, ie)
            if (one(i)._2 == ie) i += 1
            if (two(j)._2 == ie) j += 1
          }
          if (cur._1 != cur._2) out += cur
          out.toSeq
        }
        // union-normalize ONE field's extents first: nested/overlapping
        // extents (a <sec> inside a <sec>) merge into disjoint regions —
        // the pairwise walk assumes monotone disjoint inputs, and a
        // nested extent used to SHRINK the accumulated region via the
        // else branch, dropping matches inside already-covered space
        def norm(xs: Seq[(Int, Int)]): Seq[(Int, Int)] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          xs.sorted.foreach { case (b, e) =>
            if (out.nonEmpty && b <= out.last._2)
              out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
            else out += ((b, e))
          }
          out.toSeq
        }
        val m: Map[String, Seq[(Int, Int)]] = byField.map { r =>
          r.getString(0) -> r.getSeq[Row](1).map(x => (x.getInt(0), x.getInt(1)))
        }.toMap
        val lists = bcFields.map(f => norm(m(f)))
        val regions = lists.reduce(and)
        val ob = scala.collection.mutable.ArrayBuffer.empty[Int]
        val oe = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i < bs.length) {
          var j = 0
          var in = false
          while (j < regions.length && !in) {
            if (bs(i) >= regions(j)._1 && es(i) <= regions(j)._2) in = true
            j += 1
          }
          if (in) { ob += bs(i); oe += es(i) }
          i += 1
        }
        (ob.toArray, oe.toArray)
      }
      RawResult(c.df.join(fx, Seq("docId"), "inner")
        .withColumn("ex", andUdf(col("begins"), col("ends"), col("byField")))
        .where(size(col("ex._1")) > 0)
        .select(col("docId"), col("ex._1").as("begins"),
          col("ex._2").as("ends"), col("doclen")))

    case other =>
      throw new IllegalArgumentException(s"not a raw extent node: $other")
  }

  private def fieldExtents: DataFrame = {
    require(index.fieldExtents != null,
      "no field extents indexed — declare IndexConfig.fields or add a FieldAnnotator")
    index.fieldExtents
  }

  /** extents of field f (optionally filtered) as a RawResult */
  private def fieldRaw(f: String, pred: Column = lit(true)): DataFrame =
    fieldExtents.where(col("field") === f && pred)
      .groupBy("docId").agg(
        sort_array(collect_list(struct(col("begin"), col("end")))).as("ex"))
      .join(index.doclens, Seq("docId"), "inner")
      .select(col("docId"), col("ex.begin").as("begins"),
        col("ex.end").as("ends"), col("length").as("doclen"))

  /** k-way positional intersection for #odN / #uwN. Children are joined
    * on docId (all must match), then the per-document pointer walk runs
    * in a UDF over the position arrays — the distributed analogue of
    * OrderedWindowNode::prepare (reference: src/OrderedWindowNode.cpp:111-166)
    * and UnorderedWindowNode::prepare (reference: src/UnorderedWindowNode.cpp:69-186).
    */
  private def windowRaw(children: Seq[QueryNode], ordered: Boolean, window: Int): RawResult = {
    val raws = children.map(evalRaw)
    val k = raws.length
    require(k >= 2, "window operators need >= 2 children")
    val joined = raws.zipWithIndex.map { case (r, i) =>
      r.df.select(
        col("docId"),
        col("begins").as(s"b$i"),
        col("ends").as(s"e$i"),
        col("doclen"))
    }.reduce { (a, b) => a.join(b.drop("doclen"), Seq("docId"), "inner") }

    val beginsCols = array((0 until k).map(i => col(s"b$i")): _*)
    val endsCols = array((0 until k).map(i => col(s"e$i")): _*)
    val matchUdf = udf { (bs: Seq[Seq[Int]], es: Seq[Seq[Int]]) =>
      val extents =
        if (ordered) WindowMatcher.ordered(bs.map(_.toArray).toArray, es.map(_.toArray).toArray, window)
        else WindowMatcher.unordered(bs.map(_.toArray).toArray, es.map(_.toArray).toArray, window)
      extents
    }
    val out = joined
      .withColumn("ex", matchUdf(beginsCols, endsCols))
      .where(size(col("ex._1")) > 0)
      .select(
        col("docId"),
        col("ex._1").as("begins"),
        col("ex._2").as("ends"),
        col("doclen"))
    RawResult(out)
  }

  // ------------------------------------------------------------------
  // belief evaluation
  // ------------------------------------------------------------------

  /** score function for a raw expression from globally-gathered stats;
    * `ctxField` is the scorer's context field for per-field rule lists
    */
  private def scoreFnFor(node: QueryNode, raw: RawResult,
                         termStats: Map[String, TermStats],
                         qtf: Int, qtw: Option[Double],
                         cstats: Map[QueryNode, (Double, Long)] = Map.empty,
                         ctxField: String = "?"): TermScoreFunction = node match {
    case TermNode(t) =>
      val pt = analyzer.processTerm(t)
      val ts = if (pt == null) TermStats(0, 0) else termStats.getOrElse(pt, TermStats(0, 0))
      Scorers.forTerm(ruleFor(ctxField, "term"), ts.ctf.toDouble,
        stats.totalTerms.toDouble, ts.df.toDouble,
        stats.totalDocs, qtf, qtw)
    case _ =>
      // complex expression: gather occurrences/df by evaluating the match
      // list (ContextCountAccumulator analogue,
      // reference: src/ContextCountAccumulator.cpp). Normally answered
      // from the batched one-job stats round (complexStatsFor); the
      // per-leaf agg remains as a fallback for direct callers.
      val (occ, df) = cstats.getOrElse(node, {
        val cnt = udf { (bs: Seq[Int], es: Seq[Int]) =>
          WindowMatcher.dedupCount(bs, es).toLong }
        val r = raw.df.agg(
          coalesce(sum(cnt(col("begins"), col("ends"))), lit(0L)),
          count(lit(1))).head()
        (r.getLong(0).toDouble, r.getLong(1))
      })
      Scorers.forTerm(ruleFor(ctxField, opClassOf(node)), occ,
        stats.totalTerms.toDouble,
        df.toDouble, stats.totalDocs, qtf, qtw)
  }

  /** Complex (non-term) raw leaves needing a stats round, in traversal
    * order. Filter args of #filreq/#filrej are match-only (never
    * scored) and extent restriction scores per-extent contexts with its
    * own term stats, so neither contributes.
    */
  private def complexRawLeaves(node: QueryNode): Seq[QueryNode] = node match {
    case _: TermNode => Nil
    case ContextRestrictNode(child, _) if singleBackground =>
      // noContext stats: the background comes from the CHILD alone
      // (term stats ride the dictionary probe; complex children join
      // the batched round)
      child match {
        case _: TermNode => Nil
        case c => Seq(c)
      }
    case c: ContextRestrictNode => Seq(c)
    case r if isRawNode(r) => Seq(r)
    case CombineNode(cs) => cs.flatMap(complexRawLeaves)
    case WeightNode(cs) => cs.flatMap(c => complexRawLeaves(c._2))
    case WsumNode(cs) => cs.flatMap(c => complexRawLeaves(c._2))
    case SumNode(cs) => cs.flatMap(complexRawLeaves)
    case OrQNode(cs) => cs.flatMap(complexRawLeaves)
    case MaxQNode(cs) => cs.flatMap(complexRawLeaves)
    case NotQNode(c) => complexRawLeaves(c)
    case FilReqNode(_, s) => complexRawLeaves(s)
    case FilRejNode(_, s) => complexRawLeaves(s)
    case LengthPriorQNode(_, c) => complexRawLeaves(c)
    case _ => Nil
  }

  /** Weighted-extent occurrence table for #wsyn — shared by the stats
    * round and belief scoring (reference: src/WeightedExtentOrNode.cpp).
    */
  private def wsynOcc(children: Seq[(Double, QueryNode)]): DataFrame = {
    val stacked = children.map { case (w, c) =>
      evaluateRaw(c).df.select(col("docId"), lit(w).as("w"),
        col("begins"), col("ends"), col("doclen"))
    }.reduce(_ union _)
    // the weighted extents pool per document, then the belief count is
    // the greedy non-overlap scan over the pooled (begin,end) list
    // accumulating each counted extent's weight (reference: extents
    // carry weights, src/WeightedExtentOrNode.cpp; count rule
    // src/ListBeliefNode.cpp:58-74 `count += extents[i].weight`)
    val woccUdf = udf { (lists: Seq[Row]) =>
      val all = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
      lists.foreach { r =>
        val w = r.getDouble(0)
        val bs = r.getSeq[Int](1); val es = r.getSeq[Int](2)
        var i = 0
        while (i < bs.length) { all += ((bs(i), es(i), w)); i += 1 }
      }
      val sorted = all.sortBy(t => (t._1, t._2))
      var acc = 0.0
      var lastEnd = 0
      sorted.foreach { case (b, e, w) => if (b >= lastEnd) { acc += w; lastEnd = e } }
      acc
    }
    stacked.groupBy("docId").agg(
      collect_list(struct(col("w"), col("begins"), col("ends"))).as("lists"),
      first(col("doclen")).as("doclen"))
      .select(col("docId"), woccUdf(col("lists")).as("wocc"), col("doclen"))
  }

  /** 1-row (occ, df) ContextCount aggregate for one complex leaf. For a
    * context-restriction leaf the second slot carries the corpus
    * CONTEXT SIZE instead of df — the two stats ContextCountAccumulator
    * registers (reference: src/ContextCountAccumulator.cpp:60-66).
    */
  private def statsAgg(node: QueryNode): DataFrame = node match {
    case WsynNode(children) =>
      wsynOcc(children).agg(
        coalesce(sum(col("wocc")), lit(0.0)).as("occ"),
        count(lit(1)).as("df"))
    case ContextRestrictNode(child, contexts) =>
      contextFrame(child, contexts).agg(
        coalesce(sum(col("occ").cast(LongType)), lit(0L))
          .cast(DoubleType).as("occ"),
        coalesce(sum(col("ctxLen").cast(LongType)), lit(0L)).as("df"))
    case n =>
      val cnt = udf { (bs: Seq[Int], es: Seq[Int]) =>
        WindowMatcher.dedupCount(bs, es).toLong }
      evaluateRaw(n).df.agg(
        coalesce(sum(cnt(col("begins"), col("ends"))), lit(0L))
          .cast(DoubleType).as("occ"),
        count(lit(1)).as("df"))
  }

  /** One-job stats round for every complex raw leaf of the query. Each
    * leaf keeps its own 1-row aggregate subtree (bit-identical values to
    * the per-leaf form); the union is collected ONCE — the reference
    * gathers all ContextCount requests in a single network round the
    * same way (src/QueryEnvironment.cpp:957-966 — ContextCountGraphCopier
    * over ALL scorer nodes, one _sumServerQuery), where the naive form
    * pays one blocking Spark job per complex leaf.
    */
  private def complexStatsFor(node: QueryNode): Map[QueryNode, (Double, Long)] =
    complexStatsBatch(complexRawLeaves(node))

  /** the same one-job round over an arbitrary set of complex leaves —
    * lets a query BATCH share a single stats job (runQueries)
    */
  private def complexStatsBatch(leaves0: Seq[QueryNode]): Map[QueryNode, (Double, Long)] = {
    val leaves = leaves0.distinct
    if (leaves.isEmpty) return Map.empty
    val rows = leaves.zipWithIndex.map { case (n, i) =>
      statsAgg(n).select(lit(i).as("i"), col("occ"), col("df"))
    }.reduce(_ union _).collect()
    rows.map(r => leaves(r.getInt(0)) -> (r.getDouble(1), r.getLong(2))).toMap
  }

  private def isRawNode(n: QueryNode): Boolean = n match {
    case _: TermNode | _: OdNode | _: UwNode | _: BandNode | _: SynNode |
         _: WsynNode | _: WildcardNode | _: FieldRestrictNode |
         _: FieldListRestrictNode |
         _: AnyFieldNode | _: FieldNumNode | _: FieldPathNode => true
    case _ => false
  }

  /** Per-document frame for the context restriction `child.(contexts)`:
    * one row per document that HAS context extents — the reference
    * prepares the context iterator independently of the match list, so
    * a document with context but no match scores fn(0, ctxLen) while a
    * document with no context at all scores the fn(0, 0) background
    * (reference: src/ListBeliefNode.cpp:24-56,119-127). Columns:
    * (docId, occ, ctxLen, rawOcc, doclen) — occ counts matches contained
    * in a context extent under the reference's non-overlap scan
    * (_contextOccurrences, src/ListBeliefNode.cpp:58-74; unit-length
    * term matches never overlap, window matches can), ctxLen sums the
    * ExtentOr context lengths (overlapping context extents both count,
    * like the reference's per-extent loop), rawOcc is the UNrestricted
    * match count that feeds the document-smoothing component.
    */
  private def contextFrame(child: QueryNode, contexts: Seq[String]): DataFrame = {
    val fx = fieldExtents.where(col("field").isin(contexts: _*))
      .groupBy("docId").agg(
        sort_array(collect_list(struct(col("begin"), col("end")))).as("fex"),
        sum(col("end") - col("begin")).cast(IntegerType).as("ctxLen"))
    val c = evaluateRaw(child).df.select(col("docId"), col("begins"), col("ends"))
    val countUdf = udf { (bs: Seq[Int], es: Seq[Int], fb: Seq[Int], fe: Seq[Int]) =>
      if (bs == null) 0
      else {
        val order = bs.indices.sortBy(i => (bs(i), es(i)))
        var n = 0
        var lastEnd = 0
        order.foreach { i =>
          var j = 0
          var in = false
          while (j < fb.length && !in) {
            if (bs(i) >= fb(j) && es(i) <= fe(j)) in = true
            j += 1
          }
          if (in && bs(i) >= lastEnd) { n += 1; lastEnd = es(i) }
        }
        n
      }
    }
    fx.join(c, Seq("docId"), "left")
      .join(index.doclens, Seq("docId"), "inner")
      .select(col("docId"),
        countUdf(col("begins"), col("ends"),
          col("fex.begin"), col("fex.end")).as("occ"),
        col("ctxLen"),
        coalesce(size(col("begins")), lit(0)).as("rawOcc"),
        col("length").as("doclen"))
  }

  /** Belief of `child.(contexts)` — the scoring context becomes the
    * context extents: per-document "length" = total context length,
    * collection background = (matches inside context corpus-wide) /
    * (total context length corpus-wide), and the raw per-document match
    * count feeds the document-smoothing component of the 4-arg score
    * form (reference: builder src/InferenceNetworkBuilder.cpp:744-780;
    * collection stats src/ContextCountAccumulator.cpp:84-150).
    */
  private def scoreContextRestrict(child: QueryNode, contexts: Seq[String],
                                   termStats: Map[String, TermStats],
                                   qtf: Int, qtw: Option[Double],
                                   cstats: Map[QueryNode, (Double, Long)]): Belief = {
    require(!baseline, "context restriction is rejected in okapi/tfidf baseline " +
      "mode (reference: src/QueryEnvironment.cpp:912-918) — use an LM rule")
    val node = ContextRestrictNode(child, contexts)
    val frame = contextFrame(child, contexts)
    // per-field rule lists match the scorer's context field; a
    // multi-field context matches only field:* (the walker descends an
    // ExtentOr context ONLY when it has a single child,
    // SmoothingAnnotatorWalker.hpp:115-118)
    val ctxRule = ruleFor(
      if (contexts.size == 1) contexts.head else "?", opClassOf(child))
    val sf = if (singleBackground) {
      // noContext background: the child's PLAIN collection stats with
      // contextSize = |C| (reference NoContextCountGraphCopier)
      child match {
        case TermNode(t) =>
          val pt = analyzer.processTerm(t)
          val ts = if (pt == null) TermStats(0, 0)
                   else termStats.getOrElse(pt, TermStats(0, 0))
          Scorers.forTerm(ctxRule, ts.ctf.toDouble, stats.totalTerms.toDouble,
            ts.df.toDouble, stats.totalDocs, qtf, qtw)
        case c =>
          val (occ, df) = cstats.getOrElse(c, {
            val cnt = udf { (bs: Seq[Int], es: Seq[Int]) =>
              WindowMatcher.dedupCount(bs, es).toLong }
            val r = evaluateRaw(c).df.agg(
              coalesce(sum(cnt(col("begins"), col("ends"))), lit(0L)),
              count(lit(1))).head()
            (r.getLong(0).toDouble, r.getLong(1))
          })
          Scorers.forTerm(ctxRule, occ, stats.totalTerms.toDouble,
            df.toDouble, stats.totalDocs, qtf, qtw)
      }
    } else {
      // (occurrences, contextSize) — from the batched stats round when
      // available (the df slot carries contextSize for context leaves)
      val (occTotal, ctxTotal) = cstats.getOrElse(node, {
        val r = frame.agg(
          coalesce(sum(col("occ").cast(LongType)), lit(0L)).cast(DoubleType),
          coalesce(sum(col("ctxLen").cast(LongType)), lit(0L))).head()
        (r.getDouble(0), r.getLong(1))
      })
      Scorers.forTerm(ctxRule, occTotal, ctxTotal.toDouble, 1.0,
        stats.totalDocs, qtf, qtw)
    }
    val scoreUdf = udf { (occ: Int, ctxLen: Int, rawOcc: Int, dl: Int) =>
      sf.scoreOccurrence(occ.toDouble, ctxLen, rawOcc.toDouble, dl) }
    Belief(
      frame.select(col("docId"),
        scoreUdf(col("occ"), col("ctxLen"), col("rawOcc"), col("doclen")).as("score"),
        col("doclen")),
      bg = dl => sf.scoreOccurrence(0.0, 0, 0.0, dl))
  }

  /** Raw node + smoothing = ListBeliefNode / TermFrequencyBeliefNode
    * (reference: src/ListBeliefNode.cpp:119-127,
    * src/TermFrequencyBeliefNode.cpp:60-135).
    */
  private def scoreRaw(node: QueryNode, termStats: Map[String, TermStats],
                       qtf: Int = 1, qtw: Option[Double] = None,
                       cstats: Map[QueryNode, (Double, Long)] = Map.empty): Belief = node match {
    case WsynNode(children) =>
      // WeightedExtentOr: each child's extents carry its weight; the
      // belief occurrence count is the weighted sum of extent counts
      // (reference: src/WeightedExtentOrNode.cpp — extents carry weights,
      // consumed by ListBeliefNode occurrence accumulation)
      val occ = wsynOcc(children)
      // stats round (ContextCount analogue) over the weighted occurrences
      // — answered from the batched round when available
      val (wo, dfc) = cstats.getOrElse(node, {
        val r = occ.agg(coalesce(sum(col("wocc")), lit(0.0)), count(lit(1))).head()
        (r.getDouble(0), r.getLong(1))
      })
      val sf = Scorers.forTerm(ruleFor("?", "term"), wo, stats.totalTerms.toDouble,
        dfc.toDouble, stats.totalDocs, qtf, qtw)
      // ListBeliefNode path → the 4-arg score form (documentOccurrences
      // = occurrences when no scoring context splits them, reference:
      // src/ListBeliefNode.cpp:122-126 — _raw is null so
      // documentOccurrences == occurrences). Identical to the 2-arg
      // form for every rule except two-stage/documentMu-dirichlet/
      // documentLambda-JM, whose document components the reference
      // computes from the document's own counts.
      val scoreUdf = udf { (wocc: Double, dl: Int) =>
        sf.scoreOccurrence(wocc, dl, wocc, dl) }
      Belief(
        occ.select(col("docId"), scoreUdf(col("wocc"), col("doclen")).as("score"),
          col("doclen")),
        bg = dl => sf.scoreOccurrence(0.0, dl, 0.0, dl))
    case ContextRestrictNode(child, contexts) =>
      scoreContextRestrict(child, contexts, termStats, qtf, qtw, cstats)
    case t: TermNode =>
      // plain terms ride the frequency-list path and its 2-arg score
      // form (reference: FrequencyListCopier replaces simple term
      // scorers with TermFrequencyBeliefNode, which never passes
      // document stats — src/TermFrequencyBeliefNode.cpp:60-103)
      val raw = evaluateRaw(t)
      val sf = scoreFnFor(t, raw, termStats, qtf, qtw, cstats)
      val scoreUdf = udf { (tf: Int, dl: Int) => sf.scoreOccurrence(tf.toDouble, dl) }
      Belief(
        raw.df.select(col("docId"),
          scoreUdf(size(col("begins")), col("doclen")).as("score"),
          col("doclen")),
        bg = dl => sf.scoreOccurrence(0.0, dl))
    case _ =>
      // every other raw node (windows, restrictions, synonyms, paths)
      // is a ListBeliefNode: the reference always calls the 4-arg
      // score form there (src/ListBeliefNode.cpp:119-127) with
      // documentOccurrences == occurrences (null _raw) and
      // documentLength == the real document length; the occurrence
      // count applies the greedy non-overlap scan
      // (WindowMatcher.dedupCount)
      val raw = evaluateRaw(node)
      val sf = scoreFnFor(node, raw, termStats, qtf, qtw, cstats)
      val scoreUdf = udf { (bs: Seq[Int], es: Seq[Int], dl: Int) =>
        val tf = WindowMatcher.dedupCount(bs, es).toDouble
        sf.scoreOccurrence(tf, dl, tf, dl)
      }
      Belief(
        raw.df.select(col("docId"),
          scoreUdf(col("begins"), col("ends"), col("doclen")).as("score"),
          col("doclen")),
        bg = dl => sf.scoreOccurrence(0.0, dl, 0.0, dl))
  }

  /** Generic combiner: one shuffle (union + groupBy docId), children
    * folded in query order for FP determinism. Candidates = union of
    * children candidates; a child missing a candidate contributes its
    * composable background score.
    */
  private def combineBeliefs(children: Seq[Belief], weights: Seq[Double], op: CombineOp): Belief = {
    val k = children.length
    val w = weights.toArray
    val bgs = children.map(_.bg).toArray
    val stacked = children.zipWithIndex.map { case (c, i) =>
      c.df.select(col("docId"), lit(i).as("idx"), col("score"), col("doclen"))
    }.reduce(_ union _)
    val agg = stacked.groupBy("docId").agg(
      map_from_entries(collect_list(struct(col("idx"), col("score")))).as("m"),
      first(col("doclen")).as("doclen"))
    val scoreUdf = udf { (m: Map[Int, Double], dl: Int) =>
      val scores = new Array[Double](k)
      var i = 0
      while (i < k) { scores(i) = m.getOrElse(i, bgs(i)(dl)); i += 1 }
      fold(op, w, scores)
    }
    Belief(
      agg.select(col("docId"), scoreUdf(col("m"), col("doclen")).as("score"), col("doclen")),
      bg = dl => fold(op, w, bgs.map(_(dl))))
  }

  /** Evaluate a belief node. `root` marks the query root, where the
    * baseline rewrite applies for okapi/tfidf
    * (reference: src/QueryEnvironment.cpp:895-937).
    */
  def evaluate(node: QueryNode, root: Boolean = true): Belief = {
    val leaves = QueryParser.termLeaves(node).flatMap(t => Option(analyzer.processTerm(t)))
    val tstats = termStatsFor(leaves)
    val cstats = complexStatsFor(node)
    evaluateWith(node, tstats, cstats, root)
  }

  private def qtfMap(node: QueryNode): Map[String, Int] = {
    // query term frequencies over processed leaves (QueryTFWalker
    // analogue, reference: src/QueryEnvironment.cpp:976-980)
    QueryParser.termLeaves(node)
      .flatMap(t => Option(analyzer.processTerm(t)))
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
  }

  private def evaluateWith(node: QueryNode, tstats: Map[String, TermStats],
                           cstats: Map[QueryNode, (Double, Long)],
                           root: Boolean): Belief = {
    lazy val qtfs = qtfMap(node)
    def childBelief(c: QueryNode): Belief = c match {
      case t @ TermNode(raw) if baseline =>
        val pt = analyzer.processTerm(raw)
        val qtf = if (pt == null) 1 else qtfs.getOrElse(pt, 1)
        scoreRaw(t, tstats, qtf = qtf, cstats = cstats)
      case r if isRawNode(r) => scoreRaw(r, tstats, cstats = cstats)
      case cr: ContextRestrictNode => scoreRaw(cr, tstats, cstats = cstats)
      case b => evaluateWith(b, tstats, cstats, root = false)
    }

    node match {
      case r if isRawNode(r) =>
        childBelief(r)

      case cr: ContextRestrictNode => childBelief(cr)

      case CombineNode(children) =>
        val beliefs = children.map(childBelief)
        val weights =
          if (root && baseline) children.map(_ => 1.0) // PlusNode: plain sum
          else children.map(_ => 1.0 / children.size)  // WeightedAnd 1/k
        combineBeliefs(beliefs, weights, OpSum)

      case WeightNode(children) =>
        val beliefs = children.map(c => childBelief(c._2))
        val weights =
          if (root && baseline) children.map(_._1)     // WPlusNode: raw weights
          else {
            val total = children.map(c => math.abs(c._1)).sum
            children.map(_._1 / total)
          }
        combineBeliefs(beliefs, weights, OpSum)

      case WsumNode(children) =>
        val beliefs = children.map(c => childBelief(c._2))
        if (root && baseline)
          // WSumNode is a WeightedCombinationNode: the baseline root
          // rewrite makes it WPlusNode — RAW weights, plain sum
          // (reference: src/QueryEnvironment.cpp:897-915)
          combineBeliefs(beliefs, children.map(_._1), OpSum)
        else {
          val total = children.map(c => math.abs(c._1)).sum
          combineBeliefs(beliefs, children.map(_._1 / total), OpWsum)
        }

      case SumNode(children) =>
        val beliefs = children.map(childBelief)
        if (root && baseline)
          // UnweightedCombinationNode root → PlusNode (plain sum)
          combineBeliefs(beliefs, children.map(_ => 1.0), OpSum)
        else
          // #sum = unweighted #wsum (reference: indrilang.g:316-329)
          combineBeliefs(beliefs, children.map(_ => 1.0 / children.size), OpWsum)

      case OrQNode(children) if root && baseline =>
        // OrNode is an UnweightedCombinationNode: baseline root → Plus
        combineBeliefs(children.map(childBelief), children.map(_ => 1.0), OpSum)
      case OrQNode(children) =>
        combineBeliefs(children.map(childBelief), children.map(_ => 1.0), OpOr)

      case MaxQNode(children) if root && baseline =>
        // MaxNode is an UnweightedCombinationNode: baseline root → Plus
        combineBeliefs(children.map(childBelief), children.map(_ => 1.0), OpSum)
      case MaxQNode(children) =>
        combineBeliefs(children.map(childBelief), children.map(_ => 1.0), OpMax)

      case NotQNode(_) if root && baseline =>
        // NotNode is a plain ScoredExtentNode — no baseline rewrite
        // exists for it, the reference throws (QueryEnvironment.cpp:
        // 897-905); without this, log(1−exp(s)) of a positive okapi
        // score is NaN, which Spark ranks ABOVE every real score
        throw new IllegalArgumentException(
          "Can't run baseline on this query: " +
            "indri query language operators are not allowed.")

      case NotQNode(child) =>
        val c = childBelief(child)
        val notUdf = udf { (s: Double) => math.log(1.0 - math.exp(s)) }
        Belief(c.df.select(col("docId"), notUdf(col("score")).as("score"), col("doclen")),
          bg = dl => math.log(1.0 - math.exp(c.bg(dl))))

      case FilReqNode(filter, scored) =>
        // score arg2 only on docs matching arg1 (semi join)
        // (reference: src/FilterRequireNode.cpp)
        val matchDocs = evaluateRaw(asRaw(filter)).df.select("docId").distinct()
        val s = childBelief(scored)
        Belief(s.df.join(matchDocs, Seq("docId"), "left_semi"), s.bg)

      case FilRejNode(filter, scored) =>
        // (reference: src/FilterRejectNode.cpp) — anti join
        val matchDocs = evaluateRaw(asRaw(filter)).df.select("docId").distinct()
        val s = childBelief(scored)
        Belief(s.df.join(matchDocs, Seq("docId"), "left_anti"), s.bg)

      case PriorQNode(name) =>
        val (table, dflt) = priors.getOrElse(name,
          throw new IllegalArgumentException(s"prior '$name' not set — call setPrior"))
        // per-doc stored log-prior; docs outside the table contribute the
        // default (reference: src/PriorNode.cpp — prior read per document)
        Belief(
          table.join(index.doclens, Seq("docId"), "inner")
            .select(col("docId"), col("logPrior").as("score"),
              col("length").as("doclen")),
          bg = _ => dflt)

      case LengthPriorQNode(exp, child) =>
        // score += exponent·log(doclen) (reference: src/LengthPriorNode.cpp)
        val c = childBelief(child)
        val lpUdf = udf { (s: Double, dl: Int) => s + exp * math.log(dl.toDouble) }
        Belief(
          c.df.select(col("docId"), lpUdf(col("score"), col("doclen")).as("score"),
            col("doclen")),
          bg = dl => c.bg(dl) + exp * math.log(dl.toDouble))

      case other =>
        throw new IllegalArgumentException(s"unsupported belief node: $other")
    }
  }

  private def asRaw(n: QueryNode): QueryNode =
    if (isRawNode(n)) n
    else throw new IllegalArgumentException(s"filter argument must be a raw match expression: $n")

  // ------------------------------------------------------------------
  // QueryEnvironment verbs
  // ------------------------------------------------------------------

  /** Top-k retrieval. Final order: score desc, docId asc — the stable
    * sort + doc-order tiebreak (reference: src/QueryEnvironment.cpp:985-988).
    *
    * Flat okapi/tfidf bags with non-negative weights dispatch to the
    * block-max WAND DAAT kernel over the compressed segments (the
    * max-score physical path); everything else evaluates on the
    * DataFrame inference-network path. Both produce bit-identical
    * scores (WandPropertySpec).
    */
  def runQuery(query: String, k: Int, useDaat: Boolean = true): DataFrame =
    runParsed(QueryParser.parse(query), k, useDaat)

  /** AST-level entry — callers that BUILD nodes (the NEXI CO path) must
    * not round-trip through query-string rendering: a term like
    * 'node.js' would re-lex with indri DOT-qualifier semantics.
    */
  private[graft] def runParsed(ast: QueryNode, k: Int,
                               useDaat: Boolean = true): DataFrame = {
    // selector rule lists can give different leaves different smoothing,
    // which the single-rule kernels cannot represent — belief path then
    daatBag(ast) match {
      case Some(termWeights) if useDaat && baseline &&
          smoothRules.isEmpty && daatDeletedSet.isDefined =>
        runDaat(termWeights, k, exhaustive = false)
      case Some(_) if useDaat && lmMethod &&
          smoothRules.isEmpty && daatDeletedSet.isDefined =>
        // flat LM bags run the kernel too — weights become the belief
        // weights evaluate() would use (combine: 1/k; weight: w/Σ|w|)
        runDaatLm(lmBagWeights(ast).get, k, exhaustive = false)
      case _ =>
        (if (useDaat) runStructured(ast, k) else None)
          .getOrElse(scoredTail(evaluate(ast), k))
    }
  }

  private def lmMethod: Boolean =
    rule.method == "dirichlet" || rule.method == "jm" || rule.method == "two"

  /** flat-bag CHILD weights exactly as evaluateWith folds them for a
    * non-baseline root: #combine → 1/k each; #weight → w/Σ|w| (positive
    * weights only — the daatBag guard); bare term → weight 1
    */
  private def lmBagWeights(ast: QueryNode): Option[Seq[(String, Double)]] = ast match {
    case TermNode(t) => Some(Seq(t -> 1.0))
    case CombineNode(cs) if cs.forall(_.isInstanceOf[TermNode]) =>
      Some(cs.map { case TermNode(t) => t -> 1.0 / cs.size })
    case WeightNode(cs) if cs.forall(_._2.isInstanceOf[TermNode]) && cs.forall(_._1 >= 0) =>
      val total = cs.map(c => math.abs(c._1)).sum
      Some(cs.map { case (w, TermNode(t)) => t -> w / total })
    case _ => None
  }

  /** deleted-doc filter + final (score desc, docId asc) top-k on a
    * belief — the shared tail of runQuery and runQueries
    */
  private def scoredTail(belief: Belief, k: Int): DataFrame = {
    val scored = deletedDocs match {
      case Some(d) => belief.df.join(d, Seq("docId"), "left_anti")
      case None => belief.df
    }
    scored
      .select(col("docId"), col("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** Batch retrieval: the whole batch shares ONE dictionary stats probe
    * and ONE complex-leaf stats job, then each query's top-k evaluates
    * independently — per-query results are identical to runQuery
    * (reference: IndriRunQuery drives query batches against a shared
    * QueryEnvironment, runquery/IndriRunQuery.cpp:710-726). On Spark the
    * driver-blocking stats rounds are the per-query latency floor, so a
    * B-query batch pays 2 rounds instead of 2B (plus the k-bounded
    * topdocs seed probe per DAAT-path query).
    */
  def runQueries(queries: Seq[String], k: Int, useDaat: Boolean = true): Seq[(String, DataFrame)] = {
    val asts = queries.map(q => q -> QueryParser.parse(q))
    def daatPath(ast: QueryNode): Boolean =
      daatBag(ast).isDefined && useDaat && (baseline || lmMethod) && daatDeletedSet.isDefined
    def structPath(ast: QueryNode): Boolean =
      daatBag(ast).isEmpty && useDaat && structuredServes(ast)
    val allTerms = asts.flatMap { case (_, a) => QueryParser.termLeaves(a) }
      .flatMap(t => Option(analyzer.processTerm(t)))
    val tstats = termStatsFor(allTerms.distinct)
    // structured (windows-in-kernel) queries fold their window-leaf
    // stats into the SAME one-job round as the belief leaves — the batch
    // still pays exactly two driver actions (term probe + leaf stats).
    // Window counts are exact integers through either counting path, so
    // the shared values are bit-identical to a kernel windowStats pass;
    // with pending deletes the kernel pass (delete-aware) runs instead.
    val noDeletes = daatDeletedSet.contains(Set.empty[Long])
    val structLeaves: Seq[QueryNode] =
      if (noDeletes)
        asts.collect { case (_, a) if structPath(a) => structuredWindowNodes(a) }.flatten
      else Nil
    val cstats = complexStatsBatch(
      asts.collect { case (_, a) if !daatPath(a) && !structPath(a) =>
        complexRawLeaves(a) }.flatten ++ structLeaves)
    val wShared: Map[(Seq[String], Boolean, Int), (Double, Long)] =
      structLeaves.distinct.flatMap { n =>
        windowSpecKey(n).map(_ -> cstats(n))
      }.toMap
    asts.map { case (q, ast) =>
      q -> (daatBag(ast) match {
        case Some(termWeights) if daatPath(ast) && baseline =>
          runDaat(termWeights, k, exhaustive = false, tstatsOpt = Some(tstats))
        case Some(_) if daatPath(ast) =>
          runDaatLm(lmBagWeights(ast).get, k, exhaustive = false,
            tstatsOpt = Some(tstats))
        case _ =>
          (if (structPath(ast)) runStructured(ast, k, tstatsOpt = Some(tstats),
             wstatsOpt = if (wShared.isEmpty) None else Some(wShared))
           else None)
            .getOrElse(scoredTail(evaluateWith(ast, tstats, cstats, root = true), k))
      })
    }
  }

  /** window leaf nodes of a structured AST (the shapes structuredShape
    * admits), for the shared batch stats round
    */
  private def structuredWindowNodes(n: QueryNode): Seq[QueryNode] = n match {
    case w: OdNode => Seq(w)
    case w: UwNode => Seq(w)
    case CombineNode(cs) => cs.flatMap(structuredWindowNodes)
    case WeightNode(cs) => cs.flatMap(c => structuredWindowNodes(c._2))
    case _ => Nil
  }

  /** canonical (processed members, ordered, width) key for a window
    * node — the lookup runStructured uses against the shared stats map
    */
  private def windowSpecKey(n: QueryNode): Option[(Seq[String], Boolean, Int)] = n match {
    case OdNode(w, cs) if cs.forall(_.isInstanceOf[TermNode]) =>
      Some((cs.map { case TermNode(t) =>
        Option(analyzer.processTerm(t)).getOrElse(StoppedSentinel) }, true, w))
    case UwNode(w, cs) if cs.forall(_.isInstanceOf[TermNode]) =>
      Some((cs.map { case TermNode(t) =>
        Option(analyzer.processTerm(t)).getOrElse(StoppedSentinel) }, false, w))
    case _ => None
  }

  /** (rawTerm, weight) children in query order when the AST is a flat
    * non-negative bag the WAND kernel can serve; None otherwise.
    * Baseline weights: root #combine → 1.0 each (PlusNode), root
    * #weight → raw weights (WPlusNode).
    */
  private def daatBag(ast: QueryNode): Option[Seq[(String, Double)]] = ast match {
    case TermNode(t) => Some(Seq(t -> 1.0))
    case CombineNode(cs) if cs.forall(_.isInstanceOf[TermNode]) =>
      Some(cs.map { case TermNode(t) => t -> 1.0 })
    case WeightNode(cs) if cs.forall(_._2.isInstanceOf[TermNode]) && cs.forall(_._1 >= 0) =>
      Some(cs.map { case (w, TermNode(t)) => t -> w })
    case _ => None
  }

  /** Score a bag through the DAAT/WAND kernel. Stopped/OOV terms drop
    * out (okapi background = 0 — NullScorerNode semantics).
    */
  def runDaat(termWeights: Seq[(String, Double)], k: Int, exhaustive: Boolean,
              tstatsOpt: Option[Map[String, TermStats]] = None): DataFrame = {
    val processed = termWeights.flatMap { case (t, w) =>
      Option(analyzer.processTerm(t)).map(_ -> w)
    }
    if (processed.isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("docId", LongType), StructField("score", DoubleType))))
    }
    val tstats = tstatsOpt.getOrElse(termStatsFor(processed.map(_._1)))
    val qtfs = processed.groupBy(_._1).map { case (t, xs) => t -> xs.length }
    val engineTerms = processed.map { case (t, w) =>
      val ts = tstats.getOrElse(t, TermStats(0, 0))
      val fn = Scorers.forTerm(rule, ts.ctf.toDouble, stats.totalTerms.toDouble,
        ts.df.toDouble, stats.totalDocs, qtf = qtfs(t))
      (t, w, fn)
    }
    val p = Daat.plan(engineTerms)
    val del = daatDeletedSet.getOrElse(
      throw new IllegalStateException("DAAT with unbounded pending deletes — compact first"))
    val seed = if (exhaustive || index.topdocs == null) Double.NegativeInfinity
               else topdocsSeed(p, k, del)
    Daat.topK(index, p, k, exhaustive, seed, del)
  }

  /** LM bag through the kernel. Unlike the baseline path, stopped/OOV
    * children are KEPT: the DataFrame path scores them as background
    * everywhere (cf-guarded), so dropping them would change every score.
    * Their cursors get sentinel terms that match no postings.
    */
  def runDaatLm(bag: Seq[(String, Double)], k: Int, exhaustive: Boolean,
                tstatsOpt: Option[Map[String, TermStats]] = None): DataFrame = {
    require(lmMethod, s"runDaatLm requires an LM rule, got ${rule.method}")
    val processedNames = bag.zipWithIndex.map { case ((t, _), i) =>
      Option(analyzer.processTerm(t)).getOrElse(s"\u0000stopped$i")
    }
    val live = processedNames.filterNot(_.startsWith("\u0000"))
    if (live.isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("docId", LongType), StructField("score", DoubleType))))
    }
    val tstats = tstatsOpt.getOrElse(termStatsFor(live))
    val engineTerms = bag.zip(processedNames).map { case ((_, w), name) =>
      val ts = tstats.getOrElse(name, TermStats(0, 0))
      val fn = Scorers.forTerm(rule, ts.ctf.toDouble, stats.totalTerms.toDouble,
        ts.df.toDouble, stats.totalDocs)
      (name, w, fn, ts.ctf, ts.minDl)
    }
    // every candidate contains ≥1 present term, so dl ≥ the min of their
    // per-term minimum doc lengths — the background-sum bound's argument
    val minDlQuery = engineTerms.collect { case (_, _, _, ctf, m) if ctf > 0 => m }
      .reduceOption(math.min).getOrElse(1)
    if (engineTerms.forall(_._4 == 0L)) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("docId", LongType), StructField("score", DoubleType))))
    }
    val p = Daat.planLm(engineTerms, minDlQuery)
    val del = daatDeletedSet.getOrElse(
      throw new IllegalStateException("DAAT with unbounded pending deletes — compact first"))
    val seed = if (exhaustive || index.topdocs == null) Double.NegativeInfinity
               else topdocsSeed(p, k, del)
    Daat.topK(index, p, k, exhaustive, seed, del)
  }

  // ------------------------------------------------------------------
  // structured (SDM/FDM-shaped) kernel path — round 4
  // ------------------------------------------------------------------

  /** True when the AST is a #combine/#weight tree (non-negative weights)
    * over term leaves and #odN/#uwN windows of plain terms — the
    * dependence-model shape the window-aware WAND kernel serves
    * (reference runs these document-at-a-time too:
    * src/OrderedWindowNode.cpp, src/WeightedAndNode.cpp).
    */
  private def structuredShape(n: QueryNode): Boolean = n match {
    case _: TermNode => true
    case OdNode(_, cs) => cs.length >= 2 && cs.forall(_.isInstanceOf[TermNode])
    case UwNode(_, cs) => cs.length >= 2 && cs.forall(_.isInstanceOf[TermNode])
    case CombineNode(cs) => cs.nonEmpty && cs.forall(structuredShape)
    case WeightNode(cs) =>
      cs.nonEmpty && cs.forall { case (w, c) => w >= 0 && structuredShape(c) } &&
        cs.exists(_._1 > 0)
    case _ => false
  }

  private def containsWindow(n: QueryNode): Boolean = n match {
    case _: OdNode | _: UwNode => true
    case CombineNode(cs) => cs.exists(containsWindow)
    case WeightNode(cs) => cs.exists(c => containsWindow(c._2))
    case _ => false
  }

  /** dispatch predicate shared by runQuery/runQueries */
  private def structuredServes(ast: QueryNode): Boolean =
    (baseline || lmMethod) && daatDeletedSet.isDefined &&
      // selector rules force the belief path — checked HERE so that
      // runQueries' batched complex-leaf stats round still covers a
      // structured-shaped query's window leaves (runStructured would
      // decline later and the belief fallback would otherwise pay one
      // blocking stats job per window leaf)
      smoothRules.isEmpty &&
      structuredShape(ast) && containsWindow(ast)

  private sealed trait LeafMeta
  private final case class TermLeafM(processed: String, qtf: Int) extends LeafMeta
  private final case class WinLeafM(spec: Daat.WindowSpec) extends LeafMeta

  /** Build and run the structured WAND plan, or None when the shape is
    * not kernel-servable. Mirrors evaluateWith EXACTLY: per-level
    * weights (root-vs-inner, baseline-vs-LM), per-level okapi qtf maps,
    * background fill-in, nested left-to-right folds — bit-identical
    * scores (WandPropertySpec structured cases).
    */
  private[graft] def runStructured(ast: QueryNode, k: Int,
                                   exhaustive: Boolean = false,
                                   tstatsOpt: Option[Map[String, TermStats]] = None,
                                   wstatsOpt: Option[Map[(Seq[String], Boolean, Int), (Double, Long)]] = None): Option[DataFrame] = {
    if (!structuredServes(ast)) return None
    if (smoothRules.nonEmpty) return None // per-leaf rules → belief path
    val del = daatDeletedSet.get

    // ---- leaf registry (dedup by identical semantics) ----
    val leafIdx = scala.collection.mutable.LinkedHashMap.empty[(String, Seq[String], Int, Int), Int]
    val leafMeta = scala.collection.mutable.ArrayBuffer.empty[LeafMeta]
    val Sentinel = StoppedSentinel

    def termLeaf(raw: String, qtfs: Map[String, Int]): Daat.FoldTree = {
      val pt = analyzer.processTerm(raw)
      val processed = if (pt == null) Sentinel else pt
      // evaluateWith: baseline terms score with the ENCLOSING level's
      // qtf; LM terms go through scoreRaw's default qtf = 1
      val qtf = if (baseline && pt != null) qtfs.getOrElse(pt, 1) else 1
      val key = ("t", Seq(processed), 0, qtf)
      Daat.FLeaf(leafIdx.getOrElseUpdate(key, {
        leafMeta += TermLeafM(processed, qtf); leafMeta.length - 1
      }))
    }
    def windowLeaf(ordered: Boolean, width: Int, cs: Seq[QueryNode]): Daat.FoldTree = {
      val members = cs.map { case TermNode(t) =>
        Option(analyzer.processTerm(t)).getOrElse(Sentinel)
      }
      val key = (if (ordered) "od" else "uw", members, width, 0)
      Daat.FLeaf(leafIdx.getOrElseUpdate(key, {
        leafMeta += WinLeafM(Daat.WindowSpec(members.toArray, ordered, width))
        leafMeta.length - 1
      }))
    }

    def walk(n: QueryNode, root: Boolean): Daat.FoldTree = n match {
      case cn @ CombineNode(cs) =>
        val w = if (root && baseline) 1.0 else 1.0 / cs.size
        val qtfs = qtfMap(cn)
        Daat.FNode(cs.map(c => (w, child(c, qtfs))).toArray)
      case wn @ WeightNode(cs) =>
        val qtfs = qtfMap(wn)
        val weights =
          if (root && baseline) cs.map(_._1)
          else {
            val total = cs.map(c => math.abs(c._1)).sum
            cs.map(_._1 / total)
          }
        Daat.FNode(cs.zip(weights).map { case ((_, c), w) => (w, child(c, qtfs)) }.toArray)
      case leaf => child(leaf, qtfMap(leaf))
    }
    def child(c: QueryNode, qtfs: Map[String, Int]): Daat.FoldTree = c match {
      case TermNode(t) => termLeaf(t, qtfs)
      case OdNode(w, cs) => windowLeaf(ordered = true, w, cs)
      case UwNode(w, cs) => windowLeaf(ordered = false, w, cs)
      case sub => walk(sub, root = false)
    }

    val tree = walk(ast, root = true)
    val metas = leafMeta.toArray

    // ---- stats rounds: dictionary probe + ONE kernel window pass ----
    val realTerms = metas.flatMap {
      case TermLeafM(p, _) if p != Sentinel => Seq(p)
      case WinLeafM(spec) => spec.terms.filterNot(_ == Sentinel).toSeq
      case _ => Nil
    }.distinct.toSeq
    val tstats = tstatsOpt.getOrElse(termStatsFor(realTerms))
    val windows = metas.collect { case WinLeafM(s) => s }
    // answered from the batch-shared stats round when every window is
    // covered (runQueries); otherwise one kernel windowStats pass
    val wstats: Array[(Double, Long)] = wstatsOpt match {
      case Some(m) if windows.forall(w => m.contains((w.terms.toSeq, w.ordered, w.width))) =>
        windows.map(w => m((w.terms.toSeq, w.ordered, w.width)))
      case _ => Daat.windowStats(index, windows, del)
    }

    // ---- per-leaf score functions, bounds, eff weights ----
    val effW = new Array[Double](metas.length)
    def accEff(t: Daat.FoldTree, w: Double): Unit = t match {
      case Daat.FLeaf(i) => effW(i) += w
      case Daat.FNode(cs) => cs.foreach { case (cw, ch) => accEff(ch, w * cw) }
    }
    accEff(tree, 1.0)

    var wi = 0
    val leaves = metas.zipWithIndex.map {
      case (TermLeafM(p, qtf), i) =>
        val ts = tstats.getOrElse(p, TermStats(0, 0))
        val fn = Scorers.forTerm(rule, ts.ctf.toDouble, stats.totalTerms.toDouble,
          ts.df.toDouble, stats.totalDocs, qtf = qtf)
        val minDl = math.max(ts.minDl, 1)
        val ub =
          if (baseline) math.max(effW(i) * fn.scoreOccurrence(1e18, 1), 0.0)
          else effW(i) * math.max(
            fn.scoreOccurrence(ts.ctf.toDouble, minDl) - fn.scoreOccurrence(0.0, minDl), 0.0)
        (Daat.LeafPlan(p, null, fn, effW(i), ub), if (ts.ctf > 0) minDl else 0)
      case (WinLeafM(spec), i) =>
        val (occ, df) = wstats(wi); wi += 1
        val fn = Scorers.forTerm(rule, occ, stats.totalTerms.toDouble,
          df.toDouble, stats.totalDocs)
        // window matches contain every member: dl ≥ max member minDocLen
        val minDl = math.max(
          spec.terms.map(t => tstats.get(t).map(_.minDl).getOrElse(1)).max, 1)
        // window leaves score through the ListBeliefNode 4-arg form
        // (docOcc == occ): δ = s₄(tf,dl) − s₄(0,dl) stays ↑tf ↓dl for
        // every supported rule, so the (occ, minDl) corner still bounds
        val ub =
          if (baseline) math.max(effW(i) * fn.scoreOccurrence(1e18, 1, 1e18, 1), 0.0)
          else effW(i) * math.max(
            fn.scoreOccurrence(occ, minDl, occ, minDl)
              - fn.scoreOccurrence(0.0, minDl, 0.0, minDl), 0.0)
        (Daat.LeafPlan(spec.terms.mkString(if (spec.ordered) "#od:" else "#uw:", ",", ""),
          spec, fn, effW(i), ub), if (df > 0) minDl else 0)
    }

    // every candidate matches ≥1 live leaf — its dl is ≥ the min of the
    // live leaves' minimum context lengths (the baseMax argument)
    val liveMinDls = leaves.collect { case (_, m) if m > 0 => m }
    if (liveMinDls.isEmpty) {
      return Some(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("docId", LongType), StructField("score", DoubleType)))))
    }
    val minDlQuery = liveMinDls.min
    val leafPlans = leaves.map(_._1)
    val baseMax =
      if (baseline) 0.0
      else Daat.foldWith(tree, { li =>
        val lp = leafPlans(li)
        // term leaves fill in with the frequency-list 2-arg background,
        // window leaves with the ListBeliefNode 4-arg background — the
        // same forms the exact scorer and the DataFrame fill-in use
        if (lp.window == null) lp.scoreFn.scoreOccurrence(0.0, minDlQuery)
        else lp.scoreFn.scoreOccurrence(0.0, minDlQuery, 0.0, minDlQuery)
      })

    val p = Daat.StructuredPlan(leafPlans, tree, lm = lmMethod, baseMax = baseMax)
    Some(Daat.topKStructured(index, p, k, exhaustive, del))
  }

  /** WAND threshold seeding from the topdocs lists (reference:
    * src/WeightedAndNode.cpp:119-186 seeds max-score candidates from the
    * topdocs unions). A doc's single-term contributions summed over its
    * topdocs entries are a LOWER bound of its true score (weights are
    * non-negative, and seeding is DISABLED whenever any term's occurrence
    * score can be negative — okapi idf < 0 for df > N/2 — because partial
    * knowledge cannot lower-bound a sum with negative terms), so the
    * k-th largest per-doc bound θ0 satisfies θ0 ≤ true k-th best —
    * pruning against it stays exact (WandPropertySpec). Collect is
    * bounded to k rows per query term.
    */
  private def topdocsSeed(p: Daat.DaatPlan, k: Int,
                          deleted: Set[Long] = Set.empty): Double = {
    val terms = p.terms.map(_.term).toSeq
    val w = Window.partitionBy("term")
      .orderBy((col("tf").cast(DoubleType) / col("length")).desc, col("docId").asc)
    // deleted docs are excluded: their bounds could exceed the surviving
    // corpus's true k-th best, which would make the seed unsound
    val rows = index.topdocs
      .where(col("term").isin(terms: _*))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select("term", "docId", "tf", "length").collect()
      .filterNot(r => deleted.contains(r.getLong(1)))
    if (rows.isEmpty) return Double.NegativeInfinity
    val byTerm = p.terms.map(tp => tp.term -> tp).toMap
    val perDoc = scala.collection.mutable.HashMap.empty[Long, Double]
    if (p.lm) {
      // LM lower bound: the topdocs rows give the doc's LENGTH, so score
      // every child with its recorded tf (or 0 — s is monotone in tf):
      // Σ w·s(tf_known_or_0, dl) ≤ the true score
      val known = scala.collection.mutable.HashMap.empty[Long, (Int, scala.collection.mutable.HashMap[String, Int])]
      rows.foreach { r =>
        val e = known.getOrElseUpdate(r.getLong(1),
          (r.getInt(3), scala.collection.mutable.HashMap.empty[String, Int]))
        e._2.update(r.getString(0), r.getInt(2))
      }
      known.foreach { case (doc, (dl, tfs)) =>
        var acc = 0.0
        p.children.foreach { case (ci, w) =>
          val tp = p.terms(ci)
          acc += w * tp.scoreFn.scoreOccurrence(tfs.getOrElse(tp.term, 0).toDouble, dl)
        }
        perDoc.update(doc, acc)
      }
    } else {
      // a term whose occurrence score can be NEGATIVE (okapi idf < 0
      // when df > N/2 — exactly the frequent terms that HAVE topdocs
      // lists) breaks per-doc lower bounds built from PARTIAL knowledge:
      // a matching-but-unrecorded term would have to subtract, so either
      // omitting it or clamping it to 0 OVERSTATES the bound and pruning
      // against θ0 would drop true results. Sign is fixed by idf
      // (probe tf=1), so skip seeding when any term can go negative.
      if (p.terms.exists(tp => tp.scoreFn.scoreOccurrence(1.0, 1) < 0))
        return Double.NegativeInfinity
      rows.foreach { r =>
        val tp = byTerm(r.getString(0))
        val c = tp.effWeight * tp.scoreFn.scoreOccurrence(r.getInt(2).toDouble, r.getInt(3))
        perDoc.update(r.getLong(1), perDoc.getOrElse(r.getLong(1), 0.0) + c)
      }
    }
    if (perDoc.size < k) Double.NegativeInfinity
    else {
      val vs = perDoc.values.toArray
      java.util.Arrays.sort(vs)
      vs(vs.length - k)
    }
  }

  /** Extent-restricted retrieval `#combine[f](…)` / `#combine[passageW:I](…)`:
    * every extent of the field (or every fixed sliding passage) in a
    * candidate document is scored as its own context — tf counted inside
    * the extent, contextSize = extent length — and ranked extents are
    * returned (reference: ExtentRestrictionNode/FixedPassageNode,
    * src/InferenceNetworkBuilder.cpp:152-185; ListBeliefNode scores with
    * the extent as context, src/ListBeliefNode.cpp:119-127). Candidate
    * docs = docs with ≥1 query-term occurrence (the WeightedAnd union).
    *
    * Child shape: flat #combine of terms (the passage-retrieval shape);
    * the okapi/tfidf baseline rejects extent restrictions exactly like
    * the reference (src/QueryEnvironment.cpp:912-918).
    */
  def runExtentQuery(query: String, k: Int, useDaat: Boolean = true): DataFrame = {
    val ast = QueryParser.parse(query)
    val er = ast match {
      case e: ExtentRestrictNode => e
      case _ => throw new IllegalArgumentException(s"not an extent-restricted query: $query")
    }
    require(!baseline, "extent restriction is rejected in okapi/tfidf baseline mode " +
      "(reference: src/QueryEnvironment.cpp:912-918) — use an LM rule")
    // flat term bags under any restricted belief op (reference:
    // indrilang.g — weightedList :269, sumList :285, unweightedList
    // :296 and notNode :358 all take the extentRestriction): #combine
    // folds 1/k inside one group, #weight/#wand fold normalized child
    // weights, #or/#max/#sum/#wsum fold singleton groups through the
    // matching belief combiner, #not wraps the single child
    def terms(cs: Seq[QueryNode]): Seq[String] = cs.map {
      case TermNode(t) => t
      case other => throw new IllegalArgumentException(
        s"extent restriction supports flat term bags, got $other")
    }
    val (childGroups, groupOp, weights, gweights):
        (Seq[Seq[String]], Option[String], Option[Seq[Double]], Option[Seq[Double]]) =
      er.child match {
        case TermNode(t) => (Seq(Seq(t)), None, None, None)
        case CombineNode(cs) => (Seq(terms(cs)), None, None, None)
        case WeightNode(cs) =>
          val total = cs.map(c => math.abs(c._1)).sum
          (Seq(terms(cs.map(_._2))), None, Some(cs.map(_._1 / total)), None)
        case OrQNode(cs) => (terms(cs).map(Seq(_)), Some("or"), None, None)
        case MaxQNode(cs) => (terms(cs).map(Seq(_)), Some("max"), None, None)
        case SumNode(cs) =>
          // #sum = unweighted #wsum (1/k group weights)
          (terms(cs).map(Seq(_)), Some("wsum"), None,
            Some(cs.map(_ => 1.0 / cs.size)))
        case WsumNode(cs) =>
          val total = cs.map(c => math.abs(c._1)).sum
          (terms(cs.map(_._2)).map(Seq(_)), Some("wsum"), None,
            Some(cs.map(_._1 / total)))
        case NotQNode(c) => (Seq(terms(Seq(c))), Some("not"), None, None)
        case other => throw new IllegalArgumentException(
          s"extent restriction supports flat term bags, got $other")
      }
    // per-field rule lists see the restriction field as the scorer
    // context; FixedPassageNode contexts are not fields → "?"
    val ctxF = if (er.passage.isEmpty) er.field else "?"
    // round 5: the extent-enumerating DAAT kernel is the default plan —
    // positions decode in-task from the segment blocks and only
    // bucket-local top-k extents reach the merge. Falls back to the
    // DataFrame path when the delete list outgrows the kernel bitmap.
    if (useDaat && daatDeletedSet.isDefined) {
      val prep = prepLeaves(childGroups.flatten.map(NexiParser.PlainTerm), ctxF)
      val nChildren = prep.fns.length
      val childTerm = new Array[String](nChildren)
      prep.keyIdx.foreach { case (t, cis) => cis.foreach(ci => childTerm(ci) = t) }
      val wChild: Array[Double] = weights match {
        case Some(ws) => ws.toArray
        case None => childGroups.flatMap(g => g.map(_ => 1.0 / g.length)).toArray
      }
      val groupOf: Array[Int] = childGroups.zipWithIndex
        .flatMap { case (g, gi) => g.map(_ => gi) }.toArray
      val nGroups = childGroups.length
      val gw: Array[Double] = gweights
        .map(_.toArray).getOrElse(Array.fill(nGroups)(1.0 / nGroups))
      val plan = Daat.ExtentPlan(childTerm, prep.fns, wChild, groupOf, nGroups,
        groupOp.getOrElse("combine"), gw)
      val fxRows = er.passage match {
        case Some(_) => null
        case None => fieldExtents.where(col("field") === er.field)
          .select("docId", "begin", "end")
      }
      return Daat.topKExtents(index, plan, er.passage, fxRows, k,
        daatDeletedSet.get)
    }
    val fx = er.passage match {
      case Some(_) => null
      case None =>
        fieldExtents.where(col("field") === er.field)
          .groupBy("docId").agg(
            sort_array(collect_list(struct(col("begin"), col("end")))).as("ex"))
    }
    scoreExtentContexts(childGroups, groupOp, fx, er.passage, k, weights, gweights,
      ctxF)
  }

  /** Shared clause-belief scaffold, generalized to structured NEXI term
    * leaves: per-child scorers (OOV/stopped children get the cf-guarded
    * TermStats(0,0) scorer), the processed-term → child-index map, and
    * the per-doc (term → positions) postings map for the live terms —
    * used by the extent-restriction DataFrame path and the NEXI CAS
    * scorer so the OOV guard and stats probe live in ONE place; the
    * FP-sensitive fold arithmetic stays at each call site
    * (reference: nexilang.g:439-480): phrase leaves evaluate as
    * exact-adjacency ODNodes whose per-doc match begins join the
    * candidate map under a NUL-prefixed synthetic key and score as
    * occurrence beliefs with the window's collection stats from the
    * one-job ContextCount round (DBL_QUOTE odNode branch →
    * NestedRawScorerNode over the ODNode); negated leaves mark their
    * child for the NotNode transform log(1 − exp(s)) at fold time
    * (term MINUS branch → NotNode). `lens` drives extent containment:
    * a match at begin p counts in context [b, e) iff p ≥ b ∧ p+len ≤ e
    * (plain terms len=1 — bit-identical to the positional check).
    * A phrase with any stopped/OOV constituent cannot match (the
    * window needs every term) → zero-stats child, cf-guarded scorer.
    */
  private final case class LeafPrep(
      fns: Array[TermScoreFunction], keyIdx: Map[String, Seq[Int]],
      lens: Array[Int], negs: Array[Boolean], perDoc: DataFrame)

  private def prepLeaves(leaves: Seq[NexiParser.NexiTerm],
                         ctxField: String = "?",
                         ctxFields: Seq[String] = null): LeafPrep = {
    // per-leaf scoring context for field: selector rules — a relative
    // about's leaves score in the REL field's context, the rest in the
    // CAS target's; one shared ctxField when the caller has one context
    val ctxOf: Int => String =
      if (ctxFields == null) _ => ctxField else ctxFields
    import NexiParser.{NotTerm, PhraseTerm, PlainTerm}
    val unwrapped: Seq[(NexiParser.NexiTerm, Boolean)] = leaves.map {
      case NotTerm(i) => (i, true)
      case l => (l, false)
    }
    require(unwrapped.forall(!_._1.isInstanceOf[NotTerm]),
      "double negation is outside the NEXI subset")
    val negs = unwrapped.map(_._2).toArray
    val processed: Seq[Either[String, Seq[String]]] = unwrapped.map {
      case (PlainTerm(t), _) => Left(analyzer.processTerm(t))
      case (PhraseTerm(ts), _) => Right(ts.map(analyzer.processTerm))
      case (NotTerm(_), _) => Left(null) // unreachable (required above)
    }
    val livePlain = processed.collect { case Left(t) if t != null => t }.distinct
    val tstats = termStatsFor(livePlain)
    val odByChild: Map[Int, OdNode] = processed.zipWithIndex.collect {
      case (Right(ts), i) if ts.nonEmpty && ts.forall(_ != null) =>
        // ts are ALREADY processed — mark them stemmed so evaluateRaw/
        // complexStatsBatch look them up verbatim instead of re-running
        // the chain (a stem that collides with a stopword, e.g.
        // 'willing'→'will' with 'will' stopped, would otherwise null out
        // and the phrase would silently never match)
        i -> OdNode(1, ts.map(t =>
          TermNode(graft.analysis.Analyzer.StemmedMarker + t)))
    }.toMap
    val odStats = complexStatsBatch(odByChild.values.toSeq)
    val fns: Array[TermScoreFunction] = processed.zipWithIndex.map {
      case (Left(pt), i) =>
        val ts = if (pt == null) TermStats(0, 0) else tstats.getOrElse(pt, TermStats(0, 0))
        Scorers.forTerm(ruleFor(ctxOf(i), "term"), ts.ctf.toDouble,
          stats.totalTerms.toDouble,
          ts.df.toDouble, stats.totalDocs)
      case (Right(_), i) =>
        val (occ, df) = odByChild.get(i).flatMap(odStats.get).getOrElse((0.0, 0L))
        Scorers.forTerm(ruleFor(ctxOf(i), "window"), occ,
          stats.totalTerms.toDouble,
          df.toDouble, stats.totalDocs)
    }.toArray
    val lens: Array[Int] = processed.map {
      case Left(_) => 1
      case Right(ts) => ts.length
    }.toArray
    def phraseKey(i: Int) = s"\u0000od:$i"
    val keyIdx: Map[String, Seq[Int]] =
      processed.zipWithIndex.collect { case (Left(t), i) if t != null => (t, i) }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) } ++
        odByChild.keys.map(i => phraseKey(i) -> Seq(i))
    val plainDf =
      if (livePlain.isEmpty) None
      else Some(index.postingsView(livePlain)
        .select(col("docId"), col("term"), col("positions")))
    val phraseDfs = odByChild.toSeq.sortBy(_._1).map { case (i, od) =>
      evaluateRaw(od).df.select(col("docId"), lit(phraseKey(i)).as("term"),
        col("begins").as("positions"))
    }
    val perDoc = (plainDf.toSeq ++ phraseDfs).reduceOption(_ unionByName _)
      .map(_.groupBy("docId")
        .agg(map_from_entries(collect_list(struct(col("term"), col("positions")))).as("tp")))
      .orNull
    LeafPrep(fns, keyIdx, lens, negs, perDoc)
  }

  /** The DataFrame plan of [[runExtentQuery]] (taken when `useDaat` is
    * off or the delete list outgrows the DAAT kernel's bitmap; the path
    * `Daat.topKExtents` is pinned against): every extent (or sliding
    * passage) of a candidate document is scored as its own context.
    *
    * Each group in `childGroups` is one term-bag belief, its children
    * weighted by `weights` (default 1/|group|) inside the extent;
    * `groupOp` folds multiple groups with the restricted belief op —
    * "or" → OrNode log(1−Π(1−exp(s))), "max" → MaxNode, "wsum" →
    * log(Σ w·exp(s)) over `groupWeights`, "not" → NotNode over the single
    * group, anything else → CombineNode 1/k mean of logs.
    *
    * @param extentsByDoc (docId, ex: array<struct<begin,end>>); null when
    *                     `passage` drives the contexts instead
    */
  private def scoreExtentContexts(childGroups: Seq[Seq[String]],
                                  groupOp: Option[String],
                                  extentsByDoc: DataFrame,
                                  passage: Option[(Int, Int)],
                                  k: Int,
                                  weights: Option[Seq[Double]],
                                  groupWeights: Option[Seq[Double]],
                                  ctxField: String): DataFrame = {
    val prep = prepLeaves(childGroups.flatten.map(NexiParser.PlainTerm), ctxField)
    val fns = prep.fns
    val termIdx = prep.keyIdx
    val groupOf: Array[Int] = childGroups.zipWithIndex
      .flatMap { case (g, gi) => g.map(_ => gi) }.toArray
    val wChild: Array[Double] = weights match {
      case Some(ws) => ws.toArray
      case None => childGroups.flatMap(g => g.map(_ => 1.0 / g.length)).toArray
    }
    val nGroups = childGroups.length
    val op: String = groupOp.getOrElse("combine")
    val gw: Array[Double] = groupWeights
      .map(_.toArray).getOrElse(Array.fill(nGroups)(1.0 / nGroups))
    if (prep.perDoc == null) return emptyExtents
    val perDoc = prep.perDoc

    val extentsDf = passage match {
      case Some((width, inc)) =>
        // fixed sliding passages over [0, doclen) (FixedPassageNode)
        perDoc.join(index.doclens, Seq("docId"), "inner")
          .withColumn("begins",
            sequence(lit(0), greatest(col("length") - 1, lit(0)), lit(inc)))
          .withColumn("ex", transform(col("begins"),
            b => struct(b.as("begin"), least(b + width, col("length")).as("end"))))
          .select(col("docId"), col("tp"), col("ex"))
      case None =>
        perDoc.join(extentsByDoc, Seq("docId"), "inner")
          .select(col("docId"), col("tp"), col("ex"))
    }
    val bcGw = spark.sparkContext.broadcast(gw)
    val bcOp = spark.sparkContext.broadcast(op)

    val bcFns = spark.sparkContext.broadcast(fns)
    val bcIdx = spark.sparkContext.broadcast(termIdx)
    val bcGroupOf = spark.sparkContext.broadcast(groupOf)
    val bcWChild = spark.sparkContext.broadcast(wChild)
    val scoreUdf = udf { (tp: Map[String, Seq[Int]], bs: Seq[Int], es: Seq[Int]) =>
      val fs = bcFns.value
      val tIdx = bcIdx.value
      val gOf = bcGroupOf.value
      val wc = bcWChild.value
      bs.indices.map { i =>
        val b = bs(i); val e = es(i)
        val ctx = e - b
        var child = 0
        val tfByChild = new Array[Int](fs.length)
        tp.foreach { case (t, ps) =>
          tIdx.getOrElse(t, Nil).foreach { ci =>
            var c = 0
            var lastEnd = 0
            // containment of a term match at p in [b, e), counted under
            // the greedy non-overlap scan (reference ListBeliefNode rule)
            ps.foreach { p =>
              if (p >= b && p < e && p >= lastEnd) { c += 1; lastEnd = p + 1 } }
            tfByChild(ci) = c
          }
        }
        val groupScore = new Array[Double](nGroups)
        while (child < fs.length) {
          groupScore(gOf(child)) +=
            wc(child) * fs(child).scoreOccurrence(tfByChild(child).toDouble, ctx)
          child += 1
        }
        val acc = bcOp.value match {
          case "or" | "combine" if nGroups == 1 => groupScore(0)
          case "or" => // OrNode fold
            var notAny = 1.0; var g = 0
            while (g < nGroups) { notAny *= (1.0 - math.exp(groupScore(g))); g += 1 }
            math.log(1.0 - notAny)
          case "max" => // MaxNode fold (reference: src/MaxNode.cpp)
            var m = Double.NegativeInfinity; var g = 0
            while (g < nGroups) { if (groupScore(g) > m) m = groupScore(g); g += 1 }
            m
          case "wsum" => // WSumNode fold: log(Σ w·exp(s)) with the
            // |w|-normalized group weights (reference: src/WSumNode.cpp)
            var s = 0.0; var g = 0
            val w = bcGw.value
            while (g < nGroups) { s += w(g) * math.exp(groupScore(g)); g += 1 }
            math.log(s)
          case "not" => // NotNode over the single group
            math.log1p(-math.exp(groupScore(0)))
          case _ =>
            if (nGroups == 1) groupScore(0)
            else { // CombineNode 1/k fold
              var s = 0.0; var g = 0
              while (g < nGroups) { s += groupScore(g) / nGroups; g += 1 }
              s
            }
        }
        (b, e, acc)
      }
    }
    notDeleted(extentsDf)
      .withColumn("scored", explode(scoreUdf(col("tp"), col("ex.begin"), col("ex.end"))))
      .select(col("docId"), col("scored._1").as("begin"),
        col("scored._2").as("end"), col("scored._3").as("score"))
      // full tiebreak (score, docId, begin, END) — the DAAT extent
      // kernel's heap orders on this 4-tuple; without `end`, two nested
      // same-begin extents with equal scores could resolve differently
      // at the k boundary between the kernel and DataFrame paths (the
      // same 4-key order applies at every extent-result sort below)
      .orderBy(col("score").desc, col("docId").asc, col("begin").asc,
        col("end").asc)
      .limit(k)
  }

  /** empty (docId, begin, end, score) extent result */
  private def emptyExtents: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("docId", LongType), StructField("begin", IntegerType),
      StructField("end", IntegerType), StructField("score", DoubleType))))

  /** human-readable node kind for annotation path labels */
  private def describe(n: QueryNode): String = n match {
    case TermNode(t) => s"term($t)"
    case WildcardNode(p) => s"wildcard($p*)"
    case OdNode(w, _) => s"od$w"
    case UwNode(w, _) => s"uw$w"
    case BandNode(_) => "band"
    case SynNode(_) => "syn"
    case WsynNode(_) => "wsyn"
    case AnyFieldNode(f) => s"any:$f"
    case FieldRestrictNode(_, f) => s"inside:$f"
    case FieldListRestrictNode(_, fs) => s"inside:${fs.mkString(",")}"
    case ContextRestrictNode(_, cs) => s"context:${cs.mkString(",")}"
    case FieldNumNode(op, f, _, _) => s"$op:$f"
    case FieldPathNode(op, a, b) => s"$op($a,$b)"
    case CombineNode(_) => "combine"
    case WeightNode(_) => "weight"
    case WsumNode(_) => "wsum"
    case SumNode(_) => "sum"
    case OrQNode(_) => "or"
    case MaxQNode(_) => "max"
    case NotQNode(_) => "not"
    case FilReqNode(_, _) => "filreq"
    case FilRejNode(_, _) => "filrej"
    case PriorQNode(p) => s"prior($p)"
    case LengthPriorQNode(_, _) => "lengthprior"
    case ExtentRestrictNode(f, _, _) => s"extent:$f"
  }

  private def childrenOf(n: QueryNode): Seq[QueryNode] = n match {
    case OdNode(_, cs) => cs
    case UwNode(_, cs) => cs
    case BandNode(cs) => cs
    case SynNode(cs) => cs
    case WsynNode(cs) => cs.map(_._2)
    case FieldRestrictNode(c, _) => Seq(c)
    case FieldListRestrictNode(c, _) => Seq(c)
    case ContextRestrictNode(c, _) => Seq(c)
    case CombineNode(cs) => cs
    case WeightNode(cs) => cs.map(_._2)
    case WsumNode(cs) => cs.map(_._2)
    case SumNode(cs) => cs
    case OrQNode(cs) => cs
    case MaxQNode(cs) => cs
    case NotQNode(c) => Seq(c)
    case FilReqNode(f, s) => Seq(f, s)
    case FilRejNode(f, s) => Seq(f, s)
    case LengthPriorQNode(_, c) => Seq(c)
    case ExtentRestrictNode(_, _, c) => Seq(c)
    case _ => Nil
  }

  /** every match (raw) node of the tree with its path label — belief
    * nodes contribute structure to the path but no extents themselves
    */
  private def annotatableNodes(n: QueryNode, path: String): Seq[(String, QueryNode)] = {
    val self = if (isRawNode(n)) Seq(path -> n) else Nil
    self ++ childrenOf(n).zipWithIndex.flatMap { case (c, i) =>
      annotatableNodes(c, s"$path/$i:${describe(c)}")
    }
  }

  /** Annotated retrieval (reference: QueryEnvironment::runAnnotatedQuery,
    * src/QueryEnvironment.cpp:992-1002; the Annotator records every
    * node's matching extents for the returned documents,
    * src/Annotator.cpp).
    *
    * `annotations` = (docId, node, begin, end) for EVERY match (raw)
    * node of the query tree — including term leaves nested inside window
    * operators — restricted to the returned documents. `node` is the
    * tree path "0:kind/childIdx:kind/..." so duplicated operators stay
    * distinguishable, the nodeName-keyed map analogue.
    */
  def runAnnotatedQuery(query: String, k: Int): QueryAnnotation = {
    val ast = QueryParser.parse(query)
    val results = runQuery(query, k)
    // small (≤k ids) snapshot reused by one semi-join per node — eager
    // localCheckpoint so the ranking query runs once, not once per node
    val topDocs = results.select("docId").localCheckpoint(true)
    val parts = annotatableNodes(ast, s"0:${describe(ast)}").map { case (label, n) =>
      evaluateRaw(n).df
        .join(topDocs, Seq("docId"), "left_semi")
        .select(col("docId"), lit(label).as("node"),
          explode(arrays_zip(col("begins"), col("ends"))).as("ex"))
        .select(col("docId"), col("node"),
          col("ex.begins").as("begin"), col("ex.ends").as("end"))
    }
    val annotations =
      if (parts.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
          StructField("docId", LongType), StructField("node", StringType),
          StructField("begin", IntegerType), StructField("end", IntegerType))))
      else parts.reduce(_ union _)
    QueryAnnotation(results, annotations)
  }

  /** NEXI (INEX CAS/CO) retrieval — the reference's second query
    * language (reference: src/nexilang.g:151-240, NexiParser/NexiLexer;
    * QueryEnvironment parses NEXI when queryType="nexi").
    *
    * CO `t1 t2` ranks documents; CAS `//f[about(., terms)]` ranks the
    * extents of f scored as their own contexts; `//a//b[about(., …)]`
    * ranks b extents nested inside an a extent (NestedExtentInside →
    * the descendant link walk over the indexed ordinal/parent tree).
    */
  def runNexi(query: String, k: Int): DataFrame = runNexi(query, k, None)

  /** NEXI retrieval with an optional working set — the reference's
    * runQuery(query, docids, k, "nexi") FilterNode restriction
    * (src/QueryEnvironment.cpp:694-707): CAS target extents filter to
    * the named documents BEFORE scoring/top-k, CO queries ride the
    * working-set runQuery overload.
    */
  def runNexi(query: String, k: Int, workingSet: Option[DataFrame]): DataFrame = {
    def restricted(path: Seq[String]): DataFrame = workingSet match {
      case Some(ws) => nexiExtents(path)
        .join(ws.select(col(ws.columns.head).as("docId")), Seq("docId"), "left_semi")
      case None => nexiExtents(path)
    }
    val nq = NexiParser.parse(query)
    if (nq.path.isEmpty) {
      // CO query: phrase leaves become #od1 windows, negated leaves
      // #not beliefs — the same nodes the reference's NEXI builder
      // emits (nexilang.g:439-480: MINUS → NotNode, quoted → ODNode)
      // build NODES directly (no query-string round-trip: a CO term
      // like 'node.js' would re-lex with indri DOT-qualifier semantics)
      def toNode(l: NexiParser.NexiTerm): QueryNode = l match {
        case NexiParser.PlainTerm(t) => TermNode(t)
        case NexiParser.PhraseTerm(ts) => OdNode(1, ts.map(TermNode(_)))
        case NexiParser.NotTerm(inner) => NotQNode(toNode(inner))
      }
      val flat = nq.leafGroups.flatten
      // #not is log(1 − exp(s)) over a LOG-probability — okapi/tfidf
      // scores are positive reals, exp(s) > 1 and the transform is NaN;
      // the reference likewise rejects complex operators in baseline
      // mode (reference: src/QueryEnvironment.cpp:895-937)
      require(!(baseline && flat.exists(_.isInstanceOf[NexiParser.NotTerm])),
        "NEXI negated terms use the #not log-probability transform — " +
        "rejected in okapi/tfidf baseline mode; use an LM rule")
      val ast = CombineNode(flat.map(toNode))
      return workingSet match {
        case Some(ws) => runParsedWs(ast, k, ws)
        case None => runParsed(ast, k)
      }
    }
    require(!baseline, "NEXI CAS scoring uses extent contexts — rejected in " +
      "okapi/tfidf baseline mode like extent restriction; use an LM rule")
    scoreClauses((nq +: nq.inner.toSeq).map(q => q -> restricted(q.path)), k)
  }

  /** The NEXI CAS scorer, one for every clause shape (reference:
    * nexilang.g:180-206, 312-363 — clause := filter (logical filter)?,
    * filter := about | arithmetic | '(' clause ')', and the second
    * `//b[…]` bracket reuses the same rule). `levels` holds one
    * (query, target extents) pair for `//a[c]`, or two for
    * `//a[c1]//b[c2]`. ONE prepLeaves round + ONE numeric ContextCount
    * batch serve both levels (global child/group numbering, one
    * [[ClauseScorer]] per level over its group range). Leaf beliefs:
    *  - `about(., …)`: the term bag scored in the target extent;
    *  - `about(.//s, …)`: the MAX over CONTAINED s extents of the bag
    *    scored in the s context (MaxNode over ExtentRestriction,
    *    nexilang.g:370-390);
    *  - `.//g op n`: matching g extents CONTAINED in the target count as
    *    occurrences, collection stats from the ContextCount round
    *    (nexilang.g:395-440 arithmeticClause → NestedRawScorerNode).
    * One level ranks the target extents. Two levels rank each b extent
    * nested in an a extent by clause1-over-a PLUS clause2-over-b
    * (ContextInclusionAndNode + ExtentEnforcement,
    * src/ContextInclusionAndNode.cpp:223-261,
    * src/ExtentEnforcementNode.cpp:48-80). An undefined clause at either
    * level drops the extent (or the pair). Candidate docs = docs with ≥1
    * about-term occurrence at any level or ≥1 matching numeric extent.
    */
  private def scoreClauses(levels: Seq[(NexiParser.NexiQuery, DataFrame)],
                           k: Int): DataFrame = {
    import NexiParser.{AboutClause, NumericClause}
    val cls = levels.flatMap(_._1.nexiClauses)
    // level l owns the groups [bounds(l), bounds(l + 1))
    val bounds = levels.scanLeft(0)(_ + _._1.nexiClauses.length)
    val ctxOfGroup = levels.flatMap { case (q, _) =>
      q.nexiClauses.map(_ => q.path.lastOption.getOrElse("?"))
    }
    // term-leaf children of the about clauses, scored in the relative
    // field's context when there is one, else in the level's target
    val prep = prepLeaves(
      cls.flatMap { case AboutClause(_, ls) => ls; case _ => Nil },
      ctxFields = cls.zipWithIndex.flatMap {
        case (AboutClause(rel, ls), gi) => ls.map(_ => rel.getOrElse(ctxOfGroup(gi)))
        case _ => Nil
      })
    // child range [childStart(g), childStart(g+1)) per clause — numeric
    // clauses contribute no term children
    val childStart: Array[Int] = cls.scanLeft(0) {
      case (acc, AboutClause(_, ls)) => acc + ls.length
      case (acc, _) => acc
    }.toArray
    val wChild: Array[Double] = cls.flatMap {
      case AboutClause(_, ls) => ls.map(_ => 1.0 / ls.length)
      case _ => Nil
    }.toArray
    val relOfGroup: Array[String] = cls.map {
      case AboutClause(rel, _) => rel.orNull
      case _ => null
    }.toArray
    val numNodes: Seq[(Int, QueryNode)] = cls.zipWithIndex.collect {
      case (NumericClause(f, "less", v), gi) =>
        gi -> FieldNumNode("less", f, Long.MinValue, v)
      case (NumericClause(f, "greater", v), gi) =>
        gi -> FieldNumNode("greater", f, v, Long.MaxValue)
      case (NumericClause(f, "equals", v), gi) =>
        gi -> FieldNumNode("equals", f, v, v)
    }
    val numStats = complexStatsBatch(numNodes.map(_._2))
    val numFnByGroup: Map[Int, TermScoreFunction] = numNodes.map { case (gi, n) =>
      val (occ, df) = numStats(n)
      gi -> Scorers.forTerm(rule, occ, stats.totalTerms.toDouble,
        df.toDouble, stats.totalDocs)
    }.toMap
    val numExt =
      if (numNodes.isEmpty) null
      else numNodes.map { case (gi, n) =>
        evaluateRaw(n).df.select(col("docId"), lit(gi).as("g"),
          col("begins"), col("ends"))
      }.reduce(_ unionByName _)
        .groupBy("docId")
        .agg(collect_list(struct(col("g"), col("begins"), col("ends"))).as("numx"))
    val cand = (Option(prep.perDoc), Option(numExt)) match {
      case (Some(pd), Some(nx)) => pd.join(nx, Seq("docId"), "full_outer")
        .select(col("docId"), col("tp"), col("numx"))
      case (Some(pd), None) => pd.withColumn("numx",
        lit(null).cast("array<struct<g:int,begins:array<int>,ends:array<int>>>"))
      case (None, Some(nx)) => nx.select(col("docId"),
        lit(null).cast("map<string,array<int>>").as("tp"), col("numx"))
      case (None, None) => return emptyExtents
    }
    // per-doc extents of each relative-filter field (left join: a
    // target with no contained rel extent leaves its group undefined)
    val relFields = relOfGroup.filter(_ != null).distinct.toSeq
    val relxDf =
      if (relFields.isEmpty) null
      else relFields.map { f =>
        nexiExtents(Seq(f)).select(col("docId"), lit(f).as("f"),
          transform(col("ex"), s => s("begin")).as("sbs"),
          transform(col("ex"), s => s("end")).as("ses"))
      }.reduce(_ unionByName _)
        .groupBy("docId")
        .agg(collect_list(struct(col("f"), col("sbs"), col("ses"))).as("relx"))
    val joined0 = levels.zipWithIndex.foldLeft(cand) { case (df, ((_, ext), l)) =>
      df.join(ext.select(col("docId"), col("ex").as(s"ex$l")), Seq("docId"), "inner")
    }
    val joined =
      if (relxDf == null)
        joined0.withColumn("relx",
          lit(null).cast("array<struct<f:string,sbs:array<int>,ses:array<int>>>"))
      else joined0.join(relxDf, Seq("docId"), "left")
    val scorers = levels.indices.map { l =>
      val q = levels(l)._1
      new ClauseScorer(prep.fns, prep.keyIdx, childStart, wChild,
        prep.lens, prep.negs, numFnByGroup, relOfGroup,
        gLo = bounds(l), gHi = bounds(l + 1), isOr = q.op.contains("or"),
        tree = q.tree.map(ScoreTree.from).orNull)
    }.toArray
    val bcScorers = spark.sparkContext.broadcast(scorers)
    // bBs == null: one level, every scored a extent is a result
    val scoreUdf = udf { (tp: Map[String, Seq[Int]], numx: Seq[Row],
                          relx: Seq[Row],
                          aBs: Seq[Int], aEs: Seq[Int],
                          bBs: Seq[Int], bEs: Seq[Int]) =>
      val sc = bcScorers.value
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
      aBs.indices.foreach { ai =>
        val ab = aBs(ai); val ae = aEs(ai)
        sc(0).score(tp, numx, relx, ab, ae).foreach { s1 =>
          if (bBs == null) out += ((ab, ae, s1))
          else bBs.indices.foreach { bi =>
            val bb = bBs(bi); val be = bEs(bi)
            if (bb >= ab && be <= ae)
              sc(1).score(tp, numx, relx, bb, be).foreach { s2 =>
                out += ((bb, be, s1 + s2))
              }
          }
        }
      }
      out.toSeq
    }
    val (bBs, bEs) =
      if (levels.length == 2) (col("ex1.begin"), col("ex1.end"))
      else (lit(null).cast("array<int>"), lit(null).cast("array<int>"))
    notDeleted(joined)
      .withColumn("scored", explode(scoreUdf(col("tp"), col("numx"), col("relx"),
        col("ex0.begin"), col("ex0.end"), bBs, bEs)))
      .select(col("docId"), col("scored._1").as("begin"),
        col("scored._2").as("end"), col("scored._3").as("score"))
      .orderBy(col("score").desc, col("docId").asc, col("begin").asc,
        col("end").asc)
      .limit(k)
  }

  /** (docId, ex: sorted array<struct<begin,end>>) for a NEXI path */
  private def nexiExtents(path: Seq[String]): DataFrame = path match {
    case Seq(f) =>
      fieldExtents.where(col("field") === f)
        .groupBy("docId").agg(
          sort_array(collect_list(struct(col("begin"), col("end")))).as("ex"))
    case Seq(outer, inner) =>
      // b-extents with an a ancestor (NestedExtentInside)
      val raw = evaluateRaw(FieldPathNode("descendant", inner, outer)).df
      raw.select(col("docId"),
        sort_array(transform(arrays_zip(col("begins"), col("ends")),
          s => struct(s("begins").as("begin"), s("ends").as("end")))).as("ex"))
    case p =>
      // //a//b//c…: extents of the LAST field whose ancestor chain
      // passes the remaining path fields in order, innermost first
      // (chained NestedExtentInside, reference: nexilang.g:251-270) —
      // intervening levels are allowed, same as the 2-level descendant
      val target = p.last
      val grouped = fieldExtents.groupBy("docId").agg(
        collect_list(struct(col("field"), col("begin"), col("end"),
          col("ordinal"), col("parentField"), col("parentOrdinal"))).as("all"))
      val bcNeed = spark.sparkContext.broadcast(p.dropRight(1).toArray)
      val chainUdf = udf { (all: Seq[Row]) =>
        val need = bcNeed.value // outermost first
        val byKey = all.map(r => (r.getString(0), r.getInt(3)) -> r).toMap
        all.filter { r =>
          r.getString(0) == target && {
            var j = need.length - 1 // innermost required ancestor first
            var pf = r.getString(4); var po = r.getInt(5)
            var hops = 0
            while (pf != null && j >= 0 && hops < 64) {
              if (pf == need(j)) j -= 1
              byKey.get((pf, po)) match {
                case Some(par) => pf = par.getString(4); po = par.getInt(5)
                case None => pf = null
              }
              hops += 1
            }
            j < 0
          }
        }.map(r => (r.getInt(1), r.getInt(2)))
      }
      grouped.select(col("docId"), chainUdf(col("all")).as("be"))
        .where(size(col("be")) > 0)
        .select(col("docId"),
          sort_array(transform(col("be"),
            s => struct(s("_1").as("begin"), s("_2").as("end")))).as("ex"))
  }

  /** Shrinkage-smoothed extent retrieval — ShrinkageBeliefNode's default
    * configuration (reference: src/ShrinkageBeliefNode.cpp:167-420 with
    * queryLevelCombine=false, recursive=false, no per-child smoothing
    * rules; the Ogilvie/Callan shrinkage model over document structure):
    *
    * per term t and field extent e with JM smoothing (λ):
    *   MLE(t|node)   = counts(node)/length(node)   (the reference recovers
    *                   this by un-mixing the λ-smoothed score, :304)
    *   p_doc         = (1−λ)·MLE(t|doc) + λ·cf     (base[0], :282)
    *   down(e)       = (1−w_p−w_d)·MLE(e) + w_p·MLE(parent) + w_d·p_doc
    *                   (root-level extents: (1−w_d)·MLE(e) + w_d·p_doc,
    *                   reference :391-406)
    *   score(t, e)   = log((1−λ)·down(e) + λ·cf)   (:412-419 re-mix + log)
    * and the query combines terms with 1/k weights like #combine.
    *
    * Returns ranked (docId, begin, end, score) extents of `field`.
    */
  /** parse `addShrinkageRule` strings — `key:value,key:value,…` where
    * keys are parentWeight / docWeight / recursive / queryLevelCombine /
    * field / weight / length (reference: src/ShrinkageBeliefNode.cpp:
    * 483-530). A string with a `field:` key contributes one rule; the
    * weight keys update the node parameters.
    */
  private def parseShrinkageRules(rules: Seq[String], pw0: Double, dw0: Double)
      : (Map[String, ShrinkRule], Double, Double, Boolean, Boolean) = {
    var pw = pw0; var dw = dw0; var recursive = false; var qlc = false
    val map = scala.collection.mutable.LinkedHashMap.empty[String, ShrinkRule]
    rules.foreach { text =>
      var field = ""; var weight = 0.0; var lenProp = false
      text.split(',').foreach { kv =>
        val i = kv.indexOf(':')
        if (i > 0) {
          val key = kv.substring(0, i).trim
          val value = kv.substring(i + 1).trim
          key match {
            case "parentWeight" => pw = value.toDouble
            case "docWeight" => dw = value.toDouble
            case "recursive" => recursive = value == "true"
            case "queryLevelCombine" => qlc = value == "true" 
            case "field" => field = value
            case "weight" => weight = value.toDouble
            case "length" => lenProp = value == "true"
            case _ =>
          }
        }
      }
      if (field.nonEmpty) map(field) = ShrinkRule(field, weight, lenProp)
    }
    (map.toMap, pw, dw, recursive, qlc)
  }

  def runShrinkageQuery(field: String, terms: Seq[String], k: Int,
                        parentWeight: Double = 0.2, docWeight: Double = 0.2,
                        lambda: Double = 0.4,
                        rules: Seq[String] = Nil): DataFrame = {
    val (ruleMap, wp, wd, recursive, qlc) =
      parseShrinkageRules(rules, parentWeight, docWeight)
    val processed = terms.map(analyzer.processTerm)
    val live = processed.filter(_ != null).distinct
    val tstats = termStatsFor(live)
    val T = if (stats.totalTerms == 0) 1.0 else stats.totalTerms.toDouble
    // cf per child (reference collectionFrequency fallback for OOV)
    val cfs: Array[Double] = processed.map { pt =>
      val ctf = if (pt == null) 0L else tstats.get(pt).map(_.ctf).getOrElse(0L)
      if (ctf != 0) ctf / T else 1.0 / (T * 2.0)
    }.toArray
    val w = 1.0 / processed.length
    val termIdx: Map[String, Seq[Int]] =
      processed.zipWithIndex.filter(_._1 != null).groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2) }

    val perDoc = index.postingsView(live)
      .groupBy("docId")
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions")))).as("tp"),
        first(col("doclen")).as("doclen"))
    // the document's extent tree (all fields — parents may be other fields)
    val tree = fieldExtents
      .groupBy("docId").agg(collect_list(struct(
        col("field"), col("begin"), col("end"),
        col("ordinal"), col("parentField"), col("parentOrdinal"))).as("tree"))

    val bcCfs = spark.sparkContext.broadcast(cfs)
    val bcIdx = spark.sparkContext.broadcast(termIdx)
    val bcRules = spark.sparkContext.broadcast(ruleMap)
    val f = field; val lam = lambda; val rec = recursive; val qlcV = qlc
    val scoreUdf = udf { (tp: Map[String, Seq[Int]], doclen: Int, tree: Seq[Row]) =>
      val cfsV = bcCfs.value
      val tIdx = bcIdx.value
      val rulesV = bcRules.value
      val nChildren = cfsV.length
      val nNodes = tree.length
      // per-child positions
      val posByChild = Array.fill(nChildren)(Seq.empty[Int])
      tp.foreach { case (t, ps) =>
        tIdx.getOrElse(t, Nil).foreach(ci => posByChild(ci) = ps)
      }
      def mle(ps: Seq[Int], b: Int, e: Int): Double = {
        val len = e - b
        if (len <= 0) 0.0 else ps.count(p => p >= b && p < e).toDouble / len
      }
      // tree wiring: (field, ordinal) keys, children lists, depth-sorted
      // topological order (parents first — depth via parent chain, cycle
      // guarded by nNodes)
      val byKey = tree.zipWithIndex
        .map { case (r, i) => (r.getString(0), r.getInt(3)) -> i }.toMap
      val parentOf: Array[Int] = tree.map { r =>
        r.getString(4) match {
          case null => -1
          case pf => byKey.getOrElse((pf, r.getInt(5)), -1)
        }
      }.toArray
      val childrenOf = Array.fill(nNodes)(List.empty[Int])
      var i0 = nNodes - 1
      while (i0 >= 0) { // reverse build keeps child lists in tree order
        val p = parentOf(i0)
        if (p >= 0) childrenOf(p) = i0 :: childrenOf(p)
        i0 -= 1
      }
      val depth = Array.tabulate(nNodes) { i =>
        var d = 0; var cur = parentOf(i)
        while (cur >= 0 && d <= nNodes) { d += 1; cur = parentOf(cur) }
        d
      }
      val topo = (0 until nNodes).sortBy(depth(_))

      val targetIdx = (0 until nNodes).filter(tree(_).getString(0) == f)
      val accs = new Array[Double](targetIdx.length)
      var ci = 0
      while (ci < nChildren) {
        val ps = posByChild(ci)
        val cf = cfsV(ci)
        locally {
          // base[0] — the λ-mixed document model (reference keeps it
          // mixed; node bases are the un-mixed MLEs, :282-306). With
          // queryLevelCombine:true everything stays in LOG space: node
          // bases are the λ-mixed log scores, the up/down passes mix
          // logs linearly, and the final re-mix + log is skipped
          // (reference :281-306 qlc branches, :412-419 guard)
          val pDocProb = (1 - lam) * (if (doclen > 0) ps.length.toDouble / doclen else 0.0) + lam * cf
          val pDoc = if (qlcV) math.log(pDocProb) else pDocProb
          val base = Array.tabulate(nNodes) { i =>
            val m = mle(ps, tree(i).getInt(1), tree(i).getInt(2))
            if (qlcV) math.log((1 - lam) * m + lam * cf) else m
          }
          // up pass — child rules fold into the parent, bottom-up
          // (reference :318-379; recursive uses the child's smoothed up)
          val up = new Array[Double](nNodes)
          topo.reverseIterator.foreach { i =>
            var remaining = 1.0
            var absolute = 0.0
            val len = tree(i).getInt(2) - tree(i).getInt(1)
            var divisor = len.toDouble
            var relative = base(i) * len
            if (rulesV.nonEmpty) childrenOf(i).foreach { c =>
              rulesV.get(tree(c).getString(0)) match {
                case Some(r) if r.lengthProportional =>
                  val la = r.weight * (tree(c).getInt(2) - tree(c).getInt(1))
                  relative += la * (if (rec) up(c) else base(c))
                  divisor += la
                case Some(r) =>
                  absolute += r.weight * (if (rec) up(c) else base(c))
                  remaining -= r.weight
                case None =>
              }
            }
            relative /= divisor
            up(i) =
              if (relative.isNaN) { // divisor 0 — empty extent
                if (remaining >= 0) remaining * base(i) + absolute else base(i)
              } else {
                if (remaining >= 0) remaining * relative + absolute else relative
              }
          }
          // down pass — doc + parent mixing, top-down (reference
          // :383-410; recursive mixes the parent's DOWN score)
          val down = new Array[Double](nNodes)
          val down0 = pDoc // up[0] = base[0]; down[0] = up[0]
          topo.foreach { i =>
            val p = parentOf(i)
            down(i) =
              if (tree(i).getString(4) == null)
                (1 - wd) * up(i) + wd * down0
              else {
                val pSmooth =
                  if (p >= 0) { if (rec) down(p) else up(p) } else up(i)
                (1 - wp - wd) * up(i) + wp * pSmooth + wd * down0
              }
          }
          var t = 0
          while (t < targetIdx.length) {
            accs(t) += w * (if (qlcV) down(targetIdx(t))
                            else math.log((1 - lam) * down(targetIdx(t)) + lam * cf))
            t += 1
          }
        }
        ci += 1
      }
      targetIdx.zipWithIndex.map { case (i, t) =>
        (tree(i).getInt(1), tree(i).getInt(2), accs(t))
      }
    }
    notDeleted(perDoc.join(tree, Seq("docId"), "inner"))
      .withColumn("scored", explode(scoreUdf(col("tp"), col("doclen"), col("tree"))))
      .select(col("docId"), col("scored._1").as("begin"),
        col("scored._2").as("end"), col("scored._3").as("score"))
      .orderBy(col("score").desc, col("docId").asc, col("begin").asc,
        col("end").asc)
      .limit(k)
  }

  /** runQuery restricted to a working set of docIds — the FilterNode
    * wrap (reference: QueryEnvironment::_scoredQuery adds FilterNode,
    * src/QueryEnvironment.cpp:694-707).
    */
  def runQuery(query: String, k: Int, workingSet: DataFrame): DataFrame =
    runParsedWs(QueryParser.parse(query), k, workingSet)

  private[graft] def runParsedWs(ast: QueryNode, k: Int,
                                 workingSet: DataFrame): DataFrame = {
    val ws = workingSet.select(col(workingSet.columns.head).cast(LongType).as("docId"))
    val belief = evaluate(ast)
    notDeleted(belief.df).join(ws, Seq("docId"), "left_semi")
      .select(col("docId"), col("score"))
      .orderBy(col("score").desc, col("docId").asc)
      .limit(k)
  }

  /** swap the query-side stopword list (reference:
    * QueryEnvironment::setStopwords) — affects processTerm only; the
    * index keeps its build-time chain.
    */
  def setStopwords(words: Seq[String]): Engine =
    new Engine(spark, index, analyzer.copy(stopwords = words.toSet), rule)

  /** occurrences of `term` inside field `f`
    * (reference: QueryEnvironment::termFieldCount)
    */
  def termFieldCount(term: String, field: String): Long =
    expressionCount(s"$term.$field")

  /** stem-keyed stat verbs: this index is stem-keyed (SURVEY §1.9 — the
    * dictionary stores processed terms), so the stem variants are the
    * term verbs with the analysis chain already applied by the caller
    * (reference: QueryEnvironment::stemCount/documentStemCount/
    * stemFieldCount run the same probes on the stemmed key)
    */
  def stemCount(stem: String): Long =
    index.dictionary.where(col("term") === stem)
      .select("ctf").as[Long].collect().headOption.getOrElse(0L)
  def documentStemCount(stem: String): Long =
    index.dictionary.where(col("term") === stem)
      .select("df").as[Long].collect().headOption.getOrElse(0L)
  def stemFieldCount(stem: String, field: String): Long =
    termFieldCount(stem, field)

  /** names of indexed fields (reference: QueryEnvironment::fieldList) */
  def fieldList(): Seq[String] =
    if (index.fieldExtents == null) Nil
    else index.fieldExtents.select("field").distinct()
      .as[String].collect().toSeq.sorted

  /** XML paths of result extents for the INEX output format
    * (reference: QueryEnvironment::pathNames src/QueryEnvironment.cpp:
    * 497-569 → LocalQueryServer::pathNames → DocumentStructure.findLeaf/
    * path, src/DocumentStructure.cpp:261-329). For each (docId, begin,
    * end) row, the path of the DEEPEST field extent containing
    * [begin, end), written `/f[i]/g[j]/…` where each index counts
    * same-type siblings under the same parent in document order;
    * results with no containing extent take the reference's empty path.
    * Note whole-document [0,0) results are contained by any extent with
    * begin 0, so they take that extent's path — matching findLeaf, which
    * descends into any child whose begin ≤ 0 < end-or-equal bound.
    *
    * Input columns: docId, begin, end (extra columns pass through).
    */
  def pathNames(results: DataFrame): DataFrame = {
    if (index.fieldExtents == null)
      return results.withColumn("path", lit(""))
    // sibling index among same-type children of the same parent —
    // DocumentStructure::_constructNodePath's sameTypeLoc
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("docId", "field", "parentField", "parentOrdinal")
      .orderBy(col("begin"), col("end").desc)
    // only the RESULT documents' extents participate — the semi-join
    // lands before the sibling-rank window, so a top-k result set never
    // ranks the whole corpus's extents (the window partitions by docId,
    // making the post-filter ranking identical)
    val ex = index.fieldExtents
      .join(results.select(col("docId")).distinct(), Seq("docId"), "left_semi")
      .withColumn("sibIx", row_number().over(win))
      .select(col("docId"), col("field"), col("begin").as("fb"),
        col("end").as("fe"), col("ordinal"), col("parentField"),
        col("parentOrdinal"), col("sibIx"))
      .persist()
    // field-TYPE depth from the annotator config (field names form the
    // tree; parentField is per-type in every annotator) — findLeaf
    // returns the DEEPEST containing node, first-by-position among
    // equally deep ones (child iteration order)
    val parentOf: Map[String, String] = ex
      .select("field", "parentField").distinct().collect()
      .flatMap(r => Option(r.getString(1)).map(r.getString(0) -> _)).toMap
    def fieldDepth(f: String): Int = {
      var d = 0; var cur = f
      while (parentOf.contains(cur) && d < 32) { cur = parentOf(cur); d += 1 }
      d
    }
    val depthUdf = udf((f: String) => if (f == null) -1 else fieldDepth(f))
    // deduplicate PER RESULT ROW: the window partitions on a unique row
    // key, not (docId, begin, end) — two ranked results sharing an
    // extent must both survive with their own path
    val keyed = results.withColumn("__rid", monotonically_increasing_id())
    val dwin = org.apache.spark.sql.expressions.Window
      .partitionBy("__rid")
      .orderBy(depthUdf(col("field")).desc, col("fb").asc,
        (col("fe") - col("fb")).asc, col("field").asc)
    var chain = keyed
      .join(ex, keyed("docId") === ex("docId") &&
        ex("fb") <= keyed("begin") && keyed("end") <= ex("fe"), "left")
      .drop(ex("docId"))
      .withColumn("rk", row_number().over(dwin))
      .where(col("rk") === 1).drop("rk")
      .withColumn("path",
        when(col("field").isNull, lit(""))
          .otherwise(concat(lit("/"), col("field"), lit("["),
            col("sibIx"), lit("]"))))
    // climb parent links, prepending one segment per round (field trees
    // are shallow — bounded by the annotator config). The round count is
    // the tree depth, already known driver-side from parentOf — no
    // per-round count() job (each one would recompute the uncached
    // join chain from scratch)
    var remaining =
      if (parentOf.isEmpty) 0L else parentOf.keysIterator.map(fieldDepth).max.toLong
    var guard = 0
    while (remaining > 0 && guard < 16) {
      val par = ex.select(col("docId").as("p_docId"), col("field").as("p_field"),
        col("ordinal").as("p_ordinal"), col("parentField").as("p_parentField"),
        col("parentOrdinal").as("p_parentOrdinal"), col("sibIx").as("p_sibIx"))
      chain = chain.join(par,
          col("docId") === col("p_docId") &&
          col("parentField") === col("p_field") &&
          col("parentOrdinal") === col("p_ordinal"), "left")
        .withColumn("path",
          when(col("p_field").isNotNull,
            concat(lit("/"), col("p_field"), lit("["), col("p_sibIx"),
              lit("]"), col("path"))).otherwise(col("path")))
        .withColumn("parentField", col("p_parentField"))
        .withColumn("parentOrdinal", col("p_parentOrdinal"))
        .withColumn("ordinal", col("p_ordinal"))
        .withColumn("field", col("p_field"))
        .drop("p_docId", "p_field", "p_ordinal", "p_parentField",
          "p_parentOrdinal", "p_sibIx")
      remaining -= 1
      guard += 1
    }
    val keep = results.columns :+ "path"
    // eager checkpoint lets the extents cache release immediately
    val out = chain.select(keep.map(col): _*).localCheckpoint()
    ex.unpersist()
    out
  }

  /** total corpus term count (reference: src/LocalQueryServer.cpp:232-275) */
  def termCount(): Long = stats.totalTerms
  def termCountUnique(): Long = stats.uniqueTerms
  def documentCount(): Long = stats.totalDocs

  /** ctf of one term (stemmed through the chain) */
  def termCount(term: String): Long = {
    val pt = analyzer.processTerm(term)
    if (pt == null) 0L
    else index.dictionary.where(col("term") === pt)
      .select("ctf").as[Long].collect().headOption.getOrElse(0L)
  }

  /** df of one term */
  def documentCount(term: String): Long = {
    val pt = analyzer.processTerm(term)
    if (pt == null) 0L
    else index.dictionary.where(col("term") === pt)
      .select("df").as[Long].collect().headOption.getOrElse(0L)
  }

  /** total occurrences of an arbitrary match expression (dumpindex
    * `xcount` analogue, reference: dumpindex/dumpindex.cpp:25-53)
    */
  def expressionCount(expr: String): Long = {
    // the reference counts through a ContextCount graph, which applies
    // the greedy non-overlap scan (src/ContextCountAccumulator.cpp:84-97)
    val raw = evaluateRaw(QueryParser.parse(expr))
    val cnt = udf { (bs: Seq[Int], es: Seq[Int]) =>
      WindowMatcher.dedupCount(bs, es).toLong }
    val r = raw.df.agg(coalesce(sum(cnt(col("begins"), col("ends"))), lit(0L))).head()
    r.getLong(0)
  }

  /** number of documents matching an expression (`dxcount`) */
  def documentExpressionCount(expr: String): Long =
    evaluateRaw(QueryParser.parse(expr)).df.count()

  /** all matching extents (dumpindex `expressionlist`) */
  def expressionList(expr: String): DataFrame =
    evaluateRaw(QueryParser.parse(expr)).df
      .select(col("docId"), posexplode(arrays_zip(col("begins"), col("ends"))).as(Seq("i", "ex")))
      .select(col("docId"), col("ex.begins").as("begin"), col("ex.ends").as("end"))
      .orderBy("docId", "begin")

  // ------------------------------------------------------------------
  // document / metadata retrieval verbs (CompressedCollection facade)
  // ------------------------------------------------------------------

  /** The corpus/metadata table backing the document-retrieval verbs —
    * the CompressedCollection analogue (the source table IS the store;
    * reference: src/CompressedCollection.cpp:194-227, retrieval verbs
    * include/indri/QueryEnvironment.hpp:221-257). Columns beyond the id
    * are the metadata attributes.
    */
  private var metadataTable: Option[DataFrame] = None

  def setMetadata(table: DataFrame, idCol: String = "docId"): Unit =
    metadataTable = Some(
      if (idCol == "docId") table
      else table.withColumn("docId", col(idCol).cast(LongType)).drop(idCol))

  private def metadata: DataFrame = metadataTable.getOrElse(throw new IllegalStateException(
    "no metadata table attached — call setMetadata(corpusTable, idCol)"))

  /** full stored documents for a result set
    * (reference: QueryEnvironment::documents, hpp:221-231)
    */
  def documents(docIds: DataFrame): DataFrame = {
    val ids = docIds.select(col(docIds.columns.head).cast(LongType).as("docId"))
    val meta = notDeleted(metadata).join(ids, Seq("docId"), "left_semi")
    // with a stored collection attached, documents() carries the text
    // like the reference ParsedDocument (QueryEnvironment::documents)
    collection match {
      case Some(c) => meta.join(c.select(col("docId"),
        col("content").as("text")), Seq("docId"), "left")
      case None => meta
    }
  }

  /** the repository's stored document text (docId, content) — the
    * CompressedCollection handle; attached by RunQuery at open so
    * documents()/snippet surfaces serve text from the repository
    */
  private var collection: Option[DataFrame] = None
  def setCollection(table: DataFrame): Unit = collection = Some(table)
  def collectionTable: Option[DataFrame] = collection

  /** one metadata attribute column per requested name
    * (reference: QueryEnvironment::documentMetadata, hpp:233-238)
    */
  def documentMetadata(docIds: DataFrame, attributes: Seq[String]): DataFrame =
    documents(docIds).select((col("docId") +: attributes.map(col)): _*)

  /** docIds whose attribute matches any of the values
    * (reference: QueryEnvironment::documentIDsFromMetadata, hpp:249-257)
    */
  def documentIDsFromMetadata(attribute: String, values: Seq[String]): DataFrame =
    notDeleted(metadata).where(col(attribute).isin(values: _*)).select("docId")

  /** full documents whose attribute matches any of the values
    * (reference: QueryEnvironment::documentsFromMetadata, hpp:240-247)
    */
  def documentsFromMetadata(attribute: String, values: Seq[String]): DataFrame =
    notDeleted(metadata).where(col(attribute).isin(values: _*))

  /** Document vectors — the direct (forward) index view rebuilt from the
    * positional postings (reference: TermList include/indri/TermList.hpp:32-66,
    * dumpindex `dv`). One row per (docId, position, term); unindexed
    * (stopped) slots are absent, exactly like termID 0 entries.
    */
  def documentVectors(docIds: DataFrame): DataFrame = {
    val ids = docIds.select(col(docIds.columns.head).cast(LongType).as("docId"))
    notDeleted(index.postingsView()).join(ids, Seq("docId"), "left_semi")
      .select(col("docId"), col("term"), explode(col("positions")).as("pos"))
      .select(col("docId"), col("pos"), col("term"))
  }

  /** Per-document indexed-slot count (= the document-vector row count:
    * doclen minus stopped/OOV slots) straight off the postings' tf
    * column — for consumers that only need sizes, this skips the
    * position explode [[documentVectors]] pays (tf == positions.length
    * by construction, so Σ tf over a doc's postings is exactly the
    * vector length).
    */
  def indexedLengths(docIds: DataFrame): DataFrame = {
    val ids = docIds.select(col(docIds.columns.head).cast(LongType).as("docId"))
    notDeleted(index.postingsView()).join(ids, Seq("docId"), "left_semi")
      .groupBy("docId").agg(sum(col("tf")).as("len"))
  }

  /** (docId, term, tf) for the given terms restricted to `docIds` —
    * the term filter lands on the postings scan (block decode prunes on
    * stored repositories) and tf reads the stored column, replacing the
    * explode + re-count a document-vector pass would do.
    */
  def termFrequencies(docIds: DataFrame, terms: Seq[String]): DataFrame = {
    val ids = docIds.select(col(docIds.columns.head).cast(LongType).as("docId"))
    notDeleted(index.postingsView(terms)).join(ids, Seq("docId"), "left_semi")
      .select(col("docId"), col("term"), col("tf").cast(LongType).as("tf"))
  }

  def documentLength(docId: Long): Int =
    index.doclens.where(col("docId") === docId)
      .select("length").as[Int].collect().headOption.getOrElse(0)
}

/** Per-document window matching kernels (pure Scala, executor-side). */
object WindowMatcher {

  /** Greedy non-overlap occurrence count — the occurrence rule every
    * list-belief count in the reference applies: walk the extents in
    * begin order and count one iff its begin is ≥ the last counted
    * extent's end (reference: ListBeliefNode::_documentOccurrences /
    * _contextOccurrences, src/ListBeliefNode.cpp:58-91, and the
    * collection-stats side ContextCountAccumulator::evaluate,
    * src/ContextCountAccumulator.cpp:84-97 — "filter duplicates").
    * Unit-length term matches never overlap, so this equals the plain
    * count for term lists; window/synonym matches CAN overlap (e.g.
    * every #uwN anchor within reach of the others), where the plain
    * count over-counts. Ties on begin are unspecified in the reference
    * (std::sort with a begin-only comparator); we order (begin, end)
    * ascending.
    */
  def dedupCount(bs: Seq[Int], es: Seq[Int]): Int = {
    if (bs == null || bs.isEmpty) return 0
    var sorted = true
    var i = 1
    while (sorted && i < bs.length) {
      if (bs(i) < bs(i - 1) || (bs(i) == bs(i - 1) && es(i) < es(i - 1))) sorted = false
      i += 1
    }
    var n = 0
    var lastEnd = 0
    if (sorted) {
      i = 0
      while (i < bs.length) {
        if (bs(i) >= lastEnd) { n += 1; lastEnd = es(i) }
        i += 1
      }
    } else {
      val order = bs.indices.sortBy(j => (bs(j), es(j)))
      order.foreach { j => if (bs(j) >= lastEnd) { n += 1; lastEnd = es(j) } }
    }
    n
  }

  /** array fast path for the kernel (window matches emit in begin order) */
  def dedupCount(bs: Array[Int], es: Array[Int]): Int = {
    var n = 0
    var lastEnd = 0
    var i = 0
    while (i < bs.length) {
      if (bs(i) >= lastEnd) { n += 1; lastEnd = es(i) }
      i += 1
    }
    n
  }

  /** Ordered window (reference: src/OrderedWindowNode.cpp:111-166):
    * outer loop over first child's extents, inner pointers advance
    * monotonically to the first occurrence after the previous child's
    * end; match when begin_i − end_{i−1} + 1 ≤ windowSize (windowSize < 0
    * = unlimited). Returns (begins, ends) of match extents.
    */
  def ordered(bs: Array[Array[Int]], es: Array[Array[Int]], window: Int): (Array[Int], Array[Int]) = {
    val k = bs.length
    val ptr = new Array[Int](k)
    val outB = scala.collection.mutable.ArrayBuffer.empty[Int]
    val outE = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i0 = 0
    while (i0 < bs(0).length) {
      ptr(0) = i0
      var matched = true
      var prevEnd = es(0)(i0)
      var i = 1
      while (i < k && matched) {
        // advance child i to the first extent with begin >= prevEnd
        while (ptr(i) < bs(i).length && bs(i)(ptr(i)) < prevEnd) ptr(i) += 1
        if (ptr(i) >= bs(i).length) {
          // exhausted — no further matches possible at all
          return (outB.toArray, outE.toArray)
        }
        if (window >= 0 && bs(i)(ptr(i)) - prevEnd + 1 > window) matched = false
        else prevEnd = es(i)(ptr(i))
        i += 1
      }
      if (matched) {
        outB += bs(0)(i0)
        outE += es(k - 1)(ptr(k - 1))
      }
      i0 += 1
    }
    (outB.toArray, outE.toArray)
  }

  /** Unordered window (reference: src/UnorderedWindowNode.cpp:69-186):
    * all positions pooled and sorted by begin; for each position find the
    * smallest window starting there that covers all children; `last`
    * pointers give the new-term test.
    */
  def unordered(bs: Array[Array[Int]], es: Array[Array[Int]], window: Int): (Array[Int], Array[Int]) = {
    val k = bs.length
    val total = bs.map(_.length).sum
    val begins = new Array[Int](total)
    val ends = new Array[Int](total)
    val types = new Array[Int](total)
    var idx = 0
    var t = 0
    while (t < k) {
      if (bs(t).isEmpty) return (Array.empty, Array.empty)
      var j = 0
      while (j < bs(t).length) {
        begins(idx) = bs(t)(j); ends(idx) = es(t)(j); types(idx) = t
        idx += 1; j += 1
      }
      t += 1
    }
    // sort by begin
    val order = (0 until total).sortBy(begins(_)).toArray
    val sb = order.map(begins(_)); val se = order.map(ends(_)); val st = order.map(types(_))
    // last-occurrence back-pointers
    val last = new Array[Int](total)
    val lastOfType = Array.fill(k)(-1)
    var i = 0
    while (i < total) { last(i) = lastOfType(st(i)); lastOfType(st(i)) = i; i += 1 }

    val outB = scala.collection.mutable.ArrayBuffer.empty[Int]
    val outE = scala.collection.mutable.ArrayBuffer.empty[Int]
    i = 0
    while (i < total) {
      var termsFound = 1
      var cur = i + 1
      var stop = false
      while (cur < total && termsFound != k && !stop) {
        if (window >= 0 && se(cur) - sb(i) > window) stop = true
        else {
          if (last(cur) < i) termsFound += 1
          cur += 1
        }
      }
      if (termsFound == k) { outB += sb(i); outE += se(cur - 1) }
      i += 1
    }
    (outB.toArray, outE.toArray)
  }
}
