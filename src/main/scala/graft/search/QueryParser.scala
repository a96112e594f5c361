package graft.search

/** AST for the Indri query-language subset
  * (reference: grammar src/indrilang.g:41-69,188-…;
  * AST include/indri/QuerySpec.hpp).
  */
sealed trait QueryNode

// ---- raw extent (match) operators ----
final case class TermNode(term: String) extends QueryNode
/** #odN(...) / #N(...) / "quoted phrase" (od1)
  * (reference: indrilang.g:397-416, src/OrderedWindowNode.cpp:111-166) */
final case class OdNode(window: Int, children: Seq[QueryNode]) extends QueryNode
/** #uwN(...) (reference: indrilang.g:418-434, src/UnorderedWindowNode.cpp:69-186) */
final case class UwNode(window: Int, children: Seq[QueryNode]) extends QueryNode
/** #band(...) (reference: indrilang.g:435-445, src/BooleanAndNode.cpp) */
final case class BandNode(children: Seq[QueryNode]) extends QueryNode
/** <a b> / {a b} / #syn(...) (reference: indrilang.g:744-771, src/ExtentOrNode.cpp) */
final case class SynNode(children: Seq[QueryNode]) extends QueryNode
/** #wsyn(w1 t1 ...) (reference: indrilang.g:384-395, src/WeightedExtentOrNode.cpp) */
final case class WsynNode(children: Seq[(Double, QueryNode)]) extends QueryNode
/** term* (reference: indrilang.g:639-649; cap 100 expansions,
  * include/indri/InferenceNetworkBuilder.hpp:64) */
final case class WildcardNode(prefix: String) extends QueryNode
/** t.f field restriction — extents of `child` contained in an extent of
  * `field` (reference: indrilang.g:690-743, src/ExtentInsideNode.cpp) */
final case class FieldRestrictNode(child: QueryNode, field: String) extends QueryNode
/** t.f1,f2 multi-field restriction — the field list is an ExtentAnd:
  * the child's extents must lie inside the INTERSECTION regions of the
  * listed fields' extents (reference: indrilang.g:511-527 qualifiedTerm
  * → ExtentInside(term, ExtentAnd(field_list)); field_list :773-792;
  * intersection walk src/ExtentAndNode.cpp:33-74 — pairwise interval
  * intersections, touching regions coalesced). The >2-field reference
  * walk leaks each intermediate pass's final region into the member
  * vector instead of the intermediate (ExtentAndNode.cpp:73 pushes to
  * `_extents`, not `out`); we fold the pairwise walk correctly rather
  * than reproduce that defect. */
final case class FieldListRestrictNode(child: QueryNode, fields: Seq[String]) extends QueryNode
/** t.(f1,f2) context restriction — matches of `child` are counted
  * inside the context fields' extents, and the SCORING CONTEXT becomes
  * those extents: the per-document "length" is the total context-extent
  * length and the collection background is (occurrences of child within
  * the context) / (total context length in the corpus)
  * (reference: indrilang.g:225-257 scoredRaw → RawScorerNode(raw,
  * context_list), context_list :794-827 = ExtentOr over the fields;
  * builder src/InferenceNetworkBuilder.cpp:744-780 wraps the match
  * iterator in ExtentInsideNode(raw, context) and keeps the raw
  * iterator for the document-smoothing occurrence count; per-document
  * context length src/ListBeliefNode.cpp:24-56). */
final case class ContextRestrictNode(child: QueryNode, contexts: Seq[String]) extends QueryNode
/** #any:f — every extent of field f (reference: indrilang.g:490-527,
  * FieldIteratorNode builder src/InferenceNetworkBuilder.cpp:135-150) */
final case class AnyFieldNode(field: String) extends QueryNode
/** path operators over the field-extent tree (reference: indrilang.g:
  * 713-743 — `a/b` child, `a//b` descendant, `a\b` parent; nodes
  * src/ExtentChildNode.cpp, ExtentDescendantNode, ExtentParentNode with
  * index-recorded {ordinal, parent} links). Engine syntax:
  * #child(a b) / #descendant(a b) / #parent(a b). op ∈ child|descendant|parent.
  * child: extents of a directly nested in a b extent; descendant: nested
  * at any depth; parent: extents of a that directly contain a b extent. */
final case class FieldPathNode(op: String, inner: String, outer: String) extends QueryNode
/** numeric/date predicates over field payloads
  * (reference: indrilang.g:1022-1074; src/FieldLessNode.cpp:41 x < c,
  * FieldGreaterNode x > c, FieldBetweenNode.cpp:42 low <= x <= high,
  * FieldEqualsNode x == c). op ∈ less|greater|between|equals. */
final case class FieldNumNode(op: String, field: String, lo: Long, hi: Long) extends QueryNode

// ---- belief (scoring) operators ----
final case class CombineNode(children: Seq[QueryNode]) extends QueryNode
final case class WeightNode(children: Seq[(Double, QueryNode)]) extends QueryNode
final case class WsumNode(children: Seq[(Double, QueryNode)]) extends QueryNode
final case class SumNode(children: Seq[QueryNode]) extends QueryNode
final case class OrQNode(children: Seq[QueryNode]) extends QueryNode
final case class NotQNode(child: QueryNode) extends QueryNode
final case class MaxQNode(children: Seq[QueryNode]) extends QueryNode
final case class FilReqNode(filter: QueryNode, scored: QueryNode) extends QueryNode
final case class FilRejNode(filter: QueryNode, scored: QueryNode) extends QueryNode
/** #prior(name) — stored per-doc log-prior (reference: builder
  * src/InferenceNetworkBuilder.cpp:788-795, src/PriorNode.cpp; built by
  * makeprior/makeprior.cpp) */
final case class PriorQNode(name: String) extends QueryNode
/** length prior: score += exponent·log(doclen) (reference:
  * src/LengthPriorNode.cpp, builder :1057-1073; engine-extension syntax
  * #lengthprior(exponent child) for what the reference wires via the
  * `lengthprior` parameter) */
final case class LengthPriorQNode(exponent: Double, child: QueryNode) extends QueryNode
/** #combine[f](…) / #combine[passageW:I](…) — score each extent of f
  * (or each fixed sliding passage) as its own context; results are
  * ranked EXTENTS (reference: indrilang.g:650-689; builder
  * src/InferenceNetworkBuilder.cpp:152-185; ExtentRestrictionNode,
  * FixedPassageNode). `passage` is (width, increment) when set. */
final case class ExtentRestrictNode(field: String, passage: Option[(Int, Int)],
                                    child: QueryNode) extends QueryNode

/** Recursive-descent parser for the implemented indrilang subset:
  * bare terms, quoted phrases, #combine #weight #wsum #sum #or #not #max
  * #band #odN #N #uwN #syn #wsyn <syn> {syn} #filreq #filrej #scoreif
  * #scoreifnot, wildcard `term*`.
  *
  * A bare multi-term query parses as #combine(t1 ... tk), matching
  * IndriRunQuery behavior.
  */
object QueryParser {

  def parse(query: String): QueryNode = {
    val toks = lex(query)
    val p = new Parser(toks)
    val nodes = p.parseSequence(stopAtClose = false)
    nodes match {
      case Seq(one) => one
      case many => CombineNode(many)
    }
  }

  // ---- lexer ----
  private sealed trait Tok
  private case class Op(name: String, num: Option[Int]) extends Tok // #combine, #od3, #5
  private case class Word(w: String) extends Tok
  private case class Num(v: Double) extends Tok
  private case class Phrase(words: Seq[String]) extends Tok
  // decoded #base64/#base64quote payload — NOT re-lexed as a word, so
  // hyphen/star/dot term sugar never applies to it (reference:
  // indrilang.g:139-145,971-983: the decoded text is a plain IndexTerm)
  private case class RawTerm(text: String, stemmed: Boolean) extends Tok
  private case object LParen extends Tok
  private case object RParen extends Tok
  private case object LAngle extends Tok
  private case object RAngle extends Tok
  private case object LBrace extends Tok
  private case object RBrace extends Tok

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else c match {
        case '(' => out += LParen; i += 1
        case ')' => out += RParen; i += 1
        case '<' => out += LAngle; i += 1
        case '>' => out += RAngle; i += 1
        case '{' => out += LBrace; i += 1
        case '}' => out += RBrace; i += 1
        case '"' =>
          val end = s.indexOf('"', i + 1)
          val inner = if (end < 0) s.substring(i + 1) else s.substring(i + 1, end)
          out += Phrase(inner.trim.split("\\s+").toSeq.filter(_.nonEmpty))
          i = if (end < 0) n else end + 1
        case '#' =>
          var j = i + 1
          while (j < n && (s.charAt(j).isLetter)) j += 1
          var name = s.substring(i + 1, j).toLowerCase
          var num: Option[Int] = None
          // #base64( … ) / #base64quote( … ): the letters loop stops at
          // '6'; consume the rest of the name AND the parenthesized
          // base64 payload here — it must not go through term lexing
          // (reference: indrilang.g:139-145 ENCODED[_QUOTED]_TERM)
          if (name == "base" && s.startsWith("64", j)) {
            j += 2
            val quoted = s.regionMatches(true, j, "quote", 0, 5)
            if (quoted) j += 5
            while (j < n && s.charAt(j).isWhitespace) j += 1
            require(j < n && s.charAt(j) == '(',
              s"#base64${if (quoted) "quote" else ""} expects (payload)")
            val close = s.indexOf(')', j + 1)
            require(close > j, "unterminated #base64 payload")
            val payload = s.substring(j + 1, close).trim
            val decoded = new String(
              java.util.Base64.getDecoder.decode(payload),
              java.nio.charset.StandardCharsets.UTF_8)
            out += RawTerm(decoded, stemmed = quoted)
            i = close + 1
          } else {
          if (name.isEmpty || name == "od" || name == "uw") {
            var k2 = j
            while (k2 < n && s.charAt(k2).isDigit) k2 += 1
            if (k2 > j) { num = Some(s.substring(j, k2).toInt); j = k2 }
          }
          // `#any:field` (reference: indrilang.g:490-527)
          if (name == "any" && j < n && s.charAt(j) == ':') {
            var k2 = j + 1
            while (k2 < n && (s.charAt(k2).isLetterOrDigit)) k2 += 1
            name = "any:" + s.substring(j + 1, k2).toLowerCase
            j = k2
          }
          // extent restriction `#combine[f]` / `#combine[passageW:I]`
          // (reference: indrilang.g:650-689)
          if (j < n && s.charAt(j) == '[') {
            val close = s.indexOf(']', j + 1)
            if (close > j) {
              name = name + "[" + s.substring(j + 1, close).toLowerCase + "]"
              j = close + 1
            }
          }
          out += Op(if (name.isEmpty) "od" else name, num)
          i = j
          }
        case _ =>
          var j = i
          while (j < n && !s.charAt(j).isWhitespace &&
                 !"()<>{}\"#".contains(s.charAt(j))) j += 1
          val w = s.substring(i, j)
          if (w.nonEmpty) {
            if (w.matches("-?\\d+(\\.\\d+)?")) out += Num(w.toDouble)
            else out += Word(w)
          }
          i = j
      }
    }
    out.result()
  }

  // ---- parser ----
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    private def advance(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(t: Tok): Unit = {
      if (peek.contains(t)) pos += 1
      else throw new IllegalArgumentException(s"expected $t at $pos in $toks")
    }

    def parseSequence(stopAtClose: Boolean): Seq[QueryNode] = {
      val out = Seq.newBuilder[QueryNode]
      var done = false
      while (!done && pos < toks.length) {
        peek match {
          case Some(RParen) | Some(RAngle) | Some(RBrace) if stopAtClose => done = true
          case Some(_) => out += parseNode()
          case None => done = true
        }
      }
      out.result()
    }

    /** weighted child list: w1 q1 w2 q2 ... */
    private def parseWeighted(): Seq[(Double, QueryNode)] = {
      val out = Seq.newBuilder[(Double, QueryNode)]
      var done = false
      while (!done) {
        peek match {
          case Some(Num(w)) =>
            advance()
            out += ((w, parseNode()))
          case Some(RParen) | None => done = true
          case Some(other) =>
            throw new IllegalArgumentException(s"expected weight before child, got $other")
        }
      }
      out.result()
    }

    /** is `n` a raw (extent) node the DOT qualifiers may attach to —
      * the grammar's unqualifiedTerm alternatives (indrilang.g:528-585)
      */
    private def isRawType(n: QueryNode): Boolean = n match {
      case _: TermNode | _: OdNode | _: UwNode | _: BandNode | _: SynNode |
           _: WsynNode | _: WildcardNode | _: AnyFieldNode | _: FieldNumNode |
           _: FieldPathNode | _: FieldRestrictNode | _: FieldListRestrictNode => true
      case _ => false
    }

    /** split a DOT suffix into field names; valid iff every comma part
      * is alphanumeric with at least one letter (fieldNameString,
      * reference: indrilang.g:625-638)
      */
    private def fieldParts(s: String): Option[Seq[String]] = {
      val parts = s.split(",").toSeq
      if (parts.nonEmpty && parts.forall(p =>
          p.nonEmpty && p.forall(_.isLetterOrDigit) && p.exists(_.isLetter)))
        Some(parts.map(_.toLowerCase))
      else None
    }

    private def fieldRestrict(child: QueryNode, spec: String): QueryNode =
      fieldParts(spec) match {
        case Some(Seq(one)) => FieldRestrictNode(child, one)
        case Some(many) => FieldListRestrictNode(child, many)
        case None =>
          throw new IllegalArgumentException(s"invalid field list '$spec'")
      }

    /** `( f1 , f2 )` context list after a trailing DOT
      * (reference: indrilang.g:794-827). Path contexts `.( .//sec )`
      * are outside the implemented subset (documented).
      */
    private def parseContextList(): Seq[String] = {
      expect(LParen)
      val out = Seq.newBuilder[String]
      var done = false
      while (!done) {
        peek match {
          case Some(Word(w)) =>
            advance()
            w.split(",").filter(_.nonEmpty).foreach { f =>
              require(!f.startsWith("."),
                "path contexts in a context list are outside the implemented subset")
              require(f.forall(_.isLetterOrDigit) && f.exists(_.isLetter),
                s"invalid context field '$f'")
              out += f.toLowerCase
            }
          case Some(RParen) => advance(); done = true
          case other =>
            throw new IllegalArgumentException(s"expected context field, got $other")
        }
      }
      val fields = out.result()
      require(fields.nonEmpty, "empty context list")
      fields
    }

    /** postfix DOT qualifiers after a raw node: `.f1,f2` field-list
      * restriction and/or a trailing `.( f1,f2 )` context list — the
      * grammar lets BOTH follow any unqualifiedTerm, e.g.
      * `#1(a b).(title)` or `t.f1.(f2)` (reference: indrilang.g:225-257)
      */
    private def attachQualifiers(node: QueryNode): QueryNode = {
      if (!isRawType(node)) return node
      peek match {
        case Some(Word(w)) if w.length > 1 && w.startsWith(".") && !w.startsWith(".//") =>
          advance()
          val trailingDot = w.endsWith(".")
          val core = w.substring(1, if (trailingDot) w.length - 1 else w.length)
          val restricted = if (core.nonEmpty) fieldRestrict(node, core) else node
          if (trailingDot) {
            require(peek.contains(LParen),
              s"dangling '.' after field restriction in query (expected context list)")
            ContextRestrictNode(restricted, parseContextList())
          } else restricted
        case Some(Word(".")) if { val save = pos; advance();
            val isCtx = peek.contains(LParen); pos = save; isCtx } =>
          advance()
          ContextRestrictNode(node, parseContextList())
        case _ => node
      }
    }

    /** query-level hyphenated compounds `a-b-c` score as exact-adjacency
      * windows #1(a b c) — matching the document tokenizer, which splits
      * them into adjacent positions (reference: indrilang.g:587-623
      * hyphenTerm → ODNode window 1; parts must be alphanumeric)
      */
    private def hyphenTerm(w: String): Option[QueryNode] = {
      if (!w.contains('-') || w.startsWith("-") || w.endsWith("-")) return None
      val parts = w.split("-").toSeq
      if (parts.length >= 2 && parts.forall(p => p.nonEmpty && p.forall(_.isLetterOrDigit)))
        Some(OdNode(1, parts.map(TermNode(_))))
      else None
    }

    /** a bare word term with its optional DOT qualifiers:
      * `t`, `te*`, `a-b`, `t.f1,f2`, `t.(f)`, `t.f.(g)` …
      */
    private def wordTerm(w: String): QueryNode = {
      // trailing dot + '(' → a context list follows
      if (w.endsWith(".") && w.length > 1 && peek.contains(LParen)) {
        val base = wordTerm(w.dropRight(1))
        return ContextRestrictNode(base, parseContextList())
      }
      if (w.endsWith("*") && w.length > 1) return WildcardNode(w.dropRight(1))
      // qualifiedTerm t.f / t.f1,f2 (reference: indrilang.g:690-743,
      // 511-527); the field names must be alphanumeric — other dots
      // stay in the term (the analyzer strips them, e.g. "u.s.a.")
      val dot = w.lastIndexOf('.')
      if (dot > 0 && dot < w.length - 1) {
        fieldParts(w.substring(dot + 1)) match {
          case Some(_) =>
            return fieldRestrict(wordTerm(w.substring(0, dot)), w.substring(dot + 1))
          case None => ()
        }
      }
      hyphenTerm(w).getOrElse(TermNode(w))
    }

    def parseNode(): QueryNode = {
      advance() match {
        case Word(w) =>
          val base = wordTerm(w)
          // a separate `.(f)` token can still follow (e.g. `t .(f)`
          // never lexes that way, but `<a b>.(f)` leaves the dot word
          // to attachQualifiers)
          attachQualifiers(base)
        case Num(v) =>
          // a bare number in term position is a term (e.g. query "42")
          TermNode(if (v == v.toLong) v.toLong.toString else v.toString)
        case Phrase(ws) =>
          // a SINGLE term in double quotes is "considered stemmed" — it is
          // looked up verbatim, skipping normalize/stop/stem (reference:
          // indrilang.g:967-969, InferenceNetworkBuilder.cpp:110-113);
          // multi-word quotes are an extension: exact-adjacency #1(…)
          if (ws.length == 1)
            attachQualifiers(TermNode(graft.analysis.Analyzer.StemmedMarker + ws.head))
          // qualifiers attach to the od1 like every other raw producer —
          // without this, `"new york".title` lexed `.title` as a literal
          // term and silently dropped the field restriction
          else attachQualifiers(OdNode(1, ws.map(TermNode(_))))
        case RawTerm(t, st) =>
          attachQualifiers(TermNode(
            if (st) graft.analysis.Analyzer.StemmedMarker + t else t))
        case LAngle =>
          val kids = parseSequence(stopAtClose = true); expect(RAngle)
          attachQualifiers(SynNode(kids))
        case LBrace =>
          val kids = parseSequence(stopAtClose = true); expect(RBrace)
          attachQualifiers(SynNode(kids))
        case Op(name, _) if name.startsWith("any:") =>
          attachQualifiers(AnyFieldNode(name.stripPrefix("any:")))
        case Op(name, num) if name.contains("[") && name.endsWith("]") =>
          // extent restriction attaches to ANY belief operator with a
          // child list, not just #combine (reference: indrilang.g —
          // weightedList :269, sumList :285, unweightedList :296 and
          // notNode :358 all take an optional extentRestriction)
          val base = name.substring(0, name.indexOf('['))
          val spec = name.substring(name.indexOf('[') + 1, name.length - 1)
          val restrictable = Set("combine", "weight", "wsum", "wand", "sum",
            "or", "max", "not")
          require(restrictable(base),
            s"extent restriction not allowed on #$base (indrilang.g belief ops only)")
          val child = opBody(base, num)
          if (spec.startsWith("passage")) {
            // passageW:I (reference: FixedPassageNode); a zero or
            // negative increment would never advance the sliding
            // window — fail fast instead of hanging the scoring task
            val (w, inc) = spec.stripPrefix("passage").split(":", 2) match {
              case Array(a, b) => (a.trim, b.trim)
              case _ => throw new IllegalArgumentException(
                s"malformed passage spec [$spec] (expected passageWIDTH:INCREMENT)")
            }
            require(w.toInt > 0 && inc.toInt > 0,
              s"passage width/increment must be positive: [$spec]")
            ExtentRestrictNode("", Some((w.toInt, inc.toInt)), child)
          } else ExtentRestrictNode(spec, None, child)
        case Op(name, num) =>
          val node = opBody(name, num)
          attachQualifiers(node)
        case other =>
          throw new IllegalArgumentException(s"unexpected token $other")
      }
    }

    /** `#op( … )` body — shared by the bare and extent-restricted forms */
    private def opBody(name: String, num: Option[Int]): QueryNode = {
          expect(LParen)
          def fieldArg(): String = advance() match {
            case Word(f) => f.toLowerCase
            case other => throw new IllegalArgumentException(s"expected field name, got $other")
          }
          def numArg(): Long = advance() match {
            case Num(v) => v.toLong
            case Word(d) => // date literal on a numeric op → annotator parse
              graft.index.DateParse.parseFieldDate(d)
            case other => throw new IllegalArgumentException(s"expected number/date, got $other")
          }
          // (field, literal) extension form: a Word literal parses with
          // the ANNOTATOR's format table (ISO/slash/dash/YYYYMMDD,
          // DateFieldAnnotator.hpp:59-110), a bare number is the raw
          // stored value
          def dateArg(): Long = numArg()
          // one REFERENCE date literal (indrilang.g:904-933): slashDate
          // MM/DD/YYYY, dashDate DD-MON-YYYY, spaceDate "DD Month YYYY" |
          // "Month DD YYYY" — days since 1600, two-digit years → 0 (the
          // query side has no century hack)
          def tryQueryDate(): Option[Long] = {
            import graft.index.DateParse
            peek match {
              case Some(Word(w)) if w.matches("""\d+/\d+/\d+""") =>
                advance()
                val Array(m, d, y) = w.split("/")
                Some(DateParse.convertDate(y, m, d))
              case Some(Word(w)) if w.matches("""\d+-[A-Za-z]+-\d+""") =>
                advance()
                val Array(d, mon, y) = w.split("-")
                Some(DateParse.convertDate(y, mon, d))
              case Some(Num(d)) if d == d.toLong && pos + 2 < toks.length =>
                (toks(pos + 1), toks(pos + 2)) match {
                  case (Word(mon), Num(y))
                      if mon.forall(_.isLetter) && y == y.toLong =>
                    pos += 3 // DD Month YYYY
                    Some(DateParse.convertDate(y.toLong.toString, mon,
                      d.toLong.toString))
                  case _ => None
                }
              case Some(Word(mon))
                  if mon.forall(_.isLetter) && DateParse.parseMonth(mon) > 0 &&
                     pos + 2 < toks.length =>
                (toks(pos + 1), toks(pos + 2)) match {
                  case (Num(d), Num(y)) if d == d.toLong && y == y.toLong =>
                    pos += 3 // Month DD YYYY
                    Some(DateParse.convertDate(y.toLong.toString, mon,
                      d.toLong.toString))
                  case _ => None
                }
              case _ => None
            }
          }
          val node = name match {
            case "combine" => CombineNode(parseSequence(stopAtClose = true))
            case "weight" | "wand" => WeightNode(parseWeighted())
            case "wsum" => WsumNode(parseWeighted())
            case "sum" => SumNode(parseSequence(stopAtClose = true))
            case "or" => OrQNode(parseSequence(stopAtClose = true))
            case "not" =>
              // exactly one child (indrilang.g notNode) — .head silently
              // dropped extra children and NPE'd on zero
              val kids = parseSequence(stopAtClose = true)
              require(kids.length == 1,
                s"#not takes exactly one child, got ${kids.length}")
              NotQNode(kids.head)
            case "max" => MaxQNode(parseSequence(stopAtClose = true))
            case "band" => BandNode(parseSequence(stopAtClose = true))
            case "od" => OdNode(num.getOrElse(1), parseSequence(stopAtClose = true))
            case "uw" => UwNode(num.getOrElse(8), parseSequence(stopAtClose = true))
            case "syn" => SynNode(parseSequence(stopAtClose = true))
            case "wsyn" => WsynNode(parseWeighted())
            case "filreq" | "scoreif" =>
              val kids = parseSequence(stopAtClose = true)
              require(kids.length == 2, s"#$name needs 2 args")
              FilReqNode(kids(0), kids(1))
            case "filrej" | "scoreifnot" =>
              val kids = parseSequence(stopAtClose = true)
              require(kids.length == 2, s"#$name needs 2 args")
              FilRejNode(kids(0), kids(1))
            case "any" => AnyFieldNode(fieldArg())
            case "child" => FieldPathNode("child", fieldArg(), fieldArg())
            case "descendant" => FieldPathNode("descendant", fieldArg(), fieldArg())
            case "parent" => FieldPathNode("parent", fieldArg(), fieldArg())
            case "prior" => PriorQNode(fieldArg())
            case "lengthprior" =>
              val exp = advance() match {
                case Num(v) => v
                case other => throw new IllegalArgumentException(s"expected exponent, got $other")
              }
              LengthPriorQNode(exp, parseNode())
            case "less" =>
              val f = fieldArg(); FieldNumNode("less", f, Long.MinValue, numArg())
            case "greater" =>
              val f = fieldArg(); FieldNumNode("greater", f, numArg(), Long.MaxValue)
            case "between" =>
              val f = fieldArg(); FieldNumNode("between", f, numArg(), numArg())
            case "equals" =>
              val f = fieldArg(); val v = numArg(); FieldNumNode("equals", f, v, v)
            // #date* — the reference form takes bare date literal(s) over
            // the HARDWIRED field "date" (indrilang.g:840-935: dateBefore
            // builds FieldLessNode(Field("date"), d)); with a leading
            // field name instead, the (field, literal) extension form
            // keeps working over any date-annotated field
            case "datebefore" => tryQueryDate() match {
              case Some(d) => FieldNumNode("less", "date", Long.MinValue, d)
              case None =>
                val f = fieldArg(); FieldNumNode("less", f, Long.MinValue, dateArg())
            }
            case "dateafter" => tryQueryDate() match {
              case Some(d) => FieldNumNode("greater", "date", d, Long.MaxValue)
              case None =>
                val f = fieldArg(); FieldNumNode("greater", f, dateArg(), Long.MaxValue)
            }
            case "datebetween" => tryQueryDate() match {
              case Some(lo) =>
                val hi = tryQueryDate().getOrElse(
                  throw new IllegalArgumentException("#datebetween needs two dates"))
                FieldNumNode("between", "date", lo, hi)
              case None =>
                val f = fieldArg(); FieldNumNode("between", f, dateArg(), dateArg())
            }
            case "dateequals" => tryQueryDate() match {
              case Some(d) => FieldNumNode("equals", "date", d, d)
              case None =>
                val f = fieldArg(); val v = dateArg(); FieldNumNode("equals", f, v, v)
            }
            case "wildcard" =>
              // `#wildcard( term )` operator form of `term*`
              // (reference: indrilang.g:640-649 wildcardOpNode)
              advance() match {
                case Word(t) => WildcardNode(t)
                case other =>
                  throw new IllegalArgumentException(s"expected wildcard stem, got $other")
              }
            case other =>
              throw new IllegalArgumentException(s"unsupported operator #$other")
          }
          expect(RParen)
          node
    }
  }

  /** Collect the raw term leaves in query order (duplicates preserved) —
    * the analogue of RawScorerNodeExtractor
    * (reference: src/QueryEnvironment.cpp:943-950).
    */
  def termLeaves(node: QueryNode): Seq[String] = node match {
    case TermNode(t) => Seq(t)
    case OdNode(_, cs) => cs.flatMap(termLeaves)
    case UwNode(_, cs) => cs.flatMap(termLeaves)
    case BandNode(cs) => cs.flatMap(termLeaves)
    case SynNode(cs) => cs.flatMap(termLeaves)
    case WsynNode(cs) => cs.flatMap(c => termLeaves(c._2))
    case WildcardNode(p) => Seq(p)
    case FieldRestrictNode(c, _) => termLeaves(c)
    case FieldListRestrictNode(c, _) => termLeaves(c)
    case ContextRestrictNode(c, _) => termLeaves(c)
    case AnyFieldNode(_) => Nil
    case FieldNumNode(_, _, _, _) => Nil
    case FieldPathNode(_, _, _) => Nil
    case CombineNode(cs) => cs.flatMap(termLeaves)
    case WeightNode(cs) => cs.flatMap(c => termLeaves(c._2))
    case WsumNode(cs) => cs.flatMap(c => termLeaves(c._2))
    case SumNode(cs) => cs.flatMap(termLeaves)
    case OrQNode(cs) => cs.flatMap(termLeaves)
    case NotQNode(c) => termLeaves(c)
    case MaxQNode(cs) => cs.flatMap(termLeaves)
    case FilReqNode(f, s) => termLeaves(f) ++ termLeaves(s)
    case FilRejNode(f, s) => termLeaves(f) ++ termLeaves(s)
    case PriorQNode(_) => Nil
    case LengthPriorQNode(_, c) => termLeaves(c)
    case ExtentRestrictNode(_, _, c) => termLeaves(c)
  }
}
