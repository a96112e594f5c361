package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The webtrack ad-hoc task's max-passage rerank (reference:
  * webtrack/clue.cc performAdhocTask → reScore → prepareResult):
  * retrieve top-k documents, chop each retrieved document into
  * fixed-size token chunks with a carried overlap window
  * (webtrack/clue.cc createPassage: `passageSz` tokens per chunk, the
  * LAST `windowSz` tokens re-seed the next chunk → chunk k covers
  * token range [k·(P−W), k·(P−W)+P), the final partial chunk runs to
  * the end), score every chunk with the dirichlet passage LM
  * (webtrack/LanguageModel.cc:8-30, μ=2500 via the default ctor at
  * clue.cc:243), then rank documents by their BEST passage — one
  * result per document, first (= highest-scored) passage wins
  * (prepareResult's seenIds dedup, clue.cc:166-186).
  *
  * Passage LM (LanguageModel::score, the collFreq/collSize form):
  *   score(q, psg) = Σ_{w ∈ q, ctf_w > 0}
  *     ln(psgTf(w) + μ·ctf_w/C) − ln(psgLen + μ)
  * A query term with zero collection probability is SKIPPED, not
  * background-scored (the `cProb <= 0 → continue` guard at
  * LanguageModel.cc:20-23; the `cFreq = 1` substitution two lines up
  * is computed into a variable the formula never reads — dead code).
  * Query-token duplicates each add their term's score.
  *
  * Tokenization: the reference's Tokenize::tokenize camel-case /
  * special-character splitting is PARSING of raw crawl bytes — our
  * input is an already-parsed table (the repo-wide scoping decision),
  * so both query and passage tokens are whitespace-split, lowercased,
  * kept when longer than 1 char and not stopped — the same filter the
  * reference applies after its boundary detection.
  *
  * The reference sorts all passages with std::sort (UNSTABLE — ties
  * are nondeterministic); we break score ties by docId ascending.
  */
object WebTrackRerank {

  private val Mu = 2500.0

  /** whitespace split, lowercase, length > 1, stop-filtered — the
    * token filter of webtrack Tokenize::tokenize (charLimit=1)
    */
  def tokenizeQuery(text: String, stopwords: Set[String]): Seq[String] =
    text.split("\\s+").toSeq.map(_.toLowerCase)
      .filter(t => t.length > 1 && !stopwords.contains(t))

  private def tokenCol(c: Column, stopwords: Set[String]): Column = {
    val base = filter(split(lower(c), "\\s+"), t => length(t) > 1)
    if (stopwords.isEmpty) base
    else filter(base, t => !t.isInCollection(stopwords.toSeq))
  }

  /** Max-passage rerank over the engine's top-`k` retrieval.
    *
    * @param content (docId, content) — the stored collection text the
    *                reference fetches via QueryEnvironment::documents
    * @return (docId, qid, score, rank): one row per retrieved document
    *         that produced ≥1 passage (a document whose filtered token
    *         list is empty yields no passages and silently drops, like
    *         the reference's empty `psgs`); rank = 1..n per query by
    *         (score desc, docId asc). Everything downstream of the
    *         retrieval is bounded by k·⌈maxDoclen/stride⌉ rows per
    *         query — the per-query window sort is k docs, not a corpus
    *         sort.
    */
  def maxPassageRerank(eng: Engine, content: DataFrame,
                       queries: Seq[(String, String)],
                       stopwords: Set[String] = Set.empty,
                       k: Int = 5, passageSz: Int = 150, windowSz: Int = 50,
                       contentCol: String = "content"): DataFrame = {
    require(passageSz > windowSz, "passageSz must exceed windowSz (reference assert)")
    val spark = eng.index.segments.sparkSession
    import spark.implicits._
    val stride = passageSz - windowSz

    val qTokens: Map[String, Seq[String]] = queries.map { case (qid, text) =>
      qid -> tokenizeQuery(text, stopwords)
    }.toMap
    val allTerms = qTokens.values.flatten.toSeq.distinct
    val collSize = eng.index.stats.totalTerms.toDouble
    val ctfMap: Map[String, Long] = eng.termStatsFor(allTerms).map { case (t, s) => t -> s.ctf }

    // ONE batched retrieval round for the whole query set (shared
    // stats rounds — per-query results pinned
    // identical to runQuery by RunQueriesSpec), and ONE tokenize pass
    // over the UNION of candidate sets: overlapping candidate sets no
    // longer re-join + re-tokenize the same documents per query
    // (round-5 verdict item 4's batching, applied to the webtrack
    // surfaces; job count stays flat in #queries)
    val batched = eng.runQueries(
      queries.map { case (_, text) => s"#combine($text)" }, k)
    val cands = queries.zip(batched).map { case ((qid, _), (_, res)) =>
      (qid, res.select(col("docId")))
    }
    val allIds = cands.map(_._2).reduce(_ union _).distinct()
    val toksAll = allIds
      .join(content.select(col("docId"), col(contentCol).as("__content")), "docId")
      .select(col("docId"), tokenCol(col("__content"), stopwords).as("toks"))
      .localCheckpoint() // ≤ Σk rows — materialize once, score per query
    val perQuery = cands.map { case (qid, ids) =>
      val live = qTokens(qid).groupBy(identity).toSeq
        .map { case (t, occ) => (t, occ.size, ctfMap.getOrElse(t, 0L)) }
      bestChunkScore(toksAll.join(ids, "docId"), live, collSize,
          passageSz, windowSz, Mu)
        .select(col("docId"), lit(qid).as("qid"), col("score"))
    }
    rankPerQuery(perQuery.reduce(_.unionByName(_)))
  }

  /** The IndriRunQuery `postProcess` hook (reference:
    * webtrack/IndriRunQuery.cc:322-330 → PassageModel::maxPsgScoring,
    * webtrack/PassageModel.cc:483-562): the SAME chunked max-passage LM,
    * but passages come from DOCUMENT VECTORS with [OOV]/stopped slots
    * dropped (createPassageFromDocumentVector, discardJunk=true — the
    * engine's stem space, not raw text), query tokens through webtrack's
    * whiteSpaceSplit defaults (lower, charLimit=0 → 1-char tokens KEPT,
    * stop set, Krovetz stem — Tokenize.hpp:26), and μ / PassageSize /
    * WindowSize from parameters (defaults 2500 / 150 / 50). Each
    * retrieved document's score is REPLACED by its best passage score
    * (the returned ScoredExtentResults reuse the retrieval entry with
    * sr.score = psg score).
    */
  def maxPsgScoringDV(eng: Engine, queries: Seq[(String, String)],
                      stopwords: Set[String] = Set.empty,
                      k: Int = 1000, passageSz: Int = 150, windowSz: Int = 50,
                      mu: Double = 2500.0): DataFrame = {
    require(passageSz > windowSz, "passageSz must exceed windowSz")
    val spark = eng.index.segments.sparkSession

    val qTokens: Map[String, Seq[String]] = queries.map { case (qid, text) =>
      qid -> text.split("\\s+").toSeq.filter(_.nonEmpty).map(_.toLowerCase)
        .filterNot(stopwords.contains)
        .map(graft.analysis.KrovetzStemmer.stem)
    }.toMap
    val allTerms = qTokens.values.flatten.toSeq.distinct
    val collSize = eng.index.stats.totalTerms.toDouble
    val ctfMap: Map[String, Long] = eng.termStatsFor(allTerms).map { case (t, s) => t -> s.ctf }

    // ONE batched retrieval + ONE document-vector pass over the UNION
    // of candidate sets (the per-query loop paid the positions
    // explode + groupBy(docId) rebuild once PER QUERY over mostly the
    // same documents; RunQueriesSpec pins the batched retrieval
    // identical per query)
    val batched = eng.runQueries(
      queries.map { case (_, text) => s"#combine($text)" }, k)
    val cands = queries.zip(batched).map { case ((qid, _), (_, res)) =>
      (qid, res.select(col("docId")))
    }
    val allIds = cands.map(_._2).reduce(_ union _).distinct()
    // ordered stem vector per retrieved doc, [OOV] slots absent
    val dvAll = eng.documentVectors(allIds)
      .groupBy("docId")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("term")))),
        s => s.getField("term")).as("toks"))
      .localCheckpoint() // ≤ Σk rows of stem vectors — built once
    val perQuery = cands.map { case (qid, ids) =>
      val live = qTokens(qid).groupBy(identity).toSeq
        .map { case (t, occ) => (t, occ.size, ctfMap.getOrElse(t, 0L)) }
      bestChunkScore(dvAll.join(ids, "docId"), live, collSize,
          passageSz, windowSz, mu)
        .select(col("docId"), lit(qid).as("qid"), col("score"))
    }
    rankPerQuery(perQuery.reduce(_.unionByName(_)))
  }

  /** Shared chunk pipeline: split `toks` into createPassage chunks
    * (full chunks [k·stride, k·stride+P) while a token exists PAST the
    * boundary, flush chunk to the end — a doc of exactly P tokens is
    * ONE chunk), score each with the passage LM, keep the best per doc.
    * `live` = (term, dup, ctf) query occurrences; ctf == 0 terms are
    * skipped entirely (the cProb <= 0 guard, LanguageModel.cc:20-23).
    */
  private def bestChunkScore(docs: DataFrame, live: Seq[(String, Int, Long)],
                             collSize: Double, passageSz: Int, windowSz: Int,
                             mu: Double): DataFrame = {
    val stride = passageSz - windowSz
    val chunks = docs
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
      .withColumn("f",
        when(col("n") > passageSz,
          floor((col("n") - passageSz - 1) / stride) + 1).otherwise(lit(0L)))
      .withColumn("ck", explode(sequence(lit(0L), col("f"))))
      .withColumn("cstart", col("ck") * stride)
      .withColumn("cend",
        when(col("ck") < col("f"), col("cstart") + passageSz).otherwise(col("n")))
      .withColumn("ctoks",
        slice(col("toks"), col("cstart") + 1, col("cend") - col("cstart")))
      .withColumn("clen", size(col("ctoks")))
    val liveTerms = live.filter(_._3 > 0L)
    val lnLen = log(col("clen").cast("double") + lit(mu))
    val scoreCol =
      if (liveTerms.isEmpty) lit(0.0)
      else liveTerms.map { case (t, dup, ctf) =>
        val tf = size(filter(col("ctoks"), x => x === lit(t))).cast("double")
        lit(dup.toDouble) * (log(tf + lit(mu * ctf / collSize)) - lnLen)
      }.reduce(_ + _)
    chunks.select(col("docId"), scoreCol.as("psg"))
      .groupBy("docId").agg(max(col("psg")).as("score"))
  }

  /** per-query rank: k retrieved docs per query — a bounded window */
  private def rankPerQuery(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("docId").asc)
    scored.withColumn("rank", row_number().over(w))
  }

  /** clue.cc dumpResult's run-file line (clue.cc:188-196):
    * `tpcNum Q0 docId  rank score runTag` — TWO spaces between the doc
    * id and the rank (`<< cl.docId << "  " << cl.rank`), score in C++
    * default-ostream %g formatting (the reference field is a float; our
    * double-pipeline value is formatted the same way — the float-vs-
    * double accumulation divergence is the repo-wide representation
    * choice). `qid` maps to tpcNum; the doc id column is caller-shaped
    * (the reference prints the trecId metadata string).
    */
  def dumpLines(ranked: DataFrame, runTag: String, idCol: Column): DataFrame = {
    val scoreUdf = udf { (s: Double) => graft.apps.RunQuery.cppDouble(s) }
    ranked.select(col("qid"), col("rank"),
      concat_ws(" ", col("qid"), lit("Q0"),
        concat(idCol, lit(" ")), // docId then "  " — one extra space
        col("rank").cast("string"), scoreUdf(col("score")),
        lit(runTag)).as("line"))
  }
}
