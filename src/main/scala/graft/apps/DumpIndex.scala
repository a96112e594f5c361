package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.analysis.Analyzer
import graft.index.{IndexBuilder, InvertedIndex, SegmentStore}
import graft.search.{Engine, ScoringRule}

/** The dumpindex application surface (reference: dumpindex/dumpindex.cpp
  * :60-110 command table): `dumpindex <repository> <command> [args…]`
  * inspects a stored repository — term posting lists (stemmed through
  * the repository's own chain), field extents, expression evaluation,
  * document vectors, vocabulary, stats, and the docno metadata lookups.
  *
  * Each command is one Dataset query over the stored segment /
  * dictionary / forward tables. Commands that touch one term's postings
  * (`t`, `tp`) filter the segments scan BEFORE block decode, so only
  * that term's blocks decompress; `dv` prunes blocks on their
  * firstDoc/lastDoc bounds the same way. Expression commands (`e`, `x`,
  * `dx`) decode the terms the parsed expression names.
  *
  * `dt`/`dd` (document text / parsed data) serve from the repository's
  * stored collection table (the CompressedCollection analogue written
  * by BuildIndex); pre-collection repositories raise with the original
  * table-input contract — the docno metadata names the source row.
  */
object DumpIndex {

  /** `t term` / `tp term`: the term's inverted list, stemmed via the
    * repository chain (reference: dumpindex.cpp print_term /
    * print_term_positions — "%s is stemmed as %s").
    */
  def termPostings(spark: SparkSession, repoPath: String, term: String,
                   positions: Boolean): DataFrame = {
    val st = SegmentStore.open(spark, repoPath)
    val stemmed = analyzerOf(repoPath).processTerm(term)
    val decoded =
      if (stemmed == null) // stopword / normalizes to empty: empty list
        IndexBuilder.decodePostings(st.segments, Seq("\u0000"))
      else IndexBuilder.decodePostings(st.segments, Seq(stemmed))
    val base = decoded.select(col("term"), col("docId"),
      col("tf").cast(LongType).as("tf"), col("positions"))
    (if (positions) base else base.drop("positions")).orderBy("docId")
  }

  /** `fp field`: the field's extent list (reference: dumpindex.cpp
    * print_field_positions).
    */
  def fieldPositions(spark: SparkSession, repoPath: String,
                     field: String): DataFrame = {
    val st = SegmentStore.open(spark, repoPath)
    require(st.fieldExtents != null, s"repository has no field extents")
    st.fieldExtents.where(col("field") === field)
      .select(col("docId"), col("begin").cast(LongType).as("begin"),
        col("end").cast(LongType).as("end"), col("number"))
      .orderBy("docId", "begin")
  }

  /** `dv docId…`: document vectors off the decoded postings, block-pruned
    * to the requested docId range (reference: dumpindex.cpp
    * print_document_vector over the direct/forward index).
    */
  def documentVector(spark: SparkSession, repoPath: String,
                     docIds: Seq[Long]): DataFrame = {
    require(docIds.nonEmpty, "dv needs at least one docId")
    val st = SegmentStore.open(spark, repoPath)
    IndexBuilder.decodePostings(st.segments,
      blockFilter = col("lastDoc") >= docIds.min && col("firstDoc") <= docIds.max)
      .where(col("docId").isin(docIds: _*))
      .select(col("docId"), explode(col("positions")).as("pos"), col("term"))
      .orderBy("docId", "pos")
  }

  /** `tdv docId…`: the document's indexed stems in position order as ONE
    * space-joined line per document (reference: dumpindex.cpp:368-401
    * print_text_documentvector — slots whose stem is "[OOV]" are
    * dropped; in this layout stopped/OOV slots simply have no posting,
    * so joining the positional postings in order IS that surface).
    */
  def textDocumentVector(spark: SparkSession, repoPath: String,
                         docIds: Seq[Long]): DataFrame =
    documentVector(spark, repoPath, docIds)
      .groupBy(col("docId"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("term")))),
          x => x.getField("term"))).as("text"))
      .orderBy("docId")

  /** `vtl`: index consistency audit (reference: dumpindex.cpp:75-107
    * validate — per-document term-list length vs documentLength plus the
    * repository document count). Re-expressed over this layout's
    * invariants, one row per check with its violation count:
    *  - every decoded posting position lies inside the stored doclen;
    *  - per-term (df, ctf) in the dictionary equal the decoded lists;
    *  - doclens holds exactly stats.totalDocs dense docIds 1..N;
    *  - sum(doclen) == stats.totalTerms and |dictionary| == uniqueTerms.
    */
  def validate(spark: SparkSession, repoPath: String): DataFrame = {
    val st = SegmentStore.open(spark, repoPath)
    val dec = IndexBuilder.decodePostings(st.segments)
    val posBad = dec.join(st.doclens, "docId")
      .where(array_max(col("positions")) >= col("length") ||
             array_min(col("positions")) < 0 ||
             size(col("positions")) =!= col("tf"))
      .count()
    val dictBad = dec.groupBy("term")
      .agg(count(lit(1)).as("df2"), sum(col("tf").cast(LongType)).as("ctf2"))
      .join(st.dictionary, Seq("term"), "full_outer")
      .where(coalesce(col("df2"), lit(-1L)) =!= coalesce(col("df"), lit(-2L)) ||
             coalesce(col("ctf2"), lit(-1L)) =!= coalesce(col("ctf"), lit(-2L)))
      .count()
    val dl = st.doclens.agg(
      count(lit(1)), min(col("docId")), max(col("docId")),
      sum(col("length").cast(LongType))).head()
    val nDocs = dl.getLong(0)
    // zero-row doclens aggregate min/max/sum to SQL NULL — the validate
    // verb must report the violations, not die on getLong(null)
    val (mnId, mxId, sumLen) =
      if (nDocs == 0L) (0L, 0L, 0L)
      else (dl.getLong(1), dl.getLong(2), dl.getLong(3))
    val denseBad =
      (if (nDocs == st.stats.totalDocs) 0L else 1L) +
      (if (mnId == 1L && mxId == nDocs) 0L else 1L)
    val statsBad =
      (if (sumLen == st.stats.totalTerms) 0L else 1L) +
      (if (st.dictionary.count() == st.stats.uniqueTerms) 0L else 1L)
    spark.createDataFrame(Seq(
      ("positions_within_doclen", posBad == 0L, posBad),
      ("dictionary_df_ctf", dictBad == 0L, dictBad),
      ("dense_docids", denseBad == 0L, denseBad),
      ("corpus_stats", statsBad == 0L, statsBad)))
      .toDF("check", "ok", "violations")
  }

  /** `v`: the vocabulary with collection statistics (reference:
    * dumpindex.cpp print_vocabulary).
    */
  def vocabulary(spark: SparkSession, repoPath: String): DataFrame =
    SegmentStore.open(spark, repoPath).dictionary
      .select(col("term"), col("df"), col("ctf")).orderBy("term")

  /** `s`: corpus statistics (reference: dumpindex.cpp print_repository_stats) */
  def stats(spark: SparkSession, repoPath: String): DataFrame = {
    val st = SegmentStore.open(spark, repoPath).stats
    spark.createDataFrame(Seq((st.totalDocs, st.totalTerms, st.uniqueTerms)))
      .toDF("total_docs", "total_terms", "unique_terms")
  }

  /** `e expr` — every matching extent; `x expr` / `dx expr` — occurrence
    * and document counts (reference: dumpindex.cpp print_expression_list
    * / print_expression_count via QueryEnvironment::expressionList).
    * Only the expression's own term leaves decode from the segments.
    */
  def expression(spark: SparkSession, repoPath: String, cmd: String,
                 expr: String): DataFrame = {
    val eng = openEngine(spark, repoPath, Some(expr))
    cmd match {
      case "e" => eng.expressionList(expr)
        .select(col("docId"), col("begin").cast(LongType).as("begin"),
          col("end").cast(LongType).as("end"))
      case "x" =>
        spark.createDataFrame(Seq(Tuple1(eng.expressionCount(expr))))
          .toDF("xcount")
      case "dx" =>
        spark.createDataFrame(Seq(Tuple1(eng.documentExpressionCount(expr))))
          .toDF("dxcount")
    }
  }

  /** `di field value` / `dn docId`: metadata lookups both ways
    * (reference: dumpindex.cpp print_document_id / print_document_name).
    */
  def documentId(spark: SparkSession, repoPath: String, field: String,
                 values: Seq[String]): DataFrame = {
    val eng = openEngine(spark, repoPath, None, withDeletes = false)
    eng.documentIDsFromMetadata(field, values).orderBy("docId")
  }

  def documentName(spark: SparkSession, repoPath: String,
                   docIds: Seq[Long]): DataFrame = {
    val eng = openEngine(spark, repoPath, None, withDeletes = false)
    import spark.implicits._
    eng.documentMetadata(docIds.toDF("docId"), Seq("docno"))
      .select(col("docId"), col("docno")).orderBy("docId")
  }

  /** `il`: every inverted list with positions (reference: dumpindex.cpp
    * print_invfile). A FULL segment decode by definition — the one verb
    * whose cost is the whole index.
    */
  def invlists(spark: SparkSession, repoPath: String): DataFrame = {
    val st = SegmentStore.open(spark, repoPath)
    IndexBuilder.decodePostings(st.segments)
      .select(col("term"), col("docId"), col("tf").cast(LongType).as("tf"),
        col("positions"))
      .orderBy("term", "docId")
  }

  /** `del docId…`: persist pending deletes (reference:
    * delete_document → Repository.deleteDocument). Dump verbs keep
    * showing the raw lists until compaction — exactly the reference,
    * where print_term walks the inverted file while the QUERY paths
    * consult the DeletedDocumentList (RunQuery and the expression verbs
    * here apply stored deletes at open). Returns the pending list.
    */
  def deleteDocs(spark: SparkSession, repoPath: String, ids: Seq[Long]): DataFrame = {
    graft.index.RepositorySurgery.appendDeletes(spark, repoPath, ids)
    graft.index.RepositorySurgery.readDeletes(spark, repoPath).get.orderBy("docId")
  }

  /** `c`: compact — release pending-deleted documents (reference:
    * compact_repository). Returns the compacted repository's stats.
    */
  def compact(spark: SparkSession, repoPath: String): DataFrame = {
    graft.index.RepositorySurgery.compactRepository(spark, repoPath)
    stats(spark, repoPath)
  }

  /** `m out in1 in2 …` (called with repoPath = out): offline merge —
    * one repository holding every member's documents, docIds rebased
    * onto the federation's documentBase offsets (reference:
    * merge_repositories → IndexWriter k-way merge). Members must share
    * one analysis chain and carry no pending deletes (compact first —
    * the same compact-first rule the deletion-capped kernel verbs
    * state). Metadata side tables merge rebased; the shared chain
    * carries over. Returns the merged repository's stats.
    */
  def merge(spark: SparkSession, out: String, inputs: Seq[String]): DataFrame = {
    import graft.index.{Federation, InvertedIndex, RepositorySurgery}
    require(inputs.size >= 2, "merge needs at least two input repositories")
    inputs.foreach { in =>
      require(RepositorySurgery.readDeletes(spark, in).isEmpty,
        s"$in has pending deletes — compact it first (dumpindex c)")
    }
    val chains = inputs.map(BuildIndex.storedAnalyzer)
    require(chains.distinct.size == 1,
      "merge requires members sharing one analysis chain " +
        s"(got ${chains.distinct.size} distinct chains)")
    val members = inputs.map { in =>
      val st = SegmentStore.open(spark, in)
      InvertedIndex(null, st.dictionary, st.doclens, st.stats, st.segments,
        st.fieldExtents, numBuckets = st.numBuckets)
    }
    val merged = Federation.combine(members)
    val outPath = java.nio.file.Paths.get(out)
    require(!java.nio.file.Files.exists(outPath.resolve("stats")),
      s"$out already holds a repository")
    SegmentStore.writeAll(merged, out,
      graft.index.IndexConfig(numBuckets = math.max(merged.numBuckets, 1)))
    // merged metadata (docno lookups): each member's table rebased onto
    // its documentBase — the same shape RunQuery federates at query time
    val metas = inputs.map(BuildIndex.openMetadata(spark, _))
    if (metas.forall(_.isDefined)) {
      Federation.derivedBases(members).zip(metas).map { case (b, m) =>
        m.get.withColumn("docId", col("docId") + lit(b))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
        .write.mode("overwrite").parquet(BuildIndex.metadataDir(out))
    }
    // merged collection: each member's text rebased like the metadata
    val colls = inputs.map(BuildIndex.openCollection(spark, _))
    if (colls.forall(_.isDefined)) {
      Federation.derivedBases(members).zip(colls).map { case (b, c) =>
        c.get.withColumn("docId", col("docId") + lit(b))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(BuildIndex.collectionDir(out))
    }
    RepositorySurgery.copyAux(java.nio.file.Paths.get(inputs.head), outPath,
      only = Set("analysis.properties"))
    stats(spark, out)
  }

  /** repository chain (BuildIndex.writeChain) or the default analyzer */
  private def analyzerOf(repoPath: String): Analyzer =
    BuildIndex.storedAnalyzer(repoPath).getOrElse(Analyzer())

  /** Engine over the stored repo. When `forExpr` is given, postings =
    * the decoded blocks of that expression's term leaves only (the
    * pruned scan); else kernel-only (metadata verbs don't read postings).
    */
  /** `withDeletes`: pending deletes apply only to the QUERY/expression
    * verbs (e/x/dx) — the metadata/collection verbs (dn/di/dd) read the
    * raw tables until compaction like the reference, whose
    * print_document_name/_text go straight to the CompressedCollection
    * (dumpindex.cpp:308-322) while only inference-network evaluation
    * consults the DeletedDocumentList.
    */
  private def openEngine(spark: SparkSession, repoPath: String,
                         forExpr: Option[String],
                         withDeletes: Boolean = true): Engine = {
    val st = SegmentStore.open(spark, repoPath)
    val az = analyzerOf(repoPath)
    val postings = forExpr match {
      case Some(expr) =>
        graft.search.QueryParser.termLeaves(expr)
          .map(_.map(az.processTerm).filter(_ != null).distinct) match {
          case Some(ts) if ts.nonEmpty =>
            IndexBuilder.decodePostings(st.segments, ts)
          case Some(_) => // extent-only expression: no postings touched
            IndexBuilder.decodePostings(st.segments, Seq(" "))
          case None => // wildcard: every block is a candidate
            IndexBuilder.decodePostings(st.segments)
        }
      case None => null
    }
    val idx = InvertedIndex(postings, st.dictionary, st.doclens, st.stats,
      st.segments, st.fieldExtents, numBuckets = st.numBuckets)
    val eng = new Engine(spark, idx, az, ScoringRule.parse("method:dirichlet"))
    BuildIndex.openMetadata(spark, repoPath).foreach(m => eng.setMetadata(m))
    // pending deletes persist under the repo (dumpindex del): the query
    // surfaces consult the DeletedDocumentList like the reference
    if (withDeletes)
      graft.index.RepositorySurgery.readDeletes(spark, repoPath)
        .foreach(eng.deleteDocuments)
    eng
  }

  def command(spark: SparkSession, repoPath: String, cmd: String,
              args: Seq[String]): DataFrame = cmd match {
    case "t" | "term" => termPostings(spark, repoPath, args.head, positions = false)
    case "tp" | "termpositions" => termPostings(spark, repoPath, args.head, positions = true)
    case "fp" | "fieldpositions" => fieldPositions(spark, repoPath, args.head)
    case "e" | "expressionlist" => expression(spark, repoPath, "e", args.head)
    case "x" | "xcount" => expression(spark, repoPath, "x", args.head)
    case "dx" | "dxcount" => expression(spark, repoPath, "dx", args.head)
    case "dv" | "documentvector" => documentVector(spark, repoPath, args.map(_.toLong))
    case "tdv" | "textdocumentvector" => textDocumentVector(spark, repoPath, args.map(_.toLong))
    case "vtl" | "validate" => validate(spark, repoPath)
    case "di" | "documentid" => documentId(spark, repoPath, args.head, args.tail)
    case "dn" | "documentname" => documentName(spark, repoPath, args.map(_.toLong))
    case "v" | "vocabulary" => vocabulary(spark, repoPath)
    case "s" | "stats" => stats(spark, repoPath)
    case "il" | "invlist" => invlists(spark, repoPath)
    case "del" | "delete" => deleteDocs(spark, repoPath, args.map(_.toLong))
    case "c" | "compact" => compact(spark, repoPath)
    case "m" | "merge" => merge(spark, repoPath, args)
    case "dt" | "documenttext" =>
      documentText(spark, repoPath, args.map(_.toLong), withMeta = false)
    case "dd" | "documentdata" =>
      documentText(spark, repoPath, args.map(_.toLong), withMeta = true)
    case other => throw new IllegalArgumentException(
      s"unknown dumpindex command '$other' " +
        "(t|tp|fp|e|x|dx|dv|tdv|dt|dd|di|dn|v|vtl|s|il|del|c|m)")
  }

  /** `dt docId…` / `dd docId…`: document text from the stored collection
    * (the CompressedCollection analogue, written by BuildIndex beside
    * the index — reference: dumpindex.cpp print_document_text /
    * print_document_data). `dd` adds the docno metadata column like the
    * reference's metadata dump. Repositories from before the collection
    * table refuse with the original contract message.
    */
  def documentText(spark: SparkSession, repoPath: String, docIds: Seq[Long],
                   withMeta: Boolean): DataFrame = {
    val coll = BuildIndex.openCollection(spark, repoPath).getOrElse(
      throw new UnsupportedOperationException(
        "document text is not copied into this repository — the corpus " +
          "TABLE keeps it; resolve the row via `dn <docId>` (docno = " +
          "repo/path@commit)"))
    val picked = coll.where(col("docId").isin(docIds: _*))
      .select(col("docId"), col("content").as("text"))
    if (!withMeta) picked.orderBy("docId")
    else {
      val eng = openEngine(spark, repoPath, None, withDeletes = false)
      picked.join(
          eng.documentMetadata(picked.select("docId"), Seq("docno")),
          Seq("docId"), "left")
        .select(col("docId"), col("docno"), col("text")).orderBy("docId")
    }
  }

  /** `DumpIndex <repository> <command> [args…]` — prints tab-separated rows */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpIndex <repository> <command> [args...]")
    val spark = SparkSession.builder()
      .appName("graft-dumpindex")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    val df = command(spark, args(0), args(1), args.drop(2).toSeq)
    for (row <- df.collect())
      println((0 until row.length).map(i =>
        Option(row.get(i)).map {
          case s: Seq[_] => s.mkString(",")
          case v => v.toString
        }.getOrElse("null")).mkString("\t"))
    spark.stop()
  }
}
