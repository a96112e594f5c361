package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.analysis.Analyzer

/** Index build configuration.
  *
  * @param blockSize     postings per compressed block — the analogue of the
  *                      reference's 4 KB skip batches
  *                      (reference: src/IndexWriter.cpp:527, minimumSkip 1<<12)
  * @param numBuckets    docId-range buckets per term for the salted
  *                      sort-merge shuffle; hot terms (e.g. `return`,
  *                      `license` in code corpora) split across buckets so
  *                      no single reducer owns a whole mega-posting-list
  * @param topdocsMinDf  df threshold that triggers a topdocs list
  *                      (reference: include/indri/IndexWriter.hpp:229-232)
  * @param topdocsFraction fraction of df kept in topdocs
  *                      (reference: src/IndexWriter.cpp:530-534)
  */
final case class IndexConfig(
    analyzerMode: String = "indri",
    stopwords: Set[String] = Set.empty,
    stemmerName: String = "none",
    blockSize: Int = 1024,
    numBuckets: Int = 32,
    topdocsMinDf: Long = 1000L,
    topdocsFraction: Double = 0.01,
    storePositions: Boolean = true,
    fields: Seq[FieldSpec] = Nil,
    // <normalize>false</normalize> = index mixed-case, keep dots and
    // apostrophes (reference: src/Repository.cpp:144-149)
    normalize: Boolean = true
) {
  def analyzer: Analyzer =
    Analyzer(analyzerMode, stopwords,
      graft.analysis.Stemmers.byName(stemmerName), normalize)
  /** stable fingerprint for resume checks */
  def fingerprint: String = {
    val s = s"$analyzerMode|${stopwords.toSeq.sorted.mkString(",")}|$stemmerName|$blockSize|$numBuckets|$topdocsMinDf|$topdocsFraction|$storePositions|${fields.map(f => s"${f.name}:${f.parse}").mkString(",")}|$normalize"
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/** An indexed field (tag) declaration — the field descriptor analogue
  * (reference: include/indri/Index.hpp:42-53 {name, numeric, parserName}).
  *
  * @param parse payload parser for the covered text:
  *   "none" → number = 0;
  *   "int"  → leading [-]digits of the trimmed text
  *            (NumericFieldAnnotator, reference: src/Repository.cpp:151-155);
  *   "date" → ISO yyyy-MM-dd → epoch day
  *            (DateFieldAnnotator, reference: src/Repository.cpp:156-158).
  */
final case class FieldSpec(name: String, parse: String = "none") {
  def parseNumber(text: String): Long = parse match {
    case "int" =>
      val t = text.trim
      var i = 0; var neg = false
      if (i < t.length && (t.charAt(i) == '-' || t.charAt(i) == '+')) {
        neg = t.charAt(i) == '-'; i += 1
      }
      var v = 0L; var any = false
      while (i < t.length && t.charAt(i) >= '0' && t.charAt(i) <= '9') {
        v = v * 10 + (t.charAt(i) - '0'); i += 1; any = true
      }
      if (!any) 0L else if (neg) -v else v
    case "date" =>
      // days since 1600 via the reference annotator's format table
      // (reference: include/indri/DateFieldAnnotator.hpp:59-110)
      DateParse.parseFieldDate(text)
    case _ => 0L
  }
}

/** One compressed posting block — the segment-table row. Blocks of a term
  * are disjoint docId ranges ordered by firstDoc; (maxTf, minDl) are the
  * block-max WAND bounds (Ding & Suel block-max metadata as columns).
  */
final case class SegmentBlock(
    term: String,
    bucket: Int,
    firstDoc: Long,
    lastDoc: Long,
    numDocs: Int,
    maxTf: Int,
    minDl: Int,
    docsDelta: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    positionsDelta: Array[Byte]
)

/** Logical handle over all built index tables. */
final case class InvertedIndex(
    postings: DataFrame,   // (term, docId, tf, positions, doclen)
    dictionary: DataFrame, // (term, df, ctf, maxDocLen, minDocLen)
    doclens: DataFrame,    // (docId, length)
    stats: CorpusStats,
    segments: DataFrame,   // SegmentBlock schema
    fieldExtents: DataFrame = null, // (docId, field, begin, end, number) | null when no fields indexed
    numBuckets: Int = 0,   // docId-range buckets in segments (0 = unknown)
    segmentsBucketed: Boolean = false, // read by no code; kept only
    // because perfbench/src/graft/perfbench/HostBench.scala passes it by
    // name, and the next benchmark change (ROADMAP item 4) deletes it
    topdocs: DataFrame = null // optional (term, docId, tf, length) hot-term
    // lists (buildTopdocs) — when present, WAND seeds its threshold from
    // them (reference: src/WeightedAndNode.cpp:119-186 candidate seeding)
) {

  /** Positional postings usable over STORED repositories too: a
    * kernel-only handle (postings == null — SegmentStore.open callers)
    * decodes segment blocks on demand, so the whole belief/raw-extent
    * surface (windows, priors, RM, document vectors) serves from disk
    * exactly like the reference DiskIndex iterators
    * (src/DiskDocListIterator.cpp). Pass `terms` whenever they are
    * known: the typed decode flatMap blocks Catalyst predicate
    * pushdown, so the term filter must land on the segments scan BEFORE
    * the decode — IndexBuilder.decodePostings puts it there.
    */
  def postingsView(terms: Seq[String] = Nil): DataFrame =
    if (postings != null) {
      if (terms.isEmpty) postings
      else postings.where(org.apache.spark.sql.functions.col("term").isin(terms: _*))
    } else IndexBuilder.decodePostings(segments, terms)

  /** Resident block maps: P = min(numBuckets, defaultParallelism)
    * partitions keyed on `bucket`, bucket b in partition b mod P, each a
    * map from term to that term's blocks sorted by firstDoc and their
    * stats partial (Daat.TermSlice) — the index an Indri server holds
    * open, and the only resident copy of it: term stats, window counts
    * and every kernel query read these maps (Daat.stats, Daat.topK,
    * Daat.topKExtents). Built on first use by one keyed exchange over
    * the segments (Daat.residentBlocks) and shared by every Engine over
    * this index; persisted MEMORY_ONLY and unpersisted by the
    * ContextCleaner once the index is unreachable.
    */
  @transient lazy val blockMaps: RDD[Map[String, graft.search.Daat.TermSlice]] =
    graft.search.Daat.residentBlocks(this)

  /** Resident field extents: field → docId → extents sorted by (begin,
    * end), in the partitions of [[blockMaps]] (a doc's extents sit with
    * its blocks), so an extent-restricted kernel query zips the two.
    * Built by the first field-restricted kernel query on this index and
    * persisted like [[blockMaps]]; an index that only serves other
    * queries never builds it.
    */
  @transient lazy val extentMaps: RDD[Map[String, graft.search.Daat.Extents]] =
    graft.search.Daat.residentExtents(this)
}

final case class CorpusStats(totalDocs: Long, totalTerms: Long, uniqueTerms: Long) {
  /** avgdl = contextSize / documentCount — global, includes null slots
    * (reference: src/TermScoreFunctionFactory.cpp:95,
    * src/MemoryIndex.cpp:617 totalTerms += words.size()).
    */
  def avgDocLength: Double = totalTerms / totalDocs.toDouble
}

object IndexBuilder {

  /** Dense 1-based docIds over the corpus-table primary key — the rank
    * of each row's key, mirroring sequential assignment at add time
    * (reference: src/MemoryIndex.cpp:550-552). Never
    * `monotonically_increasing_id` — not dense, not layout-stable.
    * Range-partition by the key, count rows per partition (tiny
    * collect), then number within partitions and add the partition
    * offset — the distributed zipWithIndex shape, with no single-reducer
    * global window, expressed with DataFrame ops only.
    *
    * The range-partitioned Dataset is persisted so the count pass and
    * the numbering pass see the SAME sampled partition boundaries.
    */
  def assignDocIdsScalable(corpus: DataFrame, keyCols: Seq[String],
                           partitions: Int = 0): DataFrame =
    assignDocIdsScalableCached(corpus, keyCols, partitions)._1

  /** [[assignDocIdsScalable]] plus the handle of the range-partitioned
    * cache it pins (the count pass and the numbering pass must see the
    * SAME sampled partition boundaries) — the caller unpersists it once
    * the numbered rows are materialized downstream, so a long-lived
    * session does not leak the cached corpus.
    */
  private[graft] def assignDocIdsScalableCached(
      corpus: DataFrame, keyCols: Seq[String],
      partitions: Int = 0): (DataFrame, DataFrame) = {
    val (numbered, ranged, _) = globalRowNumber(corpus, keyCols.map(col), partitions)
    (numbered.withColumn("docId", col("__rn")).drop("__pid", "__rn"), ranged)
  }

  /** Distributed global row number (1-based) of `df` under a total order
    * `sortKeys` — range-partition by the keys, count rows per partition
    * (one tiny collect, which also yields N), then number within
    * partitions and add the partition offset: the DataFrame zipWithIndex.
    * No single-partition Exchange anywhere in the plan. The ONE home of
    * this shape — docId assignment and the pagerank rank binning both
    * route through it, so a fix to the sampled-boundary pinning
    * invariant lands everywhere at once.
    * Returns (df + `__pid`/`__rn` columns, the pinned range-partitioned
    * cache — unpersist once the numbering is consumed downstream (the
    * offset pass and the numbering pass must see the SAME sampled
    * partition boundaries), observed row count).
    */
  private[graft] def globalRowNumber(df: DataFrame, sortKeys: Seq[Column],
                                     partitions: Int = 0)
      : (DataFrame, DataFrame, Long) = {
    val spark = df.sparkSession
    val nPart = if (partitions > 0) partitions
                else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = df.repartitionByRange(nPart, sortKeys: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val counts = ranged.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.valuesIterator.sum
    val offsets = (0 until nPart).scanLeft(0L) { (acc, p) =>
      acc + counts.getOrElse(p, 0L)
    }.toArray // offsets(p) = rows before partition p
    val bcOff = spark.sparkContext.broadcast(offsets)
    val offUdf = udf { (pid: Int) => bcOff.value(pid) }
    val rn = row_number().over(Window.partitionBy("__pid").orderBy(sortKeys: _*))
      .cast(LongType) + offUdf(col("__pid"))
    (ranged.withColumn("__rn", rn), ranged, n)
  }

  /** (docId, content) → (docId, slots) where slots has one entry per token
    * position; null slot = stopped/over-long term (position still counts).
    */
  def tokenize(docs: DataFrame, cfg: IndexConfig,
               contentCol: String = "content"): DataFrame = {
    val az = cfg.analyzer
    if (cfg.fields.isEmpty) {
      val analyzeUdf = udf((text: String) => az.analyze(text))
      docs.withColumn("slots", analyzeUdf(col(contentCol)))
        .withColumn("fields",
          lit(null).cast("array<struct<field:string,begin:int,end:int,number:bigint,ordinal:int,parentField:string,parentOrdinal:int>>"))
    } else {
      // one pass: slots + tag extents with numeric/date payloads for the
      // declared fields (only configured fields are kept, like the
      // reference's field descriptor list). Ordinals number each field's
      // extents 1.. in document order; parent links point to the nearest
      // enclosing kept extent — the FieldExtent {ordinal, parentOrdinal}
      // tree (reference: include/indri/FieldExtent.hpp:30-46,
      // DocumentStructure nesting).
      val specs = cfg.fields.map(f => f.name -> f).toMap
      val analyzeUdf = udf { (text: String) =>
        val (slots, tags) = az.analyzeWithFields(text)
        val kept = tags.filter(t => specs.contains(t.name))
        val ordinal = new Array[Int](kept.length)
        val counters = scala.collection.mutable.HashMap.empty[String, Int]
        var i = 0
        while (i < kept.length) {
          val o = counters.getOrElse(kept(i).name, 0) + 1
          counters(kept(i).name) = o
          ordinal(i) = o
          i += 1
        }
        val fs = kept.indices.map { k =>
          val t = kept(k)
          val spec = specs(t.name)
          val num = if (spec.parse == "none") 0L
                    else spec.parseNumber(text.substring(t.charBegin, t.charEnd))
          // parent = smallest-span kept extent strictly containing this one
          var pField: String = null
          var pOrd = 0
          var bestSpan = Int.MaxValue
          var j = 0
          while (j < kept.length) {
            val p = kept(j)
            if (j != k && p.begin <= t.begin && t.end <= p.end &&
                (p.end - p.begin) > (t.end - t.begin) &&
                (p.end - p.begin) < bestSpan) {
              bestSpan = p.end - p.begin
              pField = p.name; pOrd = ordinal(j)
            }
            j += 1
          }
          (t.name, t.begin, t.end, num, ordinal(k), pField, pOrd)
        }
        (slots, fs)
      }
      docs.withColumn("az", analyzeUdf(col(contentCol)))
        .withColumn("slots", col("az._1"))
        .withColumn("fields", col("az._2")
          .cast("array<struct<field:string,begin:int,end:int,number:bigint,ordinal:int,parentField:string,parentOrdinal:int>>"))
        .drop("az")
    }
  }

  /** The one analyze→postings pass every build runs: [[tokenize]] → the
    * optional annotator chain → one select that turns each document's
    * token slots into (doclen, per-term entries) and keeps its field
    * extents. Output: (docId, tp, fields) with tp = (doclen, [(term, tf,
    * positions)]); doclen counts every position including stopped/null
    * slots, positions are 0-based ascending.
    *
    * A document's postings depend ONLY on its own token slots, so the
    * (term → positions) aggregation runs per row in one tight pass — the
    * in-memory DocListMemoryBuilder exactly (reference:
    * src/MemoryIndex.cpp:538-651) — and moves NO data. One expression
    * ([[DocPostings]]) reads `slots` once and returns doclen with the
    * entries, so no projection reads the slot array twice and Catalyst
    * cannot inline the analyzer into two consumers. The slot array and
    * the content never leave the pass: callers persist its output, and
    * [[buildPostings]], [[buildDocLens]] and [[buildFieldExtents]] all
    * read from it.
    */
  def postingsPass(docs: DataFrame, cfg: IndexConfig,
                   annotate: DataFrame => DataFrame = null): DataFrame = {
    val tokenized = tokenize(docs, cfg)
    Option(annotate).fold(tokenized)(_(tokenized))
      .select(col("docId"),
        ColumnBridge.column(DocPostings(ColumnBridge.expression(col("slots")))).as("tp"),
        col("fields"))
  }

  /** Positional postings with denormalized doclen from a [[postingsPass]]:
    * (term, docId, tf, positions, doclen), one row per distinct term per
    * document.
    */
  def buildPostings(pass: DataFrame): DataFrame =
    pass.select(col("docId"), col("tp._1").as("doclen"), explode(col("tp._2")).as("p"))
      .select(col("p._1").as("term"), col("docId"),
        col("p._2").cast(IntegerType).as("tf"),
        col("p._3").as("positions"), col("doclen"))

  /** Per-term statistics (reference TermData semantics:
    * include/indri/TermData.hpp:35-66 — df, ctf, min/max doclen kept for
    * max-score pruning).
    */
  def buildDictionary(postings: DataFrame): DataFrame = {
    postings.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum(col("tf").cast(LongType)).as("ctf"),
      max(col("doclen")).as("maxDocLen"),
      min(col("doclen")).as("minDocLen")
    )
  }

  /** (docId, length) from a [[postingsPass]]; length counts ALL
    * positions including null slots (reference: src/MemoryIndex.cpp:647
    * words.size()).
    */
  def buildDocLens(pass: DataFrame): DataFrame =
    pass.select(col("docId"), col("tp._1").as("length"))

  /** Field-extent table (docId, field, begin, end, number, ordinal,
    * parentField, parentOrdinal) from a [[postingsPass]] — the extent
    * list analogue (reference fieldsFile, src/IndexWriter.cpp:412-508;
    * FieldExtent include/indri/FieldExtent.hpp:30-46). Extents come from
    * markup tags (tokenize) and/or injected annotator columns; a build
    * with neither gets an empty table of this schema.
    */
  def buildFieldExtents(pass: DataFrame): DataFrame =
    pass
      .where(col("fields").isNotNull && size(col("fields")) > 0)
      .select(col("docId"), explode(col("fields")).as("f"))
      .select(col("docId"), col("f.field").as("field"),
        col("f.begin").as("begin"), col("f.end").as("end"),
        col("f.number").as("number"), col("f.ordinal").as("ordinal"),
        col("f.parentField").as("parentField"),
        col("f.parentOrdinal").as("parentOrdinal"))

  def buildStats(doclens: DataFrame, dictionary: DataFrame): CorpusStats = {
    val r = doclens.agg(
      count(lit(1)).as("docs"),
      sum(col("length").cast(LongType)).as("terms")).head()
    CorpusStats(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      dictionary.count())
  }

  /** Rebuild the index WITHOUT the deleted documents — the reference's
    * merge/trim-time deleted-document skipping (reference:
    * src/IndexWriter.cpp:575-580; Repository trim/compaction). Postings,
    * doclens and field extents filter by anti-join; dictionary, stats,
    * segments (fresh bucket layout over the surviving doc range) and
    * topdocs regenerate. DocIds stay stable — the reference keeps ids
    * across trim, and dense re-assignment would invalidate stored
    * priors/metadata keyed by id.
    */
  def compactDeletes(index: InvertedIndex, deleted: DataFrame,
                     cfg: IndexConfig): InvertedIndex = {
    val del = deleted.select(col(deleted.columns.head).cast(LongType).as("docId"))
    val postings = index.postings.join(del, Seq("docId"), "left_anti")
    val doclens = index.doclens.join(del, Seq("docId"), "left_anti")
    val dictionary = buildDictionary(postings)
    val stats = buildStats(doclens, dictionary)
    val segments = buildSegments(postings, stats.totalDocs, cfg).toDF()
    val extents =
      if (index.fieldExtents == null) null
      else index.fieldExtents.join(del, Seq("docId"), "left_anti")
    val topdocs =
      if (index.topdocs == null) null else buildTopdocs(postings, cfg)
    InvertedIndex(postings, dictionary, doclens, stats, segments, extents,
      numBuckets = cfg.numBuckets, topdocs = topdocs)
  }

  /** Topdocs per term: df > topdocsMinDf → keep top fraction ranked by
    * tf/length (reference: src/IndexWriter.cpp:530-534,585-608).
    */
  def buildTopdocs(postings: DataFrame, cfg: IndexConfig): DataFrame = {
    val w = Window.partitionBy("term")
      .orderBy(col("frac").desc, col("docId").asc)
    postings
      .withColumn("frac", col("tf").cast(DoubleType) / col("doclen"))
      .withColumn("rk", row_number().over(w))
      .withColumn("dfw", count(lit(1)).over(Window.partitionBy("term")))
      .where(col("dfw") > cfg.topdocsMinDf &&
        col("rk") <= greatest(lit(1), ceil(col("dfw") * cfg.topdocsFraction)))
      .select(col("term"), col("docId"), col("tf"), col("doclen").as("length"))
  }

  /** The sort-merge core: shuffle postings by (term, docId-range bucket),
    * sort runs by (term, docId), block-compress.
    *
    * This is the Spark-native analogue of the reference's k-way
    * priority-queue merge in (term, docID) order
    * (reference: src/IndexWriter.cpp:810-879) — Spark's sort-based shuffle
    * IS that merge. The bucket in the shuffle key is the skew salt: a term
    * with df = 50% of the corpus spreads over `numBuckets` reducers, each
    * building disjoint docId-range blocks, instead of one reducer owning
    * the whole list (north-rule skew requirement).
    */
  def buildSegments(postings: DataFrame, totalDocs: Long, cfg: IndexConfig): Dataset[SegmentBlock] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val buckets = math.max(1, cfg.numBuckets)
    val span = math.max(1L, (totalDocs + buckets - 1) / buckets)
    val blockSize = cfg.blockSize
    val storePos = cfg.storePositions

    val withBucket = postings
      .withColumn("bucket", ((col("docId") - 1L) / span).cast(IntegerType))
      .select("term", "bucket", "docId", "tf", "positions", "doclen")
      .repartition(col("term"), col("bucket"))
      .sortWithinPartitions("term", "bucket", "docId")

    withBucket.mapPartitions { rows =>
      new Iterator[SegmentBlock] {
        private var curTerm: String = null
        private var curBucket: Int = -1
        private val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
        private val tfs = scala.collection.mutable.ArrayBuffer.empty[Long]
        private val dls = scala.collection.mutable.ArrayBuffer.empty[Long]
        private val poss = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
        private var pending: SegmentBlock = null
        private val it = rows.buffered

        private def flush(): SegmentBlock = {
          val n = docs.length
          val dArr = docs.toArray; val tArr = tfs.toArray; val lArr = dls.toArray
          val block = SegmentBlock(
            term = curTerm, bucket = curBucket,
            firstDoc = dArr(0), lastDoc = dArr(n - 1), numDocs = n,
            maxTf = tArr.max.toInt, minDl = lArr.min.toInt,
            docsDelta = BlockCodec.encodeDeltas(dArr),
            tfs = BlockCodec.encodePlain(tArr),
            dls = BlockCodec.encodePlain(lArr),
            positionsDelta = if (storePos) BlockCodec.encodePositions(poss.toArray) else Array.emptyByteArray
          )
          docs.clear(); tfs.clear(); dls.clear(); poss.clear()
          block
        }

        override def hasNext: Boolean = pending != null || it.hasNext || docs.nonEmpty

        override def next(): SegmentBlock = {
          if (pending != null) { val b = pending; pending = null; return b }
          while (it.hasNext) {
            val r = it.head
            val term = r.getString(0); val bucket = r.getInt(1)
            if (curTerm == null) { curTerm = term; curBucket = bucket }
            if (term != curTerm || bucket != curBucket || docs.length >= blockSize) {
              if (docs.nonEmpty) {
                val b = flush()
                curTerm = term; curBucket = bucket
                return b
              }
              curTerm = term; curBucket = bucket
            }
            it.next()
            docs += r.getLong(2)
            tfs += r.getInt(3).toLong
            dls += r.getInt(5).toLong
            if (storePos) {
              val ps = r.getSeq[Int](4)
              poss += ps.toArray
            }
          }
          if (docs.nonEmpty) flush()
          else throw new NoSuchElementException
        }
      }
    }
  }

  /** Decode segment blocks back to posting rows (term, docId, tf,
    * positions, doclen) — the inspection surface over a STORED
    * repository (dumpindex t/tp/dv, reference: dumpindex/dumpindex.cpp
    * print_term_positions / print_document_vector). The term filter
    * lands on the segments scan BEFORE the decode flatMap, so parquet
    * row groups of other terms never decompress; pass a block
    * predicate (e.g. firstDoc/lastDoc bounds) the same way via
    * `blockFilter`. Decode itself is map-side only — no shuffle.
    */
  def decodePostings(segments: DataFrame, terms: Seq[String] = Nil,
                     blockFilter: Column = lit(true)): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    val sel = (if (terms.isEmpty) segments
               else segments.where(col("term").isin(terms: _*)))
      .where(blockFilter)
      .select("term", "bucket", "firstDoc", "lastDoc", "numDocs", "maxTf",
        "minDl", "docsDelta", "tfs", "dls", "positionsDelta")
    sel.as[SegmentBlock].flatMap { b =>
      val (ds, tfs, dls, pos) = decodeBlock(b)
      ds.indices.map { i =>
        (b.term, ds(i), tfs(i),
          if (pos.nonEmpty) pos(i).toSeq else Seq.empty[Int], dls(i))
      }
    }.toDF("term", "docId", "tf", "positions", "doclen")
  }

  /** Decode a segment block back to (docId, tf, doclen, positions). */
  def decodeBlock(b: SegmentBlock): (Array[Long], Array[Int], Array[Int], Array[Array[Int]]) = {
    val docs = BlockCodec.decodeDeltas(b.docsDelta, b.numDocs)
    val tfs = BlockCodec.decodePlain(b.tfs, b.numDocs).map(_.toInt)
    val dls = BlockCodec.decodePlain(b.dls, b.numDocs).map(_.toInt)
    val pos = if (b.positionsDelta.nonEmpty) BlockCodec.decodePositions(b.positionsDelta, b.numDocs)
              else Array.empty[Array[Int]]
    (docs, tfs, dls, pos)
  }

  /** Full build from a corpus-shaped table (repo, path, commit, lang,
    * content). Adds content_sha256 (the per-row invariant column).
    */
  def buildFromCorpus(corpus: DataFrame, cfg: IndexConfig = IndexConfig()): InvertedIndex = {
    val withSha = corpus.withColumn("content_sha256", sha2(col("content"), 256))
    val (docs, idCache) = assignDocIdsScalableCached(withSha, Seq("repo", "path", "commit"))
    val idx = build(docs.select(col("docId"), col("content")), cfg)
    // force the pass persist (doclens reads it) so the assigned ids are
    // snapshotted, then release the range-partition cache — otherwise
    // every build pins its whole corpus for the session's lifetime
    idx.doclens.count()
    idCache.unpersist(false)
    idx
  }

  /** Full build from (docId, content): one [[postingsPass]] for every
    * config — fieldless, fielded or annotated — persisted as the only
    * per-document cache; postings, doclens, field extents, dictionary,
    * stats and segments all derive from it.
    *
    * @param annotate post-tokenize annotator chain (FieldAnnotators.*) —
    *                 the OffsetAnnotation/Numeric/Date annotator slot in
    *                 the reference transformation chain
    *                 (reference: src/Repository.cpp:137-177). null = none.
    */
  def build(docs: DataFrame, cfg: IndexConfig = IndexConfig(),
            annotate: DataFrame => DataFrame = null): InvertedIndex = {
    // serialized storage: the positions arrays triple in size as
    // deserialized JVM objects and evict each other at scale; SER keeps
    // the cache compact (CPU to re-decode is cheap next to re-analyzing)
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    val pass = postingsPass(docs, cfg, annotate).persist(ser)
    // postings feed dictionary, stats, and segments — persist instead of
    // re-exploding the pass per consumer
    val postings = buildPostings(pass).persist(ser)
    val dictionary = buildDictionary(postings)
    val doclens = buildDocLens(pass)
    val stats = buildStats(doclens, dictionary)
    val segments = buildSegments(postings, stats.totalDocs, cfg).toDF()
    // with no declared field and no annotator no row carries an extent:
    // limit(0) plans the empty table without a scan of the pass
    val extents = buildFieldExtents(pass)
    InvertedIndex(postings, dictionary, doclens, stats, segments,
      if (cfg.fields.isEmpty && annotate == null) extents.limit(0) else extents,
      numBuckets = cfg.numBuckets)
  }
}

/** A document's postings from its token slots: array<string> →
  * (doclen, [(term, tf, positions)]), terms in first-occurrence order,
  * positions 0-based ascending, null slots counted in doclen only. The
  * slots are read as the UTF-8 strings Catalyst holds, so no token is
  * decoded to a java.lang.String on the way in: a typed Seq[String] UDF
  * in its place made the build's analyze→postings pass ~18% slower
  * (4,000 synthesized docs, 4-core host).
  */
private[index] case class DocPostings(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("_1", IntegerType, nullable = false),
    StructField("_2", ArrayType(StructType(Seq(
      StructField("_1", StringType),
      StructField("_2", IntegerType, nullable = false),
      StructField("_3", ArrayType(IntegerType, containsNull = false))))))))

  override protected def nullSafeEval(input: Any): Any = {
    val slots = input.asInstanceOf[ArrayData]
    val n = slots.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, scala.collection.mutable.ArrayBuffer[Int]]
    var i = 0
    while (i < n) {
      if (!slots.isNullAt(i)) {
        val t = slots.getUTF8String(i)
        var ps = m.get(t)
        if (ps == null) {
          ps = new scala.collection.mutable.ArrayBuffer[Int](4)
          m.put(t.clone(), ps)
        }
        ps += i
      }
      i += 1
    }
    val entries = new Array[Any](m.size)
    var k = 0
    m.forEach { (t, ps) =>
      entries(k) = InternalRow(t, ps.length, new GenericArrayData(ps.toArray))
      k += 1
    }
    InternalRow(n, new GenericArrayData(entries))
  }

  override protected def withNewChildInternal(newChild: Expression): DocPostings =
    copy(child = newChild)
}

/** Injected field extents over an already-tokenized corpus — the
  * external-annotation path (reference: src/OffsetAnnotationAnnotator.cpp,
  * src/Repository.cpp:141-158). Each annotator appends rows to the
  * `fields` column produced by [[IndexBuilder.tokenize]].
  */
object FieldAnnotators {

  private def appendField(df: DataFrame, entry: Column,
                          cond: Column = lit(true)): DataFrame =
    df.withColumn("fields",
      when(!cond, col("fields"))
        .when(col("fields").isNull, array(entry))
        .otherwise(array_union(col("fields"), array(entry))))

  /** Append externally-supplied text (anchor text, URL terms, offset
    * annotations) to a document's token stream: the extra tokens take
    * positions AFTER the document's own and count toward doclen — the
    * AnchorText/URLText annotator semantics (reference:
    * src/AnchorTextAnnotator.cpp, src/Repository.cpp:141-142).
    */
  def appendText(textCol: String, analyzer: Analyzer)(df: DataFrame): DataFrame = {
    val az = analyzer
    val tok = udf { (t: String) => if (t == null) Array.empty[String] else az.analyze(t) }
    df.withColumn("slots", concat(col("slots"), tok(col(textCol))))
  }

  /** Positional field covering the first `n` token positions — a
    * document-structure field like title/header.
    */
  def headField(n: Int, name: String = "head")(df: DataFrame): DataFrame =
    appendField(df, struct(
      lit(name).as("field"),
      lit(0).as("begin"),
      least(lit(n), size(col("slots"))).cast("int").as("end"),
      lit(0L).as("number"),
      lit(1).as("ordinal"),
      lit(null).cast("string").as("parentField"),
      lit(0).as("parentOrdinal")))

  /** Positional field over the first `n` positions nested INSIDE a
    * parent field — gives the document-structure tree a child level
    * (title-inside-header style), the input the shrinkage rule strings
    * smooth over (reference: src/ShrinkageBeliefNode.cpp child walk).
    */
  def nestedHeadField(n: Int, parent: String = "head", parentOrd: Int = 1,
                      name: String = "lead", cond: Column = lit(true))(df: DataFrame): DataFrame =
    appendField(df, cond = cond, entry = struct(
      lit(name).as("field"),
      lit(0).as("begin"),
      least(lit(n), size(col("slots"))).cast("int").as("end"),
      lit(0L).as("number"),
      lit(1).as("ordinal"),
      lit(parent).cast("string").as("parentField"),
      lit(parentOrd).as("parentOrdinal")))

  /** Whole-document numeric field whose payload comes from a column —
    * the NumericFieldAnnotator analogue over tabular metadata.
    */
  def numericField(name: String, valueCol: String)(df: DataFrame): DataFrame =
    appendField(df, struct(
      lit(name).as("field"),
      lit(0).as("begin"),
      size(col("slots")).cast("int").as("end"),
      col(valueCol).cast(LongType).as("number"),
      lit(1).as("ordinal"),
      lit(null).cast("string").as("parentField"),
      lit(0).as("parentOrdinal")))

  /** Whole-document date field: date string column → days since 1600
    * via the reference format table (DateFieldAnnotator analogue).
    */
  private val dateNumberUdf =
    udf((s: String) => if (s == null) 0L else DateParse.parseFieldDate(s))

  def dateField(name: String, valueCol: String)(df: DataFrame): DataFrame =
    appendField(df, struct(
      lit(name).as("field"),
      lit(0).as("begin"),
      size(col("slots")).cast("int").as("end"),
      dateNumberUdf(col(valueCol)).cast(LongType).as("number"),
      lit(1).as("ordinal"),
      lit(null).cast("string").as("parentField"),
      lit(0).as("parentOrdinal")))
}
