package graft.search

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.index.{BlockCodec, InvertedIndex}

/** Document-at-a-time top-k with WAND pruning and block-max refinement
  * over the compressed segment table — the custom physical core that
  * Catalyst has no operator for
  * (reference max-score machinery: src/WeightedAndNode.cpp:32-215,
  * skip-batch seeks src/DiskDocListIterator.cpp:196-271, threshold
  * tightening include/indri/ScoredExtentAccumulator.hpp:40-100;
  * block-max columns per Ding & Suel BMW).
  *
  * Distribution model: each segment block belongs to one docId-range
  * bucket, fixed at build time, and each index keeps the blocks resident
  * ([[InvertedIndex.blockMaps]]): P = min(numBuckets, defaultParallelism)
  * persisted partitions, bucket b in partition b mod P, each a map from
  * term to that term's blocks and their stats partial ([[TermSlice]]).
  * A query is two jobs over those maps ([[onBuckets]]), one task per
  * partition: the stats job ([[stats]]) sums the term partials and
  * counts the windows, then the kernel job runs, in each task, an
  * independent DAAT over its whole buckets' docId ranges and returns a
  * local top-k, and the driver merges the (P × k) candidates into the
  * global top-k ([[mergeTopK]]) and returns it as a local relation.
  * Extent-restricted queries run the same job, with the restriction
  * field's extents resident beside the blocks
  * ([[InvertedIndex.extentMaps]]). This is Indri's multi-server
  * evaluate-then-merge shape (reference: src/QueryEnvironment.cpp:242-316)
  * with partitions as servers that hold their index open; no query
  * builds a DataFrame plan.
  *
  * Scope: one plan shape, [[StructuredPlan]] — a #combine/#weight tree
  * (non-negative weights) whose leaves are terms or #odN/#uwN windows of
  * plain terms. A flat bag is the one-level case; SDM/FDM are the
  * nested ones, exactly like the reference runs both through one
  * WeightedAndNode.
  *  - baseline okapi/tfidf: score = Σ w·s(tf, dl) over the fold tree,
  *  - LM (dirichlet / jm / two-stage): an absent leaf contributes its
  *    background bg(dl) = s(0, dl) instead of 0, so the WAND algebra
  *    runs on score = B(dl) + Σ effW·δ(tf, dl) with δ = s − bg ≥ 0
  *    monotone in tf and non-increasing in dl; the pivot bound is
  *    baseMax + Σ δ-upper-bounds where baseMax bounds every candidate's
  *    background sum,
  *  - windows run INSIDE the kernel on per-posting position lists
  *    decoded from the segment blocks, exactly like the reference
  *    evaluates proximity operators document-at-a-time
  *    (reference: src/OrderedWindowNode.cpp:111-166,
  *    src/UnorderedWindowNode.cpp:69-186) with term-bound max-score
  *    (window block bound ≤ Σ constituent term block maxTf,
  *    reference: src/TermFrequencyBeliefNode.cpp:105-135). Only window
  *    leaves decode position lists.
  *
  * Exact scores always fold children in query order with the real
  * bg(dl) — bit-identical to the DataFrame path (WandPropertySpec).
  */
object Daat {

  /** #odN / #uwN window of plain terms (in query order). A member that
    * stopped/never occurs keeps its slot (cursor exhausts immediately →
    * the window never matches, scored as background — NullScorer-through-
    * window semantics identical to the DataFrame path).
    */
  final case class WindowSpec(terms: Array[String], ordered: Boolean, width: Int) {
    override def equals(o: Any): Boolean = o match {
      case w: WindowSpec =>
        ordered == w.ordered && width == w.width && terms.sameElements(w.terms)
      case _ => false
    }
    override def hashCode: Int =
      (terms.toSeq, ordered, width).hashCode
  }

  /** One scored leaf of a structured query: a unigram term (window ==
    * null) or a window expression. effWeight = Σ over fold-tree paths of
    * the weight products reaching this leaf (for WAND bounds only; exact
    * scoring uses the fold tree).
    */
  final case class LeafPlan(
      term: String,                 // unigram term; windows: diagnostic label
      window: WindowSpec,           // null for unigrams
      scoreFn: TermScoreFunction,
      effWeight: Double,
      upperBound: Double) {
    /** leaf score at (tf, dl): terms ride the frequency-list 2-arg score
      * form, windows the ListBeliefNode 4-arg form with
      * documentOccurrences == occurrences (reference:
      * src/TermFrequencyBeliefNode.cpp vs src/ListBeliefNode.cpp:119-127)
      * — identical for every rule except two-stage/documentMu smoothing,
      * whose document components differ on purpose.
      */
    def scoreAt(tf: Double, dl: Int): Double =
      if (window == null) scoreFn.scoreOccurrence(tf, dl)
      else scoreFn.scoreOccurrence(tf, dl, tf, dl)
  }

  /** A leaf with its global WAND bound. Baseline: sup over tf of
    * effW·s (s = A·tf/(tf+c) is monotone in tf; cheap safe bound
    * effW·max(s(HUGE_TF, 1), 0)). LM: the δ bound effW·δ(occ, minDl) —
    * δ is monotone in tf and non-increasing in dl for dirichlet
    * (δ = ln(1 + tf/(μ·cf)), dl-free), JM and two-stage, and the leaf's
    * tf never exceeds its collection count `occ` nor its dl fall below
    * `minDl`.
    */
  def boundedLeaf(term: String, window: WindowSpec, fn: TermScoreFunction,
                  effWeight: Double, lm: Boolean, occ: Double, minDl: Int): LeafPlan = {
    val l = LeafPlan(term, window, fn, effWeight, 0.0)
    l.copy(upperBound =
      if (lm) effWeight * math.max(l.scoreAt(occ, minDl) - l.scoreAt(0.0, minDl), 0.0)
      else math.max(effWeight * l.scoreAt(1e18, 1), 0.0))
  }

  /** The belief-combination tree: mirrors nested
    * #combine/#weight OpSum folds bit-exactly (weights in query order,
    * inner sums completed before the outer fold — Engine.combineBeliefs).
    */
  sealed trait FoldTree extends Serializable
  final case class FLeaf(leaf: Int) extends FoldTree
  final case class FNode(children: Array[(Double, FoldTree)]) extends FoldTree

  /** Structured kernel plan. `baseMax` (LM only) = the fold tree
    * evaluated with every leaf at bg(minDlQuery) — the exact supremum of
    * any candidate's background sum (bg non-increasing in dl, weights
    * ≥ 0, and every candidate matches ≥1 leaf so dl ≥ minDlQuery).
    */
  final case class StructuredPlan(leaves: Array[LeafPlan], tree: FoldTree,
                                  lm: Boolean, baseMax: Double)

  /** Distributed block-max WAND over a structured plan. Returns the
    * (docId, score) top-k computed at call time, as a local relation
    * ([[docsResult]]): one job over the resident block maps, where each
    * partition runs one [[Cursor]] per unigram leaf and one
    * [[WindowCursor]] (over member term cursors sharing the partition's
    * decoded blocks) per window leaf, and the driver merges the
    * partition-local top-k lists ([[mergeTopK]]).
    *
    * @param exhaustive disable pruning (used by the safety property test:
    *                   pruned == exhaustive, FIXTURES.md §5)
    * @param seedTheta  global lower bound of the k-th best score (topdocs
    *                   seeding, see [[wand]])
    */
  def topK(index: InvertedIndex, p: StructuredPlan, k: Int,
           exhaustive: Boolean = false,
           seedTheta: Double = Double.NegativeInfinity,
           deleted: Set[Long] = Set.empty): DataFrame = {
    val spark = index.segments.sparkSession
    // k ≤ 0 must mirror the DataFrame path's limit(k) → empty result
    if (k <= 0) return docsResult(spark, Nil)
    val terms = p.leaves.toSeq.flatMap(l => if (l.window == null) Seq(l.term) else l.window.terms.toSeq)
    val locals = onBuckets(index, terms) { (byTerm, _) =>
      val cursors: Array[DaatCursor] = p.leaves.map(leafCursor(_, byTerm, p.lm))
      wand(cursors, p, k, exhaustive, seedTheta, deleted)
    }
    docsResult(spark, mergeTopK(locals, k).toSeq)
  }

  /** The (docId, score) kernel result schema: `toDF`'s for (Long, Double) */
  private val docsSchema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** The (docId, begin, end, score) kernel result schema: `toDF`'s for
    * (Long, Int, Int, Double)
    */
  private val extentsSchema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("begin", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** A (docId, score) result as a local relation built from Rows: no
    * encoder, and collecting it runs no job.
    */
  def docsResult(spark: SparkSession, rows: Seq[(Long, Double)]): DataFrame =
    spark.createDataFrame(rows.map { case (d, s) => Row(d, s) }.asJava, docsSchema)

  /** A (docId, begin, end, score) result as a local relation, like [[docsResult]] */
  def extentsResult(spark: SparkSession, rows: Seq[(Long, Int, Int, Double)]): DataFrame =
    spark.createDataFrame(rows.map { case (d, b, e, s) => Row(d, b, e, s) }.asJava, extentsSchema)

  /** The stats round of a query batch: ONE job over the resident block
    * maps for every term and every window of the batch (the reference
    * gathers every ContextCount request in one server round,
    * src/QueryEnvironment.cpp:957-966). No job runs when there is
    * neither.
    *  - Term stats: each partition's build-time [[TermSlice.partial]],
    *    summed on the driver — exactly the dictionary's (ctf, df,
    *    minDocLen), since both come from the same postings, and blind to
    *    deletes like the dictionary; no block is decoded, and a term no
    *    block holds is absent (reference:
    *    src/ContextSimpleCountAccumulator.cpp).
    *  - Window counts, per distinct window: ONE pass over the member
    *    terms' blocks per bucket, where the member cursors leapfrog
    *    their conjunction and [[WindowMatcher]] counts matches per live
    *    (not deleted) doc — (occ, df), exact integer partials summed on
    *    the driver (docId ranges are disjoint). Bit-count-identical to
    *    the DataFrame windowRaw aggregation (same positions, same
    *    matcher; reference: src/ContextCountAccumulator.cpp).
    */
  def stats(index: InvertedIndex, terms: Seq[String], windows: Seq[WindowSpec],
            deleted: Set[Long]): (Map[String, TermStats], Map[WindowSpec, (Double, Long)]) = {
    val ts = terms.distinct.toArray
    val ws = windows.distinct.toArray
    if (ts.isEmpty && ws.isEmpty) return (Map.empty, Map.empty)
    val partials = onBuckets(index, ts ++ ws.flatMap(_.terms)) { (byTerm, _) =>
      (ts.flatMap(t => byTerm.get(t).map(t -> _.partial)), ws.map { w =>
        val cur = leafCursor(LeafPlan("", w, null, 0.0, 0.0), byTerm, lm = false)
        var occ = 0L; var df = 0L
        while (!cur.exhausted) {
          if (!deleted.contains(cur.doc)) {
            val c = cur.tf
            if (c > 0) { occ += c; df += 1 }
          }
          cur.next()
        }
        (occ, df)
      })
    }
    val termStats = partials.toSeq.flatMap(_._1).groupMapReduce(_._1)(_._2) { (a, b) =>
      TermStats(a.ctf + b.ctf, a.df + b.df, math.min(a.minDl, b.minDl))
    }
    val counts = ws.indices.map { wi =>
      ws(wi) -> (partials.map(_._2(wi)._1).sum.toDouble, partials.map(_._2(wi)._2).sum)
    }.toMap
    (termStats, counts)
  }

  /** The one kernel scaffold: a single job over the resident block maps
    * ([[InvertedIndex.blockMaps]]), one task per partition — whole
    * buckets b ≡ p (mod P), P = min(numBuckets, defaultParallelism), so
    * no task is empty and each carries an equal docId span. Each task
    * wraps the slices of `terms` only in fresh [[TermBlocks]], so decode
    * caches live for one query in one task, and returns `task`'s result
    * for its buckets. What `task` reads of the plan and the delete set
    * rides in its closure, which Spark ships once per job as the task
    * binary: a broadcast of each per job cost `serve` ~4 ms of p50 under
    * concurrent clients (bench/r14_one_stats_job.txt). With a
    * `field`, the job zips the block maps with the co-partitioned
    * resident extents ([[InvertedIndex.extentMaps]]) and hands each task
    * its buckets' extents of that field; without one it reads the block
    * maps alone and the task gets null.
    */
  private def onBuckets[T: ClassTag](index: InvertedIndex, terms: Seq[String],
                                     field: String = null)(
      task: (Map[String, TermBlocks], Extents) => T): Array[T] = {
    val sc = index.segments.sparkSession.sparkContext
    val wanted = terms.distinct.toArray
    def run(maps: Iterator[Map[String, TermSlice]], extents: Extents): T = {
      val resident = if (maps.hasNext) maps.next() else Map.empty[String, TermSlice]
      val byTerm = wanted.iterator.flatMap(t => resident.get(t).map(t -> new TermBlocks(_))).toMap
      task(byTerm, extents)
    }
    if (field == null)
      sc.runJob(index.blockMaps, (maps: Iterator[Map[String, TermSlice]]) => run(maps, null))
    else
      sc.runJob(index.blockMaps.zipPartitions(index.extentMaps) { (maps, fields) =>
        val byField = if (fields.hasNext) fields.next() else Map.empty[String, Extents]
        Iterator(run(maps, byField.getOrElse(field, Map.empty)))
      }, (it: Iterator[T]) => it.next())
  }

  /** The driver's global merge of partition-local top-k lists: the k best
    * rows under the row type's [[Ranked]] order, so the result is exactly
    * `orderBy(score.desc, key.asc…).limit(k)` over the same rows
    * (reference: the client-side merge of src/QueryEnvironment.cpp:242-316).
    */
  private[graft] def mergeTopK[R: ClassTag](locals: Iterable[Seq[R]], k: Int)(
      implicit order: Ranked[R]): Array[R] =
    locals.iterator.flatten.toArray.sorted(order).take(k)

  /** The result order of a kernel row type: score desc under Spark's
    * double ordering (SQLOrderingUtil.compareDoubles: NaN largest,
    * -0.0 == 0.0), then the row's key fields asc.
    */
  abstract class Ranked[R] extends Ordering[R] {
    def score(r: R): Double
    protected def key(a: R, b: R): Int
    final def compare(a: R, b: R): Int = {
      val c = SQLOrderingUtil.compareDoubles(score(b), score(a))
      if (c != 0) c else key(a, b)
    }
  }
  object Ranked {
    /** (docId, score) */
    implicit val docs: Ranked[(Long, Double)] = new Ranked[(Long, Double)] {
      def score(r: (Long, Double)): Double = r._2
      protected def key(a: (Long, Double), b: (Long, Double)): Int = java.lang.Long.compare(a._1, b._1)
    }
    /** (docId, begin, end, score) */
    implicit val extents: Ranked[(Long, Int, Int, Double)] = new Ranked[(Long, Int, Int, Double)] {
      def score(r: (Long, Int, Int, Double)): Double = r._4
      protected def key(a: (Long, Int, Int, Double), b: (Long, Int, Int, Double)): Int = {
        val d = java.lang.Long.compare(a._1, b._1)
        if (d != 0) d
        else {
          val e = Integer.compare(a._2, b._2)
          if (e != 0) e else Integer.compare(a._3, b._3)
        }
      }
    }
  }

  /** Build the resident block maps for [[InvertedIndex.blockMaps]]: one
    * keyed exchange on `bucket` into P = min(numBuckets,
    * defaultParallelism) partitions (P = defaultParallelism when
    * numBuckets is 0, unknown), bucket b in partition b mod P, then one
    * grouping per partition into term → blocks sorted by firstDoc. Each
    * partition holds whole buckets — every block of a doc, for every
    * term, in one partition — and equal docId spans, whatever way the
    * segment scan packed or split the files (size-packed or
    * row-group-split Parquet files, an in-memory index). Behind
    * the exchange, a kernel job's task binary does not carry the segment
    * scan's lineage. The grouping also computes each term's stats
    * partial ([[TermSlice.of]]), once per index.
    */
  private[graft] def residentBlocks(index: InvertedIndex): RDD[Map[String, TermSlice]] = {
    val cores = index.segments.sparkSession.sparkContext.defaultParallelism
    val parts = if (index.numBuckets > 0) math.min(index.numBuckets, cores) else cores
    index.segments.select(blockCols.map(col): _*).rdd
      .map(r => r.getInt(1) -> (r.getString(0), Block(
        r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5), r.getInt(6),
        r.getAs[Array[Byte]](7), r.getAs[Array[Byte]](8), r.getAs[Array[Byte]](9),
        r.getAs[Array[Byte]](10))))
      // an Int key hashes to itself: HashPartitioner places bucket b in b mod P
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions { rows =>
        val buf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Block]]
        rows.foreach { case (_, (t, b)) =>
          buf.getOrElseUpdate(t, mutable.ArrayBuffer.empty[Block]) += b
        }
        Iterator(buf.iterator.map { case (t, bs) => t -> TermSlice.of(bs.toArray) }.toMap)
      }.setName("resident block maps")
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** One partition's extents of one field: docId → (begins, ends),
    * sorted by (begin, end) like the DataFrame path's
    * sort_array(struct(begin, end)).
    */
  type Extents = Map[Long, (Array[Int], Array[Int])]

  /** Build the resident field extents for [[InvertedIndex.extentMaps]]:
    * field → [[Extents]] in the partitions of [[InvertedIndex.blockMaps]],
    * each doc's extents in the partition that holds its blocks. The
    * placement comes from the blocks' [firstDoc, lastDoc] ranges, read
    * once in one job over the block maps — never from how the maps were
    * partitioned — so it holds for a stored segment scan, an
    * AQE-coalesced repartition and Federation's rebased buckets alike.
    * A doc in no block range has no posting, is never a candidate, and
    * its extents drop.
    */
  private[graft] def residentExtents(index: InvertedIndex): RDD[Map[String, Extents]] = {
    require(index.fieldExtents != null,
      "no field extents indexed — declare IndexConfig.fields or add a FieldAnnotator")
    val maps = index.blockMaps
    // (lo, hi, partition) docId runs sorted by lo: block ranges that
    // overlap or touch merge within a partition, then neighbouring runs
    // of one partition merge across the index (buckets are disjoint
    // docId ranges, so no other partition's doc lies between them)
    def merge(runs: Seq[(Long, Long, Int)], acrossGaps: Boolean): List[(Long, Long, Int)] =
      runs.sortBy(_._1).foldLeft(List.empty[(Long, Long, Int)]) {
        case ((lo0, hi0, p0) :: rest, (lo, hi, p)) if p == p0 && (acrossGaps || lo <= hi0 + 1) =>
          (lo0, math.max(hi0, hi), p) :: rest
        case (acc, r) => r :: acc
      }.reverse
    val runs = merge(maps.mapPartitionsWithIndex { (p, it) =>
      merge(it.flatMap(_.valuesIterator.flatMap(_.blocks)).map(b => (b.firstDoc, b.lastDoc, p)).toSeq,
        acrossGaps = false).iterator
    }.collect().toSeq, acrossGaps = true).toArray
    val bcRuns = maps.sparkContext.broadcast((runs.map(_._1), runs))
    index.fieldExtents
      .select(col("field"), col("docId").cast("long"), col("begin").cast("int"),
        col("end").cast("int"))
      .rdd.flatMap { r =>
        val d = r.getLong(1)
        val (los, rs) = bcRuns.value
        // the last run starting at or before d
        val i = java.util.Arrays.binarySearch(los, d)
        val j = if (i >= 0) i else -i - 2
        if (j >= 0 && d <= rs(j)._2) Some((rs(j)._3, (r.getString(0), d, r.getInt(2), r.getInt(3))))
        else None
      }
      // the keys are partition ids in [0, n), which HashPartitioner keeps
      .partitionBy(new HashPartitioner(maps.getNumPartitions))
      .mapPartitions(rows => Iterator(rows.map(_._2).toSeq.groupBy(_._1).map { case (f, xs) =>
        f -> xs.groupBy(_._2).map { case (d, ys) =>
          val sorted = ys.map(y => (y._3, y._4)).sorted.toArray
          d -> (sorted.map(_._1), sorted.map(_._2))
        }
      }), preservesPartitioning = true)
      .setName("resident field extents")
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** an unscored term leaf: window members and stats/extent cursors */
  private def memberLeaf(t: String) = LeafPlan(t, null, null, 0.0, 0.0)

  // ---------------------------------------------------------------
  // extent-restricted / passage kernel
  // ---------------------------------------------------------------

  /** Plan for extent-restricted retrieval (`#combine[f]`, `#weight[f]`,
    * `#combine[passageW:I]`, … over flat plain-term bags — the
    * runExtentQuery shape). Arrays are in child (query) order and the
    * per-extent arithmetic mirrors Engine.scoreExtentContexts' UDF
    * bit-exactly: tf = greedy containment count inside [b, e),
    * contextSize = e − b, children fold w·score in child order into
    * their group, groups fold per `op`
    * (reference: ExtentRestrictionNode/FixedPassageNode,
    * src/InferenceNetworkBuilder.cpp:152-185; ListBeliefNode scores with
    * the extent as context, src/ListBeliefNode.cpp:119-127).
    *
    * @param childTerm processed term per child; null = OOV/stopped
    *                  (scores the background fill-in, never matches)
    */
  final case class ExtentPlan(
      childTerm: Array[String],
      fns: Array[TermScoreFunction],
      wChild: Array[Double],
      groupOf: Array[Int],
      nGroups: Int,
      op: String,
      gw: Array[Double])

  /** Extent-restricted top-k through the DAAT kernel: candidate docs =
    * the union of the query terms' posting lists (the WeightedAnd
    * union), every extent of a candidate is scored in-task from the
    * resident blocks' decoded positions, and only partition-local top-k
    * extents reach the driver merge ([[mergeTopK]]) — no per-position
    * shuffle, no global extent sort. One [[onBuckets]] job, like
    * [[topK]]; the result is computed at call time and returned as a
    * local relation ([[extentsResult]]).
    *
    *  - passages (`field == null`): contexts are pure per-doc arithmetic
    *    on doclen, which the blocks carry;
    *  - field extents: the restriction field's extents are resident
    *    beside the blocks ([[InvertedIndex.extentMaps]], built by the
    *    first field query on the index) and reach each task with its
    *    buckets.
    *
    * Pruning is deliberately exhaustive over candidates: the DataFrame
    * path scores every extent of every candidate too (LM background
    * scores make zero-match extents real results), and extent contexts
    * invalidate the dl-monotone block bounds the WAND algebra needs.
    *
    * @param passage (width, increment) of fixed passages; None = field
    * @param field   the restriction field; null for passages
    */
  def topKExtents(index: InvertedIndex, p: ExtentPlan,
                  passage: Option[(Int, Int)], field: String,
                  k: Int, deleted: Set[Long] = Set.empty): DataFrame = {
    val terms = p.childTerm.filter(_ != null).distinct.toSeq
    val locals =
      if (terms.isEmpty || k <= 0) Array.empty[Seq[(Long, Int, Int, Double)]]
      else onBuckets(index, terms, field) { (byTerm, extents) =>
        extentLocal(p, byTerm, extents, passage, k, deleted)
      }
    extentsResult(index.segments.sparkSession, mergeTopK(locals, k).toSeq)
  }

  /** One bucket task's extent scoring: union-merge the term cursors over
    * docIds; per candidate, enumerate the doc's extents (field map or
    * sliding-passage arithmetic over doclen) and offer each scored
    * extent to the local heap. Passage begins replicate the DataFrame
    * path's sequence(0, max(dl−1, 0), inc); ends clamp to dl.
    */
  private def extentLocal(p: ExtentPlan, byTerm: Map[String, TermBlocks],
                          extents: Extents,
                          passage: Option[(Int, Int)],
                          k: Int, deleted: Set[Long]): Seq[(Long, Int, Int, Double)] = {
    val distinct = p.childTerm.filter(_ != null).distinct
    val cursors = distinct.map(t =>
      new Cursor(byTerm.getOrElse(t, TermBlocks.empty), memberLeaf(t), lm = false))
    val childrenOf: Array[Array[Int]] = distinct.map(t =>
      p.childTerm.indices.filter(ci => t == p.childTerm(ci)).toArray)
    val n = p.childTerm.length
    val heap = new TopKHeap[(Long, Int, Int, Double)](k)
    val tfPos = new Array[Array[Int]](n)
    val groupScore = new Array[Double](p.nGroups)
    var done = cursors.isEmpty
    while (!done) {
      var d = Long.MaxValue
      var i = 0
      while (i < cursors.length) {
        val c = cursors(i)
        if (!c.exhausted && c.doc < d) d = c.doc
        i += 1
      }
      if (d == Long.MaxValue) done = true
      else {
        if (!deleted.contains(d)) {
          java.util.Arrays.fill(tfPos.asInstanceOf[Array[AnyRef]], null)
          var dl = 1
          i = 0
          while (i < cursors.length) {
            val c = cursors(i)
            if (!c.exhausted && c.doc == d) {
              dl = c.dl
              val ps = c.positions
              val cs = childrenOf(i)
              var j = 0
              while (j < cs.length) { tfPos(cs(j)) = ps; j += 1 }
            }
            i += 1
          }
          passage match {
            case Some((width, inc)) =>
              val last = math.max(dl - 1, 0)
              var b = 0
              var go = true
              while (go) {
                scoreExtent(p, tfPos, groupScore, d, b, math.min(b + width, dl), heap)
                b += inc
                if (b > last) go = false
              }
            case None =>
              extents.get(d).foreach { case (bs, es) =>
                var j = 0
                while (j < bs.length) {
                  scoreExtent(p, tfPos, groupScore, d, bs(j), es(j), heap)
                  j += 1
                }
              }
          }
        }
        i = 0
        while (i < cursors.length) {
          val c = cursors(i)
          if (!c.exhausted && c.doc == d) c.next()
          i += 1
        }
      }
    }
    heap.results
  }

  /** Score one extent [b, e) — the bit-exact mirror of the
    * scoreExtentContexts UDF: greedy non-overlap containment count
    * (len = 1 plain terms), 2-arg score at contextSize = e − b, children
    * fold in child order, groups fold per op.
    */
  private def scoreExtent(p: ExtentPlan, tfPos: Array[Array[Int]],
                          groupScore: Array[Double], d: Long, b: Int, e: Int,
                          heap: TopKHeap[(Long, Int, Int, Double)]): Unit = {
    val ctx = e - b
    java.util.Arrays.fill(groupScore, 0.0)
    var child = 0
    while (child < p.fns.length) {
      val ps = tfPos(child)
      var tf = 0
      if (ps != null) {
        var lastEnd = 0
        var j = 0
        while (j < ps.length) {
          val pp = ps(j)
          if (pp >= b && pp + 1 <= e && pp >= lastEnd) { tf += 1; lastEnd = pp + 1 }
          j += 1
        }
      }
      val sc = p.fns(child).scoreOccurrence(tf.toDouble, ctx)
      groupScore(p.groupOf(child)) += p.wChild(child) * sc
      child += 1
    }
    val nG = p.nGroups
    val acc = p.op match {
      case "or" | "combine" if nG == 1 => groupScore(0)
      case "or" =>
        var notAny = 1.0; var g = 0
        while (g < nG) { notAny *= (1.0 - math.exp(groupScore(g))); g += 1 }
        math.log(1.0 - notAny)
      case "max" =>
        var m = Double.NegativeInfinity; var g = 0
        while (g < nG) { if (groupScore(g) > m) m = groupScore(g); g += 1 }
        m
      case "wsum" =>
        var s = 0.0; var g = 0
        while (g < nG) { s += p.gw(g) * math.exp(groupScore(g)); g += 1 }
        math.log(s)
      case "not" => math.log1p(-math.exp(groupScore(0)))
      case _ =>
        if (nG == 1) groupScore(0)
        else {
          var s = 0.0; var g = 0
          while (g < nG) { s += groupScore(g) / nG; g += 1 }
          s
        }
    }
    heap.offer((d, b, e, acc))
  }

  /** the block columns of a segment row, in [[residentBlocks]]' order */
  private val blockCols = Seq("term", "bucket", "firstDoc", "lastDoc", "numDocs",
    "maxTf", "minDl", "docsDelta", "tfs", "dls", "positionsDelta")

  /** One leaf cursor over the bucket's shared blocks. */
  private def leafCursor(l: LeafPlan, byTerm: Map[String, TermBlocks],
                         lm: Boolean): DaatCursor =
    if (l.window == null) new Cursor(byTerm.getOrElse(l.term, TermBlocks.empty), l, lm)
    else
      new WindowCursor(l.window.terms.map(t =>
        new Cursor(byTerm.getOrElse(t, TermBlocks.empty), memberLeaf(t), lm = false)), l, lm)

  final case class Block(firstDoc: Long, lastDoc: Long, numDocs: Int,
                         maxTf: Int, minDl: Int,
                         docsDelta: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
                         pos: Array[Byte] = Array.emptyByteArray)

  /** One term's part of a block-map partition: its blocks sorted by
    * firstDoc, and their stats partial — ctf = Σ decoded tfs, df = Σ
    * numDocs, minDl = min block minDl. The partials of all partitions
    * sum to the dictionary's (ctf, df, minDocLen) ([[stats]]).
    */
  final case class TermSlice(blocks: Array[Block], partial: TermStats)
  object TermSlice {
    /** the slice of `blocks`, its partial computed here, once per
      * resident build, so no query decodes a block for its stats
      */
    def of(blocks: Array[Block]): TermSlice = {
      val sorted = blocks.sortBy(_.firstDoc)
      TermSlice(sorted, TermStats(
        ctf = sorted.iterator.map(b => BlockCodec.decodePlain(b.tfs, b.numDocs).sum).sum,
        df = sorted.iterator.map(_.numDocs.toLong).sum,
        minDl = sorted.iterator.map(_.minDl).foldLeft(Int.MaxValue)(math.min)))
    }
  }

  /** A term's slice in one partition plus a shared memoized decode
    * cache: several cursors over the same term (unigram leaf + window
    * members) decode each block's payload once per partition.
    */
  final class TermBlocks(slice: TermSlice) {
    val blocks: Array[Block] = slice.blocks
    def partial: TermStats = slice.partial
    private val docsC = new Array[Array[Long]](blocks.length)
    private val tfsC = new Array[Array[Int]](blocks.length)
    private val dlsC = new Array[Array[Int]](blocks.length)
    private val possC = new Array[Array[Array[Int]]](blocks.length)
    def docs(i: Int): Array[Long] = {
      if (docsC(i) == null) {
        val b = blocks(i)
        docsC(i) = BlockCodec.decodeDeltas(b.docsDelta, b.numDocs)
        tfsC(i) = BlockCodec.decodePlain(b.tfs, b.numDocs).map(_.toInt)
        dlsC(i) = BlockCodec.decodePlain(b.dls, b.numDocs).map(_.toInt)
      }
      docsC(i)
    }
    def tfs(i: Int): Array[Int] = { docs(i); tfsC(i) }
    def dls(i: Int): Array[Int] = { docs(i); dlsC(i) }
    def positions(i: Int): Array[Array[Int]] = {
      if (possC(i) == null) {
        val b = blocks(i)
        require(b.pos.nonEmpty || b.numDocs == 0,
          "positions not stored — rebuild the index with storePositions=true")
        possC(i) = BlockCodec.decodePositions(b.pos, b.numDocs)
      }
      possC(i)
    }
  }
  object TermBlocks {
    val empty = new TermBlocks(TermSlice.of(Array.empty[Block]))
  }

  /** Common cursor surface the WAND loop drives — implemented by the
    * posting-list [[Cursor]] and the proximity [[WindowCursor]].
    */
  trait DaatCursor {
    def leaf: LeafPlan
    /** LM mode: bounds cover the δ above background — the background sum
      * is already covered by the plan-level baseMax
      */
    def lm: Boolean
    def upperBound: Double = leaf.upperBound
    def exhausted: Boolean
    def doc: Long
    def tf: Int
    def dl: Int
    /** max contribution of the CURRENT block (block-max bound) */
    def blockBound: Double
    def blockLast: Long
    def next(): Unit
    def advanceTo(target: Long): Unit
    def scoreAt(tf: Double, dl: Int): Double = leaf.scoreAt(tf, dl)
    /** bound of the leaf's contribution at a (max tf, min dl) corner —
      * scores are monotone ↑ tf, ↓ dl for all supported rules
      */
    protected def cornerBound(tf: Double, dl: Int): Double = {
      val s = scoreAt(tf, dl)
      math.max(leaf.effWeight * (if (lm) s - scoreAt(0.0, dl) else s), 0.0)
    }
  }

  /** Lazy-decoding posting cursor with block skipping: `advanceTo` hops
    * whole blocks via (firstDoc, lastDoc) without decoding — the skip
    * record analogue (reference: src/DiskDocListIterator.cpp:196-210).
    */
  final class Cursor(tb: TermBlocks, val leaf: LeafPlan, val lm: Boolean) extends DaatCursor {
    def this(blocks: Array[Block], leaf: LeafPlan, lm: Boolean) =
      this(new TermBlocks(TermSlice.of(blocks)), leaf, lm)
    private def blocks: Array[Block] = tb.blocks
    private var bi = 0
    private var pos = 0
    private var docs: Array[Long] = null
    private var tfs: Array[Int] = null
    private var dls: Array[Int] = null
    var decodedBlocks = 0 // instrumentation for pruning tests

    private def ensureDecoded(): Unit = {
      if (docs == null && bi < blocks.length) {
        docs = tb.docs(bi)
        tfs = tb.tfs(bi)
        dls = tb.dls(bi)
        decodedBlocks += 1
      }
    }
    def exhausted: Boolean = bi >= blocks.length
    /** current docId WITHOUT decoding at block boundaries: an undecoded
      * block's cursor sits at pos 0, whose docId is the skip-record
      * firstDoc (reference: src/DiskDocListIterator.cpp skip batches
      * carry the first document) — so bound-rejected blocks are hopped
      * without ever decoding their payload
      */
    def doc: Long =
      if (exhausted) Long.MaxValue
      else if (docs == null) blocks(bi).firstDoc
      else docs(pos)
    def tf: Int = { ensureDecoded(); tfs(pos) }
    def dl: Int = { ensureDecoded(); dls(pos) }
    /** position list of the current posting (windows only — decoded
      * per block on first touch, shared across the bucket's cursors)
      */
    def positions: Array[Int] = { ensureDecoded(); tb.positions(bi)(pos) }
    /** current block's max tf / min dl — the block-max metadata, readable
      * without decoding (window cursors combine members' bounds)
      */
    def blockMaxTf: Int = if (exhausted) 0 else blocks(bi).maxTf
    def blockMinDl: Int = if (exhausted) 1 else blocks(bi).minDl
    def blockBound: Double =
      if (exhausted) 0.0 else cornerBound(blocks(bi).maxTf.toDouble, blocks(bi).minDl)
    /** last doc of the current block (next-shallow boundary for BMW skips) */
    def blockLast: Long = if (exhausted) Long.MaxValue else blocks(bi).lastDoc

    def next(): Unit = {
      if (exhausted) return
      ensureDecoded()
      pos += 1
      if (pos >= docs.length) { bi += 1; pos = 0; docs = null; tfs = null; dls = null }
    }
    def advanceTo(target: Long): Unit = {
      if (exhausted) return
      // hop undecoded blocks first
      while (bi < blocks.length && blocks(bi).lastDoc < target) {
        bi += 1; pos = 0; docs = null; tfs = null; dls = null
      }
      if (exhausted) return
      // block starts at/after the target: the cursor already sits on
      // firstDoc — no decode until tf/dl are actually read
      if (docs == null && blocks(bi).firstDoc >= target) return
      ensureDecoded()
      while (pos < docs.length && docs(pos) < target) pos += 1
      if (pos >= docs.length) { bi += 1; pos = 0; docs = null; tfs = null; dls = null; advanceTo(target) }
    }
  }

  /** Proximity cursor: the conjunction of its member term cursors,
    * leapfrog-aligned; `tf` = the #odN/#uwN match count over the
    * members' decoded position lists at the aligned doc — the
    * document-at-a-time OrderedWindowNode/UnorderedWindowNode evaluation
    * (reference: src/OrderedWindowNode.cpp:111-166,
    * src/UnorderedWindowNode.cpp:69-186). The conjunction SKIPS docs
    * missing any member — sound, because the window can only match where
    * every member occurs; a doc where members align but no window fits
    * has tf = 0 and scores as background, exactly like the DataFrame
    * path's absent-leaf fill-in.
    */
  final class WindowCursor(members: Array[Cursor], val leaf: LeafPlan, val lm: Boolean)
      extends DaatCursor {
    private val ordered = leaf.window.ordered
    private val width = leaf.window.width
    private var curDoc: Long = Long.MaxValue
    private var tfc: Int = -1
    align(0L)

    private def align(target: Long): Unit = {
      tfc = -1
      if (members.isEmpty) { curDoc = Long.MaxValue; return }
      var t = target
      var aligned = false
      while (!aligned) {
        var maxD = Long.MinValue
        var minD = Long.MaxValue
        var i = 0
        while (i < members.length) {
          members(i).advanceTo(t)
          val d = members(i).doc
          if (d > maxD) maxD = d
          if (d < minD) minD = d
          i += 1
        }
        if (maxD == Long.MaxValue) { curDoc = Long.MaxValue; aligned = true }
        else if (minD == maxD) { curDoc = maxD; aligned = true }
        else t = maxD
      }
    }

    def exhausted: Boolean = curDoc == Long.MaxValue
    def doc: Long = curDoc
    def tf: Int = {
      if (tfc < 0) {
        val k = members.length
        val bs = new Array[Array[Int]](k)
        val es = new Array[Array[Int]](k)
        var i = 0
        while (i < k) {
          val ps = members(i).positions
          bs(i) = ps
          val e = new Array[Int](ps.length)
          var j = 0
          while (j < ps.length) { e(j) = ps(j) + 1; j += 1 }
          es(i) = e
          i += 1
        }
        val ex = if (ordered) WindowMatcher.ordered(bs, es, width)
                 else WindowMatcher.unordered(bs, es, width)
        // the belief occurrence count applies the reference's greedy
        // non-overlap scan (matches emit in begin order) — bit-identical
        // to the DataFrame path's dedupCount
        tfc = WindowMatcher.dedupCount(ex._1, ex._2)
      }
      tfc
    }
    def dl: Int = members(0).dl
    def blockLast: Long = {
      var m = Long.MaxValue
      var i = 0
      while (i < members.length) {
        val bl = members(i).blockLast
        if (bl < m) m = bl
        i += 1
      }
      m
    }
    /** Window tf at any doc d in [doc, blockLast] is ≤ Σ member tf(d)
      * ≤ Σ member block maxTf (each match consumes ≥1 member
      * occurrence, and for unordered windows each anchor is a member
      * occurrence — reference term-bound max-score,
      * src/TermFrequencyBeliefNode.cpp:105-135); dl(d) ≥ max member
      * block minDl. Score monotone ↑ tf, ↓ dl for all supported rules.
      */
    def blockBound: Double =
      if (exhausted) 0.0
      else {
        var tfB = 0L
        var dlB = 1
        var i = 0
        while (i < members.length) {
          tfB += members(i).blockMaxTf
          if (members(i).blockMinDl > dlB) dlB = members(i).blockMinDl
          i += 1
        }
        cornerBound(tfB.toDouble, dlB)
      }
    def next(): Unit = if (!exhausted) align(curDoc + 1)
    def advanceTo(target: Long): Unit =
      if (!exhausted && target > curDoc) align(target)
  }

  /** Exact structured score of `docId`: leaf scores (real tf when the
    * leaf's cursor sits on the doc, else the background fill-in
    * scoreFn(0, dl)) folded through the tree in query order — the
    * bit-exact mirror of nested combineBeliefs. Returns NaN when no
    * leaf has a REAL match (window conjunction aligned but zero window
    * count everywhere): such a doc is not a candidate on the DataFrame
    * path (absent from every leaf's match list) and must not be offered.
    * A baseline leaf's background is ±0.0, so an absent term leaves the
    * sum unchanged.
    */
  private def scoreStructured(cursors: Array[DaatCursor], p: StructuredPlan,
                              docId: Long, leafScore: Array[Double]): Double = {
    val n = cursors.length
    var docDl = -1
    var any = false
    var i = 0
    while (i < n) {
      val c = cursors(i)
      if (!c.exhausted && c.doc == docId) {
        docDl = c.dl
        if (c.tf > 0) any = true
      }
      i += 1
    }
    if (!any) return Double.NaN
    i = 0
    while (i < n) {
      val c = cursors(i)
      leafScore(i) =
        if (!c.exhausted && c.doc == docId)
          c.scoreAt(c.tf.toDouble, docDl)
        else
          c.scoreAt(0.0, docDl)
      i += 1
    }
    foldWith(p.tree, leafScore(_))
  }

  /** Fold the tree in query order with every leaf valued by
    * `leafValue` — the exact scorer, the background supremum baseMax and
    * the topdocs seed bounds all evaluate through it.
    */
  def foldWith(tree: FoldTree, leafValue: Int => Double): Double = tree match {
    case FLeaf(li) => leafValue(li)
    case FNode(cs) =>
      var acc = 0.0
      var j = 0
      while (j < cs.length) {
        acc += cs(j)._1 * foldWith(cs(j)._2, leafValue)
        j += 1
      }
      acc
  }

  /** The per-partition WAND loop with block-max refinement over a
    * structured plan's cursors; exact scores come from
    * [[scoreStructured]] (NaN = not a real candidate — skipped, not
    * offered). Returns this partition's (docId, score) top-k.
    *
    * @param seedTheta initial pruning threshold from topdocs candidate
    *   seeding (reference: src/WeightedAndNode.cpp:119-186). MUST be a
    *   lower bound of the true global k-th best score: the caller derives
    *   it from k distinct docs' score lower bounds, so any doc pruned by
    *   it is provably outside the top-k. Valid in every bucket task —
    *   it is a global bound.
    */
  def wand(cursors: Array[DaatCursor], plan: StructuredPlan, k: Int,
           exhaustive: Boolean,
           seedTheta: Double = Double.NegativeInfinity,
           deleted: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    if (k <= 0) return Nil // zero-capacity TopKHeap would NPE on peek()
    val baseMax = plan.baseMax
    val nTerms = cursors.length
    val leafScore = new Array[Double](nTerms)
    val heap = new TopKHeap[(Long, Double)](k)
    val order = (0 until nTerms).toArray // cursor indices sorted by current doc

    def sortOrder(): Unit = {
      // insertion sort — nTerms is tiny and mostly sorted
      var i = 1
      while (i < nTerms) {
        val x = order(i); val dx = cursors(x).doc
        var j = i - 1
        while (j >= 0 && cursors(order(j)).doc > dx) { order(j + 1) = order(j); j -= 1 }
        order(j + 1) = x
        i += 1
      }
    }

    def offerAndAdvance(d: Long): Unit = {
      val s = scoreStructured(cursors, plan, d, leafScore)
      if (!java.lang.Double.isNaN(s)) heap.offer((d, s))
      var m = 0
      while (m < nTerms) { if (cursors(m).doc == d) cursors(m).next(); m += 1 }
    }

    var done = false
    while (!done) {
      sortOrder()
      if (cursors(order(0)).doc == Long.MaxValue) { done = true }
      else if (exhaustive) {
        val d = cursors(order(0)).doc
        if (deleted.contains(d)) {
          var m = 0
          while (m < nTerms) { if (cursors(m).doc == d) cursors(m).next(); m += 1 }
        } else offerAndAdvance(d)
      } else {
        val theta = math.max(heap.threshold, seedTheta)
        // find pivot: first prefix whose Σ UB exceeds θ (LM: the
        // background-sum bound joins the running total from the start)
        var acc = baseMax
        var p = -1
        var i = 0
        while (i < nTerms && p < 0) {
          val c = cursors(order(i))
          if (!c.exhausted) {
            acc += c.upperBound
            // >= not >: a doc that can only TIE θ still wins on the
            // docId-asc tiebreak when its id is smaller than the worst
            if (acc >= theta) p = i
          }
          i += 1
        }
        if (p < 0) done = true // no doc can beat θ
        else {
          val pivotDoc = cursors(order(p)).doc
          // extend the pivot across ties: a cursor beyond p sitting ON
          // pivotDoc also contributes to its score, and the block-max
          // rejection below only bounds cursors ≤ p — without the
          // extension a tied contributor makes the skip unsound (docs
          // silently dropped; caught by the tfidf rank-identity gate)
          while (p + 1 < nTerms && !cursors(order(p + 1)).exhausted &&
                 cursors(order(p + 1)).doc == pivotDoc) p += 1
          if (pivotDoc == Long.MaxValue) done = true
          else if (deleted.contains(pivotDoc)) {
            // DeletedDocumentList skip — consulted before scoring, like
            // the reference's bitmap check during evaluation
            var m = 0
            while (m < nTerms) { if (cursors(m).doc == pivotDoc) cursors(m).next(); m += 1 }
          }
          else if (cursors(order(0)).doc == pivotDoc) {
            // all cursors ≤ pivot sit on pivotDoc candidates — refine with
            // block-max bounds before full scoring
            var bacc = baseMax
            var j = 0
            while (j <= p) {
              val c = cursors(order(j))
              if (!c.exhausted) {
                c.advanceTo(pivotDoc) // aligns block for blockBound
                bacc += c.blockBound
              }
              j += 1
            }
            if (bacc >= theta) offerAndAdvance(pivotDoc)
            else {
              // BMW skip: jump past the shallowest current block boundary.
              // The bound `bacc` only covers cursors ≤ p, so the skip must
              // also stop BEFORE the next cursor's doc — docs from there on
              // can draw score from cursors > p.
              var nextD = Long.MaxValue
              var m = 0
              while (m <= p) {
                val c = cursors(order(m))
                if (!c.exhausted && c.blockLast < nextD) nextD = c.blockLast
                m += 1
              }
              if (p + 1 < nTerms) {
                val dNext = cursors(order(p + 1)).doc
                if (dNext != Long.MaxValue && dNext - 1 < nextD) nextD = dNext - 1
              }
              val target = math.max(pivotDoc, nextD) + 1
              var m2 = 0
              while (m2 <= p) { cursors(order(m2)).advanceTo(target); m2 += 1 }
            }
          } else {
            // advance the lagging cursors to the pivot
            var j = 0
            while (j < p) { cursors(order(j)).advanceTo(pivotDoc); j += 1 }
          }
        }
      }
    }
    heap.results
  }

  /** Bounded top-k heap under a row type's result order ([[Ranked]]),
    * worst row first, so a bucket keeps exactly the rows the driver
    * merge can take from it — the ScoredExtentAccumulator analogue
    * (reference: include/indri/ScoredExtentAccumulator.hpp:40-100).
    */
  final class TopKHeap[R](k: Int)(implicit order: Ranked[R]) {
    // k comes from callers (RunQuery's count), so k + 1 can overflow and
    // a huge k must not pre-allocate
    private val q = new java.util.PriorityQueue[R](math.min(k, 1024) + 1, order.reverse)
    /** the worst kept row's score once k rows are kept, else -∞ */
    def threshold: Double =
      if (q.size < k) Double.NegativeInfinity else order.score(q.peek())
    def offer(r: R): Unit =
      if (q.size < k) q.add(r)
      // k ≤ 0: a zero-capacity heap has no worst row to peek at
      else if (k > 0 && order.lt(r, q.peek())) { q.poll(); q.add(r) }
    /** the kept rows, best first */
    def results: Seq[R] = q.asScala.toSeq.sorted(order)
  }
}
