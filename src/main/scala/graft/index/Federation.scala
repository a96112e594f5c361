package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query-time federation of repositories — the QueryEnvironment::addIndex
  * surface (reference: include/indri/QueryEnvironment.hpp:176-346;
  * src/QueryEnvironment.cpp:242-316 evaluate-then-merge across servers,
  * :957-984 stats summed across ALL members BEFORE scoring). Combining
  * returns one logical [[InvertedIndex]], so EVERY Engine verb — belief
  * trees, the DAAT/WAND kernels, NEXI, shrinkage, priors, deletes —
  * runs over the member set unchanged, with globally-consistent
  * background statistics.
  *
  * DocId model: each member keeps its local ids and is shifted onto a
  * `documentBase` offset, exactly how the reference stacks a
  * repository's internal indexes (include/indri/Index.hpp
  * documentBase(); local id + base = repository-global id). The shift
  * never decodes posting blocks — delta streams store the first docId
  * verbatim, so [[BlockCodec.rebaseDeltas]] patches one varint per
  * block. Member bucket ids are renumbered onto disjoint ranges, so
  * `bucket` stays a pure function of the global docId and the DAAT
  * kernel's per-bucket evaluate-then-merge treats members' buckets as
  * additional "servers" (the same model Daat already documents).
  *
  * Cost model at scale: combining is an OPEN-time operation — one merged
  * dictionary aggregation (vocabulary-sized, persisted), one persist of
  * the unioned segment blocks (not shuffled: the kernel's resident block
  * maps key their own exchange on `bucket`), and tiny per-member range
  * probes.
  * Per-query work afterwards is identical to a single repository of the
  * combined size. Members must share the analyzer/field configuration —
  * the reference has the same requirement across servers (stemmers and
  * field schemas travel with the query, not the repository).
  */
object Federation {

  /** Combine with derived document bases: members stack in order, each
    * base past the previous member's max docId (1-based dense members
    * pack tightly; 0-based members shift by max+1).
    */
  def combine(indexes: Seq[InvertedIndex]): InvertedIndex =
    combineWithBases(indexes, None)

  /** Combine with explicit per-member documentBase offsets (global id =
    * local id + base). Ranges must come out disjoint.
    */
  def combine(indexes: Seq[InvertedIndex], documentBases: Seq[Long]): InvertedIndex =
    combineWithBases(indexes, Some(documentBases))

  /** The documentBase `combine(indexes)` derives for each member — for
    * rebasing per-member side tables (metadata) onto the federation's
    * global id space: [[packedBases]] over the members' docId ranges.
    */
  def derivedBases(indexes: Seq[InvertedIndex]): Seq[Long] = packedBases(indexes.map(docRange))

  /** one tiny probe: a member's local (min, max) docId; None for a
    * zero-doc member, which is not probed
    */
  private def docRange(ix: InvertedIndex): Option[(Long, Long)] =
    if (ix.stats.totalDocs == 0) None
    else {
      val r = ix.doclens.agg(min(col("docId")), max(col("docId"))).head()
      Some((r.getLong(0), r.getLong(1)))
    }

  /** Tight packing of member docId ranges (None = a zero-doc member): each
    * base puts the member's local min just past the previous non-empty
    * member's global max, and a zero-doc member inherits the running base
    * (it has no rows to rebase). The 0-based +1 adjustment keys on the
    * member BEING PLACED — keyed on the previous member, a 0-based member
    * following a 1-based one would land ON the previous max.
    */
  private def packedBases(ranges: Seq[Option[(Long, Long)]]): Seq[Long] = {
    var top = 0L // global max docId placed so far
    var first = true
    ranges.map {
      case None => if (first) 0L else top
      case Some((mn, mx)) =>
        val base = if (first) 0L else top + (if (mn >= 1L) 0L else 1L)
        first = false
        top = base + mx
        base
    }
  }

  private def combineWithBases(indexes: Seq[InvertedIndex],
                               bases0: Option[Seq[Long]]): InvertedIndex = {
    require(indexes.nonEmpty, "federation needs at least one member index")
    bases0.foreach(b => require(b.length == indexes.length,
      s"documentBases size ${b.length} != ${indexes.length} members"))
    val live = indexes.filter(_.stats.totalDocs > 0)
    if (live.isEmpty) return indexes.head
    if (live.size == 1 && bases0.isEmpty) return live.head

    // local docId ranges, for base derivation + disjointness
    val allRanges = indexes.map(docRange)
    // every member keeps its OWN base; zero-doc members drop out here
    val (members, bases, ranges) = indexes.zip(bases0.getOrElse(packedBases(allRanges)))
      .zip(allRanges).collect { case ((ix, b), Some(r)) => (ix, b, r) }.unzip3
    // the bucket count when the handle doesn't carry it
    val numBucketsPer = members.map { ix =>
      if (ix.numBuckets > 0) ix.numBuckets
      else ix.segments.agg(coalesce(max(col("bucket")), lit(0))).head().getInt(0) + 1
    }

    val globalRanges = ranges.zip(bases).map { case ((mn, mx), b) => (mn + b, mx + b) }
    globalRanges.sortBy(_._1).sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        require(hi < lo2, s"member docId ranges overlap after rebase: " +
          s"[..,$hi] vs [$lo2,..] — pass disjoint documentBases")
      case _ =>
    }
    val bucketBases = numBucketsPer.scanLeft(0)(_ + _).init

    def shiftDoc(df: DataFrame, base: Long): DataFrame =
      if (df == null) null
      else if (base == 0L) df
      else df.withColumn("docId", col("docId") + lit(base))

    // stored handles open with postings = null (DAAT-kernel-only view);
    // a federation of such members stays kernel-only the same way
    val postings =
      if (members.exists(_.postings == null)) null
      else members.zip(bases).map { case (ix, b) => shiftDoc(ix.postings, b) }
        .reduce(_ unionByName _)
    val doclens = members.zip(bases).map { case (ix, b) => shiftDoc(ix.doclens, b) }
      .reduce(_ unionByName _)

    // merged dictionary: df/ctf sum, length bounds combine — the summed
    // ContextSimpleCount stats (reference: src/QueryEnvironment.cpp:957-965
    // _sumServerQuery), which the federation's vocabulary serves term
    // stats from. Persisted: counted here and read again by the
    // dictionary's DataFrame readers.
    val dictionary = members.map(_.dictionary).reduce(_ unionByName _)
      .groupBy("term").agg(
        sum(col("df")).as("df"),
        sum(col("ctf")).as("ctf"),
        max(col("maxDocLen")).as("maxDocLen"),
        min(col("minDocLen")).as("minDocLen"))
      .persist()
    val uniqueTerms = dictionary.count()
    val stats = CorpusStats(
      totalDocs = members.map(_.stats.totalDocs).sum,
      totalTerms = members.map(_.stats.totalTerms).sum,
      uniqueTerms = uniqueTerms)

    // segment blocks: docId range + first-varint rebase, bucket ids onto
    // the member's disjoint bucket range; persisted as they come, since
    // the resident block maps place every block by its bucket
    // (Daat.residentBlocks).
    val segments = members.zip(bases).zip(bucketBases).map {
      case ((ix, b), bb) =>
        val rebase = udf((bytes: Array[Byte]) => BlockCodec.rebaseDeltas(bytes, b))
        ix.segments.select(
          col("term"),
          (col("bucket") + lit(bb)).as("bucket"),
          (col("firstDoc") + lit(b)).as("firstDoc"),
          (col("lastDoc") + lit(b)).as("lastDoc"),
          col("numDocs"), col("maxTf"), col("minDl"),
          (if (b == 0L) col("docsDelta") else rebase(col("docsDelta"))).as("docsDelta"),
          col("tfs"), col("dls"), col("positionsDelta"))
    }.reduce(_ unionByName _).persist()
    val totalBuckets = numBucketsPer.sum

    val fieldFlags = members.map(_.fieldExtents == null).distinct
    require(fieldFlags.size == 1,
      "all federation members must share the field configuration " +
        "(some carry field extents, some do not)")
    val fieldExtents =
      if (members.head.fieldExtents == null) null
      else members.zip(bases).map { case (ix, b) => shiftDoc(ix.fieldExtents, b) }
        .reduce(_ unionByName _)

    InvertedIndex(postings, dictionary, doclens, stats, segments,
      fieldExtents, numBuckets = totalBuckets)
  }
}
