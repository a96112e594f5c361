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
    * global id space. Mirrors combineWithBases' scanLeft: each base is
    * past the previous non-empty member's max docId; zero-doc members
    * contribute nothing and inherit the running base.
    */
  def derivedBases(indexes: Seq[InvertedIndex]): Seq[Long] = {
    var top = 0L // global max docId placed so far
    var first = true
    indexes.map { ix =>
      if (ix.stats.totalDocs == 0) { if (first) 0L else top } // no rows to rebase
      else {
        val r = ix.doclens.agg(min(col("docId")), max(col("docId"))).head()
        // the 0-based +1 adjustment keys on the member BEING PLACED (its
        // own min), not the previous one — keying on the previous member
        // would collide a 0-based member following a 1-based one
        val base = if (first) 0L else top + (if (r.getLong(0) >= 1L) 0L else 1L)
        first = false
        top = base + r.getLong(1)
        base
      }
    }
  }

  private def combineWithBases(indexes0: Seq[InvertedIndex],
                               bases0: Option[Seq[Long]]): InvertedIndex = {
    require(indexes0.nonEmpty, "federation needs at least one member index")
    bases0.foreach(b => require(b.length == indexes0.length,
      s"documentBases size ${b.length} != ${indexes0.length} members"))
    val members0 = indexes0.zip(bases0.getOrElse(indexes0.map(_ => 0L)))
    val members = members0.filter(_._1.stats.totalDocs > 0)
    if (members.isEmpty) return indexes0.head
    if (members.size == 1 && bases0.isEmpty) return members.head._1

    // one tiny probe per member: local docId range (for base derivation +
    // disjointness) and the bucket count when the handle doesn't carry it
    val ranges = members.map { case (ix, _) =>
      val r = ix.doclens.agg(min(col("docId")), max(col("docId"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val numBucketsPer = members.map { case (ix, _) =>
      if (ix.numBuckets > 0) ix.numBuckets
      else ix.segments.agg(coalesce(max(col("bucket")), lit(0))).head().getInt(0) + 1
    }

    val bases: Seq[Long] = bases0.getOrElse {
      // tight packing: each member's base puts its local min just past
      // the previous member's global max. The 0-based +1 adjustment
      // keys on the member BEING PLACED — keyed on the previous member
      // (the old scanLeft) a 0-based member following a 1-based one
      // landed ON the previous max and the disjointness check threw.
      var top = 0L
      var first = true
      ranges.map { case (mn, mx) =>
        val base = if (first) 0L else top + (if (mn >= 1L) 0L else 1L)
        first = false
        top = base + mx
        base
      }
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
      if (members.exists(_._1.postings == null)) null
      else members.zip(bases).map { case ((ix, _), b) =>
        shiftDoc(ix.postings, b)
      }.reduce(_ unionByName _)
    val doclens = members.zip(bases).map { case ((ix, _), b) =>
      shiftDoc(ix.doclens, b)
    }.reduce(_ unionByName _)

    // merged dictionary: df/ctf sum, length bounds combine — the summed
    // ContextSimpleCount stats (reference: src/QueryEnvironment.cpp:957-965
    // _sumServerQuery), which the term stats of the resident block maps
    // over the unioned segments sum to as well (Daat.stats). Persisted:
    // counted here and read again by the dictionary's DataFrame readers.
    val dictionary = members.map(_._1.dictionary).reduce(_ unionByName _)
      .groupBy("term").agg(
        sum(col("df")).as("df"),
        sum(col("ctf")).as("ctf"),
        max(col("maxDocLen")).as("maxDocLen"),
        min(col("minDocLen")).as("minDocLen"))
      .persist()
    val uniqueTerms = dictionary.count()
    val stats = CorpusStats(
      totalDocs = members.map(_._1.stats.totalDocs).sum,
      totalTerms = members.map(_._1.stats.totalTerms).sum,
      uniqueTerms = uniqueTerms)

    // segment blocks: docId range + first-varint rebase, bucket ids onto
    // the member's disjoint bucket range; persisted as they come, since
    // the resident block maps place every block by its bucket
    // (Daat.residentBlocks).
    val segments = members.zip(bases).zip(bucketBases).map {
      case (((ix, _), b), bb) =>
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

    val fieldFlags = members.map(_._1.fieldExtents == null).distinct
    require(fieldFlags.size == 1,
      "all federation members must share the field configuration " +
        "(some carry field extents, some do not)")
    val fieldExtents =
      if (members.head._1.fieldExtents == null) null
      else members.zip(bases).map { case ((ix, _), b) =>
        shiftDoc(ix.fieldExtents, b)
      }.reduce(_ unionByName _)

    InvertedIndex(postings, dictionary, doclens, stats, segments,
      fieldExtents, numBuckets = totalBuckets)
  }
}
