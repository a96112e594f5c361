package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.index.{CorpusStats, IndexBuilder, IndexConfig, InvertedIndex}

/** Incremental (streaming) index maintenance — the Spark-native shape of
  * the reference's Repository index stack: one writable MemoryIndex that
  * is periodically flushed to disk and merged in the background
  * (reference: src/Repository.cpp:223-243,720-814,
  * src/RepositoryMaintenanceThread.cpp:110-165).
  *
  * Mapping: a Structured Streaming micro-batch = one MemoryIndex flush;
  * `foreachBatch(sink(dir, cfg))` appends a new immutable generation
  * directory `gen=<batchId>` holding that batch's postings+doclens;
  * `open` unions the generations (the index-stack view a query sees);
  * `compact` merges all generations into one (the TRIM merge,
  * reference: src/Repository.cpp:754-814).
  *
  * Crash safety / exactly-once: a generation is visible only after its
  * `_GEN_SUCCESS` marker is written; a replayed batchId (Spark restarts
  * from its own checkpoint) is skipped if the marker exists — the
  * checkpoint/recovery contract (reference: src/Repository.cpp:1198-1215,
  * buildindex/IndriBuildIndex.cpp:609-656).
  *
  * Compaction protocol (atomic, repeatable): every compact writes a FRESH
  * generation `merged-<n>` reading ALL currently-visible generations
  * (including prior merged output — the reference TRIM merge merges all
  * indexes, src/Repository.cpp:754-814). Its marker records the consumed
  * source generations; `completedGens` hides any generation listed as
  * consumed by a committed merge, so a crash between the merge commit and
  * the source deletion can never double-count — deleting the sources
  * afterwards is pure garbage collection. A live generation directory is
  * never overwritten.
  *
  * docIds must be globally unique across batches (carried on the rows,
  * e.g. an event/document id), mirroring sequential docID assignment.
  */
object IncrementalIndexer {

  private def genDir(dir: String, gen: String) = s"$dir/gen=$gen"
  private def marker(dir: String, gen: String) =
    Paths.get(genDir(dir, gen), "_GEN_SUCCESS")

  /** marker payload: line 1 = config fingerprint; one `consumed:<gen>`
    * line per source generation folded into this one (merge gens only)
    */
  private def writeMarker(dir: String, gen: String, fingerprint: String,
                          consumed: Seq[String] = Nil): Unit = {
    val body = (fingerprint +: consumed.map(g => s"consumed:$g")).mkString("\n")
    // the marker IS the commit point — stage + atomic rename so a crash
    // mid-write can never commit a truncated consumed list (which would
    // leave some sources visible ALONGSIDE the merge that absorbed them,
    // double-counting their documents)
    val m = marker(dir, gen)
    val tmp = m.resolveSibling(m.getFileName.toString + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, m, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write one micro-batch of (docId, content) rows as a generation —
    * the postings and doclens of [[IndexBuilder.postingsPass]], the same
    * pass a full build runs, so a batch indexes exactly like
    * [[IndexBuilder.build]] over the same rows. Idempotent per batchId —
    * including a batchId whose generation was already folded into a
    * committed merge and garbage-collected (a replay after restart must
    * not resurrect it).
    */
  def appendBatch(batch: DataFrame, batchId: Long, dir: String, cfg: IndexConfig): Unit = {
    val gen = batchId.toString
    if (Files.exists(marker(dir, gen))) return // replay after restart
    if (consumedGens(dir).contains(gen)) return // replay of a merged+GC'd batch
    // the build's one analyze→postings pass, persisted for the two writes
    // so the batch is read and analyzed once
    val pass = IndexBuilder.postingsPass(batch, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      IndexBuilder.buildPostings(pass).write.mode("overwrite")
        .parquet(s"${genDir(dir, gen)}/postings")
      IndexBuilder.buildDocLens(pass).write.mode("overwrite")
        .parquet(s"${genDir(dir, gen)}/doclens")
    } finally pass.unpersist(false)
    Files.createDirectories(Paths.get(genDir(dir, gen)))
    writeMarker(dir, gen, cfg.fingerprint)
  }

  /** foreachBatch sink closure:
    * {{{ docsStream.writeStream.foreachBatch(IncrementalIndexer.sink(dir, cfg)) }}}
    */
  def sink(dir: String, cfg: IndexConfig): (DataFrame, Long) => Unit =
    (batch, batchId) => appendBatch(batch, batchId, dir, cfg)

  /** generations with a committed marker, regardless of consumption */
  private def committedGens(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val s = Files.list(d)
    try {
      s.forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("gen=")) {
          val g = name.stripPrefix("gen=")
          if (Files.exists(marker(dir, g))) out += g
        }
      }
    } finally s.close()
    out.toSeq.sorted
  }

  /** generations recorded as consumed by any committed merge marker */
  private def consumedGens(dir: String): Set[String] =
    committedGens(dir).iterator.flatMap { g =>
      Files.readString(marker(dir, g)).linesIterator
        .filter(_.startsWith("consumed:")).map(_.stripPrefix("consumed:"))
    }.toSet

  /** committed, live (not consumed by a committed merge) generations —
    * the visible index stack
    */
  private def completedGens(dir: String): Seq[String] = {
    val consumed = consumedGens(dir)
    committedGens(dir).filterNot(consumed)
  }

  /** Open the union view over all committed generations and rebuild the
    * derived tables (dictionary / doclens / stats / segments). The union
    * is the "stack of indexes" a reference query iterates
    * (reference: src/InferenceNetwork.cpp:285-365 loops the index stack).
    */
  def open(spark: SparkSession, dir: String, cfg: IndexConfig): InvertedIndex = {
    val gens = completedGens(dir)
    require(gens.nonEmpty, s"no committed generations under $dir")
    // every generation must have been built under THIS analyzer config —
    // generations tokenized under different stemmers/stopwords would
    // merge into one dictionary with silently wrong df/ctf
    gens.foreach { g =>
      val genFp = Files.readString(marker(dir, g)).linesIterator.next()
      require(genFp == cfg.fingerprint,
        s"generation $g was built with config fingerprint $genFp, " +
          s"but open() got ${cfg.fingerprint} — reopen with the original " +
          "config or rebuild")
    }
    val postings = spark.read.parquet(gens.map(g => s"${genDir(dir, g)}/postings"): _*)
    val doclens = spark.read.parquet(gens.map(g => s"${genDir(dir, g)}/doclens"): _*)
    val dictionary = IndexBuilder.buildDictionary(postings)
    val stats = IndexBuilder.buildStats(doclens, dictionary)
    val segments = IndexBuilder.buildSegments(postings, stats.totalDocs, cfg).toDF()
    InvertedIndex(postings, dictionary, doclens, stats, segments,
      numBuckets = cfg.numBuckets)
  }

  /** Merge every live generation into a single fresh one — the background
    * TRIM/merge (reference: src/Repository.cpp:754-814; deleted-doc skip
    * during merge is the caller's anti-join before compaction, reference:
    * src/IndexWriter.cpp:575-580).
    *
    * Atomicity: the merged generation becomes visible (marker committed,
    * listing its consumed sources) in one step; only then are the source
    * generations deleted. A crash at ANY point leaves either the old view
    * (merge uncommitted) or the new view (sources hidden via the consumed
    * list, their directories mere garbage) — never both.
    *
    * Handles returned by [[open]] read generation files LAZILY — re-open
    * after a compact; a handle opened before it references source files
    * the GC below deletes (same contract as [[graft.index.SegmentStore]]'s
    * `invalidate` after an in-place rewrite).
    */
  def compact(spark: SparkSession, dir: String, cfg: IndexConfig): Unit = {
    val gens = completedGens(dir)
    if (gens.size <= 1) return // nothing to fold
    // fresh monotonic name: never overwrite a live generation directory
    val nextId = committedGens(dir).iterator
      .filter(_.startsWith("merged-"))
      .map(_.stripPrefix("merged-").toLong).foldLeft(0L)(math.max) + 1
    val mergedGen = s"merged-$nextId"
    val postings = spark.read.parquet(gens.map(g => s"${genDir(dir, g)}/postings"): _*)
    val doclens = spark.read.parquet(gens.map(g => s"${genDir(dir, g)}/doclens"): _*)
    postings.write.mode("overwrite").parquet(s"${genDir(dir, mergedGen)}/postings")
    doclens.write.mode("overwrite").parquet(s"${genDir(dir, mergedGen)}/doclens")
    // consumed set is TRANSITIVE (sources plus everything the sources had
    // consumed): an ancestor generation resurrected by an interrupted GC
    // of an intermediate merge must stay hidden even after that merge's
    // own marker is gone. One line per batch ever ingested — a few MB of
    // text after years of micro-batches; compress to id ranges if it
    // ever matters.
    val transitive = (gens ++ gens.flatMap { g =>
      Files.readString(marker(dir, g)).linesIterator
        .filter(_.startsWith("consumed:")).map(_.stripPrefix("consumed:"))
    }).distinct.sorted
    writeMarker(dir, mergedGen, cfg.fingerprint, consumed = transitive)
    // garbage-collect EVERY consumed generation directory still on disk —
    // this round's sources plus any orphan left by a crash between a
    // previous merge's commit and its deletion loop (those stay hidden
    // via the consumed list but their directories would leak forever)
    val dead = consumedGens(dir)
    val root = Paths.get(dir)
    val listing = Files.list(root)
    val present =
      try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(_.getFileName.toString).filter(_.startsWith("gen=")).toSeq
      finally listing.close()
    present.map(_.stripPrefix("gen=")).filter(dead).foreach { g =>
      val gd = Paths.get(genDir(dir, g))
      Files.deleteIfExists(marker(dir, g))
      val walk = Files.walk(gd)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
