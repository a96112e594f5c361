package graft.index

import java.nio.file.{Files, Paths, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed segment store in an Iceberg-compatible layout:
  * one directory per table, a JSON manifest recording the build
  * fingerprint and per-bucket lineage, and a _GRAFT_SUCCESS marker
  * per table making the on-disk state openable at any time — the
  * analogue of the reference's repository checkpoint
  * (reference: src/Repository.cpp:1198-1215) and crash recovery
  * (reference: buildindex/IndriBuildIndex.cpp:609-656).
  *
  * Every table, the segments included, is a plain Parquet directory.
  *
  * Resume contract: `writeAll` skips any table whose success marker and
  * fingerprint match the current config — a rerun after a partial
  * failure only rebuilds the missing tables (per-table lineage; the
  * per-bucket lineage rows inside `manifest` audit the segments). No
  * Iceberg runtime jar ships with the build; the layout keeps table IO
  * behind this object so an Iceberg catalog can drop in.
  */
object SegmentStore {

  val Tables = Seq("segments", "dictionary", "doclens", "stats", "manifest", "fields")

  private def marker(dir: String, table: String): Path =
    Paths.get(dir, table, "_GRAFT_SUCCESS")

  def isComplete(dir: String, table: String, fingerprint: String): Boolean = {
    val m = marker(dir, table)
    Files.exists(m) && Files.readString(m).trim == fingerprint
  }

  private def commit(dir: String, table: String, fingerprint: String): Unit =
    Files.writeString(marker(dir, table), fingerprint)

  /** Write all index tables; skips tables already committed with the same
    * fingerprint (resume path). The segment blocks are written in the
    * partitions and order `index.segments` has, with no further shuffle.
    * Returns the set of tables actually (re)written.
    */
  def writeAll(index: InvertedIndex, dir: String, cfg: IndexConfig): Set[String] = {
    // segments, not postings: kernel-only handles (federated merges,
    // stored re-opens) carry postings = null
    val spark = index.segments.sparkSession
    val fp = cfg.fingerprint
    Files.createDirectories(Paths.get(dir))
    var written = Set.empty[String]
    // segments feed two tables (segments + manifest) — persist so the
    // shuffle+encode pipeline runs once
    index.segments.persist()

    val lock = new Object
    def writeTable(name: String)(df: => DataFrame): Unit = {
      if (!isComplete(dir, name, fp)) {
        df.write.mode("overwrite").parquet(s"$dir/$name")
        commit(dir, name, fp)
        lock.synchronized { written += name }
      }
    }

    // segments: the blocks as the build's (term, bucket) merge emits
    // them, one file per merge partition; `_BUCKETS` records the bucket
    // count the resident block maps key on. zstd, not the default snappy:
    // each file mixes every bucket's docIds, which snappy compressed 8%
    // worse than one-bucket files (bench/r15_plain_segments.txt)
    if (!isComplete(dir, "segments", fp)) {
      index.segments.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$dir/segments")
      Files.writeString(Paths.get(dir, "segments", "_BUCKETS"),
        math.max(1, cfg.numBuckets).toString)
      commit(dir, "segments", fp)
      written += "segments"
    }
    // the small tables are independent jobs — run them concurrently so
    // their driver-side commit latencies overlap instead of summing
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val fs = Seq(
        pool.submit(new Runnable { def run(): Unit = writeTable("dictionary")(index.dictionary) }),
        pool.submit(new Runnable { def run(): Unit = writeTable("doclens")(index.doclens) }),
        pool.submit(new Runnable { def run(): Unit = writeTable("stats") {
          import spark.implicits._
          Seq(index.stats).toDF()
        } })
      ) ++ (if (index.fieldExtents != null)
        Seq(pool.submit(new Runnable {
          def run(): Unit = writeTable("fields")(index.fieldExtents)
        }))
      else Nil)
      fs.foreach(_.get())
    } finally pool.shutdown()
    // Per-bucket lineage rows: one per docId-range bucket, with row
    // counts and an order-insensitive checksum — the audit trail for
    // partial-rerun equality (north-rule lineage requirement).
    writeTable("manifest") {
      index.segments.groupBy("bucket").agg(
        count(lit(1)).as("blocks"),
        sum(col("numDocs").cast("long")).as("postings"),
        countDistinct(col("term")).as("terms"),
        // xor of per-block hashes — associative+commutative, so stable
        // under any partition evaluation order (and overflow-free under
        // ANSI mode, unlike a sum)
        expr("bit_xor(xxhash64(term, firstDoc, lastDoc, numDocs))").as("checksum")
      ).withColumn("status", lit("complete"))
       .withColumn("fingerprint", lit(fp))
    }
    index.segments.unpersist()
    written
  }

  /** Roll a crashed [[rewriteFields]] swap forward (or back): a crash
    * between its two renames leaves NO `fields` table on the canonical
    * path — the old data parked at `fields.old`, the complete new table
    * at `fields.rewrite`. Without recovery open() would silently serve
    * fieldExtents = null and every field-restricted query would degrade.
    */
  private def recoverFieldsSwap(dir: String): Unit = {
    val fields = Paths.get(dir, "fields")
    if (Files.exists(fields)) return
    val rewrite = Paths.get(dir, "fields.rewrite")
    val aside = Paths.get(dir, "fields.old")
    if (Files.exists(rewrite) && Files.exists(rewrite.resolve("_SUCCESS"))) {
      // the new table was fully written before the swap began — finish it
      Files.move(rewrite, fields)
      RepositorySurgery.rmTree(aside)
    } else if (Files.exists(aside)) {
      Files.move(aside, fields) // swap never reached the forward-safe point
    }
  }

  /** Open a store: every table is one plain Parquet read. A store whose
    * segments were written as a Spark-bucketed table opens the same way.
    */
  def open(spark: SparkSession, dir: String): StoredIndex = {
    recoverFieldsSwap(dir)
    // a writeAll that died mid-rewrite over an existing store leaves
    // tables committed under DIFFERENT fingerprints (e.g. new segments
    // beside the old dictionary/stats) — refuse the silently-inconsistent
    // view; rerunning writeAll with the intended config completes the
    // rewrite via the per-table resume. `fields` is excluded: a
    // rewriteFields commit appends "+rewrite" to its fingerprint by design.
    val coreFps = Seq("segments", "dictionary", "doclens", "stats", "manifest")
      .map(t => t -> marker(dir, t)).filter(p => Files.exists(p._2))
      .map { case (t, m) => t -> Files.readString(m).trim }
    if (coreFps.map(_._2).distinct.size > 1)
      throw new IllegalStateException(
        s"store $dir is half-rewritten — table fingerprints disagree (" +
          coreFps.map { case (t, f) => s"$t=$f" }.mkString(", ") +
          "); rerun writeAll with the intended config to complete the rewrite")
    val stats = spark.read.parquet(s"$dir/stats").head()
    // a store written before `_BUCKETS` existed opens with numBuckets
    // = 0 (unknown)
    val bucketsFile = Paths.get(dir, "segments", "_BUCKETS")
    val numBuckets =
      if (Files.exists(bucketsFile)) Files.readString(bucketsFile).trim.toInt else 0
    StoredIndex(
      segments = spark.read.parquet(s"$dir/segments"),
      dictionary = spark.read.parquet(s"$dir/dictionary"),
      doclens = spark.read.parquet(s"$dir/doclens"),
      stats = CorpusStats(
        stats.getAs[Long]("totalDocs"),
        stats.getAs[Long]("totalTerms"),
        stats.getAs[Long]("uniqueTerms")),
      numBuckets = numBuckets,
      fieldExtents =
        if (Files.exists(Paths.get(dir, "fields"))) spark.read.parquet(s"$dir/fields")
        else null
    )
  }

  /** Offline field surgery — the modifyfields analogue (reference:
    * modifyfields/ModifyFields.cpp): rewrite the stored field-extent
    * table WITHOUT re-tokenizing or touching postings. `remove` drops
    * whole field classes; `add` is an offset-annotation table
    * (docId, field, begin, end [, number, ordinal, parentField,
    * parentOrdinal]) — new extents come from annotations exactly as the
    * reference sources added fields from the OffsetAnnotationAnnotator
    * file (markup-derived fields would need the token stream, which
    * neither engine re-parses here). Token positions and postings are
    * untouched, so a rewrite equals a full rebuild with the new
    * FieldSpec set over the same annotator inputs (StoreRewriteSpec).
    */
  def rewriteFields(spark: SparkSession, dir: String,
                    remove: Seq[String] = Nil,
                    add: DataFrame = null): Unit = {
    recoverFieldsSwap(dir) // finish any crashed previous swap first
    val fieldsPath = Paths.get(dir, "fields")
    val schema = "docId BIGINT, field STRING, begin INT, end INT, " +
      "number BIGINT, ordinal INT, parentField STRING, parentOrdinal INT"
    val existing =
      if (Files.exists(fieldsPath)) spark.read.parquet(s"$dir/fields")
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    val kept =
      if (remove.isEmpty) existing
      else existing.where(!col("field").isin(remove: _*))
    val added = Option(add).map { a =>
      // normalize optional columns to the stored schema
      val withDefaults = Seq(
        "number" -> lit(0L), "ordinal" -> lit(1),
        "parentField" -> lit(null).cast("string"), "parentOrdinal" -> lit(0)
      ).foldLeft(a) { case (df, (c, d)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, d)
      }
      withDefaults.select(col("docId").cast("bigint"), col("field"),
        col("begin").cast("int"), col("end").cast("int"),
        col("number").cast("bigint"), col("ordinal").cast("int"),
        col("parentField").cast("string"), col("parentOrdinal").cast("int"))
    }
    val merged = added.fold(kept)(kept.unionByName(_))
    // the new table is derived FROM the old files — stage to a side
    // directory, then swap, so the read never races its own overwrite
    val tmp = s"$dir/fields.rewrite"
    val oldFp =
      if (Files.exists(marker(dir, "fields"))) Files.readString(marker(dir, "fields")).trim
      else ""
    merged.write.mode("overwrite").parquet(tmp)
    // rename-aside swap: the old table survives any crash until the new
    // one is in place (a delete-then-move would lose the table if the
    // JVM dies between the two steps)
    val aside = Paths.get(s"$dir/fields.old")
    RepositorySurgery.rmTree(aside)
    if (Files.exists(fieldsPath)) Files.move(fieldsPath, aside)
    Files.move(Paths.get(tmp), fieldsPath)
    RepositorySurgery.rmTree(aside)
    commit(dir, "fields", s"$oldFp+rewrite")
  }
}

final case class StoredIndex(
    segments: DataFrame,
    dictionary: DataFrame,
    doclens: DataFrame,
    stats: CorpusStats,
    numBuckets: Int = 0,
    fieldExtents: DataFrame = null
)

/** Offline repository surgery — the dumpindex mutation verbs
  * (reference: dumpindex/dumpindex.cpp:516-519 compact/delete/merge
  * usage rows). Lives beside the store because it owns the directory
  * layout: `deleted/` is the persisted pending-delete list (the
  * reference's on-disk DeletedDocumentList), released by compaction.
  */
object RepositorySurgery {
  import org.apache.spark.sql.types.LongType

  /** the persisted pending-delete list, if any deletes are outstanding */
  def readDeletes(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = Paths.get(dir, "deleted", "_SUCCESS")
    if (Files.exists(p)) Some(spark.read.parquet(s"$dir/deleted")) else None
  }

  /** `del docId…`: append to the pending-delete list (reference:
    * Repository::deleteDocument persists the DeletedDocumentList on
    * close). Pending deletes are small by design — the query kernel
    * caps them and compaction releases them — so the list round-trips
    * through the driver, which also makes the read-modify-write of the
    * same directory safe (the rewrite's lineage never reads the files
    * it replaces).
    */
  def appendDeletes(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    val existing = readDeletes(spark, dir)
      .map(_.select(col("docId").cast(LongType)).collect().map(_.getLong(0)).toSeq)
      .getOrElse(Nil)
    val all = (existing ++ ids).distinct.sorted
    import spark.implicits._
    all.toDF("docId").coalesce(1).write.mode("overwrite").parquet(s"$dir/deleted")
  }

  /** the stored block size, recovered from the segment layout (a full
    * block holds exactly blockSize postings, so the max numDocs over
    * blocks IS the build's blockSize whenever any term filled a block;
    * small corpora that never filled one get the default — block
    * boundaries only affect layout, not values)
    */
  private def storedBlockSize(st: StoredIndex): Int = {
    val m = st.segments.agg(max(col("numDocs"))).head().getInt(0)
    math.max(m, 16)
  }

  /** `c`: compact the repository in place, releasing the space (and the
    * postings/doclens/extents rows) of pending-deleted documents —
    * docIds stay stable, exactly [[IndexBuilder.compactDeletes]]
    * persisted (CompactSpec: compacted == fresh build of survivors).
    * Side tables that compaction does not touch (analysis chain,
    * metadata, priors) carry over; the `deleted/` list is dropped.
    * The swap goes through sibling directories (write new → retire old
    * → rename new), so a crash leaves either the old or the new repo
    * intact on disk.
    */
  def compactRepository(spark: SparkSession, dir: String): Unit = {
    val del = readDeletes(spark, dir)
    if (del.isEmpty) return // nothing pending — the repo is already compact
    val st = SegmentStore.open(spark, dir)
    val idx = InvertedIndex(
      IndexBuilder.decodePostings(st.segments), st.dictionary, st.doclens,
      st.stats, st.segments, st.fieldExtents, numBuckets = st.numBuckets)
    val cfg = IndexConfig(blockSize = storedBlockSize(st),
      numBuckets = math.max(st.numBuckets, 1))
    val compacted = IndexBuilder.compactDeletes(idx, del.get, cfg)
    val dirPath = Paths.get(dir).toAbsolutePath
    val tmp = dirPath.resolveSibling(dirPath.getFileName.toString + ".compact-new")
    val old = dirPath.resolveSibling(dirPath.getFileName.toString + ".compact-old")
    rmTree(tmp); rmTree(old)
    SegmentStore.writeAll(compacted, tmp.toString, cfg)
    // the stored collection drops the deleted documents' text like the
    // reference compaction (docIds stay stable, so this is a filter)
    if (Files.exists(dirPath.resolve("collection"))) {
      spark.read.parquet(dirPath.resolve("collection").toString)
        .join(del.get, Seq("docId"), "left_anti")
        .write.parquet(tmp.resolve("collection").toString)
    }
    val written = listEntries(tmp).map(_.getFileName.toString).toSet
    copyAux(dirPath, tmp, exclude = written + "deleted")
    Files.move(dirPath, old)
    Files.move(tmp, dirPath)
    rmTree(old)
  }

  /** copy top-level aux entries (chain file, metadata/prior dirs) that a
    * rebuild does not produce — `only` restricts to named entries,
    * otherwise everything not excluded and not already present copies
    */
  private[graft] def copyAux(from: Path, to: Path,
                             exclude: Set[String] = Set.empty,
                             only: Set[String] = null): Unit = {
    if (!Files.exists(from)) return
    Files.createDirectories(to)
    listEntries(from).foreach { p =>
      val name = p.getFileName.toString
      val wanted = if (only != null) only.contains(name) else !exclude.contains(name)
      if (wanted && !Files.exists(to.resolve(name))) copyTree(p, to.resolve(name))
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      listEntries(from).foreach(p => copyTree(p, to.resolve(p.getFileName.toString)))
    } else Files.copy(from, to)
  }

  /** Files.list with the directory stream closed (an un-closed stream
    * holds its fd until GC — repeated surgery cycles would leak fds).
    */
  private def listEntries(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
  }

  private[index] def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(Files.delete)
    }
}
