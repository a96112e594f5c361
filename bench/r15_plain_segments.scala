// Plain-segments parity program behind bench/r15_plain_segments.txt. Not
// part of the sbt build: compile it together with src/main/scala of the
// commit under test and the two test-side helpers it uses (JobTally,
// ListenerDrain), with the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') \
//     src/test/scala/graft/JobTally.scala src/test/scala/org/apache/spark/graft/ListenerDrain.scala \
//     bench/r15_plain_segments.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP PlainSegments rows <out dir>
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP PlainSegments tally
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP PlainSegments files
// `rows` writes every table of bench/r11_build_parity.scala's five build
// shapes as canonical text, one file per (shape, table), plus the tables
// of the fieldless shape after a SegmentStore.writeAll and open round trip
// (shape `stored`), and prints a row count and a sha256 per file (diff the
// directories of two commits); `tally` prints the jobs, stages, shuffle
// bytes and SQL executions of a fieldless buildFromCorpus +
// SegmentStore.writeAll, then of SegmentStore.open; `files` lists the
// files of a stored `segments` directory with their bytes, rows and
// bucket values.
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.JobTally
import graft.corpus.CorpusSynthesizer
import graft.index.{FieldAnnotators, FieldSpec, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.streaming.IncrementalIndexer

object PlainSegments {
  // perfbench's build workload: corpus size and IndexConfig
  private val docs = 2000
  private val cfg = IndexConfig(analyzerMode = "indri", blockSize = 1024, numBuckets = 8)
  // small blocks for the fielded, annotated and incremental shapes, so a
  // term's postings span many blocks and buckets
  private val small = IndexConfig(analyzerMode = "indri", blockSize = 32, numBuckets = 8)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", outDir) => rows(spark, outDir)
      case Array("tally") => tally(spark)
      case Array("files") => files(spark)
      case _ => sys.error("usage: PlainSegments rows <out dir> | tally | files")
    }
    spark.stop()
  }

  private def corpus(spark: SparkSession): DataFrame = CorpusSynthesizer.corpus(spark, docs, 1L)

  /** (docId, content, path) with a <title> tag and an <n> numeric tag
    * planted in the content, numbered the way buildFromCorpus numbers
    */
  private def tagged(spark: SparkSession): DataFrame =
    IndexBuilder.assignDocIdsScalable(corpus(spark), Seq("repo", "path", "commit"))
      .select(col("docId"), col("path"),
        concat(lit("<title>"), col("repo"), lit("</title> "), col("content"),
          lit(" <n>"), length(col("content")).cast("string"), lit("</n>")).as("content"))
      .cache()

  private def shapes(spark: SparkSession, tmp: String): Seq[(String, InvertedIndex)] = {
    val fieldless = IndexBuilder.buildFromCorpus(corpus(spark), cfg)
    SegmentStore.writeAll(fieldless, s"$tmp/store", cfg)
    val st = SegmentStore.open(spark, s"$tmp/store")
    val stored = InvertedIndex(IndexBuilder.decodePostings(st.segments), st.dictionary,
      st.doclens, st.stats, st.segments, st.fieldExtents, numBuckets = st.numBuckets)
    val t = tagged(spark)
    val fcfg = small.copy(fields = Seq(FieldSpec("title"), FieldSpec("n", "int")))
    val fielded = IndexBuilder.build(t.select("docId", "content"), fcfg)
    val annotated = IndexBuilder.build(t, small, annotate = df =>
      FieldAnnotators.headField(10)(FieldAnnotators.appendText("path", small.analyzer)(df)))
    // three generations by docId range, then the compacted stack
    val gdir = s"$tmp/gens"
    for (g <- 0 until 3)
      IncrementalIndexer.appendBatch(t.where(col("docId") % 3 === g).select("docId", "content"),
        g.toLong, gdir, small)
    val gens = IncrementalIndexer.open(spark, gdir, small)
    val genRows = dumpable(gens)
    IncrementalIndexer.compact(spark, gdir, small)
    Seq("fieldless" -> fieldless, "stored" -> stored, "fielded" -> fielded,
      "annotated" -> annotated, "incremental" -> genRows,
      "incremental-compacted" -> IncrementalIndexer.open(spark, gdir, small))
  }

  /** an index over generation files, with its tables collected up front:
    * a compact deletes the files an open handle reads
    */
  private def dumpable(idx: InvertedIndex): InvertedIndex = {
    val spark = idx.postings.sparkSession
    def local(df: DataFrame): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
    idx.copy(postings = local(idx.postings), dictionary = local(idx.dictionary),
      doclens = local(idx.doclens), segments = local(idx.segments))
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case x => x.toString
  }

  private def lines(df: DataFrame): Seq[String] =
    df.collect().map(r => r.toSeq.map(cell).mkString("\t")).sorted.toSeq

  private def rows(spark: SparkSession, outDir: String): Unit = {
    val tmp = Files.createTempDirectory("r15-plain-segments").toString
    Files.createDirectories(Paths.get(outDir))
    for ((shape, idx) <- shapes(spark, tmp)) {
      val tables = Seq(
        "postings" -> lines(idx.postings), "dictionary" -> lines(idx.dictionary),
        "doclens" -> lines(idx.doclens), "stats" -> Seq(idx.stats.toString),
        "segments" -> lines(idx.segments)) ++
        Option(idx.fieldExtents).map(fx => "fields" -> lines(fx))
      for ((table, ls) <- tables) {
        val body = ls.mkString("", "\n", "\n").getBytes(UTF_8)
        Files.write(Paths.get(outDir, s"$shape.$table.txt"), body)
        val sha = java.security.MessageDigest.getInstance("SHA-256").digest(body)
          .take(8).map("%02x".format(_)).mkString
        println(f"$shape%-22s $table%-10s rows ${ls.size}%8d  sha256 $sha")
      }
    }
    rmTree(Paths.get(tmp))
  }

  private def rmTree(p: java.nio.file.Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(q => Files.deleteIfExists(q))
    finally walk.close()
  }

  private def summary(t: JobTally): String =
    s"jobs ${t.jobs.size}, stages run ${t.jobs.map(_.stagesRun).sum}, " +
      s"shuffle read ${t.jobs.map(_.shuffleReadBytes).sum} B, " +
      s"shuffle write ${t.jobs.map(_.shuffleWriteBytes).sum} B, SQL executions ${t.sqlExecutions}"

  private def tally(spark: SparkSession): Unit = {
    // the synthesized corpus is a local relation: reading it runs no job
    for (rep <- 1 to 3) {
      val dir = Files.createTempDirectory("r15-tally").toString
      val (_, t) = JobTally.of(spark) {
        SegmentStore.writeAll(IndexBuilder.buildFromCorpus(corpus(spark), cfg), dir, cfg)
      }
      val (_, to) = JobTally.of(spark)(SegmentStore.open(spark, dir))
      rmTree(Paths.get(dir))
      println(s"rep $rep: build + write: ${summary(t)}")
      println(s"rep $rep: open:          ${summary(to)}")
      spark.catalog.clearCache()
    }
  }

  private def files(spark: SparkSession): Unit = {
    val dir = Files.createTempDirectory("r15-files").toString
    SegmentStore.writeAll(IndexBuilder.buildFromCorpus(corpus(spark), cfg), dir, cfg)
    val st = SegmentStore.open(spark, dir)
    val perFile = st.segments.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("blocks"), sort_array(collect_set(col("bucket"))).as("buckets"))
      .collect().map(r => Paths.get(new java.net.URI(r.getString(0))).getFileName.toString ->
        (r.getLong(1), r.getSeq[Int](2)))
      .toMap
    val ls = Files.list(Paths.get(dir, "segments"))
    val entries = try ls.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally ls.close()
    for (p <- entries) {
      val name = p.getFileName.toString
      val (blocks, buckets) = perFile.getOrElse(name, (0L, Seq.empty[Int]))
      println(f"${Files.size(p)}%9d B  ${if (perFile.contains(name)) f"$blocks%6d blocks  buckets ${buckets.mkString("{", ",", "}")}" else "-"}%-40s $name")
    }
    def treeBytes(p: java.nio.file.Path): Long = {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally walk.close()
    }
    println(s"segments: ${perFile.size} data files, ${treeBytes(Paths.get(dir, "segments"))} B; " +
      s"whole store ${treeBytes(Paths.get(dir))} B; numBuckets ${st.numBuckets}; " +
      s"scan partitions ${st.segments.rdd.getNumPartitions}")
    rmTree(Paths.get(dir))
  }
}
