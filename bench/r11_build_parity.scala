// Build-parity program behind bench/r11_build_parity.txt. Not part of the
// sbt build: compile it together with src/main/scala of the commit under
// test and the two test-side helpers it uses (JobTally, ListenerDrain),
// with the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') \
//     src/test/scala/graft/JobTally.scala src/test/scala/org/apache/spark/graft/ListenerDrain.scala \
//     bench/r11_build_parity.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP BuildParity rows <out dir>
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP BuildParity tally
// `rows` writes every table of five build shapes as canonical text, one
// file per (shape, table) (diff the directories of two commits) and prints
// a row count and a sha256 per file; `tally` prints the jobs, stages and
// shuffle bytes of a fieldless buildFromCorpus + SegmentStore.writeAll;
// `buckets` prints the blocks per resident block-map partition of a
// perfbench-shaped stored index (serve's 4,000 docs, numBuckets = 8).
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.JobTally
import graft.corpus.CorpusSynthesizer
import graft.index.{FieldAnnotators, FieldSpec, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.streaming.IncrementalIndexer

object BuildParity {
  // perfbench's build workload: corpus size and IndexConfig
  private val docs = 2000
  private val cfg = IndexConfig(analyzerMode = "indri", blockSize = 1024, numBuckets = 8)
  // small blocks for the fielded, annotated and incremental shapes, so a
  // term's postings span many blocks and buckets
  private val small = IndexConfig(analyzerMode = "indri", blockSize = 32, numBuckets = 8)

  def main(args: Array[String]): Unit = {
    // `buckets` runs as perfbench does on a 4-core host: local[nproc]
    val cores = if (args.headOption.contains("buckets")) 4 else 2
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", outDir) => rows(spark, outDir)
      case Array("tally") => tally(spark)
      case Array("buckets") => buckets(spark)
      case _ => sys.error("usage: BuildParity rows <out dir> | tally | buckets")
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
    Seq("fieldless" -> fieldless, "fielded" -> fielded, "annotated" -> annotated,
      "incremental" -> genRows, "incremental-compacted" -> IncrementalIndexer.open(spark, gdir, small))
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
    val tmp = Files.createTempDirectory("r11-build-parity").toString
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

  private def buckets(spark: SparkSession): Unit = {
    val dir = Files.createTempDirectory("r11-buckets").toString
    SegmentStore.writeAll(IndexBuilder.buildFromCorpus(
      CorpusSynthesizer.corpus(spark, 4000, 1L), cfg), dir, cfg)
    val st = SegmentStore.open(spark, dir)
    val idx = InvertedIndex(null, st.dictionary, st.doclens, st.stats, st.segments,
      numBuckets = st.numBuckets, segmentsBucketed = true)
    // which bucket values each bucket file holds, and each partition of
    // the segment scan the block maps are built from
    val files = st.segments.select(input_file_name(), col("bucket")).distinct().collect()
      .groupBy(r => "_(\\d{5})".r.findFirstMatchIn(r.getString(0)).map(_.group(1).toInt).getOrElse(-1))
      .map { case (f, rs) => f -> rs.map(_.getInt(1)).sorted }
    for (f <- 0 until st.numBuckets)
      println(s"bucket file $f: bucket values ${files.getOrElse(f, Array.empty[Int]).mkString("{", ",", "}")}")
    println("segment scan: " + st.segments.queryExecution.executedPlan.collectLeaves()
      .map(_.simpleString(200)).mkString("; "))
    val held = st.segments.select("bucket").rdd
      .mapPartitionsWithIndex((p, rs) => rs.map(r => p -> r.getInt(0)))
      .distinct().collect().groupBy(_._1).map { case (p, bs) => p -> bs.map(_._2).sorted }
    val blocks = idx.blockMaps.mapPartitionsWithIndex((p, ms) =>
      Iterator(p -> ms.map(_.valuesIterator.map(_.length).sum).sum)).collect()
    val total = blocks.map(_._2).sum
    for ((p, n) <- blocks.sortBy(_._1))
      println(f"block-map partition $p: bucket values ${held.getOrElse(p, Array.empty[Int]).mkString("{", ",", "}")}%-15s" +
        f" blocks $n%6d (${100.0 * n / total}%.1f%%)")
    println(s"total blocks $total in ${blocks.length} partitions, " +
      s"${blocks.count(_._2 > 0)} non-empty")
    rmTree(Paths.get(dir))
  }

  private def tally(spark: SparkSession): Unit = {
    // the synthesized corpus is a local relation: reading it runs no job
    for (rep <- 1 to 3) {
      val dir = Files.createTempDirectory("r11-tally").toString
      val (_, t) = JobTally.of(spark) {
        SegmentStore.writeAll(IndexBuilder.buildFromCorpus(corpus(spark), cfg), dir, cfg)
      }
      rmTree(Paths.get(dir))
      println(s"rep $rep: jobs ${t.jobs.size}, stages run ${t.jobs.map(_.stagesRun).sum}, " +
        s"shuffle read ${t.jobs.map(_.shuffleReadBytes).sum} B, " +
        s"shuffle write ${t.jobs.map(_.shuffleWriteBytes).sum} B, SQL executions ${t.sqlExecutions}")
      spark.catalog.clearCache()
    }
  }
}
