// Extent-kernel parity program behind bench/r10_extent_parity.txt. Not part
// of the sbt build: compile it together with src/main/scala of the commit
// under test, using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') bench/r10_extent_parity.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP ExtentParity rows <sf dir> <rows file>
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP ExtentParity walls <sf dir>
// `rows` dumps the raw-bit (docId, begin, end, score) rows of
// runExtentQuery for every query string, rule, k and index shape (diff the
// rows files of two commits); `walls` prints the warm walls of SparkEntry's
// q_weight_extent and q_passage.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.index.{FieldAnnotators, IndexBuilder, IndexConfig, InvertedIndex, SegmentStore}
import graft.search.{Engine, ScoringRule}

object ExtentParity {
  // every runExtentQuery string of SparkEntry and the specs
  private val sparkEntry = Seq(
    "#weight[head](0.7 data 0.3 merge)",  // q_weight_extent
    "#combine[passage10:5](data merge)")  // q_passage
  private val wandProperty = Seq(
    "#combine[head](return license)", "#weight[head](0.7 return 0.3 license)",
    "#or[head](return license)", "#max[head](return license)",
    "#sum[head](return license)", "#wsum[head](2.0 return 1.0 license)",
    "#not[head](return)", "#combine[head](zzznotaword return)",
    "#combine[passage8:4](return license)", "#weight[passage8:4](0.6 val 0.4 import)",
    "#combine[head](zzznotaword qqqalsonotaword)", "#combine[head](return)",
    "#combine[passage8:4](return)")
  private val federation = Seq("#combine[sec](alpha beta)",
    "#weight[par](0.7 beta 0.3 gamma)", "#combine[passage4:2](alpha delta)")
  private val fieldOps = Seq("#combine[title](merge sort)",
    "#combine[passage4:2](merge)")
  private val grammar = Seq("#or[sec](qax qbx)", "#max[sec](qax qbx)",
    "#sum[sec](qax qbx)", "#wsum[sec](2 qax 1 qbx)", "#not[sec](qax)",
    "#weight[sec](0.7 qax 0.3 qbx)")
  // the restricted ops again over terms this corpus holds, on every field
  private val local = for {
    f <- Seq("head", "lead", "title", "sec", "par", "passage8:4", "passage3:1")
    q <- Seq(s"#combine[$f](data merge query)", s"#weight[$f](0.7 data 0.3 merge)",
             s"#or[$f](data merge)", s"#max[$f](data merge)", s"#sum[$f](data merge)",
             s"#wsum[$f](2.0 data 1.0 merge)", s"#not[$f](data)",
             s"#combine[$f](zzznotaword data)")
  } yield q
  private val queries =
    (sparkEntry ++ wandProperty ++ federation ++ fieldOps ++ grammar ++ local).distinct
  private val rules = Seq("method:dirichlet", "method:jm,collectionLambda:0.4",
    "method:two,mu:2500,lambda:0.4")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", sfDir, outFile) => rows(spark, sfDir, outFile)
      case Array("walls", sfDir) => walls(spark, sfDir)
      case _ => sys.error("usage: ExtentParity rows <sf dir> <rows file> | walls <sf dir>")
    }
    spark.stop()
  }

  private val cfg = IndexConfig(analyzerMode = "simple", blockSize = 32, numBuckets = 8)

  /** the sf corpus with SparkEntry's head/lead fields plus the field
    * names the specs query (title, sec, par) as head fields of other widths
    */
  private def fielded(spark: SparkSession, sfDir: String): InvertedIndex =
    IndexBuilder.build(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docId"), col("text").as("content")), cfg,
      annotate = df => FieldAnnotators.headField(20, "par")(
        FieldAnnotators.headField(6, "sec")(FieldAnnotators.headField(3, "title")(
          FieldAnnotators.nestedHeadField(4)(FieldAnnotators.headField(10)(df))))))

  private def rows(spark: SparkSession, sfDir: String, outFile: String): Unit = {
    val mem = fielded(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("r10-extent-parity").toString
    SegmentStore.writeAll(mem, dir, cfg)
    val st = SegmentStore.open(spark, dir)
    val stored = InvertedIndex(null, st.dictionary, st.doclens, st.stats, st.segments,
      st.fieldExtents, numBuckets = st.numBuckets, segmentsBucketed = true)
    val out = new StringBuilder
    for (rule <- rules;
         (shape, index, deletes) <- Seq(("memory", mem, false), ("stored", stored, false),
                                        ("memory-del5", mem, true))) {
      val eng = new Engine(spark, index, cfg.analyzer, ScoringRule.parse(rule))
      if (deletes) {
        import spark.implicits._
        eng.deleteDocuments((1L to 20000L).filter(_ % 5 == 0).toDF("docId"))
      }
      for (k <- Seq(10, 1000); q <- queries) {
        val rs = eng.runExtentQuery(q, k).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        out.append(s"## $rule\t$shape\tk=$k\t$q\trows=${rs.length}\n")
        rs.foreach { case (d, b, e, s) =>
          out.append(s"$d\t$b\t$e\t${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(s))}\n")
        }
      }
      System.err.println(s"[parity] $rule $shape done")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), out.toString)
  }

  private def walls(spark: SparkSession, sfDir: String): Unit = {
    val entry = graft.SparkEntry
    def engineOf(name: String): Engine = {
      val m = entry.getClass.getDeclaredMethod(name, classOf[SparkSession], classOf[String])
      m.setAccessible(true)
      m.invoke(entry, spark, sfDir).asInstanceOf[Engine]
    }
    // the index builds of SparkEntry's q_weight_extent and q_passage
    val fieldEng = engineOf("fieldEngine")
    fieldEng.setScoringRules("method:dirichlet")
    val passageEng = engineOf("engine")
    passageEng.setScoringRules("method:dirichlet")
    for ((name, eng, q, k) <- Seq(
        ("q_weight_extent", fieldEng, sparkEntry(0), 20),
        ("q_passage", passageEng, sparkEntry(1), 1000000))) {
      def run(): Array[org.apache.spark.sql.Row] = eng.runExtentQuery(q, k).collect()
      run(); run() // untimed: warm the index caches and the JIT
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[walls] $name%-16s median5=${ms(2)}%.0f ms min=${ms.head}%.0f max=${ms.last}%.0f")
    }
  }
}
