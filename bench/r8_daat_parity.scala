// DAAT parity program behind bench/r8_daat_parity.txt. Not part of the sbt
// build: compile it together with src/main/scala of the commit under test,
// using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') bench/r8_daat_parity.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP DaatParity rows <rows file>
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP DaatParity walls <sf dir>
// `rows` dumps the raw-bit (docId, score) rows of runQuery for every query,
// rule, k and topdocs setting (diff the rows files of two commits); `walls`
// prints the warm walls of SparkEntry's window queries on its
// topdocs-carrying index.
// It sets InvertedIndex.topdocs, which was deleted after f056baa, so it
// compiles only against its own commits; bench/r16_topdocs.scala carries
// its grid to later ones.
import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, Reformulate, ScoringRule}

object DaatParity {
  // WandPropertySpec's flat and structured query lists
  private val flat = Seq(
    "return", "#combine(return license)", "#combine(class def val import)",
    "#combine(return return class)", "#weight(0.7 return 0.3 license)",
    "#weight(3.0 val 1.0 static 2.0 import)", "#combine(zzznotaword return)",
    "#combine(uniq1x5 return)", "#combine(return #combine(license class))")
  private val structured = Seq(
    Reformulate.sdm(Seq("return", "license", "class")),
    Reformulate.fdm(Seq("val", "import", "static")),
    "#combine(#od1(return license) #uw4(class def))",
    "#weight(0.6 #combine(return class) 0.2 #combine(#od2(return class)) 0.2 #combine(#uw8(return class)))",
    "#weight(0.8 #combine(return zzznotaword) 0.2 #combine(#od1(return zzznotaword)))",
    "#combine(#od1(return return) val)",
    "#uw12(return license class)")
  private val rules = Seq("method:okapi", "method:tfidf", "method:dirichlet",
    "method:jm,collectionLambda:0.4", "method:two,mu:2500,lambda:0.4")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args match {
      case Array("rows", outFile) => rows(spark, outFile)
      case Array("walls", sfDir) => walls(spark, sfDir)
      case _ => sys.error("usage: DaatParity rows <rows file> | walls <sf dir>")
    }
    spark.stop()
  }

  private def rows(spark: SparkSession, outFile: String): Unit = {
    // small blocks and 8 buckets give the skip logic real work
    val cfg = IndexConfig(blockSize = 64, numBuckets = 8,
      topdocsMinDf = 20L, topdocsFraction = 0.05)
    val idx = IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 2000, seed = 7L), cfg)
    val withTopdocs = idx.copy(topdocs = IndexBuilder.buildTopdocs(idx.postings, cfg).cache())
    val queries = (CorpusSynthesizer.querySet.map(_._2) ++ flat ++ structured).distinct
    val out = new StringBuilder
    for (rule <- rules; (tdName, index) <- Seq("plain" -> idx, "topdocs" -> withTopdocs)) {
      val eng = new Engine(spark, index, cfg.analyzer, ScoringRule.parse(rule))
      for (k <- Seq(10, 1000); q <- queries) {
        val rs = eng.runQuery(q, k).collect().map(r => (r.getLong(0), r.getDouble(1)))
        out.append(s"## $rule\t$tdName\tk=$k\t$q\trows=${rs.length}\n")
        rs.foreach { case (d, s) =>
          out.append(s"$d\t${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(s))}\n")
        }
      }
      System.err.println(s"[parity] $rule $tdName done")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), out.toString)
  }

  private def walls(spark: SparkSession, sfDir: String): Unit = {
    val entry = graft.SparkEntry
    val m = entry.getClass.getDeclaredMethod("engine", classOf[SparkSession], classOf[String])
    m.setAccessible(true)
    val eng = m.invoke(entry, spark, sfDir).asInstanceOf[Engine]
    // q_twostage_window and q_jm_doclambda
    for ((name, rule, q) <- Seq(
        ("q_twostage_window", "method:two,mu:2500,lambda:0.4", "#combine(#uw8(data merge) query)"),
        ("q_jm_doclambda", "method:jm,collectionLambda:0.3,documentLambda:0.2", "#uw8(data merge)"))) {
      eng.setScoringRules(rule)
      def run() = eng.runQuery(q, 20).collect()
      run(); run() // untimed: warm the index caches and the JIT
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e6
      }.sorted
      println(f"[walls] $name%-18s median5=${ms(2)}%.0f ms min=${ms.head}%.0f max=${ms.last}%.0f")
    }
  }
}
