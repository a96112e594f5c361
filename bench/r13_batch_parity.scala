// Batch parity program behind bench/r13_batch_parity.txt. Not part of the
// sbt build: compile it together with src/main/scala of the commit under
// test, using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') bench/r13_batch_parity.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP BatchParity <rows file>
// It dumps the raw-bit (docId, score) rows of Engine.runQueries over
// bench/r8_daat_parity.scala's flat + structured query lists, run as ONE
// batch, for every rule, k and delete setting (diff the rows files of two
// commits).
import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, Reformulate, ScoringRule}

object BatchParity {
  // bench/r8_daat_parity.scala's flat and structured lists
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
    val outFile = args match {
      case Array(f) => f
      case _ => sys.error("usage: BatchParity <rows file>")
    }
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // r8's index without topdocs: small blocks and 8 buckets
    val cfg = IndexConfig(blockSize = 64, numBuckets = 8)
    val idx = IndexBuilder.buildFromCorpus(CorpusSynthesizer.corpus(spark, 2000, seed = 7L), cfg)
    val queries = (flat ++ structured).distinct
    // the 2 pending deletes: the best two docs of a window query, so the
    // deletes move both the window counts and the rankings
    val deleted = new Engine(spark, idx, cfg.analyzer, ScoringRule.parse("method:dirichlet"))
      .runQuery("#od1(return license)", 2).collect().map(_.getLong(0)).toSeq
    require(deleted.size == 2, s"expected 2 docs to delete, got $deleted")
    val out = new StringBuilder
    out.append(s"# deleted: ${deleted.mkString(",")}\n")
    for (rule <- rules; dels <- Seq(Nil, deleted)) {
      val eng = new Engine(spark, idx, cfg.analyzer, ScoringRule.parse(rule))
      if (dels.nonEmpty) eng.deleteDocuments(dels.toDF("docId"))
      val tag = if (dels.isEmpty) "none" else "del2"
      for (k <- Seq(10, 1000); (q, df) <- eng.runQueries(queries, k)) {
        val rs = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        out.append(s"## $rule\t$tag\tk=$k\t$q\trows=${rs.length}\n")
        rs.foreach { case (d, s) =>
          out.append(s"$d\t${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(s))}\n")
        }
      }
      System.err.println(s"[parity] $rule $tag done")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), out.toString)
    spark.stop()
  }
}
