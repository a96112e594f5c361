// NEXI CAS parity program behind bench/r7_nexi_parity.txt. Not part of the
// sbt build: compile it together with src/main/scala of the commit under
// test, using the Scala compiler in Spark's jars directory, e.g.
//   J=$SPARK_HOME/jars; CP=$(ls $J/*.jar | tr '\n' ':')
//   java -cp $J/scala-compiler-2.13.17.jar:$J/scala-library-2.13.17.jar:$J/scala-reflect-2.13.17.jar \
//     scala.tools.nsc.Main -d out -cp "$CP" $(find src/main/scala -name '*.scala') bench/r7_nexi_parity.scala
//   java <the --add-opens flags of build.sbt> -cp out:src/main/resources:$CP NexiParity <sf dir> <rows file>
// and diff the rows files of the two commits. It reads the q_nexi_* field
// fixtures through SparkEntry's private engine builders (reflection), so
// the rows come from the very indexes those queries score.
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.search.Engine

/** Dumps the unrounded (docId, begin, end, score) rows of every
  * NEXI CAS query string of the SparkEntry surface, scores as raw IEEE bits. */
object NexiParity {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val entry = graft.SparkEntry
    def eng(name: String): Engine = {
      val m = entry.getClass.getDeclaredMethod(name, classOf[SparkSession], classOf[String])
      m.setAccessible(true)
      val e = m.invoke(entry, spark, sfDir).asInstanceOf[Engine]
      e.setScoringRules("method:dirichlet")
      e
    }
    val ws = Some((0L to 120L).toDF("docId"))
    val qs: Seq[(String, String, String, Option[DataFrame])] = Seq(
      ("q_nexi", "fieldEngine", "//head[about(., data merge)]", None),
      ("q_nexi_ws", "fieldEngine", "//head[about(., data merge)]", ws),
      ("q_inex", "fieldEngine", "//lead[about(., data)]", None),
      ("q_nexi_num", "fieldEngine", "//head[about(., data) and .//nchars < 300]", None),
      ("q_nexi_phrase", "fieldEngine", "//head[about(., \"data merge\" window)]", None),
      ("q_nexi_not", "fieldEngine", "//head[about(., data -slow)]", None),
      ("q_nexi_rel", "fieldEngine", "//head[about(.//lead, query)]", None),
      ("q_nexi_rel_bool", "fieldEngine", "//head[about(.//lead, query) and about(., data)]", None),
      ("q_nexi_mixed", "fieldEngine", "//head[about(.//lead, query) and .//nchars < 300]", None),
      ("q_nexi_tree", "fieldEngine", "//head[(about(.//lead, query) or .//nchars < 300) and about(., data)]", None),
      ("q_nexi_nested", "fieldEngine", "//head[about(., data merge)]//lead[about(., query)]", None),
      ("q_nexi_nested_mixed", "fieldEngine", "//head[about(., data) and .//nchars < 300]//lead[about(., query)]", None),
      ("q_nexi_paren", "fieldEngine", "//head[(about(., data) or about(., merge)) and about(., query)]", None),
      ("q_nexi_deep", "deepFieldEngine", "//head//lead//kick[about(., data)]", None),
      ("q_nexi_bool", "fieldEngine", "//head[about(., data merge) and about(., query)]", None),
      ("q_nexi_or", "fieldEngine", "//head[about(., data merge) or about(., query)]", None),
      // shapes no oracle covers: multi-group plain clauses at both levels
      ("x_nested_multi", "fieldEngine", "//head[about(., data) or about(., query)]//lead[about(., merge) and about(., query)]", None),
      ("x_rel_or", "fieldEngine", "//head[about(.//lead, query) or about(., data)]", None),
      ("x_tree_plain", "fieldEngine", "//head[(about(., data) and about(., merge)) or about(., -query)]", None)
    )
    val out = new StringBuilder
    qs.foreach { case (name, which, q, w) =>
      val e = eng(which)
      def run() = e.runNexi(q, 1000000, w)
        .select(col("docId"), col("begin"), col("end"), col("score"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .sortBy(r => (r._1, r._2, r._3, r._4))
      val rows = run() // untimed: warms the index caches and the JIT
      val walls = (1 to 7).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e6
      }.sorted
      System.err.println(f"[parity] $name%-20s rows=${rows.length}%6d wall_ms_median7=${walls(3)}%.0f min=${walls(0)}%.0f max=${walls(6)}%.0f")
      out.append(s"## $name\t$q\trows=${rows.length}\n")
      rows.foreach { case (d, b, en, s) =>
        out.append(s"$d\t$b\t$en\t${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(s))}\t$s\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), out.toString)
    spark.stop()
  }
}
