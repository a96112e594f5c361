package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.search.TermStats

/** A term → (ctf, df, minDocLen) table held on the driver: the terms
  * sorted, with parallel primitive arrays of their stats, searched by
  * binary search — no stats object per term. The stats are the dictionary's,
  * so they count deleted docs like the reference's lexicon until a
  * compaction rewrites it (reference: ContextSimpleCountAccumulator,
  * src/ContextSimpleCountAccumulator.cpp).
  */
final class Vocabulary private (terms: Array[String], ctf: Array[Long],
                                df: Array[Long], minDl: Array[Int]) {
  /** the stats of every term of `ts` the index holds; a term it lacks is
    * absent
    */
  def statsFor(ts: Seq[String]): Map[String, TermStats] = ts.iterator.flatMap { t =>
    val i = if (t == null) -1 else java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t)
    if (i >= 0) Some(t -> TermStats(ctf(i), df(i), minDl(i))) else None
  }.toMap
}

object Vocabulary {
  /** one collect of `dictionary`'s (term, ctf, df, minDocLen), sorted on
    * the driver (String order, the order binary search probes in)
    */
  def load(dictionary: DataFrame): Vocabulary = {
    val rows = dictionary.select(col("term"), col("ctf").cast(LongType),
      col("df").cast(LongType), col("minDocLen").cast(IntegerType)).collect()
    val order = rows.indices.toArray.sortBy(rows(_).getString(0))
    new Vocabulary(order.map(rows(_).getString(0)), order.map(rows(_).getLong(1)),
      order.map(rows(_).getLong(2)), order.map(rows(_).getInt(3)))
  }
}
