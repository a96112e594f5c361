package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PageRank over a link table — the harvestlinks/pagerank auxiliary
  * (reference: src/PageRank.cpp:103-117 accumulate srcPR/outDegree then
  * dampen `pr = c·pr + (1−c)/N`; defaults c=0.7, maxIters=10,
  * include/indri/PageRank.hpp:134; missing sources contribute the
  * initial (1−c)/N, PageRank.cpp:76-83).
  *
  * Dangling mass is dropped exactly like the reference (only docs with
  * out-links redistribute score). Fully DataFrame-iterative: each
  * iteration is one join+agg; ranks stay distributed.
  */
object PageRank {

  /** @param edges (src, dst) distinct link table
    * @param nodes one-column node universe (defines N and the output rows)
    */
  def compute(nodes: DataFrame, edges: DataFrame, c: Double = 0.7,
              iterations: Int = 10): DataFrame = {
    // Loop shape: truncation cadence 5 = 2 eager materializations per
    // 10-iteration run (i=5,10), SHUFFLED_HASH loop joins, scale-adaptive
    // loop partitioning — the combination measured fastest
    // (bench/r6_pagerank_profile.json, 5 reps: 200k nodes 1.49s vs
    // 2.10s fixed-partitions, 2.31s cadence 4, 4.02s un-hinted; 20
    // nodes 0.53s vs 0.86s; the earlier cadence lab
    // bench/r6_pagerank_lab2.json showed 5.0s at cadence 1 and 9.1s for
    // a single 10-deep plan): every-iteration eager checkpoints pay job
    // overhead 10×, while very deep chains plan superlinearly.
    // Semantics are cadence-invariant.
    val ckptEvery = 5
    // Both per-iteration joins are pinned to SHUFFLED_HASH (guide §3.1 —
    // pick the strategy deliberately): both join inputs are
    // hash-partitioned on the join key already (the loop-invariant caches
    // by construction, the contribution aggregate by its own groupBy), so
    // a shuffled-hash join plans with ZERO exchanges — whereas the
    // size-based default turns each into a BroadcastHashJoin at fixture
    // scale, i.e. a driver collect + broadcast of the ranks frame EVERY
    // iteration (10-20 driver round-trips per compute). At 100-TB scale
    // the ranks side never fits a broadcast anyway, so the hint changes
    // nothing there; it only stops small graphs from paying the
    // driver-bounce tax. Join semantics are strategy-invariant.
    val spark = nodes.sparkSession
    val node = nodes.columns.head
    // scale-ADAPTIVE loop parallelism (guide §2.2): ~20k nodes per
    // shuffle partition, never above the session's configured shuffle
    // partitions — at web scale the session setting governs; a small
    // graph stops paying ~20 stages of near-empty task scheduling. The
    // node count is read first (one cheap input scan) because the
    // loop-invariant caches must be BUILT at the loop's partitioning.
    val n = nodes.count().toDouble
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1, math.min(sessionParts, math.ceil(n / 20000.0).toInt))
    val base = (1.0 - c) / n
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(outDeg, "src")
    // both loop-invariant caches persist ALREADY PARTITIONED by their
    // join keys: a cached DataFrame keeps its outputPartitioning, so
    // every iteration's joins against them plan with NO exchange on the
    // cached side (guide §2.4 — two operations keyed the same way share
    // one exchange). Only the contribution groupBy (the actual pagerank
    // shuffle) and one re-hash of checkpointed ranks remain per round.
    val eCached = e.repartition(loopParts, col("src")).persist()
    // the output id universe is CONSTANT across iterations — joining the
    // next round's contributions against this cached frame (instead of
    // pr.select("id")) means each iteration's plan references the
    // previous pr exactly ONCE. With pr referenced twice per round, the
    // un-checkpointed plan tree doubled per iteration (Catalyst plans are
    // trees, not DAGs) — which is why the old code had to pay an eager
    // localCheckpoint every single iteration.
    val ids = nodes.select(col(node).as("id")).repartition(loopParts, col("id")).persist()
    // materialize BOTH caches before the loop compiles its first
    // checkpoint segment: an AQE-wrapped cached plan reports
    // UnknownPartitioning until its first materialization FINALIZES it,
    // so an unmaterialized cache would get an ENSURE_REQUIREMENTS
    // re-exchange in EVERY iteration of the first segment (measured in
    // the executed plans of the r6 pagerank profile)
    ids.count()
    eCached.count()
    // the per-iteration groupBy plans at the session shuffle-partition
    // count — align it with the loop partitioning for the duration of
    // the loop (every action in scope is the loop's own checkpoints),
    // restore unconditionally after
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (loopParts != sessionParts)
      spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    var pr = ids.select(col("id"), lit(base).as("pr"))
    try {
      for (i <- 1 to iterations) {
        // LEFT join: a source outside the node universe still contributes —
        // the reference's _readPageRankFromFile returns the initial
        // (1−c)/N for a doc absent from the pr file (PageRank.cpp:76-83),
        // so its links carry base/outdeg every iteration
        val contrib = eCached.join(pr.hint("shuffle_hash"), eCached("src") === pr("id"), "left")
          .select(col("dst").as("id"),
            (coalesce(col("pr"), lit(base)) / col("outdeg")).as("w"))
          .groupBy("id").agg(sum("w").as("acc"))
        pr = ids.join(contrib.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), (lit(c) * coalesce(col("acc"), lit(0.0)) + base).as("pr"))
        // truncate lineage every few iterations (linear chained join plans
        // still grow optimizer time) — but NOT every one: an eager
        // localCheckpoint is a full job + block materialization, and paying
        // it 10× made the checkpoint, not the rank math, the dominant cost
        // (round-5 verdict). The final iteration always checkpoints so the
        // returned ranks reference neither cache unpersisted below.
        if (i % ckptEvery == 0 || i == iterations) pr = pr.localCheckpoint(true)
      }
    } finally {
      if (loopParts != sessionParts)
        spark.conf.set("spark.sql.shuffle.partitions", oldParts)
    }
    // the final ranks are an eager localCheckpoint — they no longer
    // reference the edge/id caches, so release both before returning
    eCached.unpersist(false)
    ids.unpersist(false)
    pr
  }

  /** log-probability per integer rank 1..10 — the pagerank application's
    * prior table (reference: src/PageRank.cpp:25-36 `_intToProb`; index 0
    * aliases index 1 and is unreachable here because ranks floor at 1).
    */
  val IntToProb: Array[Double] = Array(
    2.21916e-10, 2.21916e-10, 5.61952e-10, 1.94786e-9, 3.62742e-9,
    1.00745e-8, 1.97616e-8, 3.46944e-8, 4.39146e-8, 1.74226e-7,
    2.28983e-7).map(math.log)

  /** Integer page ranks 1..maxPr from raw scores — "Metzler's
    * rawToInt.pl" (reference: src/PageRank.cpp:276-301 `_raw2int`):
    * scores sort descending, B = (N+1)^(1/maxPr), the top int(B−1) docs
    * take rank maxPr, the next ceil(B·prev) take maxPr−1, …, rank 1
    * absorbs the tail. Two defined deviations from the reference:
    * the first bin clamps to ≥1 (the reference leaves int_val
    * UNINITIALIZED when int(B−1)==0, i.e. for corpora under 2^maxPr−1
    * docs — undefined behavior we replace with the smallest defined
    * bin), and ties order by (rounded score desc, id asc) (the
    * reference's std::sort on equal floats is unspecified).
    *
    * The binning needs a total order over scores (the reference sorts
    * the whole corpus too), but NOT a single-reducer sort: the global
    * row number comes from a range-partitioned sort plus per-partition
    * row-count offsets — the same distributed zipWithIndex shape as
    * `IndexBuilder.assignDocIdsScalable`. No single-partition Exchange
    * anywhere in the plan (pinned by PlanAuditSpec).
    */
  def toIntRanks(scores: DataFrame, maxPr: Int = 10): DataFrame = {
    val (out, cache) = toIntRanksPlan(scores, maxPr)
    // eager checkpoint so the range-partitioned cache (whose sampled
    // boundaries the offsets depend on) can release before returning
    val res = out.localCheckpoint(true)
    cache.unpersist(false)
    res
  }

  /** The lazy plan behind [[toIntRanks]] plus the range-partitioned
    * cache it pins (the offset pass and the numbering pass must see the
    * SAME sampled partition boundaries). Exposed for plan audits.
    */
  private[graft] def toIntRanksPlan(scores: DataFrame,
                                    maxPr: Int = 10): (DataFrame, DataFrame) = {
    val idCol = scores.columns(0)
    val prCol = scores.columns(1)
    val sortKeys = Seq(round(col(prCol), 6).desc, col(idCol).asc)
    val (numbered, ranged, n) = globalRowNumber(scores, sortKeys)
    val rankCol = rankFromBounds(col("__rn"), binBounds(n, maxPr))
    (numbered.select(col(idCol), col(prCol), rankCol.as("rank")), ranged)
  }

  /** Distributed global row number (1-based) of `df` under a total order
    * `sortKeys` — delegates to the ONE shared zipWithIndex implementation
    * ([[graft.index.IndexBuilder.globalRowNumber]], the same shape docId
    * assignment uses). Returns (df + `__pid`/`__rn` columns, the pinned
    * range-partitioned cache — unpersist once consumed, observed row
    * count).
    */
  private[graft] def globalRowNumber(df: DataFrame, sortKeys: Seq[org.apache.spark.sql.Column])
      : (DataFrame, DataFrame, Long) =
    graft.index.IndexBuilder.globalRowNumber(df, sortKeys)

  /** (cumulative upper bound, rank) pairs of the _raw2int geometric
    * bins for a collection of `n` docs: B = (n+1)^(1/maxPr), top
    * int(B−1) docs rank maxPr, next ceil(B·prev) rank maxPr−1, …;
    * rank 1 absorbs the tail (no bound).
    */
  private[graft] def binBounds(n: Double, maxPr: Int): Seq[(Long, Int)] = {
    val b0 = math.pow(n + 1.0, 1.0 / maxPr)
    var binSize = math.max(1L, (b0 - 1.0).toLong)
    val bounds = Seq.newBuilder[(Long, Int)]
    var cum = 0L
    var r = maxPr
    while (r >= 2) {
      cum += binSize
      bounds += ((cum, r))
      binSize = math.ceil(b0 * binSize).toLong
      r -= 1
    }
    bounds.result()
  }

  /** Fold a global row number into its integer rank via [[binBounds]]. */
  private[graft] def rankFromBounds(rn: org.apache.spark.sql.Column,
                                    bs: Seq[(Long, Int)]): org.apache.spark.sql.Column =
    if (bs.isEmpty) lit(1)
    else bs.tail.foldLeft(when(rn <= bs.head._1, bs.head._2)) {
      case (acc, (up, rk)) => acc.when(rn <= up, rk)
    }.otherwise(1)
}
