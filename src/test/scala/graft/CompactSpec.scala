package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig}
import graft.search.{Engine, ScoringRule}

/** Delete-compaction (reference: Repository trim / IndexWriter merge-time
  * deleted-document skipping): compacting pending deletes must equal a
  * fresh build over the surviving corpus — same stats, same scores —
  * and clear the delete list so queries take the kernel path freely.
  */
class CompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = IndexConfig(blockSize = 32, numBuckets = 4)
  private lazy val docsDf = {
    val corpus = CorpusSynthesizer.corpus(spark, 300, seed = 5L)
    IndexBuilder.assignDocIdsScalable(corpus, Seq("repo", "path", "commit"))
      .select("docId", "content").cache()
  }

  test("compactDeletes == fresh build over the surviving corpus (bit-exact scores)") {
    val deleted = (1L to 300L).filter(_ % 5 == 0)
    val idx = IndexBuilder.build(docsDf, cfg)
    val engine = new Engine(spark, idx, Analyzer(), ScoringRule(method = "okapi"))
    engine.deleteDocuments(deleted.toDF("docId"))
    val compacted = engine.compacted(cfg)

    // ground truth: build over the surviving docs only (same docIds —
    // compaction keeps ids stable, like the reference's trim)
    val surviving = docsDf.where(!col("docId").isin(deleted: _*))
    val freshIdx = IndexBuilder.build(surviving, cfg)
    val fresh = new Engine(spark, freshIdx, Analyzer(), ScoringRule(method = "okapi"))

    assert(compacted.index.stats == freshIdx.stats)
    for (q <- Seq("return", "#combine(return license)", "#combine(class def val)");
         method <- Seq("okapi", "dirichlet")) {
      compacted.setScoringRules(s"method:$method")
      fresh.setScoringRules(s"method:$method")
      val got = compacted.runQuery(q, 50).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = fresh.runQuery(q, 50).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"compacted != fresh for '$q' ($method)")
      assert(got.nonEmpty && got.forall(_._1 % 5 != 0))
    }
    // compaction cleared the list: no deletions pend on the new engine
    assert(compacted.compacted(cfg) eq compacted)
  }
}
