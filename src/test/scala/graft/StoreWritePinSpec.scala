package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusSynthesizer
import graft.index.{IndexBuilder, IndexConfig, SegmentStore}

/** What building an index and storing it runs on Spark: a build plus
  * `SegmentStore.writeAll` writes the segment blocks in the partitions the
  * build's (term, bucket) merge produced, with no second exchange, and
  * `SegmentStore.open` registers no catalog table. Exact counts, so any
  * job, stage or SQL execution added to either path shows here.
  */
class StoreWritePinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val cfg = IndexConfig(analyzerMode = "indri", blockSize = 64, numBuckets = 4)

  test("buildFromCorpus + writeAll runs 26 jobs, 26 stages and 10 SQL executions; open runs 1 SQL execution") {
    // a seed no other spec builds from, so no cached plan of another
    // suite serves part of this build; the synthesized corpus is a local
    // relation, so reading it runs no job
    val corpus = CorpusSynthesizer.corpus(spark, 300, seed = 1207L)
    val dir = Files.createTempDirectory("store-write-pin").toString
    val (_, t) = JobTally.of(spark) {
      SegmentStore.writeAll(IndexBuilder.buildFromCorpus(corpus, cfg), dir, cfg)
    }
    val (_, to) = JobTally.of(spark)(SegmentStore.open(spark, dir))
    val what = s"build + write: ${t.jobs.size} jobs, ${t.jobs.map(_.stagesRun).sum} stages run, " +
      s"${t.sqlExecutions} SQL executions, ${t.jobs.map(_.shuffleWriteBytes).sum} B shuffled; " +
      s"open: ${to.jobs.size} jobs, ${to.sqlExecutions} SQL executions"
    assert((t.jobs.size, t.jobs.map(_.stagesRun).sum, t.sqlExecutions) == ((26, 26, 10)), what)
    assert(to.sqlExecutions == 1, what)
  }
}
