package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CurationMm, StateRef}
import graft.sources.ScratchDirs

/** Queries per curation round. A round is bound by per-job and
  * per-barrier cost, not by data, so each ingest and each retraction is
  * held at the query count measured at sf0.001 before the two rounds were
  * folded onto shared steps (24 and 23). Every barrier (an eager
  * checkpoint) and every action or write is one query, so a change that
  * adds one fails here. The Spark job count is reported, not bounded: under AQE it moves
  * by a few jobs between runs of one plan (95, 96 and 98 retraction jobs
  * were measured for the same plans), as stages land in one job or in
  * several. Each count is taken on a second run, after fixtures, schemas
  * and memos are warm. */
class CurationJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val ingestQueries = 24
  private val retractQueries = 23

  test("one ingest round runs at most the measured number of queries") {
    val base = StateRef(CurationMm.baseStateRoot(spark, dir))
    def ingest(): Unit = CurationMm.ingestReplayForSpec(spark, dir,
      ScratchDirs.fresh("mmcur_jobs_ingest"), base)
    ingest()
    val (queries, jobs) = RoundCount.during(spark)(ingest())
    info(s"ingest: $queries queries, $jobs jobs")
    assert(queries <= ingestQueries,
      s"one ingest ran $queries queries (bound $ingestQueries)")
  }

  test("one retraction round runs at most the measured number of queries") {
    CurationMm.fullStateRoot(spark, dir)
    def retract(): Unit =
      CurationMm.retractAt(spark, dir, ScratchDirs.fresh("mmcur_jobs_retract"))
    retract()
    val (queries, jobs) = RoundCount.during(spark)(retract())
    info(s"retraction: $queries queries, $jobs jobs")
    assert(queries <= retractQueries,
      s"one retraction ran $queries queries (bound $retractQueries)")
  }
}
