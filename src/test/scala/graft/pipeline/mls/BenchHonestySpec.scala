package graft.pipeline.mls

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.ScratchDirs

/** Bench-honesty invariant: the q_job*_e2e gates are the bench's ONLY
  * honest full-pipeline timings — the CLI twins intentionally memoize
  * their published run per sf dir (MlsJobCliGate.runBoth: the first JVM
  * invocation drives the real argv pipeline that the correctness hash
  * certifies; later bench passes time a table read). That trade is sound
  * exactly as long as no e2e gate is ever memoized the same way. This
  * spec pins it: each e2e gate is invoked twice, and every
  * ScratchDirs.memoized name those invocations request must be a
  * read-only input FIXTURE (`*_raw`/`*_fix`/`*_orc` — pure functions of
  * the sf dir, legitimately built once), never a published-run root. A
  * refactor that memoizes an e2e run introduces a new memo name here and
  * fails loudly. It also pins the one session config surface: every main
  * builds its session through GraftSession, so the oracle certifies the
  * engine configuration the bench times. It pins the one banded
  * candidate-join core: no main file but BandJoin/SkewCap writes its own
  * skew-capped band join or Hamming verify. And it pins the one MLS step
  * library: no main file but a gate references a gate object. */
class BenchHonestySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val fixtureSuffixes = Seq("_raw", "_fix", "_orc")

  test("e2e gates run the pipeline on every invocation (no memoized runs)") {
    val gates: Seq[(String, () => Long)] = Seq(
      "q_job1_e2e" -> (() => MlsJob1Gate.job1E2e(spark, dir).count()),
      "q_job2_e2e" -> (() => MlsJob2Gate.job2E2e(spark, dir).count()),
      "q_job3_e2e" -> (() => MlsJob3Gate.job3E2e(spark, dir).count()))
    gates.foreach { case (name, run) =>
      val before = ScratchDirs.requestedMemoNames
      val rows1 = run()
      val rows2 = run() // second invocation = a later bench pass
      assert(rows1 == rows2)
      val requested = ScratchDirs.requestedMemoNames -- before
      val runRoots = requested.filterNot(n => fixtureSuffixes.exists(n.endsWith))
      assert(runRoots.isEmpty,
        s"$name memoized non-fixture roots $runRoots — e2e gates must drive " +
          "the pipeline on every invocation or the bench loses its only " +
          "honest full-pipeline timing (see MlsJobCliGate.runBoth)")
    }
  }

  test("the BPE apply artifact is memoized ONLY through the auditable " +
      "registry, and the train gate stays live on every invocation") {
    import graft.operators.TextQueries
    // 1. Registry visibility (the r14 audit bypass): every apply
    // invocation must consult ScratchDirs.memoized under a *_fix name —
    // a bare in-JVM map would leave the request count flat.
    val c0 = ScratchDirs.requestedMemoCounts.getOrElse("bpe_merges_fix", 0L)
    TextQueries.txtBpeApply(spark, dir).count()
    val c1 = ScratchDirs.requestedMemoCounts.getOrElse("bpe_merges_fix", 0L)
    TextQueries.txtBpeApply(spark, dir).count()
    val c2 = ScratchDirs.requestedMemoCounts.getOrElse("bpe_merges_fix", 0L)
    assert(c1 > c0 && c2 > c1,
      "txtBpeApply no longer routes its trained-merge artifact through " +
        "ScratchDirs.memoized on every invocation — the cache is " +
        "invisible to the bench-honesty audit")
    assert(fixtureSuffixes.exists("bpe_merges_fix".endsWith))
    // 2. The TRAIN gate must never deploy that artifact: a SECOND
    // invocation still submits one Spark job per merge round (the 1-row
    // argmax collects). A refactor that memoizes the train submits ~0.
    val sc = spark.sparkContext
    def liveTrainJobs(tag: String): Int = {
      sc.setJobGroup(tag, "bench-honesty live-train assert")
      try TextQueries.txtBpeTrain(spark, dir).collect()
      finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(tag).length
    }
    liveTrainJobs("bpe_live_train_1")
    val second = liveTrainJobs("bpe_live_train_2")
    assert(second >= 8,
      s"q_txt_bpe_train's second invocation submitted only $second jobs — " +
        "the per-round pair aggregation is no longer running live")
  }

  test("q_job1_e2e/q_job2_e2e return the pipeline plan, not a table read") {
    // A memoized gate would return a bare scan of its published state; the
    // honest gates' plans carry the latest-wins window logic downstream of
    // the lazy lineage checkpoint.
    Seq(MlsJob1Gate.job1E2e(spark, dir), MlsJob2Gate.job2E2e(spark, dir))
      .foreach { df =>
        val plan = df.queryExecution.analyzed.toString
        assert(plan.contains("row_number") || plan.contains("Window"),
          "e2e gate plan lost its window subtree — is it reading a " +
            "pre-published result instead of running the pipeline?")
      }
  }

  /** Scala files under `root`, other than the `allowed` file names,
    * whose source matches `pattern`. */
  private def scalaFilesMatching(root: String, allowed: String => Boolean,
                        pattern: scala.util.matching.Regex): Vector[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed(p.getFileName.toString))
        .filter(p => pattern
          .findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
        .map(_.toString).toVector
    } finally files.close()
  }

  test("every session is built through GraftSession (no raw-builder mains)") {
    // Built at runtime so this file's own source never matches.
    val rawBuilder = ("SparkSession" + "\\s*\\.\\s*builder\\s*\\(").r
    val offenders = scalaFilesMatching("src",
      Set("GraftSession.scala", "TestSpark.scala"), rawBuilder)
    assert(offenders.isEmpty,
      s"$offenders build a raw session — use graft.GraftSession.builder() " +
        "so the bench, the oracle and the mains share one engine config")
  }

  test("banded candidate joins and Hamming verifies live only in BandJoin") {
    val copy = "SkewCap\\.dropOverCap\\(|bit_count\\(col\\(".r
    val offenders = scalaFilesMatching("src/main",
      Set("BandJoin.scala", "SkewCap.scala"), copy)
    assert(offenders.isEmpty,
      s"$offenders hand-write a skew-capped band join or a Hamming verify " +
        "— route it through graft.operators.BandJoin")
  }

  test("no main file but a gate calls a gate object (one step library)") {
    // Drivers and step objects hold the steps; gates hold fixtures,
    // clocks, argv and oracle SQL, and call the steps — never the reverse.
    val gateRef = "\\b\\w+Gate\\.".r
    val offenders = scalaFilesMatching("src/main",
      n => n.endsWith("Gate.scala") || n == "SparkEntry.scala", gateRef)
    assert(offenders.isEmpty,
      s"$offenders reference a gate object — move the step it uses into " +
        "a step object under graft.pipeline.mls and call it from both sides")
  }

  test("change feeds, retention and listing live only in VersionedLayout") {
    // Built at runtime so this file's own source never matches.
    val protocol = ("_chan" + "ges|Files\\.list\\(").r
    val offenders = scalaFilesMatching("src/main/scala/graft/sources",
      Set("VersionedLayout.scala"), protocol)
    assert(offenders.isEmpty,
      s"$offenders hand-build a change-feed path or a directory listing " +
        "— use VersionedLayout's writeChanges, rewriteChanges, vacuum hooks " +
        "and listDir")
  }

  test("DML row semantics and feed tags live only in VersionedLayout") {
    // Built at runtime so this file's own source never matches.
    val semantics = ("__h" + "it|lit\\(\"(delete|update|insert)\"\\)").r
    val offenders = scalaFilesMatching("src/main/scala/graft/sources",
      Set("VersionedLayout.scala"), semantics)
    assert(offenders.isEmpty,
      s"$offenders hand-write a DML hit flag or a change-feed tag — run " +
        "the op through VersionedLayout's deleteStep, updateStep, " +
        "overwriteWhereStep or mergeStep and its feed tags")
  }

  test("SPARK_GRAFT_CPUS defaults to the host's processor count") {
    assert(graft.GraftSession.cpusFrom(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(graft.GraftSession.cpusFrom(Some(" 3 ")) == 3)
    intercept[IllegalArgumentException](graft.GraftSession.cpusFrom(Some("0")))
    intercept[NumberFormatException](graft.GraftSession.cpusFrom(Some("many")))
  }
}
