package graft.tools

import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Catalyst rule-time attribution for a gate: resets the RuleExecutor
  * clock, runs the gate once (warm), and dumps the per-rule time spent —
  * identifies which analyzer/optimizer rules dominate the planning-bound
  * gates (the MLS 133-column plans).
  *
  * {{{ sbt "runMain graft.tools.RuleProbe q_job1_e2e" }}}
  */
object RuleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus
    val gate = args.headOption.getOrElse("q_job1_e2e")
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(gate)
    fn(spark, sfDir).count() // warm: fixtures, codegen
    RuleExecutor.resetMetrics()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    println(f"RULEPROBE $gate total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    println(RuleExecutor.dumpTimeSpent())
    spark.stop()
  }
}
