package graftbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `operator_mix`: a closed loop with one client that `.count()`s a fixed
  * list of `SparkEntry.queries` gates over seeded tables, in an order the
  * seed chooses. One run is one pass over the list. No MLS layer runs. */
final class OperatorMix(seed: Long, scale: Double) extends Workload {
  /** (gate, layer it exercises). Sub-second gates from every family (the
    * one streaming gate is about 1.5 s); the `q_job*` gates and gates that
    * serve a memoized result after their first call are left out. */
  private val gates: Seq[(String, String)] = Seq(
    "q_split_assign" -> "operators.curation_s",
    "q_dedup_exact" -> "operators.dedup_s",
    "q_txt_quality" -> "operators.text_s",
    "q_sim_cosine_topk" -> "operators.similarity_s",
    "q_mm_dedup" -> "operators.multimodal_s",
    "q_j1_broadcast_dims" -> "operators.relational_s",
    "q_events_funnel" -> "operators.relational_s",
    "q_merge_upsert" -> "sources.table_gates_s",
    "q_stream_view" -> "streaming.gates_s")

  private val rng = new scala.util.Random(seed)
  private var dir: String = _
  private var expected: Map[String, Long] = Map.empty
  private var inputBytes = 0.0
  private val scratch = Seq("target/gate_tmp", "spark-warehouse")
  /** Seconds per phase of the set-up. */
  private val setupPhases = scala.collection.mutable.LinkedHashMap[String, Double]()
  /** Per-gate latencies of every timed pass, for the query percentiles. */
  private val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Seeded tables, then one pass that builds the gates' read-only
    * fixtures and records each gate's row count for the checks. */
  def setup(spark: SparkSession, root: String): Unit = {
    dir = s"$root/tables"
    setupPhases("tables_s") = Workload.timed(MixTables(seed, scale).write(spark, dir))._2
    inputBytes = Fs.bytes(dir).toDouble
    val (counts, fixturesS) = Workload.timed(
      gates.map { case (g, _) => g -> SparkEntry.queries(g)(spark, dir).count() }.toMap)
    expected = counts
    setupPhases("fixtures_s") = fixturesS
  }

  /** Each gate runs once a pass, so its code paths need more than the
    * set-up pass to be compiled. */
  override def warmUps: Int = 2

  /** One untimed pass. */
  override def warmUp(spark: SparkSession): Unit = {
    val failures = pass(spark)((_, _) => body => body)._2
    require(failures.isEmpty, s"warm-up pass: ${failures.mkString("; ")}")
  }

  private def pass(spark: SparkSession)(
      around: (String, String) => (=> Long) => Long): (Double, Seq[String]) = {
    val failures = Seq.newBuilder[String]
    val (_, dt) = Workload.timed {
      rng.shuffle(gates).foreach { case (g, layer) =>
        val n = around(g, layer) {
          try SparkEntry.queries(g)(spark, dir).count()
          catch { case e: Exception =>
            failures += s"$g threw ${e.getClass.getSimpleName}: ${e.getMessage}"; -1L }
        }
        if (n >= 0 && n != expected(g)) failures += s"$g counted $n, set-up ${expected(g)}"
      }
    }
    (dt, failures.result())
  }

  def run(spark: SparkSession): RunResult = {
    val before = scratch.flatMap(Fs.files).toMap
    val cpu0 = ThreadCpu.snapshot()
    val (dt, failures) = pass(spark) { (_, _) => body =>
      val (n, s) = Workload.timed(body)
      latencies += s
      n
    }
    val cpu = ThreadCpu.since(cpu0)
    val (bytes, _) = Fs.written(before, scratch)
    RunResult(dt, cpu, bytes / inputBytes, failures)
  }

  def traced(spark: SparkSession, engine: EngineListener): TracedRun = {
    val t = new Tracer
    val t0 = System.nanoTime()
    var failures = Seq.empty[String]
    t.span("run") {
      failures = pass(spark) { (_, layer) => body => t.span(layer)(body) }._2
    }
    val total = (System.nanoTime() - t0) / 1e9
    val runSpan = t.all.find(_.name == "run").get
    engine.drain(spark)
    require(failures.isEmpty, s"traced pass: ${failures.mkString("; ")}")
    val layers = gates.map(_._2).distinct.map(l => l -> t.seconds(l)).toMap ++
      (if (latencies.isEmpty) Map.empty else Map(
        "operators.query_p50_s" -> Stats.quantile(latencies.toSeq, 0.5),
        "operators.query_p90_s" -> Stats.quantile(latencies.toSeq, 0.9))) ++
      engine.window(runSpan.startMs, runSpan.endMs + 1, spark.sparkContext.defaultParallelism)
    TracedRun(total, layers, t.all)
  }

  def describe: Map[String, Any] = Map(
    "setup_phases" -> setupPhases.toMap, "gates" -> gates.size, "input_bytes" -> inputBytes, "scale" -> scale,
    "expected_rows" -> expected.values.sum)
}
