package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark driver. One JVM, one session at `local[nproc]`:
  *
  * {{{
  * Main --workload <mls_nightly|operator_mix> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--size full|tiny]
  * }}}
  *
  * Set-up (seeded inputs and the state a run starts from) gives
  * `setup_s`; the workload's untimed warm-up runs follow.
  * Then, with `--trace 0`, runs are timed for `--seconds` (and at least
  * [[MinRuns]] of them) and the end-to-end metrics printed; with
  * `--trace 1`, untraced runs fill the first half of the window and traced
  * runs (spans around every layer call, engine listeners on) the second.
  * The last stdout line is the JSON result; the line before it the
  * record's details (host sentinel, generator shares, spans).
  *
  * A comma-separated `--workload` list runs each in turn in the same
  * session; the build uses it once, at the tiny size, to record the
  * class-data archive the timed calls start from.
  */
object Main {
  /** Timed runs per call, whatever `--seconds` is: the median of three
    * is not moved by one run that a burst of host contention slowed. */
  val MinRuns = 3

  /** Before every run, outside its timer: drop cached blocks and collect
    * the heap, so that each run starts from the same heap state and a run
    * does not pay for its predecessor's garbage (as `graft.Bench` does
    * between queries). */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_cpu_s" -> "s", "write_amp" -> "ratio",
    "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "mls.validate_s" -> "s", "mls.transform_s" -> "s", "mls.rows_in" -> "count",
    "mls.valid_ratio" -> "ratio",
    "pipeline.dedupe_s" -> "s", "pipeline.rows_outdated" -> "count",
    "mls.candidates" -> "count", "mls.lookup_s" -> "s", "mls.attach_s" -> "s",
    "enrich.calls" -> "count", "enrich.rows" -> "count",
    "enrich.distinct_ratio" -> "ratio", "enrich.call_s" -> "s",
    "enrich.call_p50_ms" -> "ms", "enrich.call_p90_ms" -> "ms",
    "enrich.failed_calls" -> "count",
    "sources.read_s" -> "s", "sources.merge_s" -> "s",
    "sources.merge_bytes" -> "bytes", "sources.files_written" -> "count",
    "sources.vacuum_s" -> "s", "sources.table_bytes" -> "bytes",
    "sources.space_amp" -> "ratio", "sources.write_amp" -> "ratio",
    "sources.mirror_s" -> "s", "sources.mirror_bytes" -> "bytes",
    "sources.rejects_s" -> "s", "sources.rejects_bytes" -> "bytes",
    "engine.planning_s" -> "s", "engine.queries" -> "count",
    "engine.jobs" -> "count", "engine.stages" -> "count",
    "engine.tasks" -> "count", "engine.core_idle_ratio" -> "ratio",
    "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s", "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.input_bytes" -> "bytes", "engine.output_bytes" -> "bytes",
    "operators.curation_s" -> "s", "operators.dedup_s" -> "s",
    "operators.text_s" -> "s", "operators.similarity_s" -> "s",
    "operators.multimodal_s" -> "s", "operators.relational_s" -> "s",
    "operators.query_p50_s" -> "s", "operators.query_p90_s" -> "s",
    "sources.table_gates_s" -> "s", "streaming.gates_s" -> "s",
    "run_wall_s" -> "s", "trace_overhead_s" -> "s")

  /** Workload sizes: `full` is what the benchmark measures, `tiny` what
    * the smoke test runs. */
  def workload(name: String, seed: Long, size: String): Workload = {
    val tiny = size == "tiny"
    name match {
      case "mls_nightly" =>
        if (tiny) new Nightly(seed, keys = 1000, lookupBudget = 100)
        else new Nightly(seed, keys = 3000, lookupBudget = 600)
      case "operator_mix" => new OperatorMix(seed, if (tiny) 0.002 else 0.01)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val names = opt("--workload").split(",").toSeq
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = Paths.get(opt("--work")).toAbsolutePath.toString
    val size = opts.getOrElse("--size", "full")
    val nproc = Runtime.getRuntime.availableProcessors

    val spark = graft.GraftSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try names.map(bench(spark, _, seed, seconds, trace, work, size, nproc)).max
      finally spark.stop()
    sys.exit(code)
  }

  private def bench(spark: SparkSession, name: String, seed: Long,
                    seconds: Double, trace: Boolean, work: String,
                    size: String, nproc: Int): Int = {
    val json = new ObjectMapper()
    val sentinelStart = Sentinel.read(spark)
    val wl = workload(name, seed, size)
    val detail = scala.collection.mutable.LinkedHashMap[String, Any]()
    var failures = Seq.empty[String]
    var attempted, failed = 0
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    try {
      val root = s"$work/$name"
      Files.createDirectories(Paths.get(root))
      val setupS = Workload.timed(wl.setup(spark, root))._2
      detail("setup_s") = setupS
      (1 to wl.warmUps).foreach { _ => quiesce(spark); wl.warmUp(spark) }
      detail("inputs") = wl.describe

      // At least MinRuns runs, then more while another one (as long as the
      // last) still ends within `budget` seconds.
      def timedRuns(budget: Double): Seq[RunResult] = {
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        val out = scala.collection.mutable.ArrayBuffer.empty[RunResult]
        var tries = 0
        var last = 0.0
        while (tries < MinRuns || elapsed + last <= budget) {
          tries += 1; attempted += 1
          val start = elapsed
          quiesce(spark)
          val r = try wl.run(spark) catch { case e: Exception =>
            RunResult(Double.NaN, Double.NaN, 0, Seq(s"run threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
          if (r.failures.nonEmpty) { failed += 1; failures ++= r.failures }
          else out += r
          last = elapsed - start
        }
        out.toSeq
      }

      if (!trace) {
        val runs = timedRuns(seconds)
        detail("run_s") = runs.map(_.seconds)
        detail("run_cpu_s") = runs.map(_.cpuSeconds)
        if (runs.nonEmpty) {
          metrics("setup_s") = setupS
          metrics("run_cpu_s") = Stats.median(runs.map(_.cpuSeconds))
          metrics("write_amp") = Stats.median(runs.map(_.writeAmp))
        }
      } else {
        val runs = timedRuns(seconds / 2)
        val untraced = if (runs.isEmpty) Double.NaN else Stats.median(runs.map(_.seconds))
        detail("run_s") = runs.map(_.seconds)
        val engine = EngineListener.register(spark)
        val t0 = System.nanoTime()
        val traced = scala.collection.mutable.ArrayBuffer.empty[TracedRun]
        var tries = 0
        while (tries == 0 || (System.nanoTime() - t0) / 1e9 < seconds / 2) {
          tries += 1; attempted += 1
          quiesce(spark)
          try traced += wl.traced(spark, engine)
          catch { case e: Exception =>
            failed += 1; failures :+= s"traced run threw: ${e.getMessage}"
          }
        }
        if (traced.nonEmpty) {
          perLayer.foreach { case (m, _) =>
            metrics(m) = Stats.median(traced.map(_.layers.getOrElse(m, 0.0)).toSeq)
          }
          metrics("run_wall_s") = untraced
          metrics("trace_overhead_s") = Stats.median(traced.map(_.seconds).toSeq) - untraced
          detail("traced_s") = traced.map(_.seconds).toSeq
          // Engine counts attributed to each span of the last traced run.
          detail("spans") = traced.last.spans.map { s =>
            val e = engine.window(s.startMs, s.endMs + 1, nproc)
            Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
              "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
              Seq("engine.jobs", "engine.tasks", "engine.task_run_s",
                "engine.planning_s").map(k => k -> e(k))
          }
        }
      }
    } catch { case e: Exception =>
      attempted += 1; failed += 1
      failures :+= s"set-up failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
      e.printStackTrace()
    } finally wl.close()
    if (!trace) metrics("peak_rss_mb") = Rss.peakMb
    detail("sentinel") = Sentinel.json(nproc, sentinelStart, Sentinel.read(spark))
    detail("failures") = failures.take(20)

    val expected = if (trace) perLayer else endToEnd
    val complete = expected.forall { case (m, _) => metrics.contains(m) }
    val correct = failed == 0 && complete
    import scala.jdk.CollectionConverters._
    def toJava(v: Any): Any = v match {
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
      case s: Seq[_] => s.map(toJava).asJava
      case other => other
    }
    println(json.writeValueAsString(toJava(Map("workload" -> name, "seed" -> seed,
      "detail" -> detail))))
    println(json.writeValueAsString(toJava(Map(
      "correct" -> correct, "attempted" -> math.max(1, attempted),
      "failed" -> failed,
      "metrics" -> expected.filter(m => metrics.contains(m._1)).map { case (m, unit) =>
        m -> Map("value" -> metrics(m), "unit" -> unit)
      }.toMap))))
    if (complete) 0 else 1
  }
}
