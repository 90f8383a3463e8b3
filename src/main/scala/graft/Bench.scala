package graft

/** Benchmark main: runs every gate query on SPARK_GRAFT_SF_DIR and prints
  * ONE JSON line {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...},
  * also written to SPARK_GRAFT_BENCH_OUT (default `bench_out.json`) so the
  * per-round record survives independent of driver log capture.
  *
  * Methodology: one untimed warmup pass (codegen compilation, JIT, file
  * footer caching — one-time costs a long-lived cluster never re-pays),
  * then three timed passes keeping the per-query minimum (GC noise at
  * sub-second scale otherwise dominates run-to-run variance, and the
  * planning-bound e2e gates + streaming replays showed a ±1-2 s two-pass
  * spread across otherwise-identical quiet sessions — a third pass
  * tightens the minima more than it costs); `value` is the sum of minima.
  * Queries run via `.count()` (full materialization, no driver-side
  * collect).
  *
  * Session hygiene (always on): a handful of
  * gates eagerly `localCheckpoint` (GraphCC rounds, prefix sums, the e2e
  * jobs), and each of the 3 passes re-creates those blocks; nothing frees
  * them until the ContextCleaner GCs the dead RDD references, so by the
  * tail of an 85-query suite the block manager holds hundreds of stale
  * blocks and every short scan pays the heap pressure (the r06 regression
  * cluster: unchanged sub-second queries 2-6× slower late in the session).
  * Between queries — OUTSIDE the timers — we unpersist every registered
  * RDD and periodically nudge a GC so broadcast/checkpoint cleanup keeps
  * pace. A real cluster job never meets this shape (one query per app);
  * the cleanup models that isolation without restarting the JVM.
  *
  * Noise forensics (`noisy` in the JSON): any query whose three timed
  * passes spread more than 2× (above the sub-second jitter floor) is
  * recorded with its raw pass times and PER-PASS steal-tick deltas — a
  * contended window is then attributable query-by-query from the record
  * itself instead of needing an isolation re-run to refute (the r11
  * q_job2_e2e 63.9 s-vs-7.3 s case).
  *
  * Load sentinel: the r08 record shipped a 2x drift on unchanged queries
  * that a later isolation re-run disproved — the bench had run on a loaded
  * machine. The JSON therefore carries a `sentinel` object: the time of a
  * fixed data-independent calibration job (codegen'd sum over
  * spark.range, run before and after the suite) and the OS 1-minute load
  * average at both points. A skewed record is now machine-detectable:
  * calibration far above its known-quiet time (~0.1-0.3 s at 32 cores) or
  * load average far above the core count invalidates the record without
  * needing a re-run to prove it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // Comma-separated allowlist for isolation experiments (empty = all).
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Shared engine defaults (constraint-prop off, codegen cache sized,
    // SPARK_GRAFT_SQL_CONF passthrough) live in GraftSession so Bench,
    // Verify and the CLI entrypoints run the same engine configuration —
    // a bench number is then a number about the ENGINE, not about a
    // bench-only session. Bench adds only its own master/parallelism.
    val builder = GraftSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
    // Re-apply the A/B passthrough LAST so an experiment can override
    // the bench-specific configs above as well.
    GraftSession.applyEnvConf(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.SkewCap.registerWarnings(spark)

    var sinceGc = 0
    def cleanup(): Unit = {
      val sc = spark.sparkContext
      val stale = sc.getPersistentRDDs
      stale.values.foreach(_.unpersist(blocking = false))
      sinceGc += 1
      if (stale.nonEmpty || sinceGc >= 16) { System.gc(); sinceGc = 0 }
    }

    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // Hypervisor steal ticks (field 8 of /proc/stat cpu line): round-9
    // record attempts on an idle guest still spread 65-81 s total, which
    // load average and the calibration probe cannot explain — steal is
    // the one host-contention signal the guest can see. -1 off-Linux.
    def stealTicks: Long = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next()
        .trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
    // Fixed CPU-bound calibration job (no IO, whole-stage codegen): its
    // wall time depends only on machine conditions, never on this repo's
    // code, so drift in it flags a contended bench session.
    def calibrate(): Double = {
      spark.range(1L << 28).selectExpr("sum(id * 2 + 1)").collect() // JIT
      val t0 = System.nanoTime()
      spark.range(1L << 28).selectExpr("sum(id * 2 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val loadStart = loadAvg
    val stealStart = stealTicks
    val calibStart = calibrate()

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // A broken query must fail LOUDLY: a swallowed exception would record
    // its time-to-failure and silently IMPROVE the total. Failures are
    // collected, reported in the JSON (`errors`), excluded from `value`,
    // and fail the process.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // warmup: full execution once (untimed)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable =>
        errors(n) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      cleanup()
    }
    def timed(n: String): (Double, Long) = {
      cleanup()
      val s0 = stealTicks
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val s1 = stealTicks
      (sec, if (s0 < 0 || s1 < 0) -1L else s1 - s0)
    }
    val passes = names.filterNot(errors.contains)
      .map(n => n -> Seq.fill(3)(timed(n)))
    val results = passes.map { case (n, ps) => n -> ps.map(_._1).min }
    // Per-query noise forensics: a query whose three passes spread >2×
    // (and isn't sub-second, where JIT/GC jitter is expected) gets its
    // raw pass times AND the per-pass steal-tick deltas recorded — a
    // skewed record then shows, per query, that the slowness coincided
    // with host contention, without needing an isolation re-run to prove
    // it (the r11 q_job2_e2e 63.9 s case took a manual re-run to refute).
    val noisy = passes.collect {
      case (n, ps) if ps.map(_._1).min > 0.5 &&
          ps.map(_._1).max / ps.map(_._1).min > 2.0 =>
        val times = ps.map(p => f"${p._1}%.3f").mkString("[", ",", "]")
        val steals = ps.map(_._2).mkString("[", ",", "]")
        s""""$n":{"passes":$times,"steal":$steals}"""
    }
    val noisyJson = noisy.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val calibEnd = calibrate()
    val loadEnd = loadAvg
    // -1 (unavailable) must survive into the record: a raw subtraction
    // would emit 0 off-Linux — indistinguishable from a steal-free session.
    val stealEnd = stealTicks
    val stealDelta =
      if (stealStart < 0 || stealEnd < 0) -1L else stealEnd - stealStart
    val sentinel =
      f"""{"calib_start_sec":$calibStart%.3f,"calib_end_sec":$calibEnd%.3f,""" +
      f""""load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,""" +
      f""""steal_ticks":$stealDelta%d,"cpus":$cpus}"""
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errJson,"noisy":$noisyJson,"sentinel":$sentinel,"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
