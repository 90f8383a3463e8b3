package graft.tools

/** Per-query session-floor decomposition for the sub-second gate tail:
  * times, separately and repeatedly, (a) `spark.read.parquet` DataFrame
  * construction (driver-side footer/schema inference per call), (b) plan
  * analysis+optimization of a representative gate frame (explain cost),
  * (c) the full gate execution — so the ~190-gate floor can be attributed
  * to read-builder cost vs planning vs job execution instead of guessed.
  *
  * {{{ sbt "runMain graft.tools.FloorProbe q_agg_cube q_events_wau" }}}
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus
    val gates = if (args.nonEmpty) args.toSeq
      else Seq("q_agg_cube", "q_events_wau", "q_j1_broadcast_dims",
        "q_s12_surrogate_keys", "q_w2_hist_grain")
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def bench(name: String, n: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f; i += 1 }
      val ms = (System.nanoTime() - t0) / 1e6 / n
      println(f"FLOOR $name%-42s ${ms}%9.2f ms/op  (n=$n)")
    }

    // (a) reader construction: per-call driver-side schema inference
    bench("read.parquet(documents) builder", 50) {
      spark.read.parquet(s"$sfDir/documents.parquet").schema
    }
    bench("read.parquet(orders) builder", 50) {
      spark.read.parquet(s"$sfDir/orders.parquet").schema
    }
    // The schema is inferred once, outside the timed closure, so this
    // line times construction with inference skipped.
    val ordersSchema = spark.read.parquet(s"$sfDir/orders.parquet").schema
    bench("read.parquet with explicit schema", 50) {
      spark.read.schema(ordersSchema).parquet(s"$sfDir/orders.parquet").schema
    }

    gates.foreach { g =>
      val fn = graft.SparkEntry.queries(g)
      fn(spark, sfDir).count() // warm (fixtures, codegen)
      // (b) frame construction + analysis only
      bench(s"$g frame+analyze", 20) {
        fn(spark, sfDir).queryExecution.assertAnalyzed()
      }
      // (b') through the optimizer + physical planning
      bench(s"$g optimize+plan", 20) {
        fn(spark, sfDir).queryExecution.executedPlan
      }
      // (c) full execution
      bench(s"$g full count()", 20) {
        fn(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
