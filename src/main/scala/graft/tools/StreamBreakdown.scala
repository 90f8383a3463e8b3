package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch cost breakdown for the streaming replay gates: runs the
  * named gates (default: one representative per state shape) with a
  * StreamingQueryListener attached and prints each micro-batch's
  * durationMs map (latestOffset / getBatch / queryPlanning / addBatch /
  * walCommit / commitOffsets) plus the state-operator commit times — the
  * measurement VERDICT r19 asked for before touching the replay family.
  *
  * {{{ sbt "runMain graft.tools.StreamBreakdown q_stream_typecounts_tws" }}}
  */
object StreamBreakdown {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.cpus
    val gates = if (args.nonEmpty) args.toSeq
      else Seq("q_stream_typecounts_tws", "q_stream_hourly", "q_stream_neardup")
    val spark = graft.GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(String, Map[String, Long], Long)]
    @volatile var current = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = {}
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        val d = e.progress.durationMs.asScala.map {
          case (k, v) => k -> v.longValue }.toMap
        val stateMs = Option(e.progress.stateOperators).toSeq.flatten
          .map(so => so.commitTimeMs).sum
        batches.synchronized { batches += ((current, d, stateMs)) }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = {}
    })

    gates.foreach { g =>
      // warmup pass (codegen/JIT — the bench's untimed warmup)
      current = s"$g/warm"
      graft.SparkEntry.queries(g)(spark, sfDir).count()
      current = s"$g/timed"
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(g)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"\n=== $g%-28s total ${sec}%6.2f s ===")
    }
    // listener events are async — give the bus a moment to drain
    Thread.sleep(2000)
    val keys = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets", "triggerExecution")
    println(f"${"gate/pass"}%-34s ${keys.map(k => f"$k%13s").mkString} stateCommit")
    batches.foreach { case (g, d, st) =>
      println(f"$g%-34s ${keys.map(k => f"${d.getOrElse(k, -1L)}%13d").mkString} $st%11d")
    }
    // per-gate timed-pass totals by phase
    println("\nper-gate timed-pass sums (ms):")
    batches.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (g, bs) =>
      val sums = keys.map(k => k -> bs.map(_._2.getOrElse(k, 0L)).sum)
      val stSum = bs.map(_._3).sum
      println(f"$g%-34s " + sums.map { case (k, v) => s"$k=$v" }
        .mkString(" ") + s" stateCommit=$stSum n=${bs.size}")
    }
    spark.stop()
  }
}
