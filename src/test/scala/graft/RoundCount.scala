package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts what `body` starts: SQL queries (executions), Spark jobs, and
  * the shuffle records its tasks write. Listener events arrive after their
  * query, job or task, on one bus in order: tagged marker jobs run before
  * and after `body` open and close the window, and the counts are read
  * once the closing marker arrives. */
object RoundCount {
  /** (SQL queries, Spark jobs) started by `body`. */
  def during(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val queries = new AtomicInteger(0)
    val jobs = new AtomicInteger(0)
    window(spark) {
      case _: SparkListenerJobStart => jobs.incrementAndGet()
      case _: SparkListenerSQLExecutionStart => queries.incrementAndGet()
    }(body)
    (queries.get(), jobs.get())
  }

  /** Shuffle records written by the tasks `body` runs. */
  def shuffleRecordsDuring(spark: SparkSession)(body: => Unit): Long = {
    val records = new AtomicLong(0)
    window(spark) {
      case e: SparkListenerTaskEnd if e.taskMetrics != null =>
        records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }(body)
    records.get()
  }

  /** Runs `body` and hands `on` every event posted between the markers. */
  private def window(spark: SparkSession)(
      on: PartialFunction[SparkListenerEvent, Unit])(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft_roundcount_${System.nanoTime()}"
    val start = s"${tag}_start"; val end = s"${tag}_end"
    @volatile var recording = false
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    def tagged(e: SparkListenerJobStart, t: String): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(',').contains(t))
    val l = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case j: SparkListenerJobStart if tagged(j, start) =>
          recording = true; started.countDown()
        case j: SparkListenerJobStart if tagged(j, end) =>
          recording = false; ended.countDown()
        case _ if recording => on.applyOrElse(e, (_: SparkListenerEvent) => ())
        case _ =>
      }
    }
    def marker(t: String): Unit = {
      sc.addJobTag(t)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(t)
    }
    sc.addSparkListener(l)
    try {
      marker(start)
      assert(started.await(60, TimeUnit.SECONDS), "start marker never arrived")
      body
      marker(end)
      assert(ended.await(60, TimeUnit.SECONDS), "end marker never arrived")
    } finally sc.removeSparkListener(l)
  }
}
