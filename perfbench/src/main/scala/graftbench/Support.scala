package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order statistics over timings. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Local-filesystem accounting for the write/space amplification metrics. */
object Fs {
  /** Regular files under `root`: path -> (size, modification time). */
  def files(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString ->
          (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally st.close()
    }
  }
  def bytes(root: String): Long = files(root).values.map(_._1).sum

  /** Bytes and count of the files under `roots` that are new or rewritten
    * since `before` (a [[files]] snapshot of the same roots). */
  def written(before: Map[String, (Long, Long)],
              roots: Seq[String]): (Long, Int) = {
    val now = roots.flatMap(r => files(r)).filter { case (f, st) =>
      !before.get(f).contains(st)
    }
    (now.map(_._2._1).sum, now.size)
  }

  def delete(root: String): Unit =
    graft.sources.ScratchDirs.deleteRecursively(Paths.get(root))

  def copyTree(from: String, to: String): Unit = {
    delete(to)
    val src = Paths.get(from)
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally st.close()
  }
}

/** Order-independent content digest of a frame: row count plus the sum of
  * a 64-bit hash of every row (as an exact decimal, so no overflow). */
object Digest {
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Host sentinel: enough to tell a contended window from the record alone
  * (core count, load average, hypervisor steal ticks, and a fixed
  * data-independent calibration job timed the same way every run). */
object Sentinel {
  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def stealTicks: Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).lift(7)
      .map(_.toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Exception => -1L }

  def calibrate(spark: SparkSession): Double = {
    spark.range(1L << 26).selectExpr("sum(id * 2 + 1)").collect()
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(id * 2 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  final case class Reading(loadAvg: Double, steal: Long, calibS: Double)
  def read(spark: SparkSession): Reading =
    Reading(loadAvg, stealTicks, calibrate(spark))

  def json(nproc: Int, start: Reading, end: Reading): Map[String, Any] = Map(
    "nproc" -> nproc,
    "load_avg_start" -> start.loadAvg, "load_avg_end" -> end.loadAvg,
    "steal_ticks" -> (if (start.steal < 0 || end.steal < 0) -1L
      else end.steal - start.steal),
    "calib_start_s" -> start.calibS, "calib_end_s" -> end.calibS)
}

/** CPU time of the JVM's application threads: the driver, Spark's
  * scheduler and task threads, the stub service. The JVM hides its JIT
  * compiler threads from `ThreadMXBean`, and its GC threads are not Java
  * threads, so neither counts: their work depends on how far the JIT got,
  * not on the run. Per-thread deltas since a snapshot; a thread that ends
  * inside the window loses its share (Spark's task threads are pooled and
  * outlive a run). */
object ThreadCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  def snapshot(): Map[Long, Long] =
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  def since(before: Map[Long, Long]): Double =
    snapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}

/** Peak resident set of this JVM, from the kernel's high-water mark. */
object Rss {
  def peakMb: Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  } catch { case _: Exception => -1.0 }
}
