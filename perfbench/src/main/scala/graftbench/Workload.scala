package graftbench

import org.apache.spark.sql.SparkSession

/** One timed run: wall seconds, CPU seconds of the application threads
  * ([[ThreadCpu]]), bytes it wrote per input byte, and the output checks it
  * failed (empty = correct). */
final case class RunResult(seconds: Double, cpuSeconds: Double,
                           writeAmp: Double, failures: Seq[String])

/** A traced run: total wall seconds and the per-layer metrics it gave. */
final case class TracedRun(seconds: Double, layers: Map[String, Double],
                           spans: Seq[Span])

/** A benchmark workload: `setup` builds seeded inputs under `root` and
  * bootstraps the state a run starts from (it may throw: a failed set-up
  * is a failed benchmark); `warmUp` is one untimed run; `run` resets the
  * state outside its timer and times one run through the engine's public
  * entry points; `traced` drives the same run step by step with spans
  * around each layer call. */
trait Workload {
  def setup(spark: SparkSession, root: String): Unit
  /** Untimed runs after set-up: the JIT is still compiling the run's hot
    * paths during the first runs in a fresh JVM. */
  def warmUps: Int = 1
  def warmUp(spark: SparkSession): Unit = ()
  def run(spark: SparkSession): RunResult
  def traced(spark: SparkSession, engine: EngineListener): TracedRun
  /** Input shares and sizes measured by the generator, for the record. */
  def describe: Map[String, Any]
  def close(): Unit = ()
}

object Workload {
  /** Time `body` in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Time `body`: (result, wall seconds, application-thread CPU seconds). */
  def timedCpu[A](body: => A): (A, Double, Double) = {
    val cpu0 = ThreadCpu.snapshot()
    val (a, wall) = timed(body)
    (a, wall, ThreadCpu.since(cpu0))
  }
}
