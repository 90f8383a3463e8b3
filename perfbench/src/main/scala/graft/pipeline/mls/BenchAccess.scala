package graft.pipeline.mls

import org.apache.spark.sql.DataFrame

/** The benchmark's staged (traced) Job-1 run calls the same lookup budget
  * `MlsJobsMain.runJob1` uses; it is package-private, so this forwarder
  * lives in its package, in the benchmark's own sources. */
object BenchAccess {
  def budget(toLookup: DataFrame, limit: Int): DataFrame =
    MlsJobsMain.budget(toLookup, limit)
}
