package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers and sinks for the engine (SURVEY §2.1 S1-S2, S7-S8).
  *
  * Scale notes (100 TB): every reader here produces a plain scan node, so
  * Catalyst predicate-pushdown and column-pruning reach the file format
  * (verify with `.explain`: `PushedFilters` / `ReadSchema`). The multi-dir
  * union is positional by design, matching the reference's
  * `reduce(DataFrame.unionAll, dfs)` (mls_listings_curated.py:71-77).
  */
object TableIO {

  /** Per-path parquet SCHEMA cache for IMMUTABLE inputs (the sf-dir
    * source tables and the write-once memoized fixture tables). A bare
    * `spark.read.parquet(path)` re-infers the schema from file footers
    * on the DRIVER on every call — measured ~65-75 ms per call at
    * local[32] (tools/FloorProbe), i.e. 1-3 × that per gate per bench
    * pass across the ~190 sub-second gates, roughly half their floor.
    * Supplying the schema explicitly skips inference entirely; caching
    * it per path is metadata-only (no rows, no results — every query
    * still scans the parquet), and models the production shape, where
    * tables live in a catalog with known schemas instead of being
    * footer-sniffed per query (guide §6's argument for manifest-backed
    * table formats, applied to the schema axis). MUTABLE paths (managed
    * table versions, per-invocation scratch outputs) must NOT use this —
    * they keep bare `spark.read.parquet`. */
  private val staticSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Read a write-once path with the schema cached per (format, path,
    * dir mtime): the mtime key makes a wiped-and-rewritten path (the
    * gate harness's fresh() cycle) re-infer instead of serving a stale
    * schema — one stat call per read, ~μs against the ~65 ms saved. A
    * path the local stat cannot see (a URI, a glob) has no mtime to key
    * on, so it is read without the cache. */
  def readStatic(spark: SparkSession, path: String,
                 format: String = "parquet"): DataFrame = {
    val mtime = try Some(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path)).toMillis) catch { case _: Exception => None }
    mtime.fold(spark.read.format(format).load(path)) { m =>
      val sc = staticSchemas.computeIfAbsent(s"$format:$path@$m",
        _ => spark.read.format(format).load(path).schema)
      spark.read.schema(sc).format(format).load(path)
    }
  }

  /** Read one testdata table (`<dir>/<name>.parquet`). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readStatic(spark, s"$dir/$name.parquet")

  /** Schema-adaptive epoch-µs derivation for an event-time column. Parquet
    * writers have shipped the events `ts` column as TIMESTAMP(NANOS) (which
    * Spark 4 only reads as BIGINT nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), as TIMESTAMP_NTZ
    * (µs, isAdjustedToUTC=false) and as TIMESTAMP — so the derivation
    * dispatches on the *observed* dtype instead of assuming one encoding:
    *   - BIGINT → nanos-as-long legacy read → `div 1000` (truncation matches
    *     DuckDB `epoch_us` on a TIMESTAMP_NS value);
    *   - TIMESTAMP_NTZ / TIMESTAMP → `unix_micros(cast)` — exact because
    *     every session in this repo pins `spark.sql.session.timeZone=UTC`,
    *     matching DuckDB's `epoch_us(ts)` on the naive value.
    * All downstream event operators consume only `ts_us` (epoch µs BIGINT),
    * the cross-engine timestamp discipline. */
  def withEpochMicros(df: DataFrame, tsCol: String = "ts",
                      usCol: String = "ts_us"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(usCol, expr(s"`$tsCol` div 1000"))
      case TimestampType | TimestampNTZType =>
        df.withColumn(usCol, unix_micros(col(tsCol).cast(TimestampType)))
      case other => throw new IllegalArgumentException(
        s"$tsCol: expected BIGINT (nanos-as-long), TIMESTAMP or TIMESTAMP_NTZ, got $other")
    }

  /** The events table with the epoch-µs discipline applied (see
    * [[withEpochMicros]]) — the single reader behind every event operator. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEpochMicros(table(spark, dir, "events"))

  /** ORC sink with zlib compression and explicit output-file-count control.
    * Reference: mls_listings_curated.py:359-363 (Delta→ORC mirror).
    * `repartition(n)` is RoundRobin — correct for file-count control because
    * no downstream op depends on the partitioning. */
  def writeOrcZlib(df: DataFrame, path: String, numFiles: Int): Unit =
    df.repartition(numFiles).write.mode("overwrite")
      .option("compression", "zlib").orc(path)

  /** JSON-lines text sink for rejected/outdated rows:
    * `to_json(struct(*))` → one JSON object per line.
    * Reference: mls_listings_curated.py:293-308. */
  def writeJsonLines(df: DataFrame, path: String, append: Boolean = false): Unit =
    df.select(to_json(struct(col("*"))).as("value"))
      .write.mode(if (append) "append" else "overwrite").text(path)
}
