package graft.enrich

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableIO.table

/** Oracle gate for the A2 isEmpty guard (SURVEY §2.6 A2 — reference:
  * mls_listings_transform.py checks emptiness before calling the lookup
  * service / writing a leg). Previously spec-only: the guard is a
  * driver-side decision, so there was nothing to hash. Here the DECISION
  * itself is emitted as a row alongside the enriched output, putting both
  * under the hash bar:
  *
  *  - a non-empty key batch routes through the REAL BatchLookup.enrich
  *    machinery (exact count → rows dealt into batches of at most the
  *    batch size → one client call per batch) with a deterministic
  *    arithmetic client, emitting one `kase='lookup'` row per key with the
  *    client-computed value;
  *  - an empty key frame hits the guard, the client is never invoked, and
  *    one `kase='empty_guard'` row records `skipped=true` (a broken guard
  *    would record false and hash-mismatch).
  */
object EnrichGuardGate {

  private val outSchema = StructType(Seq(
    StructField("key", LongType), StructField("enriched", LongType)))

  /** Deterministic stand-in for the lookup service: key → 3·key + 7.
    * Oracle-recomputable, so the gate hashes the values that actually
    * traveled through the partition-batched client path. */
  private object ArithmeticClient extends BatchLookup.LookupClient {
    def lookup(batch: Seq[Row]): Seq[Row] =
      batch.map { r => val k = r.getLong(0); Row(k, 3 * k + 7) }
  }

  def a2EmptyGuard(s: SparkSession, dir: String): DataFrame = {
    val keys = table(s, dir, "customer")
      .filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey").cast(LongType).as("key"))
    val emptyKeys = keys.filter(lit(false))

    def run(kase: String, in: DataFrame): DataFrame = {
      val skipped = in.isEmpty // the A2 guard under test
      val enriched =
        if (skipped) s.createDataFrame(s.sparkContext.emptyRDD[Row], outSchema)
        else BatchLookup.enrich(s, in, ArithmeticClient,
          batchSize = 4, resultSchema = outSchema)
      if (skipped)
        s.range(1).select(lit(kase).as("kase"),
          lit(null).cast(LongType).as("key"),
          lit(null).cast(LongType).as("enriched"), lit(true).as("skipped"))
      else enriched.select(lit(kase).as("kase"), col("key"),
        col("enriched"), lit(false).as("skipped"))
    }

    run("lookup", keys).unionAll(run("empty_guard", emptyKeys))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_a2_empty_guard" -> (a2EmptyGuard _))

  val oracles: Map[String, String] = Map(
    "q_a2_empty_guard" ->
      """SELECT 'lookup' AS kase, CAST(c_custkey AS BIGINT) AS key,
        |  CAST(3 * c_custkey + 7 AS BIGINT) AS enriched, false AS skipped
        |FROM customer WHERE c_custkey % 100 = 0
        |UNION ALL
        |SELECT 'empty_guard', NULL, NULL, true""".stripMargin)
}
