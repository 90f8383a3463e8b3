package graft.enrich

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batched external lookup — the reference's property-id enrichment
  * (mls_listings_transform.py:419-481: per-partition batched POST to a
  * lookup service, one result row per input; :505-520: partition count
  * sized from countApprox / batch_size so each partition carries one
  * service batch — here an exact count and an exact deal, so no call
  * carries more than the batch size).
  *
  * The service is behind a trait so tests (and this offline container) use
  * a deterministic fake; a production client owns throttling/retry inside
  * `lookup`. On failure a client should return null-enriched rows per input
  * (the reference's behavior) rather than throw — the engine keeps going.
  */
object BatchLookup {

  /** One service round-trip: input rows (one batch) → exactly
    * one output row per input row, in order, matching `resultSchema`. */
  trait LookupClient extends Serializable {
    def lookup(batch: Seq[Row]): Seq[Row]
  }

  /** Deal the rows into batches of at most `batchSize` and run one lookup
    * call per batch: `ceil(n / batchSize)` calls for `n` key rows. Row i
    * (by `zipWithIndex`) goes to batch `i / batchSize`, so the batches are
    * exact whatever the input's partitioning — a round-robin repartition
    * to that many partitions can overshoot a batch by up to the input's
    * partition count. The count, the index offsets and the calls each
    * read `keys`: pass a materialized (checkpointed) frame, exactly as
    * the reference passes its distinct address tuples. */
  def enrich(spark: SparkSession, keys: DataFrame, client: LookupClient,
             batchSize: Int, resultSchema: StructType): DataFrame = {
    val n = keys.count()
    val parts = math.max(1L, (n + batchSize - 1) / batchSize).toInt
    val rows = keys.rdd.zipWithIndex()
      .groupBy((ri: (Row, Long)) => ri._2 / batchSize, parts)
      .flatMap { case (_, batch) => client.lookup(batch.map(_._1).toSeq) }
    spark.createDataFrame(rows, resultSchema)
  }
}
