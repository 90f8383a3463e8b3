package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ManagedTable, MergeClauses}

/** Job 3's (property-id BACKFILL) steps
  * (mls_listings_curated_propid_backfill.py:77-219), shared by the backfill
  * driver ([[MlsJobsMain.runJob3]]) and the q_job3 gates: the first-run
  * asg_* placeholders, the candidate filters and budget, and the attach +
  * update-only-when-changed MERGE. */
object MlsBackfill {

  private val keys = Seq("mls", "mls_listing_id")

  /** The 11 placeholder columns of the first-run bootstrap
    * (backfill:81-92): typed nulls, except load_status = 'Null'. One
    * withColumns batch (independent columns; a chained withColumn
    * re-resolves the 133-column plan per call). */
  def addAsgPlaceholders(df: DataFrame): DataFrame =
    df.withColumns(MlsEnrich.asgCols.map { c =>
      val v = if (c == "asg_primary_id_load_status") lit("Null") else lit(null)
      c -> v.cast(MlsFullTransform.targetSchema(c).dataType)
    }.toMap)

  /** Candidate selection (backfill:115-134): optional load_date window,
    * load-status modes, then — when `limit` is set — the prioritized
    * lookup budget, ranking Null < Provisional < Final. */
  def candidates(cur: DataFrame, dateRange: Option[(String, String)],
                 modes: Seq[String], limit: Option[Int]): DataFrame = {
    val dated = dateRange.fold(cur) { case (lo, hi) =>
      cur.filter(s"""load_date between "$lo" and "$hi"""") }
    val moded = dated.filter(col("asg_primary_id_load_status").isin(modes: _*))
    limit.fold(moded)(MlsEnrich.byPriority(moded,
      "CASE WHEN asg_primary_id_load_status = 'Null' THEN 1 " +
        "WHEN asg_primary_id_load_status = 'Provisional' THEN 2 " +
        "WHEN asg_primary_id_load_status = 'Final' THEN 3 END", _))
  }

  /** Attach, then MERGE (backfill:148-219): the shared asg_* recompute
    * ([[MlsEnrich.recomputeAsg]]) under the backfill's `NOT <=>` changed
    * predicate, projected to the 133-column schema, merged on (mls,
    * mls_listing_id) into the table at `root` — update only when any
    * asg_* column changed (`<=>`), plus the reference's plain `when not
    * matched then insert *` (vacuous here — the candidates come from the
    * table — but kept for clause parity). */
  def attachAndMerge(spark: SparkSession, root: String, cand: DataFrame,
                     lookup: DataFrame, now: Column): Unit = {
    val enriched = MlsEnrich.recomputeAsg(cand, lookup,
        expr("not(asg_primary_id <=> lkp_asg_primary_id)"), now)
      .select(MlsFullTransform.targetSchema.fieldNames.toIndexedSeq.map(col): _*)
    val changedAny = !MlsEnrich.asgCols
      .map(c => col(s"t.$c") <=> col(s"s.$c")).reduce(_ && _)
    ManagedTable.merge(spark, root, enriched, keys,
      MergeClauses.Spec(updateWhen = Some(changedAny)))
  }
}
