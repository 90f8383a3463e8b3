package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.LatestWins
import graft.sources.{ManagedTable, MergeClauses, VersionedLayout}

/** Job 2's (listings HISTORY) publish step
  * (mls_listings_hist_curated.py:119-210), shared by the hist driver
  * ([[MlsJobsMain.runJob2]]) and the q_job2 gates: hist-grain dedup of the
  * fresh batch ∪ curated with the min(create_timestamp) recompute, six
  * `lead()` `*_old` columns with `<=>`-negation changed flags (whole-dollar
  * current_price comparison), and the three-way MERGE clause set
  * (update-when-changed / DELETE-when-no-driving-change /
  * insert-when-changed). */
object MlsHistory {

  /** The hist grain: one row per listing snapshot. */
  val grainKeys = Seq("mls", "mls_listing_id", "source_as_of_date")

  /** The six change-tracked columns (hist:139-159). */
  val tracked = Seq("listing_status", "current_price",
    "source_listing_id", "street_address_raw", "property_type",
    "property_sub_type")

  /** The hist schema's 12 change-tracking tail columns: the six `*_old`
    * values, then the six `*_changed_flag`s. */
  val tailCols: Seq[String] =
    tracked.map(_ + "_old") ++ tracked.map(_ + "_changed_flag")

  /** The 18 columns of the matched-update guard (hist:188-192). */
  val matchCols: Seq[String] =
    tracked.map(_ + "_old") ++ tracked ++ tracked.map(_ + "_changed_flag")

  /** One hist-job run, reference order: union new∪curated at the hist
    * grain, keep the window winner, recompute create_timestamp as the
    * partition min, then derive `*_old`/changed flags with lead() over the
    * survivors (hist:119-159). Returns the merge source (the hist columns
    * + `_insert_update_flag`). */
  def histFinal(fresh: DataFrame, curated: Option[DataFrame],
      fieldNames: Seq[String] =
        MlsFullTransform.histSchema.fieldNames.toSeq): DataFrame = {
    val tagged = fresh.withColumn("_from", lit("new"))
    val union = curated.fold(tagged) { c =>
      tagged.unionByName(
        c.select(fieldNames.toIndexedSeq.map(col): _*)
          .withColumn("_from", lit("curated")))
    }
    val w1 = Window.partitionBy(grainKeys.map(col): _*)
      .orderBy(col("listing_date").desc, col("entry_date").asc,
        col("load_date").desc, col("_from").desc)
    val w2 = Window.partitionBy(grainKeys.map(col): _*)
    val ranked = union.select(col("*"),
      row_number().over(w1).as("_rownum"),
      min(col("create_timestamp")).over(w2).as("_create_timestamp"))
    val winners = ranked.filter(col("_rownum") === 1)
      .withColumn("create_timestamp", col("_create_timestamp"))
    LatestWins.changeFlags(winners, Seq("mls", "mls_listing_id"),
      Seq(col("source_as_of_date").desc), tracked,
      compare = Map("current_price" ->
        ((a: Column, b: Column) => round(a, 0) <=> round(b, 0))))
      .drop("_from", "_rownum", "_create_timestamp")
  }

  /** The reference's three-way MERGE (hist:184-210): update only when a
    * driving column differs from the target's stored state, delete when
    * the recomputed flags say no driving change, insert new changed
    * snapshots. Its key equality is the plain (non-null-safe) `=` of
    * hist:185 — callers pass `nullSafeKeys = false`, so rows whose
    * source_as_of_date the <1900 sanitizer nulled never match and
    * re-insert. */
  lazy val mergeSpec: MergeClauses.Spec = {
    val sameAll = matchCols.map(c => col(s"t.$c") <=> col(s"s.$c")).reduce(_ && _)
    MergeClauses.Spec(
      updateWhen = Some(col("s._insert_update_flag") && !sameAll),
      deleteWhen = Some(!col("s._insert_update_flag")),
      insertWhen = Some(col("s._insert_update_flag")))
  }

  /** Job 2's publish (hist:119-210): [[histFinal]] over the fresh batch ∪
    * `curated` (projected to `fieldNames`), then the three-way MERGE into
    * the delta table at `deltaRoot`, created empty on the first run. */
  def mergeHistory(spark: SparkSession, deltaRoot: String, fresh: DataFrame,
                   curated: Option[DataFrame], fieldNames: Seq[String]): Unit = {
    val source = histFinal(fresh, curated, fieldNames)
      .localCheckpoint(eager = false)
    if (!ManagedTable.exists(deltaRoot))
      VersionedLayout.withUserMetadata(
        "Create empty listings hist delta table") {
        ManagedTable.createEmpty(spark, deltaRoot,
          source.drop("_insert_update_flag"))
      }
    ManagedTable.merge(spark, deltaRoot, source, grainKeys, mergeSpec,
      nullSafeKeys = false)
  }
}
