package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SCD-1 "latest record wins" dedup + SCD-2-style change history — the
  * windowed heart of the reference's curated and hist jobs.
  */
object LatestWins {

  final case class Deduped(latest: DataFrame, outdated: DataFrame)

  /** Union the incoming batch with the current table, tag provenance, and
    * keep one winner per key (reference: mls_listings_curated.py:132-189).
    * Ordering is the caller's priority columns followed by `desc(_from)` —
    * 'new' beats 'curated' on ties because of the tag values' lexicographic
    * order, exactly as the reference relies on.
    *
    * `recomputeMin`/`recomputeMax` re-derive bookkeeping columns across ALL
    * versions of a key before the winner is chosen (reference :144-159,
    * e.g. create_timestamp = min over versions). The recomputed values are
    * applied ONLY to the winners: outdated rows keep their ORIGINAL values,
    * exactly as the reference's reject dump drops the `_`-aliased window
    * outputs from the outdated frame (curated.py:146-159 compute them as
    * new `_` columns, :166-180 copy them onto the winners, :184-189 drop
    * them unapplied from the outdated rows) — a consumer replaying the
    * reject leg to reconstruct what a record looked like must see the
    * record as it arrived, not post-recompute bookkeeping.
    *
    * Scale: both outputs are `_from = 'new'` rows, so a curated row whose
    * key is absent from the batch can reach neither — not as a winner, not
    * as an outdated row, not through the per-key min/max. `curated` is
    * therefore left-semi-joined to the batch's keys (null-safe, keys
    * broadcast: the batch is the small side) before the union, and
    * the window's one shuffle on `keys` moves batch-sized data, not
    * table-sized. The ranked new rows are lazily checkpointed once;
    * `latest` and `outdated` both read them, so the window runs once
    * however many actions consume the two outputs. */
  def dedupe(fresh: DataFrame, curated: DataFrame, keys: Seq[String],
             ordering: Seq[Column],
             recomputeMin: Seq[String] = Nil,
             recomputeMax: Seq[String] = Nil): Deduped = {
    val batchKeys = fresh.select(keys.map(col): _*)
      .toDF(keys.map("_k_" + _): _*)
    val touched = curated.join(broadcast(batchKeys),
      keys.map(k => col(k) <=> col("_k_" + k)).reduce(_ && _), "left_semi")
    val tagged = fresh.withColumn("_from", lit("new"))
      .unionByName(touched.withColumn("_from", lit("curated")))
    val keyWindow = Window.partitionBy(keys.map(col): _*)
    val ranked0 = tagged.withColumn("_rownum",
      row_number().over(keyWindow.orderBy(ordering :+ col("_from").desc: _*)))
    val rc = recomputeMin.map(c => c -> min(col(c)).over(keyWindow)) ++
      recomputeMax.map(c => c -> max(col(c)).over(keyWindow))
    // Only NEW rows are ever emitted (curated.py:166-189 filter both legs
    // on `_from == 'new'`): a curated row superseded by the batch is simply
    // replaced, not written to the reject/outdated leg.
    val rankedNew = ranked0
      .withColumns(rc.map { case (c, e) => s"_rc_$c" -> e }.toMap)
      .filter(col("_from") === "new")
      .localCheckpoint(eager = false)
    val aux = Seq("_rownum", "_from") ++ rc.map { case (c, _) => s"_rc_$c" }
    Deduped(
      latest = rankedNew.filter(col("_rownum") === 1)
        .withColumns(rc.map { case (c, _) => c -> col(s"_rc_$c") }.toMap)
        .drop(aux: _*),
      outdated = rankedNew.filter(col("_rownum") > 1).drop(aux: _*))
  }

  /** Like `dedupe` but keeps the per-key winner regardless of provenance —
    * the hist-job grain (reference: mls_listings_hist_curated.py:129-137
    * keeps rownum=1 across new ∪ curated; 'new' still wins exact ties via
    * the desc(_from) tiebreak). */
  def dedupeAll(fresh: DataFrame, curated: DataFrame, keys: Seq[String],
                ordering: Seq[Column]): DataFrame = {
    val tagged = fresh.withColumn("_from", lit("new"))
      .unionByName(curated.withColumn("_from", lit("curated")))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordering :+ col("_from").desc: _*)
    tagged.withColumn("_rownum", row_number().over(w))
      .filter(col("_rownum") === 1)
      .drop("_rownum", "_from")
  }

  final case class ChangeRow(oldSuffix: String = "_old", flagSuffix: String = "_changed_flag")

  /** Change-history derivation (reference: mls_listings_hist_curated.py:139-159):
    * for each tracked column, `lead(col, 1)` over versions ordered newest-
    * first gives the previous version's value (`*_old`), and the changed
    * flag is the negated null-safe equality; `_insert_update_flag` ORs all
    * per-column flags (true for brand-new keys too, since lead is null and
    * `<=>` against null value differs).
    *
    * `compare` overrides the null-safe-equality comparison per column —
    * the reference compares current_price at whole-dollar grain,
    * `round(current_price,0) <=> round(current_price_old,0)`
    * (mls_listings_hist_curated.py:152). */
  def changeFlags(df: DataFrame, keys: Seq[String], versionOrder: Seq[Column],
                  tracked: Seq[String],
                  naming: ChangeRow = ChangeRow(),
                  compare: Map[String, (Column, Column) => Column] = Map.empty): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(versionOrder: _*)
    // Two withColumns batches (leads, then flags+OR) instead of a 13-deep
    // withColumn chain: each chained withColumn re-resolves the full plan,
    // which dominates at the gates' 134-column width.
    val withOld = df.withColumns(
      tracked.map(c => (c + naming.oldSuffix) -> lead(col(c), 1).over(w)).toMap)
    withOld.withColumns(
      tracked.map(c => (c + naming.flagSuffix) ->
        !compare.getOrElse(c, (a: Column, b: Column) => a <=> b)(
          col(c), col(c + naming.oldSuffix))).toMap +
      ("_insert_update_flag" ->
        tracked.map(c => !compare.getOrElse(c, (a: Column, b: Column) => a <=> b)(
          col(c), col(c + naming.oldSuffix))).reduce(_ || _)))
  }
}
