package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.MergeClauses

/** Pure relational MERGE resolver (SURVEY §2.1 S5). Given target and source
  * frames sharing the target's column set, produces the post-merge frame with
  * Delta-MERGE clause semantics (update-set-* / matched-delete / insert-*,
  * each optionally conditioned — reference MERGE statements:
  * mls_listings_curated.py:329-353, mls_listings_hist_curated.py:184-210,
  * mls_listings_curated_propid_backfill.py:187-219).
  *
  * One full-outer shuffle join on the key + one projected select; entirely
  * whole-stage-codegen. At 100 TB the join shuffles both sides on the key —
  * with a bucketed target layout the target-side shuffle disappears (the
  * managed-table layer documents that refinement).
  */
object Merge {

  /** @param nullSafeKeys when true, keys compare with `<=>` (null keys
    *   match null keys); when false, keys compare with `=` exactly like the
    *   reference MERGE ON conditions (mls_listings_hist_curated.py:185) —
    *   a source row with a null key component then never matches, so the
    *   not-matched insert clause fires and null-keyed rows accumulate in
    *   the target on every run. That is observable reference behavior, so
    *   both modes are offered.
    *
    * Clause conditions may reference any source column via the `s.` alias,
    * including columns not present in the target (the reference conditions
    * use `source._insert_update_flag`, which `insert *`/`update set *`
    * ignore); the output projects exactly the target's columns. */
  def mergeFrames(target: DataFrame, source: DataFrame, keys: Seq[String],
                  clauses: MergeClauses.Spec = MergeClauses.Spec(),
                  nullSafeKeys: Boolean = true,
                  schemaEvolution: Boolean = false): DataFrame =
    mergeFramesTagged(target, source, keys, clauses, nullSafeKeys,
      schemaEvolution)
      .filter(col(ActionCol) =!= lit("delete")).drop(ActionCol)

  /** The merge's key equality: `<=>` when `nullSafeKeys`, else `=`. */
  def keyEq(nullSafeKeys: Boolean): (Column, Column) => Column =
    if (nullSafeKeys) _ <=> _ else _ === _

  /** Name of the action column [[mergeFramesTagged]] appends. */
  val ActionCol = "_action"

  /** Name of the pre-image struct column appended when `preImage` names
    * columns. */
  val PreCol = "_pre"

  /** The same MERGE resolution, with each surviving-or-deleted row tagged
    * by the clause that produced it — the change-data-feed primitive:
    *
    *  - `insert`: not-matched source row admitted by the insert clause
    *    (source values);
    *  - `update`: matched row rewritten by the update clause (post-image
    *    source values);
    *  - `delete`: matched row removed by the delete clause (pre-image
    *    TARGET values — the row the merge destroyed);
    *  - `keep`: target row the merge left untouched (unmatched, or
    *    matched with no clause firing).
    *
    * The post-merge table is exactly the non-`delete` rows; the change
    * feed is exactly the non-`keep` rows. Same single full-outer join
    * and projection as [[mergeFrames]] — tagging adds no shuffle.
    *
    * `schemaEvolution` gives Delta `autoMerge` semantics: source-only
    * columns are APPENDED to the output schema; rows the merge does not
    * rewrite (keeps, deletes, and updates where the source lacks a
    * target column) carry null in the new columns, exactly the
    * null-backfill a metadata-only schema change produces at 100 TB.
    * Off (the default), the source must carry the target's column set
    * and the output schema is the target's, unchanged.
    *
    * A non-empty `preImage` (target column names) additionally appends a
    * [[PreCol]] struct holding those columns' pre-update TARGET values of
    * an `update` row (null for every other action — an insert has no
    * pre-image, a delete row IS its pre-image, a keep is unchanged). This
    * is the Delta CDF `update_preimage` / `update_postimage` pair folded
    * into one row: downstream incremental view maintenance needs BOTH
    * sides of an update to retract the old contribution and add the new
    * one, including when the update moves the row between groups. Same
    * single join — the struct is projected from the target side already
    * present in the joined row, so the pre-image costs no extra shuffle or
    * scan. A caller that needs only part of the old row (the merge-on-read
    * write needs only its address) names only those columns, so the
    * struct stays that narrow. */
  def mergeFramesTagged(target: DataFrame, source: DataFrame, keys: Seq[String],
                        clauses: MergeClauses.Spec = MergeClauses.Spec(),
                        nullSafeKeys: Boolean = true,
                        schemaEvolution: Boolean = false,
                        preImage: Seq[String] = Nil): DataFrame = {
    val cols: IndexedSeq[String] =
      if (!schemaEvolution) {
        val missing = target.columns.filterNot(source.columns.contains)
        require(missing.isEmpty, "MERGE source lacks target column(s) " +
          s"${missing.mkString(", ")}; pass schemaEvolution = true to evolve")
        target.columns.toIndexedSeq
      } else target.columns.toIndexedSeq ++
        source.columns.filterNot(target.columns.contains)
    val t = target.withColumn("__t_present", lit(true)).alias("t")
    // Delta MERGE errors when multiple source rows match ONE TARGET row;
    // duplicate source keys that match no target row are legal and fan
    // into inserts. Count source rows per key with a window (the source is
    // about to be shuffled on these keys for the join anyway) and assert
    // AFTER the join, scoped to matched rows — exactly Delta's contract.
    val keyCount = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*))
    val s = source
      .withColumn("__key_n", keyCount)
      .withColumn("__s_present", lit(true))
      .alias("s")
    val keyCond = keys.map(k => keyEq(nullSafeKeys)(col(s"t.$k"), col(s"s.$k")))
      .reduce(_ && _)
    val joined = t.join(s, keyCond, "full_outer")

    val tPresent = col("t.__t_present").isNotNull
    val sPresent = col("s.__s_present").isNotNull
    val matched = tPresent && sPresent
    // assert_true returns null on pass; folded into the row filter so the
    // optimizer cannot prune the check away.
    val dupGuard = coalesce(
      assert_true(!matched || col("s.__key_n") <= 1,
        lit(s"MERGE source has duplicate rows matching one target row " +
          s"for key (${keys.mkString(", ")})")).cast("boolean"),
      lit(true))
    val doUpdate = matched && clauses.updateWhen.getOrElse(lit(true))
    val doDelete = matched && !doUpdate && clauses.deleteWhen.getOrElse(lit(false))
    val doInsert = (sPresent && !tPresent) && clauses.insertWhen.getOrElse(lit(true))
    val keepRow = doUpdate || doInsert || (tPresent && !doDelete && !doUpdate)
    val takeSource = doUpdate || doInsert
    val action = when(doUpdate, lit("update"))
      .when(doDelete, lit("delete"))
      .when(doInsert, lit("insert"))
      .otherwise(lit("keep"))

    val tCols = target.columns.toSet
    val sCols = source.columns.toSet
    def side(alias: String, has: Set[String])(c: String): Column =
      if (has(c)) col(s"$alias.$c") else lit(null)
    val base = cols.map(c => when(takeSource, side("s", sCols)(c))
      .otherwise(side("t", tCols)(c)).as(c)) :+ action.as(ActionCol)
    val withPre =
      if (preImage.isEmpty) base
      else base :+ when(doUpdate, struct(
        preImage.map(c => col(s"t.$c").as(c)): _*)).as(PreCol)
    joined.filter(dupGuard && (keepRow || doDelete)).select(withPre: _*)
  }
}
