package graft.pipeline.mls

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.functions.ColumnLib._

/** Faithful re-expression of the reference's `validate_listings`
  * (mls_listings_transform.py:55-130): prefix projection, four broadcast
  * dim joins (states disjunctive on abbrev OR full name), MLS movedto
  * remap + dropDuplicates, the ten validation flags in their exact
  * insertion order with the exact reason strings, '|'-joined reasons,
  * prefix strip keeping `states_state`, and the good/rejected split.
  */
object MlsValidate {

  val rentSaleAllowed = Seq("Sale", "Rental")
  val listingStatusAllowed = Seq("A", "U", "S", "X")
  val propertyTypeAllowed = Seq("AP", "BD", "CN", "CO", "CP", "FM", "LD",
    "MF", "MH", "RI", "SF", "TH", "TS")

  /** (flag column, reason) in the reference's dict insertion order
    * (transform.py:93-103) — the order drives both the flag sum and the
    * '|'-concatenated reason string. */
  val validationFlags: Seq[(String, String)] = Seq(
    "_invalid_mls_flag" -> "Invalid MLS code",
    "_mls_null_flag" -> "Missing MLS code",
    "_mls_listing_id_null_flag" -> "Missing listing number",
    "_invalid_rent_sale_flag" -> "Invalid rental/sale indicator",
    "_invalid_listing_status_flag" -> "Invalid listing status",
    "_invalid_property_type_flag" -> "Invalid property type",
    "_invalid_property_sub_type_flag" -> "Invalid property subtype",
    "_invalid_price_flag" -> "Invalid price",
    "_invalid_state_flag" -> "Invalid state",
    "_invalid_zipcode_flag" -> "Invalid zip code")

  def validateListings(listings: DataFrame, boards: DataFrame,
                       states: DataFrame, zipcodes: DataFrame,
                       propertySubTypes: DataFrame): (DataFrame, DataFrame) = {
    // Prefix projections (transform.py:58-62)
    val l = prefixColumns(listings, "listings_")
    val b = prefixColumns(
      boards.filter(col("mls").isNotNull).select("mls", "movedto"), "boards_")
    val st = prefixColumns(states.select("state", "name"), "states_")
    val z = prefixColumns(zipcodes.select("zipcode", "state"), "zipcodes_")
    val pst = prefixColumns(
      propertySubTypes.select("property_sub_type"), "property_sub_types_")

    // Four broadcast left joins; states join is disjunctive (J2) —
    // transform.py:65-73.
    val joined = l
      .join(broadcast(b), col("listings_mls") === col("boards_mls"), "left")
      .join(broadcast(st),
        col("listings_state_raw") === col("states_state") ||
          col("listings_state_raw") === col("states_name"), "left")
      .join(broadcast(z),
        col("listings_state_raw") === col("zipcodes_state") &&
          col("listings_zip_raw") === col("zipcodes_zipcode"), "left")
      .join(broadcast(pst),
        col("listings_property_sub_type") ===
          col("property_sub_types_property_sub_type"), "left")

    // movedto is the successor MLS code (transform.py:76-80). Two
    // withColumns batches by dependency layer — chained withColumn
    // re-resolves the whole ~140-column joined plan per call.
    val remapped = joined
      .withColumn("_listings_mls_new",
        coalesce(col("boards_movedto"), col("listings_mls")))
      .withColumns(Map(
        "_mls_change_ind" ->
          (col("_listings_mls_new") =!= col("listings_mls")).cast(IntegerType),
        "listings_mls" -> col("_listings_mls_new")))
      .drop("_listings_mls_new")
      .dropDuplicates()

    // The ten flags, exact semantics (transform.py:104-116), one batch. The
    // price rule keeps the reference's nested when/otherwise so a null
    // listing_status falls through to 0 exactly as the original
    // three-valued logic does.
    val flagged = remapped
      .withColumns(Map(
        "_invalid_mls_flag" ->
          col("boards_mls").isNull.cast(IntegerType),
        "_mls_null_flag" ->
          col("listings_mls").isNull.cast(IntegerType),
        "_mls_listing_id_null_flag" ->
          col("listings_mls_listing_id").isNull.cast(IntegerType),
        "_invalid_rent_sale_flag" ->
          (checkValidValue(col("listings_rent_sale"), rentSaleAllowed,
            nullAllowed = false) === false).cast(IntegerType),
        "_invalid_listing_status_flag" ->
          (checkValidValue(col("listings_listing_status"), listingStatusAllowed,
            nullAllowed = false) === false).cast(IntegerType),
        "_invalid_property_type_flag" ->
          (checkValidValue(col("listings_property_type"), propertyTypeAllowed,
            nullAllowed = false) === false).cast(IntegerType),
        "_invalid_property_sub_type_flag" ->
          col("property_sub_types_property_sub_type").isNull.cast(IntegerType),
        "_invalid_price_flag" ->
          when((coalesce(col("listings_current_price"), lit(0)) < 1) &&
            (col("listings_listing_status") === "S") &&
            col("listings_closed_price").isNull, lit(1))
            .otherwise(
              when((coalesce(col("listings_current_price"), lit(0)) < 1) &&
                (col("listings_listing_status") =!= "S"), lit(1))
                .otherwise(lit(0))),
        "_invalid_state_flag" ->
          col("states_state").isNull.cast(IntegerType),
        "_invalid_zipcode_flag" ->
          col("zipcodes_zipcode").isNull.cast(IntegerType)))
      .withColumns(Map(
        "_reject_flags" ->
          sumColumns(validationFlags.map(f => col(f._1))),
        "_reject_reasons" -> concat_ws("|",
          validationFlags.map { case (flag, reason) =>
            when(col(flag) === 1, reason)
          }: _*)))

    // Keep listings_* + states_state + flags/reasons, strip prefix
    // (transform.py:122-124).
    val kept = keepColumns(flagged, c => c.startsWith("listings_") ||
      Seq("states_state", "_reject_flags", "_reject_reasons").contains(c))
    // Lazily checkpointed so the split runs the scan, the four joins and
    // the all-column dropDuplicates shuffle once, whichever of the two
    // legs is consumed first; the other reads the persisted blocks.
    val renamed = stripPrefix(kept, "listings_").localCheckpoint(eager = false)

    (renamed.filter(col("_reject_flags") === 0),
      renamed.filter(col("_reject_flags") > 0))
  }
}
