package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.ColumnLib._
import graft.schema.SchemaLoader

/** FULL-WIDTH Job-1 transform: the complete 65-derived-column rule block of
  * the reference (mls_listings_transform.py:155-317), the extra-column/
  * placeholder select (:322-357), and the geo joins (:360-397), at the real
  * 133-field `mls_listings_schema.json` width. [[MlsTransform.deriveCore]]
  * carries the rule subset shared with the fixture-width tests; this module
  * adds every remaining column and the final projection to the target
  * schema in its declared order.
  *
  * `asOf`/`nowTs` inject the clock (the reference's `current_date()`/
  * `current_timestamp()`), keeping the whole transform a pure function of
  * its inputs — which is what makes the DuckDB gate oracle possible.
  */
object MlsFullTransform {

  /** The 133-field target schema (re-expressed from the reference's
    * mls_listings_schema.json:1-801). */
  lazy val targetSchema: StructType = SchemaLoader.fromJsonString(
    new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))

  /** The 134-field history target schema (re-expressed from the reference's
    * mls_listings_hist_schema.json:1-807): the listings columns minus the
    * 11 asg_* enrichment fields, plus the six `*_old` / six `*_changed_flag`
    * change-tracking tail columns. */
  lazy val histSchema: StructType = SchemaLoader.fromJsonString(
    new String(
      getClass.getResourceAsStream("/mls_listings_hist_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Remaining derived columns (transform.py:155-317, the rules not already
    * in [[MlsTransform.deriveCore]]). Order and 3-valued-logic preserved. */
  private[mls] def deriveRest(df: DataFrame, asOf: Column): DataFrame = {
    // One withColumns call (a single Project / single analysis pass):
    // chaining 65+ withColumn calls re-analyzes a 200-column plan per
    // rule and dominates gate planning time. Rules are mutually
    // independent, so map order is immaterial.
    df.withColumns(Map(
      "_unit_type" -> (substring(col("unit_type"), 1, 10)),
      // lot: non-all-zero guard like unit (transform.py:169)
      "_lot" -> (when(col("lot").isNotNull && regexp_replace(col("lot"), "0", "") =!= "",
        substring(col("lot"), 1, 15))),
      "_block" -> (substring(col("block"), 1, 15)),
      "_legal_tract" -> (substring(col("legal_tract"), 1, 10)),
      "_book" -> (substring(col("book"), 1, 25)),
      // numeric school districts are junk (transform.py:187-189)
      "_school_district" -> (when(col("school_district").try_cast(IntegerType).isNull,
        substring(col("school_district"), 1, 125))),
      "_property_sub_type" -> (substring(changeBlankToNull(upper(col("property_sub_type"))), 1, 20)),
      "_property_description" -> (substring(col("property_description"), 1, 500)),
      "_zoning" -> (substring(col("zoning"), 1, 250)),
      "_restrictions" -> (substring(col("restrictions"), 1, 250)),
      "_easements" -> (substring(col("easements"), 1, 250)),
      // gated_community keeps ORIGINAL case when upper is Y/N (transform.py:229)
      "_gated_community" -> (when(upper(col("gated_community")).isin("Y", "N"), col("gated_community"))),
      "_hoa_management_co" -> (substring(col("hoa_management_co"), 1, 250)),
      "_hoa_management_co_phone" -> (cleanPhoneNumber(col("hoa_management_co_phone"))),
      "_occupant_type" -> (substring(col("occupant_type"), 1, 25)),
      "_ownership_type" -> (substring(col("ownership_type"), 1, 20)),
      "_owner_type" -> (substring(col("owner_type"), 1, 25)),
      "_owner_name" -> (substring(col("owner_name"), 1, 255)),
      "_year_updated" -> (when(col("year_updated").between(1600, year(asOf) + 1), col("year_updated"))),
      // SF property type forces 1 unit (transform.py:248-251)
      "_number_of_units" -> (when(upper(col("property_type")) === "SF", lit(1))
        .otherwise(when(col("number_of_units").isNotNull && col("number_of_units") > 0,
          col("number_of_units")))),
      "_living_area_sq_ft" -> (when((round(col("living_area_sq_ft"), 0) > 0) &&
        (round(col("living_area_sq_ft"), 0) <= 2147483647L),
        round(col("living_area_sq_ft"), 0).cast(DecimalType(16, 4)))),
      "_living_area_sq_ft_source" -> (substring(col("living_area_sq_ft_source"), 1, 25)),
      "_building_style" -> (substring(col("building_style"), 1, 100)),
      "_stories" -> (when(col("stories").between(0, 99), col("stories"))),
      "_beds" -> (when(col("beds") >= 0, round(col("beds"), 0))),
      "_full_baths" -> (when(col("full_baths") >= 0, col("full_baths"))),
      "_half_baths" -> (when(col("half_baths") >= 0, col("half_baths"))),
      // basement Y/N with finished-pct fallback (transform.py:260-264)
      "_basement" -> (when(upper(col("basement")).isin("Y", "TRUE", "T"), "Y")
        .otherwise(when(upper(col("basement")).isin("N", "FALSE", "F"), "N")
          .otherwise(when(col("finished_basement_pct") > 0, "Y")
            .otherwise(lit(null).cast(StringType))))),
      "_finished_basement_pct" -> (when(col("finished_basement_pct") <= 100, col("finished_basement_pct"))),
      "_garage_type" -> (when(upper(col("garage_type")).isin("G", "C", "N"), col("garage_type"))),
      "_garage_style" -> (substring(col("garage_style"), 1, 100)),
      "_garage_spaces" -> (when(round(col("garage_spaces"), 0) <= 2147483647L, round(col("garage_spaces"), 0))),
      "_roof_type" -> (substring(col("roof_type"), 1, 255)),
      "_exterior_material" -> (substring(col("exterior_material"), 1, 255)),
      "_foundation" -> (substring(col("foundation"), 1, 255)),
      "_pool" -> (substring(col("pool"), 1, 100)),
      "_condition" -> (substring(col("condition"), 1, 250)),
      "_property_tax_year" -> (when((col("property_tax_year") > 2000) &&
        (col("property_tax_year") <= year(asOf) + 1), col("property_tax_year"))),
      "_hoa_dues_frequency" -> (when(col("hoa_dues_frequency").isin(0, 1, 2, 4, 12, 52), col("hoa_dues_frequency"))),
      "_hoa_dues_description" -> (substring(col("hoa_dues_description"), 1, 750)),
      "_entry_date" -> (col("entry_date").cast(DateType)),
      "_listing_date" -> (col("listing_date").cast(DateType)),
      "_status_date" -> (col("status_date").cast(DateType)),
      "_current_price_as_of_date" -> (col("current_price_as_of_date").cast(DateType)),
      "_orig_price" -> (when(col("orig_price") >= 0, col("orig_price"))),
      "_orig_listing_date" -> (col("orig_listing_date").cast(DateType)),
      "_contract_date" -> (col("contract_date").cast(DateType)),
      "_closed_price" -> (when(col("closed_price") >= 0, col("closed_price"))),
      // NONE/NOT APPLICABLE are non-values (transform.py:295-296); nulls stay
      // null through the 3-valued == False
      "_sale_circumstances" -> (when(!upper(col("sale_circumstances")).isin("NONE", "NOT APPLICABLE"),
        col("sale_circumstances"))),
      "_listing_conditions" -> (when(!upper(col("listing_conditions")).isin("NONE", "NOT APPLICABLE"),
        col("listing_conditions"))),
      "_listing_url" -> (substring(col("listing_url"), 1, 250)),
      "_listing_image_url" -> (substring(col("listing_image_url"), 1, 250)),
      "_listing_image_url_date" -> (col("listing_image_url_date").cast(DateType)),
      "_listing_broker_name" -> (changeBlankToNull(substring(col("listing_broker_name"), 1, 150))),
      "_listing_broker_id" -> (substring(col("listing_broker_id"), 1, 20)),
      "_listing_agent_name" -> (substring(col("listing_agent_name"), 1, 150)),
      "_listing_agent_id" -> (substring(col("listing_agent_id"), 1, 20)),
      "_listing_agent_phone" -> (cleanPhoneNumber(col("listing_agent_phone"))),
      "_brokerage_name" -> (substring(col("brokerage_name"), 1, 100)),
      "_brokerage_phone" -> (cleanPhoneNumber(col("brokerage_phone"))),
      "_selling_agent_name" -> (changeBlankToNull(substring(col("selling_agent_name"), 1, 150))),
      "_selling_agent_id" -> (substring(col("selling_agent_id"), 1, 20)),
      "_commissions" -> (changeBlankToNull(substring(col("commissions"), 1, 50))),
      "_buyer_agent_name" -> (substring(col("buyer_agent_name"), 1, 150)),
      "_buyer_agent_id" -> (substring(col("buyer_agent_id"), 1, 20)),
      "_state_raw" -> (substring(col("state_raw"), 1, 50)),
      "_zip_raw" -> (substring(col("zip_raw"), 1, 20)),
      "_source_listing_id" -> (substring(col("source_listing_id"), 1, 50))
    ))
  }

  /** Extra columns + placeholders (transform.py:322-357): derived address
    * columns, injected clock timestamps, and the typed-null placeholder
    * blocks for mls.listings (the asg_* columns) and mls.listings_history
    * (the `*_old` / `*_changed_flag` tail). */
  private[mls] def extraColumns(df: DataFrame, nowTs: Column): DataFrame = {
    val city0 = upper(col("_city_raw"))
    def typedNull(schema: StructType)(c: String): Column =
      lit(null).cast(schema(c).dataType).as(c)
    df.select((Seq(col("*"),
      when(!city0.isin("UNINCORPORATED", "OTHER CITY", "HTTP"), city0).as("city"),
      upper(col("_street_address_raw")).as("street_address"),
      col("zip_raw").as("zip"),
      col("states_state").as("state"),
      nowTs.as("create_timestamp"),
      nowTs.as("update_timestamp")) ++
      MlsEnrich.asgCols.map(typedNull(targetSchema)) ++
      MlsHistory.tailCols.map(typedNull(histSchema))): _*)
  }

  /** The full-width transform at reference width: sanitize → 65-rule
    * derivation → extra columns → geo joins → `_`-replacement → projection
    * to `schema` in declared order (the 133-field [[targetSchema]], or the
    * 134-field [[histSchema]] exactly as the reference's hist job reuses
    * transform_listings with the hist schema file,
    * mls_listings_hist_curated.py:102), plus the `keep` passenger columns
    * (e.g. a batch tag). The transform is row-wise apart from the per-row
    * dropDuplicates, which a distinct-valued tag cannot collapse across —
    * so transforming a tagged UNION of batches equals transforming each
    * batch separately. The e2e gates use this to analyze/codegen the
    * full-width plan ONCE instead of once per batch: at gate row counts the
    * planning, not the data, is the dominant cost. */
  def transformKeeping(schema: StructType, keep: Seq[String])(
      good: DataFrame, counties: DataFrame, geoIds: DataFrame,
      asOf: Column, nowTs: Column): DataFrame = {
    val derived = deriveRest(
      MlsTransform.deriveCore(MlsTransform.sanitizeByType(good), asOf), asOf)
    val withExtra = extraColumns(derived, nowTs)
    val geo = MlsTransform.attachGeo(withExtra, counties, geoIds)
    val replaced = applyUnderscoreReplacements(geo)
    replaced.select((schema.fieldNames.toIndexedSeq ++ keep).map(col): _*)
  }

  /** The shared front of Jobs 1 and 2 (curated.py:110-117, hist:95-104):
    * validate `listings` against the boards/states/zipcodes/psub dims,
    * transform the valid rows to `schema` with the counties/geo_ids dims
    * ([[transformKeeping]]), and truncate that lineage with a LAZY local
    * checkpoint. `dim` resolves a dim by one of those six names. Returns
    * (fresh rows, rejected rows).
    *
    * The checkpoint: downstream stages read the fresh rows more than once
    * (the dedupe's batch keys and its window input; the gates' per-batch
    * filters), and without it each read re-analyzes AND re-executes the
    * many-thousand-expression transform tree. Lazy: the plan is truncated
    * at analysis time, and the blocks persist inside whichever job
    * computes them first. Validation checkpoints itself inside
    * [[MlsValidate]]. */
  def validatedBatch(listings: DataFrame, dim: String => DataFrame,
                     schema: StructType, keep: Seq[String],
                     asOf: Column, nowTs: Column): (DataFrame, DataFrame) = {
    val (good, rejected) = MlsValidate.validateListings(listings,
      dim("boards"), dim("states"), dim("zipcodes"), dim("psub"))
    val fresh = transformKeeping(schema, keep)(
      good, dim("counties"), dim("geo_ids"), asOf, nowTs)
      .localCheckpoint(eager = false)
    (fresh, rejected)
  }
}
