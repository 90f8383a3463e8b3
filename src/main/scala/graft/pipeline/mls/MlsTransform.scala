package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.ColumnLib._

/** Faithful re-expression of the reference's `transform_listings` simple-
  * transformation block (mls_listings_transform.py:132-317) over the
  * fixture schema (FIXTURES.md §A1). Every rule keeps the reference's exact
  * decode chains, thresholds, substring caps, and null behavior; the
  * `_`-prefixed-column replacement machinery then swaps results in
  * (transform.py:403-409). `asOf` injects the clock (reference uses
  * `current_date()` — nondeterministic) for golden tests.
  *
  * The columns covered here exercise every rule PATTERN in the reference's
  * 65-column block: the remaining columns are the same patterns applied to
  * sibling fields (substring caps, Y/N normalizations, ≥0 guards).
  */
object MlsTransform {

  /** Trim all strings; null dates/timestamps before 1900
    * (transform.py:141-151) — one positional select, dtype-driven. */
  def sanitizeByType(df: DataFrame): DataFrame = {
    val strings = columnsOfType(df, StringType).toSet
    val dates = columnsOfType(df, DateType).toSet
    val timestamps = columnsOfType(df, TimestampType).toSet
    df.select(df.columns.map { c =>
      if (strings(c)) trim(col(c)).as(c)
      else if (dates(c))
        when(year(col(c).cast(DateType)) >= 1900, col(c))
          .otherwise(lit(null).cast(DateType)).as(c)
      else if (timestamps(c))
        when(year(col(c).cast(DateType)) >= 1900, col(c))
          .otherwise(lit(null).cast(TimestampType)).as(c)
      else col(c)
    }.toIndexedSeq: _*)
  }

  /** Township/range normalizer (transform.py:173-185): accepts `12N`,
    * `12 N`/`12-N` (middle char dropped), `T12N` (T stripped); else null.
    * The `[N,S,E,W]` class (comma included) is kept verbatim. */
  private def townshipRange(c: Column): Column = {
    val u = upper(c)
    when(regexpLike(u, "[0-9][0-9][N,S,E,W]"), c)
      .otherwise(when(regexpLike(u, "[0-9][0-9].[N,S,E,W]"),
        concat(substring(c, 1, 2), substring(c, 4, 1)))
        .otherwise(when(regexpLike(u, "T[0-9][0-9][N,S,E,W]"),
          substring(c, 2, 3))
          .otherwise(lit(null).cast(StringType))))
  }

  /** Water-source decode, full 12-level chain (transform.py:207-219). */
  private def waterSource(c: Column): Column = {
    val u = upper(c)
    when(containsAny(u, Seq("CITY", "COUNTY", "TOWN", "MUNICIPAL", "PUBLIC")), "Municipal")
      .otherwise(when(regexpLike(u, "MUN.*"), "Municipal")
        .otherwise(when(containsAny(u, Seq("WATER DISTRICT", "UTILITY DISTRICT", "MUD", "HCUD")), "Utility District")
          .otherwise(when(containsAny(u, Seq("COMM", "CENTRAL")), "Community")
            .otherwise(when(containsAny(u, Seq("COOPERATIVE", "CO-OP")), "Co-op")
              .otherwise(when(u.contains("WELL"), "Well")
                .otherwise(when(u.contains("SPRING"), "Spring")
                  .otherwise(when(containsAny(u, Seq("CISTERN", "RAINWATER")), "Cistern")
                    .otherwise(when(containsAny(u, Seq("PRIVATE", "PVT", "WATER COMPANY")), "Private")
                      .otherwise(when(u.contains("NONE"), "None")
                        .otherwise(when(regexpLike(u, "NO.*"), "None")
                          .otherwise(lit(null).cast(StringType))))))))))))
  }

  /** The space-squeeze trick, verbatim (transform.py:313-314). */
  private def squeezeUpper(c: Column, n: Int): Column =
    upper(substring(squeezeSpaces(c), 1, n))

  /** Geo-reference joins (transform.py:360-397, J5/J6): counties joined
    * twice (by fips; by state+basename) with `_fips`/`_county_name`
    * coalesced from whichever hit; geo_ids joined three times (tract+fips;
    * tractname+fips; bare geoid) with `_census_tract_geo_id` coalesced in
    * that priority. All five joins broadcast; keep/strip/dropDuplicates as
    * the reference does. The caller applies the `_`-replacement cleanup. */
  def attachGeo(good: DataFrame, counties: DataFrame, geoIds: DataFrame): DataFrame = {
    val l = prefixColumns(good, "listings_")
    def dim(df: DataFrame, cols: Seq[String], p: String) =
      prefixColumns(df.select(cols.map(col): _*), p)
    val c1 = dim(counties, Seq("fips", "state", "basename"), "counties1_")
    val c2 = dim(counties, Seq("fips", "state", "basename"), "counties2_")
    val gCols = Seq("fips", "censustract", "censustractgeoid", "censustractname")
    val g1 = dim(geoIds, gCols, "geo_ids1_")
    val g2 = dim(geoIds, gCols, "geo_ids2_")
    val g3 = dim(geoIds, gCols, "geo_ids3_")

    val withCounties = l
      .join(broadcast(c1), col("listings_fips") === col("counties1_fips"), "left")
      .join(broadcast(c2),
        col("listings_state") === col("counties2_state") &&
          col("listings_county_name") === col("counties2_basename"), "left")
      .withColumn("_fips", coalesce(col("counties1_fips"), col("counties2_fips")))
      .withColumn("_county_name",
        coalesce(substring(col("listings_county_name"), 1, 50),
          col("counties1_basename")))
    val withGeo = withCounties
      .join(broadcast(g1),
        col("listings_census_tract_geo_id") === col("geo_ids1_censustract") &&
          col("_fips") === col("geo_ids1_fips"), "left")
      .join(broadcast(g2),
        col("listings_census_tract_geo_id") === col("geo_ids2_censustractname") &&
          col("_fips") === col("geo_ids2_fips"), "left")
      .join(broadcast(g3),
        col("listings_census_tract_geo_id") === col("geo_ids3_censustractgeoid"), "left")
      .withColumn("_census_tract_geo_id",
        coalesce(col("geo_ids1_censustractgeoid"), col("geo_ids2_censustractgeoid"),
          col("geo_ids3_censustractgeoid")))

    val kept = keepColumns(withGeo, c => c.startsWith("listings_") ||
      Seq("_fips", "_county_name", "_census_tract_geo_id").contains(c))
    stripPrefix(kept, "listings_").dropDuplicates()
  }

  def transformListings(good: DataFrame, asOf: Column = current_date()): DataFrame =
    applyUnderscoreReplacements(deriveCore(sanitizeByType(good), asOf))

  /** The shared rule chain (sans replacement machinery) — reused by
    * [[MlsFullTransform]] which extends it to the full 133-column width.
    *
    * Rules are grouped into THREE `withColumns` batches by dependency layer
    * (shared tmp columns → independent rules → rules consuming same-stage
    * results): every chained `withColumn` re-resolves the whole ~130-column
    * plan, and at gate width that analysis cost — not the data — dominated
    * the e2e queries. Expressions are byte-identical to the chained form. */
  private[mls] def deriveCore(sanitized: DataFrame, asOf: Column): DataFrame = {
    // Layer 1 — shared tmp columns (the reference's _tmp_* intermediates,
    // transform.py:155-158,160,220; discarded by the `_`-replacement
    // machinery).
    val l1 = sanitized.withColumns(Map(
      // unit: explicit unit (non-all-zero), else '#'-suffix of the raw
      // address's right half (transform.py:155-159)
      "_tmp_unit1" -> when(col("unit").isNotNull &&
        regexp_replace(col("unit"), "0", "") =!= "", substring(col("unit"), 1, 10)),
      "_tmp_unit2" -> expr("right(street_address_raw, length(street_address_raw) div 2)"),
      "_tmp_subdivision1" -> upper(col("subdivision")),
      "_tmp_septic1" -> upper(col("septic_sewer")),
      // lot sizes, first pass: the reference's exact unit-inference
      // thresholds (transform.py:192-202; sqft ≤ 50 is acres mislabeled);
      // the cap pass is layer 3
      "_tmp_la" ->
        when(col("lot_size_acres").isNotNull && col("lot_size_acres") > 0, col("lot_size_acres"))
          .otherwise(when(col("lot_size_acres").isNull && col("lot_size_sq_ft").isNotNull &&
            col("lot_size_sq_ft") > 0 && col("lot_size_sq_ft") <= 50,
            col("lot_size_sq_ft").cast(DecimalType(16, 4)))
            .otherwise(when(col("lot_size_acres").isNull && col("lot_size_sq_ft").isNotNull &&
              col("lot_size_sq_ft") > 50,
              (round(col("lot_size_sq_ft"), 0) / 43560).cast(DecimalType(16, 4)))
              .otherwise(lit(null).cast(DecimalType(16, 4))))),
      "_tmp_ls" ->
        when(col("lot_size_sq_ft").isNotNull && col("lot_size_sq_ft") > 0,
          round(col("lot_size_sq_ft"), 0))
          .otherwise(when(col("lot_size_sq_ft").isNull && col("lot_size_acres").isNotNull &&
            col("lot_size_acres") > 0 && col("lot_size_acres") < 500,
            round(col("lot_size_acres") * 43560, 0).cast(DecimalType(16, 4)))
            .otherwise(lit(null).cast(DecimalType(16, 4))))))

    // Layer 2 — mutually-independent rules (may read layer-1 tmps).
    val l2 = l1.withColumns(Map(
      "_tmp_unit3" -> regexp_extract(col("_tmp_unit2"), "(.*)#(.*)", 2),
      // subdivision 6-level junk filter (transform.py:160-168)
      "_subdivision" ->
        when(col("_tmp_subdivision1").contains("NOT IN A SUBDIVISION"), lit(null).cast(StringType))
          .otherwise(when(col("_tmp_subdivision1").contains("NONE"), lit(null).cast(StringType))
            .otherwise(when(regexpLike(col("_tmp_subdivision1"), "^(UNK)(.*)"), lit(null).cast(StringType))
              .otherwise(when(col("_tmp_subdivision1").isin("NA", "N/A", "?"), lit(null).cast(StringType))
                .otherwise(when(col("subdivision").try_cast(IntegerType).isNotNull, lit(null).cast(StringType))
                  .otherwise(when(length(col("subdivision")) <= 2, lit(null).cast(StringType))
                    .otherwise(substring(col("subdivision"), 1, 100))))))),
      // section: full-match two digits 00-39 (transform.py:172)
      "_section" ->
        when(regexpLike(col("section"), "[0-3][0-9]"), col("section"))
          .otherwise(lit(null).cast(StringType)),
      "_township" -> townshipRange(col("township")),
      "_range" -> townshipRange(col("range")),
      // apn separator strip (transform.py:186)
      "_apn" -> substring(expr("REPLACE(REPLACE(apn,'-', ''),' ','')"), 1, 100),
      "_water_source" -> waterSource(col("water_source")),
      // septic/sewer decode (transform.py:220-224)
      "_septic_sewer" ->
        when(containsAny(col("_tmp_septic1"), Seq("SEPTI", "LEACH", "FIELD",
          "LAGOON", "MOUND", "AEROBIC", "CESSPOOL", "HOLDING TANK")), "Septic")
          .otherwise(when(containsAny(col("_tmp_septic1"), Seq("SEWER", "SWR",
            "PUB", "CITY", "SANITARY", "PEP")), "Sewer")
            .otherwise(lit(null).cast(StringType))),
      // Y/N normalizations (transform.py:225-234)
      "_sfha" ->
        when(upper(col("sfha")).isin("Y", "YES", "IN"), "Y")
          .otherwise(when(upper(col("sfha")).isin("N", "NO", "OUT"), "N")
            .otherwise(lit(null).cast(StringType))),
      "_hoa" ->
        when(upper(col("hoa")).isin("Y", "YES", "TRUE", "T", "MANDATORY"), "Y")
          .otherwise(when(upper(col("hoa")).isin("N", "NO", "FALSE", "F", "VOLUNTARY"), "N")
            .otherwise(when(upper(col("hoa_name")).isin("VOLUNTARY"), "N")
              .otherwise(lit(null).cast(StringType)))),
      "_hoa_name" ->
        when(upper(col("hoa_name")) === "VOLUNTARY", lit(null).cast(StringType))
          .otherwise(substring(col("hoa_name"), 1, 150)),
      "_owner_phone" -> cleanPhoneNumber(col("owner_phone")),
      // year_built window [1600, asOfYear+1] (transform.py:246)
      "_year_built" ->
        when(col("year_built").between(1600, year(asOf) + 1), col("year_built")),
      // current_price: closed-price fallback for sold listings
      // (transform.py:281-284)
      "_current_price" ->
        when((coalesce(col("current_price"), lit(0)) < 1) &&
          (col("listing_status") === "S"),
          col("closed_price").cast(DecimalType(16, 4)))
          .otherwise(when((coalesce(col("current_price"), lit(0)) < 1) &&
            (col("listing_status") =!= "S"), lit(null).cast(DecimalType(16, 4)))
            .otherwise(col("current_price").cast(DecimalType(16, 4)))),
      // closed_date sanity window (transform.py:290)
      "_closed_date" ->
        when(col("closed_date").cast(DateType) <= date_add(asOf, 180),
          col("closed_date").cast(DateType)),
      "_days_on_market" ->
        when(col("days_on_market") >= 0, col("days_on_market")),
      // cumulative DOM must dominate DOM (transform.py:292-294)
      "_cumulative_days_on_market" ->
        when(col("cumulative_days_on_market").isNotNull &&
          col("cumulative_days_on_market") >= 0 &&
          col("cumulative_days_on_market") >= coalesce(col("days_on_market"), lit(0)),
          col("cumulative_days_on_market")),
      // rent_sale defaulting (transform.py:277-279)
      "_rent_sale" ->
        when(col("rent_sale").isin("Sale", "Rental"), col("rent_sale"))
          .otherwise(lit("Sale")),
      // address squeeze + upper (transform.py:313-314)
      "_street_address_raw" -> squeezeUpper(col("street_address_raw"), 100),
      "_city_raw" -> substring(squeezeSpaces(col("city_raw")), 1, 100),
      "_listing_agent_email" ->
        when(col("listing_agent_email").contains("@"), col("listing_agent_email"))))

    // Layer 3 — rules consuming layer-2 results (the reference's repeated
    // withColumn over the same name, transform.py:159,166-168,176-178).
    l2.withColumns(Map(
      "_unit" -> changeBlankToNull(coalesce(col("_tmp_unit1"), col("_tmp_unit3"))),
      "_lot_size_acres" ->
        when(col("_tmp_la").isNotNull && col("_tmp_la") <= 1000000,
          col("_tmp_la").cast(DecimalType(16, 4))),
      "_lot_size_sq_ft" ->
        when(col("_tmp_ls").isNotNull && col("_tmp_ls") <= 2147483647L,
          col("_tmp_ls").cast(DecimalType(16, 4)))))
  }
}
