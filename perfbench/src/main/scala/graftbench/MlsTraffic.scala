package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded MLS traffic for the benchmark: a day-0 snapshot that bootstraps
  * the curated table and a day-1 nightly batch merged into it.
  *
  * Traffic dimensions (all shares are of the day-1 batch unless noted):
  *  - `tableKeys`: listings in the curated table; the batch is about
  *    `updateShare + newShare` of it (0.30 by default, the 200k/60k shape of
  *    a production night scaled down);
  *  - `updateShare`: keys of the table re-sent with a newer snapshot;
  *  - `newShare`: keys never seen before;
  *  - `dupShare`: share of the updates sent twice, once with an older
  *    snapshot, so the latest-wins window has losers to dump;
  *  - `invalidShare`: rows that fail one of four validation rules
  *    (property type, zip code, rent/sale flag, MLS board), so 95–98% of
  *    the rows are valid;
  *  - `sharedAddressShare`: listings (of the whole key space) whose address
  *    tuple is the same as another listing's — a property listed on two
  *    boards — the rest have distinct addresses.
  *
  * Every value is a pure function of (seed, key, column), so the same seed
  * gives byte-identical inputs. The day-0 snapshot is all valid, so the
  * curated table holds exactly `tableKeys` rows, and the generator predicts
  * the row count after the nightly merge: `tableKeys` plus the valid new
  * keys of the batch.
  */
final case class MlsTraffic(
    seed: Long,
    tableKeys: Int,
    updateShare: Double = 0.25,
    newShare: Double = 0.05,
    dupShare: Double = 0.02,
    invalidShare: Double = 0.03,
    sharedAddressShare: Double = 0.05) {

  val day0 = "2024-03-01"
  val day1 = "2024-03-02"
  private val newKeys: Int = math.round(tableKeys * newShare).toInt

  private def h(parts: String*): String =
    s"pmod(xxhash64(CAST($seed AS BIGINT), ${parts.mkString(", ")}), 1000000)"
  /** Per-mille draw for key `k` under a named purpose. */
  private def draw(purpose: String): String = s"pmod(xxhash64(CAST($seed AS BIGINT), k, '$purpose'), 1000)"

  private val streets = Seq("MAIN", "OAK", "PINE", "MAPLE", "CEDAR", "ELM",
    "LAKE", "HILL", "PARK", "RIVER", "SPRING", "RIDGE", "MEADOW", "FOREST",
    "SUNSET", "HIGHLAND", "WILLOW", "CHERRY", "MILL", "CHURCH")
  private val suffixes = Seq("ST", "AVE", "RD", "DR", "LN", "CT", "BLVD", "WAY")
  private def pick(xs: Seq[String], hashExpr: String): String =
    xs.zipWithIndex.map { case (x, i) => s"WHEN $i THEN '$x'" }
      .mkString(s"CASE pmod($hashExpr, ${xs.size}) ", " ", " END")

  /** The (state, zip, city, fips, county) universe the dims describe. */
  private val places: Seq[(String, String, String, String, String)] =
    Seq(("TX", "Texas", "DALLAS", "48113", "Dallas"),
      ("TX", "Texas", "AUSTIN", "48453", "Travis"),
      ("CA", "California", "LOS ANGELES", "06037", "Los Angeles"),
      ("NY", "New York", "NEW YORK", "36061", "New York"),
      ("FL", "Florida", "MIAMI", "12086", "Miami-Dade"))
      .flatMap { case (st, name, city, fips, county) =>
        (0 until 8).map(i => (st, name, city, fips, county))
      }.zipWithIndex.map { case ((st, _, city, fips, county), i) =>
        (st, f"${fips.take(2)}$i%03d", city, fips, county)
      }

  private val boards = Seq("MLS0", "MLS1", "MLS2", "MLS3", "MLS4", "MLS5", "MLS6", "MLS7")
  private val subTypes = Seq("DETACHED", "ATTACHED", "CONDO", "TOWNHOUSE", "DUPLEX", "LOT")

  /** Raw column expressions over (k, v, soad, ld, bad): `k` key, `v` the
    * listing's version (0 snapshot, 1 nightly), `bad` the invalid variant
    * (-1 when valid). Typed exactly like the raw listing feed. */
  private def rawExprs: Seq[String] = {
    val place = s"pmod(xxhash64(CAST($seed AS BIGINT), addr_k, 'place'), ${places.size})"
    def placeCol(f: ((String, String, String, String, String)) => String) =
      places.zipWithIndex.map { case (p, i) => s"WHEN $i THEN '${f(p)}'" }
        .mkString(s"CASE $place ", " ", " END")
    Seq(
      s"timestamp_seconds(1700000000 + ${h("k", "'created'")}) AS created_datetime",
      s"CASE WHEN bad = 3 THEN 'NOPE' WHEN ${draw("oldmls")} < 10 THEN 'OLDMLS' " +
        s"ELSE 'MLS' || CAST(pmod(xxhash64(CAST($seed AS BIGINT), k, 'mls'), 8) AS STRING) END AS mls",
      "'L' || CAST(k AS STRING) AS mls_listing_id",
      s"CASE WHEN ${draw("unit")} < 200 THEN 'APT' END AS unit_type",
      s"CASE WHEN shared THEN CAST(NULL AS STRING) WHEN ${draw("unit")} < 200 " +
        s"THEN 'APT ' || CAST(pmod(k, 40) + 1 AS STRING) END AS unit",
      s"CAST(25 + ${h("addr_k", "'lat'")} / 100000.0 AS DECIMAL(9,6)) AS latitude",
      s"CAST(-80 - ${h("addr_k", "'lon'")} / 25000.0 AS DECIMAL(9,6)) AS longitude",
      "'LOT ' || CAST(pmod(addr_k, 90) AS STRING) || ' BLOCK ' || CAST(pmod(addr_k, 13) AS STRING) AS legal_description",
      s"CASE WHEN ${draw("subdiv")} < 150 THEN CAST(NULL AS STRING) ELSE " +
        pick(streets, h("addr_k", "'subdiv'")) + " || ' ESTATES' END AS subdivision",
      "CAST(pmod(addr_k, 90) + 1 AS STRING) AS lot",
      "CAST(pmod(addr_k, 13) + 1 AS STRING) AS block",
      "'TR' || CAST(pmod(addr_k, 9) AS STRING) AS legal_tract",
      "'BK' || CAST(pmod(addr_k, 100) AS STRING) AS book",
      "CAST(pmod(addr_k, 36) + 1 AS STRING) AS section",
      "CAST(pmod(addr_k, 40) + 10 AS STRING) || 'N' AS township",
      "CAST(pmod(addr_k, 20) + 10 AS STRING) || 'E' AS range",
      s"CAST(${h("addr_k", "'apn'")} AS STRING) AS apn",
      placeCol(_._5) + " AS county_name",
      placeCol(_._4) + " AS fips",
      s"CASE pmod(addr_k, 3) WHEN 0 THEN '0001.00' WHEN 1 THEN '0002.00' ELSE '0003.00' END AS census_tract_geo_id",
      s"CASE WHEN ${draw("isd")} < 300 THEN CAST(NULL AS STRING) ELSE " +
        pick(streets, h("addr_k", "'isd'")) + " || ' ISD' END AS school_district",
      s"CASE WHEN bad = 0 THEN 'XX' ELSE " +
        pick(Seq("SF", "SF", "SF", "CN", "TH", "MF", "LD", "CO"), h("k", "'ptype'")) +
        " END AS property_type",
      pick(subTypes, h("k", "'psub'")) + " AS property_sub_type",
      s"'Home ' || CAST(${h("k", "'desc'")} AS STRING) AS property_description",
      s"CAST(${h("addr_k", "'acres'")} / 100000.0 AS DECIMAL(16,4)) AS lot_size_acres",
      "CAST(NULL AS DECIMAL(16,4)) AS lot_size_sq_ft",
      "'R-' || CAST(pmod(addr_k, 5) + 1 AS STRING) AS zoning",
      "CAST(NULL AS STRING) AS restrictions",
      "CAST(NULL AS STRING) AS easements",
      pick(Seq("City Water", "Well", "MUD", "Co-op"), h("addr_k", "'water'")) + " AS water_source",
      pick(Seq("City Sewer", "Septic Tank"), h("addr_k", "'sewer'")) + " AS septic_sewer",
      pick(Seq("N", "N", "N", "Y"), h("addr_k", "'sfha'")) + " AS sfha",
      pick(Seq("N", "N", "Y"), h("addr_k", "'gated'")) + " AS gated_community",
      pick(Seq("N", "Y", "Mandatory"), h("addr_k", "'hoa'")) + " AS hoa",
      "CASE WHEN pmod(addr_k, 3) = 0 THEN 'HOA ' || CAST(pmod(addr_k, 97) AS STRING) END AS hoa_name",
      "CASE WHEN pmod(addr_k, 3) = 0 THEN 'Mgmt ' || CAST(pmod(addr_k, 31) AS STRING) END AS hoa_management_co",
      s"'214-555-' || lpad(CAST(pmod(${h("k", "'ph1'")}, 10000) AS STRING), 4, '0') AS hoa_management_co_phone",
      pick(Seq("Owner", "Tenant", "Vacant"), h("k", "'occ'")) + " AS occupant_type",
      "'Fee Simple' AS ownership_type",
      pick(Seq("Individual", "Corporate", "Trust"), h("k", "'otype'")) + " AS owner_type",
      s"'Owner ' || CAST(${h("k", "'owner'")} AS STRING) AS owner_name",
      s"'(972) 555-' || lpad(CAST(pmod(${h("k", "'ph2'")}, 10000) AS STRING), 4, '0') AS owner_phone",
      s"CAST(1950 + pmod(${h("addr_k", "'built'")}, 74) AS SMALLINT) AS year_built",
      s"CAST(CASE WHEN ${draw("upd")} < 500 THEN 2000 + pmod(${h("addr_k", "'yupd'")}, 24) END AS SMALLINT) AS year_updated",
      "CAST(1 AS INTEGER) AS number_of_units",
      s"CAST(800 + pmod(${h("addr_k", "'sqft'")}, 3200) AS DECIMAL(16,4)) AS living_area_sq_ft",
      "'Tax Records' AS living_area_sq_ft_source",
      pick(Seq("Ranch", "Colonial", "Contemporary", "Traditional"), h("addr_k", "'style'")) + " AS building_style",
      s"CAST(1 + pmod(${h("addr_k", "'stories'")}, 3) AS DECIMAL(8,4)) AS stories",
      s"CAST(1 + pmod(${h("addr_k", "'beds'")}, 5) AS INTEGER) AS beds",
      s"CAST(1 + pmod(${h("addr_k", "'baths'")}, 3) AS INTEGER) AS full_baths",
      s"CAST(pmod(${h("addr_k", "'half'")}, 2) AS INTEGER) AS half_baths",
      pick(Seq("N", "N", "Y"), h("addr_k", "'bsmt'")) + " AS basement",
      "CAST(NULL AS DECIMAL(8,4)) AS finished_basement_pct",
      pick(Seq("G", "C", "N"), h("addr_k", "'gar'")) + " AS garage_type",
      pick(Seq("Attached", "Detached"), h("addr_k", "'gars'")) + " AS garage_style",
      s"CAST(pmod(${h("addr_k", "'spaces'")}, 4) AS DECIMAL(16,4)) AS garage_spaces",
      pick(Seq("Composition", "Metal", "Tile"), h("addr_k", "'roof'")) + " AS roof_type",
      pick(Seq("Brick", "Siding", "Stucco"), h("addr_k", "'ext'")) + " AS exterior_material",
      pick(Seq("Slab", "Pier"), h("addr_k", "'fnd'")) + " AS foundation",
      pick(Seq("None", "In-ground"), h("addr_k", "'pool'")) + " AS pool",
      pick(Seq("Good", "Fair", "Excellent"), h("addr_k", "'cond'")) + " AS condition",
      s"CAST(150000 + ${h("addr_k", "'appr'")} AS DECIMAL(16,4)) AS property_tax_appraisal",
      s"CAST(2000 + pmod(${h("addr_k", "'tax'")}, 12000) AS DECIMAL(16,4)) AS property_tax",
      "CAST(2023 AS SMALLINT) AS property_tax_year",
      "CAST(CASE WHEN pmod(addr_k, 3) = 0 THEN 50 + pmod(addr_k, 400) END AS DECIMAL(16,4)) AS hoa_dues",
      "CAST(CASE WHEN pmod(addr_k, 3) = 0 THEN 12 END AS INTEGER) AS hoa_dues_frequency",
      "CASE WHEN pmod(addr_k, 3) = 0 THEN 'Monthly dues' END AS hoa_dues_description",
      s"CASE WHEN bad = 2 THEN 'Lease' WHEN ${draw("rent")} < 200 THEN 'Rental' ELSE 'Sale' END AS rent_sale",
      s"date_add(DATE '2023-06-01', CAST(pmod(${h("k", "'entry'")}, 200) AS INT)) AS entry_date",
      s"date_add(DATE '2023-07-01', CAST(pmod(${h("k", "'list'")}, 200) AS INT)) AS listing_date",
      pick(Seq("A", "A", "U", "S", "X"), s"xxhash64(CAST($seed AS BIGINT), k, v, 'status')") + " AS listing_status",
      pick(Seq("Active", "Pending", "Closed"), s"xxhash64(CAST($seed AS BIGINT), k, v, 'detail')") + " AS listing_status_detail",
      s"date_add(DATE '2024-01-01', CAST(pmod(${h("k", "v", "'sdate'")}, 60) AS INT)) AS status_date",
      s"CAST(100000 + ${h("k", "'price'")} - v * 1000 AS DECIMAL(16,4)) AS current_price",
      s"date_add(DATE '2024-01-01', CAST(pmod(${h("k", "v", "'pdate'")}, 60) AS INT)) AS current_price_as_of_date",
      s"CAST(110000 + ${h("k", "'price'")} AS DECIMAL(16,4)) AS orig_price",
      s"date_add(DATE '2023-07-01', CAST(pmod(${h("k", "'list'")}, 200) AS INT)) AS orig_listing_date",
      s"CASE WHEN ${draw("contract")} < 300 THEN date_add(DATE '2024-02-01', CAST(pmod(k, 20) AS INT)) END AS contract_date",
      s"CAST(CASE WHEN ${draw("closed")} < 200 THEN 95000 + ${h("k", "'price'")} END AS DECIMAL(16,4)) AS closed_price",
      s"CASE WHEN ${draw("closed")} < 200 THEN date_add(DATE '2024-02-10', CAST(pmod(k, 15) AS INT)) END AS closed_date",
      s"CAST(pmod(${h("k", "v", "'dom'")}, 180) AS INTEGER) AS days_on_market",
      s"timestamp_seconds(1706000000 + ${h("k", "'domd'")}) AS dom_date",
      s"CAST(pmod(${h("k", "v", "'cdom'")}, 365) AS INTEGER) AS cumulative_days_on_market",
      "'NONE' AS sale_circumstances",
      "CAST(NULL AS STRING) AS listing_conditions",
      "'https://listings.example/' || CAST(k AS STRING) AS listing_url",
      "'https://img.example/' || CAST(k AS STRING) || '.jpg' AS listing_image_url",
      s"CAST(pmod(${h("k", "'imgs'")}, 40) AS INTEGER) AS listing_image_url_count",
      s"date_add(DATE '2023-07-01', CAST(pmod(${h("k", "'imgd'")}, 200) AS INT)) AS listing_image_url_date",
      s"CAST(CASE WHEN ${draw("loan")} < 600 THEN 80000 + ${h("k", "'loan'")} END AS DECIMAL(16,4)) AS loan_amount",
      s"'Charming home, updated ' || CAST(v AS STRING) || ' times, near ' || " +
        pick(streets, h("k", "'remark'")) + " || ' park. Ref ' || CAST(k AS STRING) AS public_remarks",
      s"CASE WHEN ${draw("realtor")} < 400 THEN 'Show by appt ' || CAST(pmod(k, 9) AS STRING) END AS realtor_remarks",
      s"'Broker ' || CAST(pmod(${h("k", "'broker'")}, 300) AS STRING) AS listing_broker_name",
      s"'BR' || CAST(pmod(${h("k", "'broker'")}, 300) AS STRING) AS listing_broker_id",
      s"'Agent ' || CAST(pmod(${h("k", "'agent'")}, 2000) AS STRING) AS listing_agent_name",
      s"'AG' || CAST(pmod(${h("k", "'agent'")}, 2000) AS STRING) AS listing_agent_id",
      s"'469-555-' || lpad(CAST(pmod(${h("k", "'ph3'")}, 10000) AS STRING), 4, '0') AS listing_agent_phone",
      s"'agent' || CAST(pmod(${h("k", "'agent'")}, 2000) AS STRING) || '@example.com' AS listing_agent_email",
      s"'Brokerage ' || CAST(pmod(${h("k", "'broker'")}, 300) AS STRING) AS brokerage_name",
      s"'817-555-' || lpad(CAST(pmod(${h("k", "'ph4'")}, 10000) AS STRING), 4, '0') AS brokerage_phone",
      "CAST(NULL AS STRING) AS selling_agent_name",
      "CAST(NULL AS STRING) AS selling_agent_id",
      "'3%' AS commissions",
      "CAST(NULL AS STRING) AS buyer_agent_name",
      "CAST(NULL AS STRING) AS buyer_agent_id",
      "CAST(2.5 AS DECIMAL(8,4)) AS buyer_commission_pct",
      s"CAST(100 + pmod(addr_k, 9900) AS STRING) || ' ' || " +
        pick(streets, h("addr_k", "'street'")) + " || ' ' || " +
        pick(suffixes, h("addr_k", "'sfx'")) + " AS street_address_raw",
      placeCol(_._3) + " AS city_raw",
      placeCol(_._1) + " AS state_raw",
      s"CASE WHEN bad = 1 THEN '00000' ELSE ${placeCol(_._2)} END AS zip_raw",
      "'FEED' || CAST(pmod(k, 3) AS STRING) AS source",
      "'SRC' || CAST(pmod(k, 5) AS STRING) AS source_reference",
      "'SL' || CAST(k AS STRING) AS source_listing_id",
      "soad AS source_as_of_date",
      "ld AS load_date")
  }

  /** Key-level parameters: `addr_k` is the address identity — a listing
    * with a shared address takes the address of a partner key. */
  private def keyed(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val sharedPerMille = math.round(sharedAddressShare * 1000)
    spark.range(from, until).toDF("k")
      .selectExpr("k", s"${draw("shared")} < $sharedPerMille AS shared")
      .selectExpr("k", "shared",
        // shared listings point at the key 7 below them: the pair (k, k-7)
        // then posts one address tuple (the partner's unit is kept null)
        "CASE WHEN shared AND k >= 7 THEN k - 7 ELSE k END AS addr_k")
  }

  private def withParams(base: DataFrame, v: Int, soad: String, ld: String,
                         invalid: Boolean): DataFrame = {
    val perMille = math.round(invalidShare * 1000)
    val badExpr =
      if (!invalid) "-1"
      else s"CASE WHEN pmod(xxhash64(CAST($seed AS BIGINT), k, $v, 'valid'), 1000) < $perMille " +
        s"THEN CAST(pmod(xxhash64(CAST($seed AS BIGINT), k, 'variant'), 4) AS INT) ELSE -1 END"
    base.selectExpr("k", "shared", "addr_k", s"$v AS v",
      s"TIMESTAMP '$soad' AS soad", s"'$ld' AS ld", s"$badExpr AS bad")
  }

  /** The day-0 snapshot: every key once, all valid. */
  private def snapshot(spark: SparkSession): DataFrame =
    withParams(keyed(spark, 0, tableKeys), 0, s"$day0 06:00:00", day0,
      invalid = false)

  /** The day-1 batch with its helper columns (`k`, `bad`, `is_new`,
    * `is_dup`). */
  private def nightlyWithTruth(spark: SparkSession): DataFrame = {
    val updPerMille = math.round(updateShare * 1000)
    val dupPerMille = math.round(dupShare * 1000)
    val keys = keyed(spark, 0, tableKeys.toLong + newKeys)
      .filter(s"k >= $tableKeys OR ${draw("update")} < $updPerMille")
    val main = withParams(keys, 1, s"$day1 06:00:00", day1, invalid = true)
    val dups = withParams(
      keys.filter(s"k < $tableKeys AND ${draw("dup")} < $dupPerMille"),
      1, s"$day1 01:00:00", day1, invalid = true)
    main.withColumn("is_dup", lit(false))
      .unionByName(dups.withColumn("is_dup", lit(true)))
      .withColumn("is_new", col("k") >= tableKeys)
  }

  /** Project the parameter frame onto the raw listing columns. */
  private def raw(params: DataFrame): DataFrame = params.selectExpr(rawExprs: _*)

  /** Reference dims consistent with [[places]], [[boards]], [[subTypes]]. */
  private def dims(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    val states = Seq(("TX", "Texas"), ("CA", "California"), ("NY", "New York"),
      ("FL", "Florida"), ("WA", "Washington"))
    val counties = places.map(p => (p._4, p._1, p._5)).distinct
    Map(
      "boards" -> (boards.map(b => (b, null: String)) :+ ("OLDMLS", "MLS1"))
        .toDF("mls", "movedto"),
      "states" -> states.toDF("state", "name"),
      "zipcodes" -> places.map(p => (p._2, p._1)).distinct.toDF("zipcode", "state"),
      "psub" -> subTypes.toDF("property_sub_type"),
      "counties" -> counties.toDF("fips", "state", "basename"),
      "geo_ids" -> counties.flatMap { case (fips, _, _) =>
        (1 to 3).map(t => (fips, f"000$t.00", f"$fips${t}%06d00",
          s"Tract $t of $fips"))
      }.toDF("fips", "censustract", "censustractgeoid", "censustractname"))
  }

  /** Write the day-0 snapshot, the day-1 batch, the dims and the target
    * schema under `root` as the job's on-disk inputs; returns what the
    * output checks need. */
  def write(spark: SparkSession, root: String): MlsTraffic.Written = {
    val parts = spark.sparkContext.defaultParallelism
    raw(snapshot(spark)).repartition(parts)
      .write.mode("overwrite").orc(s"$root/in_day0")
    val batch = nightlyWithTruth(spark).cache()
    try {
      raw(batch).repartition(parts).write.mode("overwrite").orc(s"$root/in_day1")
      dims(spark).foreach { case (n, df) =>
        df.coalesce(1).write.mode("overwrite").orc(s"$root/dim_$n")
      }
      Files.writeString(Paths.get(root, "schema.json"), new String(
        getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      val r = batch.agg(
        count(lit(1)).as("rows"),
        sum(when(col("bad") < 0, 1).otherwise(0)).as("valid"),
        sum(when(col("is_new"), 1).otherwise(0)).as("new_rows"),
        sum(when(col("is_new") && col("bad") < 0, 1).otherwise(0)).as("new_valid"),
        sum(when(col("is_dup"), 1).otherwise(0)).as("dups"),
        sum(when(col("shared"), 1).otherwise(0)).as("shared"))
        .head()
      val rows = r.getLong(0)
      MlsTraffic.Written(
        batchRows = rows,
        expectedCurated = tableKeys + r.getLong(3),
        shares = Map(
          "batch_to_table" -> rows.toDouble / tableKeys,
          "update_share" -> (rows - r.getLong(2) - r.getLong(4)).toDouble / rows,
          "new_share" -> r.getLong(2).toDouble / rows,
          "dup_share" -> r.getLong(4).toDouble / rows,
          "valid_share" -> r.getLong(1).toDouble / rows,
          "shared_address_share" -> r.getLong(5).toDouble / rows))
    } finally batch.unpersist()
  }
}

object MlsTraffic {
  final case class Written(batchRows: Long, expectedCurated: Long,
                           shares: Map[String, Double])
}
