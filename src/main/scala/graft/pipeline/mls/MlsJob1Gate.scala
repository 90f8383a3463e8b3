package graft.pipeline.mls

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.LatestWins
import graft.operators.Merge

/** End-to-end Job-1 parity gate at the REAL 133-column schema width:
  * validate → full-width transform → latest-wins dedup → MERGE →
  * projection, hash-checked against a DuckDB oracle that recomputes the
  * whole pipeline relationally.
  *
  * The input is synthesized deterministically from the `customer` table:
  * every synthesis expression is written in the SQL subset BOTH engines
  * parse identically, so the exact same strings drive the Spark frame and
  * the oracle's CTEs — the two engines cannot drift on the fixture. Value
  * cycles are chosen to exercise every rule branch (junk subdivisions,
  * phone formats, unit-inference lot sizes, Y/N decodes, date windows,
  * MLS remaps, all six dim-join paths) while avoiding cross-engine
  * edge cases (no half-way decimal rounding ties, no decimal-string int
  * casts, fractions exactly representable in binary).
  */
object MlsJob1Gate {

  private[mls] val asOfSql = "DATE '2024-06-01'" // year(asOf)+1 = 2025
  private[mls] val nowTsSql = "TIMESTAMP '2024-06-01 00:00:00'"

  // -------------------------------------------------------------------
  // Shared dimension literals (same rows build the Spark dims and the
  // oracle CTEs).
  // -------------------------------------------------------------------
  private[mls] val dims: Seq[(String, String, String)] = Seq(
    ("boards", "mls, movedto",
      "('MLS0', CAST(NULL AS STRING)), ('MLS1', CAST(NULL AS STRING)), " +
        "('MLS2', CAST(NULL AS STRING)), ('OLDMLS', 'MLS2')"),
    ("states", "state, name",
      "('TX', 'Texas'), ('CA', 'California'), ('NY', 'New York')"),
    ("zipcodes", "zipcode, state",
      "('75001', 'TX'), ('75002', 'TX'), ('90210', 'CA'), ('90211', 'CA')"),
    ("psub", "property_sub_type",
      "('SUB1'), ('SUB2'), ('sub3')"),
    ("counties", "fips, state, basename",
      "('48113', 'TX', 'Dallas'), ('06037', 'CA', 'Los Angeles'), " +
        "('36061', 'NY', 'New York')"),
    ("geo_ids", "fips, censustract, censustractgeoid, censustractname",
      "('48113', '0001.00', '48113000100', 'Tract 1'), " +
        "('06037', '0002.00', '06037000200', 'Tract 2'), " +
        "('48113', '0003.00', '48113000300', 'Tract 3')"))

  private def phoneCycle(shift: Int): String =
    s"""CASE (k + $shift) % 6
       | WHEN 0 THEN '214-555-1234' WHEN 1 THEN '(214) 555-9876'
       | WHEN 2 THEN '123-555-1234' WHEN 3 THEN '2145551234x99'
       | WHEN 4 THEN '555-1234' ELSE CAST(NULL AS STRING) END""".stripMargin

  private[mls] val defaultSoad = "2024-01-04 23:00:00"

  /** Synthesis expressions (shared SQL subset), PARAMETERIZED on base
    * columns rather than literals: `b` = batch number (shifts
    * listing_status, prices, and remarks — the changed columns the merge
    * must propagate), `ld` = load_date, `soad` = the snapshot timestamp
    * (the hist gate synthesizes multiple versions per key with it).
    *
    * Column parameters keep the 130 CASE trees appearing ONCE in a plan no
    * matter how many batches union beneath them — with per-batch literal
    * copies, analyzer+codegen of N batch subtrees dominated the e2e gates. */
  private[mls] val synthExprs: Seq[String] = Seq(
    "CASE WHEN k % 11 = 3 THEN TIMESTAMP '1800-01-01 00:00:00' ELSE TIMESTAMP '2024-01-05 10:30:00' END AS created_datetime",
    "CASE WHEN k % 19 = 1 THEN CAST(NULL AS STRING) WHEN k % 19 = 2 THEN 'NOPE' WHEN k % 19 = 3 THEN 'OLDMLS' ELSE 'MLS' || CAST(k % 3 AS STRING) END AS mls",
    "CASE WHEN k % 23 = 1 THEN CAST(NULL AS STRING) ELSE 'L' || CAST(k AS STRING) END AS mls_listing_id",
    "CASE WHEN k % 4 = 0 THEN CAST(NULL AS STRING) ELSE 'UnitTypeNumber' || CAST(k % 3 AS STRING) END AS unit_type",
    "CASE k % 5 WHEN 0 THEN '0' WHEN 1 THEN '00' WHEN 2 THEN 'APT 5' WHEN 3 THEN CAST(NULL AS STRING) ELSE '12B' END AS unit",
    "CAST(32.25 + (k % 100) * 0.25 AS DECIMAL(9,6)) AS latitude",
    "CAST(-96.5 - (k % 50) * 0.25 AS DECIMAL(9,6)) AS longitude",
    "'Legal desc ' || CAST(k AS STRING) AS legal_description",
    "CASE k % 9 WHEN 0 THEN 'NOT IN A SUBDIVISION' WHEN 1 THEN 'NONE GIVEN' WHEN 2 THEN 'UNKNOWN AREA' WHEN 3 THEN 'N/A' WHEN 4 THEN '1234' WHEN 5 THEN 'AB' WHEN 6 THEN 'WILLOW CREEK ESTATES UNIT ' || CAST(k % 5 AS STRING) WHEN 7 THEN CAST(NULL AS STRING) ELSE repeat('S', 120) END AS subdivision",
    "CASE k % 5 WHEN 0 THEN '0' WHEN 1 THEN '000' WHEN 2 THEN 'LOT 7' WHEN 3 THEN CAST(NULL AS STRING) ELSE '15' END AS lot",
    "'B' || CAST(k % 20 AS STRING) AS block",
    "CASE WHEN k % 3 = 0 THEN CAST(NULL AS STRING) ELSE 'TR' || CAST(k % 9 AS STRING) END AS legal_tract",
    "CASE WHEN k % 4 = 0 THEN repeat('B', 30) ELSE 'BK' || CAST(k % 100 AS STRING) END AS book",
    "CASE k % 6 WHEN 0 THEN '05' WHEN 1 THEN '39' WHEN 2 THEN '40' WHEN 3 THEN '4A' WHEN 4 THEN CAST(NULL AS STRING) ELSE '7' END AS section",
    "CASE k % 6 WHEN 0 THEN '12N' WHEN 1 THEN '12-N' WHEN 2 THEN 'T12N' WHEN 3 THEN 'JUNK' WHEN 4 THEN CAST(NULL AS STRING) ELSE '12X' END AS township",
    "CASE k % 5 WHEN 0 THEN '09E' WHEN 1 THEN '09 E' WHEN 2 THEN 'T09W' WHEN 3 THEN 'R9' ELSE CAST(NULL AS STRING) END AS range",
    "CASE k % 3 WHEN 0 THEN '12-345 678' WHEN 1 THEN '123456789' ELSE CAST(NULL AS STRING) END AS apn",
    "CASE k % 5 WHEN 0 THEN 'Dallas' WHEN 1 THEN CAST(NULL AS STRING) WHEN 2 THEN 'Los Angeles' WHEN 3 THEN 'Nowhere' ELSE CAST(NULL AS STRING) END AS county_name",
    "CASE k % 4 WHEN 0 THEN '48113' WHEN 1 THEN CAST(NULL AS STRING) WHEN 2 THEN '06037' ELSE '99999' END AS fips",
    "CASE k % 6 WHEN 0 THEN '0001.00' WHEN 1 THEN 'Tract 2' WHEN 2 THEN '48113000300' WHEN 3 THEN 'junk' WHEN 4 THEN CAST(NULL AS STRING) ELSE '0002.00' END AS census_tract_geo_id",
    "CASE k % 4 WHEN 0 THEN 'Dallas ISD' WHEN 1 THEN '42' WHEN 2 THEN CAST(NULL AS STRING) ELSE 'Plano ISD' END AS school_district",
    "CASE k % 8 WHEN 0 THEN 'SF' WHEN 1 THEN 'CN' WHEN 2 THEN 'TH' WHEN 3 THEN 'MH' WHEN 4 THEN 'SF' WHEN 5 THEN 'XX' WHEN 6 THEN CAST(NULL AS STRING) ELSE 'LD' END AS property_type",
    "CASE k % 5 WHEN 0 THEN 'SUB1' WHEN 1 THEN 'SUB2' WHEN 2 THEN 'BAD' WHEN 3 THEN CAST(NULL AS STRING) ELSE 'sub3' END AS property_sub_type",
    "'Desc ' || CAST(k AS STRING) AS property_description",
    "CAST(CASE k % 5 WHEN 0 THEN CAST(NULL AS DOUBLE) WHEN 1 THEN 0 WHEN 2 THEN 2.5 WHEN 3 THEN 300 ELSE 2000000 END AS DECIMAL(16,4)) AS lot_size_acres",
    "CAST(CASE k % 6 WHEN 0 THEN CAST(NULL AS DOUBLE) WHEN 1 THEN 0 WHEN 2 THEN 25 WHEN 3 THEN 43560 WHEN 4 THEN 87120 ELSE CAST(NULL AS DOUBLE) END AS DECIMAL(16,4)) AS lot_size_sq_ft",
    "CASE WHEN k % 3 = 0 THEN CAST(NULL AS STRING) ELSE 'Z-' || CAST(k % 7 AS STRING) END AS zoning",
    "CASE WHEN k % 4 = 0 THEN CAST(NULL AS STRING) ELSE 'Restr ' || CAST(k % 5 AS STRING) END AS restrictions",
    "CASE WHEN k % 5 = 0 THEN CAST(NULL AS STRING) ELSE 'Ease ' || CAST(k % 5 AS STRING) END AS easements",
    "CASE k % 13 WHEN 0 THEN 'City Water' WHEN 1 THEN 'MUN CO' WHEN 2 THEN 'Water District' WHEN 3 THEN 'Central Supply' WHEN 4 THEN 'CO-OP Assn' WHEN 5 THEN 'Deep Well' WHEN 6 THEN 'Spring Fed' WHEN 7 THEN 'Rainwater Collection' WHEN 8 THEN 'Pvt Company' WHEN 9 THEN 'NONE' WHEN 10 THEN 'No Source' WHEN 11 THEN 'Ditch' ELSE CAST(NULL AS STRING) END AS water_source",
    "CASE k % 5 WHEN 0 THEN 'Septic Tank' WHEN 1 THEN 'City Sewer' WHEN 2 THEN 'PEP system' WHEN 3 THEN 'Unknown' ELSE CAST(NULL AS STRING) END AS septic_sewer",
    "CASE k % 7 WHEN 0 THEN 'Y' WHEN 1 THEN 'yes' WHEN 2 THEN 'IN' WHEN 3 THEN 'n' WHEN 4 THEN 'OUT' WHEN 5 THEN 'maybe' ELSE CAST(NULL AS STRING) END AS sfha",
    "CASE k % 5 WHEN 0 THEN 'Y' WHEN 1 THEN 'n' WHEN 2 THEN 'N' WHEN 3 THEN 'X' ELSE CAST(NULL AS STRING) END AS gated_community",
    "CASE k % 7 WHEN 0 THEN 'Y' WHEN 1 THEN 'true' WHEN 2 THEN 'VOLUNTARY' WHEN 3 THEN 'Mandatory' WHEN 4 THEN 'nope' WHEN 5 THEN 'N' ELSE CAST(NULL AS STRING) END AS hoa",
    "CASE k % 4 WHEN 0 THEN 'VOLUNTARY' WHEN 1 THEN 'Willow HOA' WHEN 2 THEN CAST(NULL AS STRING) ELSE 'Creek HOA' END AS hoa_name",
    "CASE WHEN k % 3 = 0 THEN CAST(NULL AS STRING) ELSE 'Mgmt ' || CAST(k % 5 AS STRING) END AS hoa_management_co",
    phoneCycle(1) + " AS hoa_management_co_phone",
    "CASE k % 3 WHEN 0 THEN 'Owner' WHEN 1 THEN 'Tenant' ELSE CAST(NULL AS STRING) END AS occupant_type",
    "CASE k % 3 WHEN 0 THEN 'Fee Simple' WHEN 1 THEN 'Leasehold' ELSE CAST(NULL AS STRING) END AS ownership_type",
    "CASE k % 3 WHEN 0 THEN 'Individual' WHEN 1 THEN 'Corporate' ELSE CAST(NULL AS STRING) END AS owner_type",
    "CASE k % 3 WHEN 0 THEN '  Padded Owner  ' WHEN 1 THEN 'Jane Doe' ELSE CAST(NULL AS STRING) END AS owner_name",
    phoneCycle(2) + " AS owner_phone",
    "CAST(CASE k % 5 WHEN 0 THEN 1985 WHEN 1 THEN 1599 WHEN 2 THEN 2030 WHEN 3 THEN CAST(NULL AS INTEGER) ELSE 2020 END AS SMALLINT) AS year_built",
    "CAST(CASE k % 4 WHEN 0 THEN 2000 WHEN 1 THEN 1500 WHEN 2 THEN CAST(NULL AS INTEGER) ELSE 2026 END AS SMALLINT) AS year_updated",
    "CAST(CASE k % 4 WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN CAST(NULL AS INTEGER) ELSE 12 END AS INTEGER) AS number_of_units",
    "CAST(CASE k % 5 WHEN 0 THEN 1234 WHEN 1 THEN 2500.25 WHEN 2 THEN -10 WHEN 3 THEN CAST(NULL AS DOUBLE) ELSE 1800 END AS DECIMAL(16,4)) AS living_area_sq_ft",
    "CASE k % 3 WHEN 0 THEN 'Tax Records' WHEN 1 THEN 'Appraiser' ELSE CAST(NULL AS STRING) END AS living_area_sq_ft_source",
    "CASE k % 3 WHEN 0 THEN 'Ranch' WHEN 1 THEN 'Colonial' ELSE CAST(NULL AS STRING) END AS building_style",
    "CAST(CASE k % 4 WHEN 0 THEN 1 WHEN 1 THEN 2.5 WHEN 2 THEN 150 ELSE CAST(NULL AS DOUBLE) END AS DECIMAL(8,4)) AS stories",
    "CAST(CASE k % 4 WHEN 0 THEN 3 WHEN 1 THEN 0 WHEN 2 THEN -1 ELSE CAST(NULL AS INTEGER) END AS INTEGER) AS beds",
    "CAST(CASE k % 4 WHEN 0 THEN 2 WHEN 1 THEN 0 WHEN 2 THEN -2 ELSE CAST(NULL AS INTEGER) END AS INTEGER) AS full_baths",
    "CAST(CASE k % 4 WHEN 0 THEN 1 WHEN 1 THEN -1 WHEN 2 THEN 0 ELSE CAST(NULL AS INTEGER) END AS INTEGER) AS half_baths",
    "CASE k % 6 WHEN 0 THEN 'T' WHEN 1 THEN 'FALSE' WHEN 2 THEN 'x' WHEN 3 THEN 'Y' WHEN 4 THEN CAST(NULL AS STRING) ELSE 'f' END AS basement",
    "CAST(CASE k % 4 WHEN 0 THEN 50 WHEN 1 THEN 101 WHEN 2 THEN 0 ELSE CAST(NULL AS DOUBLE) END AS DECIMAL(8,4)) AS finished_basement_pct",
    "CASE k % 5 WHEN 0 THEN 'G' WHEN 1 THEN 'c' WHEN 2 THEN 'N' WHEN 3 THEN 'Z' ELSE CAST(NULL AS STRING) END AS garage_type",
    "CASE k % 3 WHEN 0 THEN 'Attached' WHEN 1 THEN 'Detached' ELSE CAST(NULL AS STRING) END AS garage_style",
    "CAST(CASE k % 4 WHEN 0 THEN 2 WHEN 1 THEN 2.25 WHEN 2 THEN 3000000000 ELSE CAST(NULL AS DOUBLE) END AS DECIMAL(16,4)) AS garage_spaces",
    "CASE k % 3 WHEN 0 THEN 'Composition' WHEN 1 THEN 'Metal' ELSE CAST(NULL AS STRING) END AS roof_type",
    "CASE k % 3 WHEN 0 THEN 'Brick' WHEN 1 THEN 'Siding' ELSE CAST(NULL AS STRING) END AS exterior_material",
    "CASE k % 3 WHEN 0 THEN 'Slab' WHEN 1 THEN 'Pier' ELSE CAST(NULL AS STRING) END AS foundation",
    "CASE k % 3 WHEN 0 THEN 'In-ground' WHEN 1 THEN 'None' ELSE CAST(NULL AS STRING) END AS pool",
    "CASE k % 3 WHEN 0 THEN 'Good' WHEN 1 THEN 'Fair' ELSE CAST(NULL AS STRING) END AS condition",
    "CAST(200000.25 + (k % 1000) AS DECIMAL(16,4)) AS property_tax_appraisal",
    "CAST(CASE WHEN k % 4 = 0 THEN CAST(NULL AS DOUBLE) ELSE 5000.5 + (k % 100) END AS DECIMAL(16,4)) AS property_tax",
    "CAST(CASE k % 5 WHEN 0 THEN 2021 WHEN 1 THEN 1999 WHEN 2 THEN 2030 WHEN 3 THEN CAST(NULL AS INTEGER) ELSE 2024 END AS SMALLINT) AS property_tax_year",
    "CAST(CASE WHEN k % 3 = 0 THEN CAST(NULL AS DOUBLE) ELSE 100.25 + (k % 50) END AS DECIMAL(16,4)) AS hoa_dues",
    "CAST(CASE k % 5 WHEN 0 THEN 12 WHEN 1 THEN 3 WHEN 2 THEN 0 WHEN 3 THEN CAST(NULL AS INTEGER) ELSE 52 END AS INTEGER) AS hoa_dues_frequency",
    "CASE WHEN k % 3 = 0 THEN CAST(NULL AS STRING) ELSE 'Dues desc ' || CAST(k % 4 AS STRING) END AS hoa_dues_description",
    "CASE k % 17 WHEN 15 THEN 'Lease' WHEN 16 THEN CAST(NULL AS STRING) WHEN 3 THEN 'Rental' ELSE 'Sale' END AS rent_sale",
    "CASE WHEN k % 5 = 4 THEN DATE '1800-06-01' ELSE DATE '2023-11-01' + CAST(k % 28 AS INTEGER) END AS entry_date",
    "CASE WHEN k % 7 = 6 THEN DATE '1799-01-15' ELSE DATE '2023-12-01' + CAST(k % 20 AS INTEGER) END AS listing_date",
    "CASE (k + b) % 7 WHEN 0 THEN 'A' WHEN 1 THEN 'U' WHEN 2 THEN 'S' WHEN 3 THEN 'X' WHEN 4 THEN 'ZZ' WHEN 5 THEN CAST(NULL AS STRING) ELSE 'U' END AS listing_status",
    "CASE k % 3 WHEN 0 THEN 'Active' WHEN 1 THEN 'Pending' ELSE CAST(NULL AS STRING) END AS listing_status_detail",
    "CASE WHEN k % 6 = 5 THEN DATE '1800-02-02' ELSE DATE '2024-01-10' + CAST(k % 15 AS INTEGER) END AS status_date",
    "CAST(CASE k % 6 WHEN 0 THEN CAST(NULL AS DOUBLE) WHEN 1 THEN 0 WHEN 2 THEN 250000.25 + b * 1000 WHEN 3 THEN 315000.5 WHEN 4 THEN 0.25 ELSE 199999.75 END AS DECIMAL(16,4)) AS current_price",
    "CASE WHEN k % 4 = 3 THEN DATE '1800-03-03' ELSE DATE '2024-01-20' + CAST(k % 10 AS INTEGER) END AS current_price_as_of_date",
    "CAST(CASE k % 4 WHEN 0 THEN -5 WHEN 1 THEN 100000.25 WHEN 2 THEN CAST(NULL AS DOUBLE) ELSE 0 END AS DECIMAL(16,4)) AS orig_price",
    "CASE WHEN k % 5 = 2 THEN DATE '1795-01-01' ELSE DATE '2023-10-01' + CAST(k % 25 AS INTEGER) END AS orig_listing_date",
    "CASE WHEN k % 6 = 1 THEN CAST(NULL AS DATE) ELSE DATE '2024-02-01' + CAST(k % 12 AS INTEGER) END AS contract_date",
    "CAST(CASE k % 5 WHEN 0 THEN 0 WHEN 1 THEN 150000.5 WHEN 2 THEN CAST(NULL AS DOUBLE) WHEN 3 THEN 99999.75 ELSE 1 END AS DECIMAL(16,4)) AS closed_price",
    "CASE k % 4 WHEN 0 THEN DATE '2026-01-01' WHEN 1 THEN DATE '2024-03-01' WHEN 2 THEN CAST(NULL AS DATE) ELSE DATE '2023-12-15' END AS closed_date",
    "CAST(CASE k % 4 WHEN 0 THEN 10 WHEN 1 THEN -5 WHEN 2 THEN CAST(NULL AS INTEGER) ELSE 45 END AS INTEGER) AS days_on_market",
    "CASE WHEN k % 9 = 8 THEN TIMESTAMP '1800-05-05 00:00:00' ELSE TIMESTAMP '2024-02-10 08:00:00' END AS dom_date",
    "CAST(CASE k % 5 WHEN 0 THEN 15 WHEN 1 THEN 5 WHEN 2 THEN -1 WHEN 3 THEN CAST(NULL AS INTEGER) ELSE 60 END AS INTEGER) AS cumulative_days_on_market",
    "CASE k % 4 WHEN 0 THEN 'NONE' WHEN 1 THEN 'Estate Sale' WHEN 2 THEN CAST(NULL AS STRING) ELSE 'NOT APPLICABLE' END AS sale_circumstances",
    "CASE k % 3 WHEN 0 THEN 'NOT APPLICABLE' WHEN 1 THEN 'As-Is' ELSE CAST(NULL AS STRING) END AS listing_conditions",
    "'http://listing/' || CAST(k AS STRING) AS listing_url",
    "CASE WHEN k % 4 = 0 THEN CAST(NULL AS STRING) ELSE 'http://img/' || CAST(k AS STRING) END AS listing_image_url",
    "CAST(k % 40 AS INTEGER) AS listing_image_url_count",
    "CASE WHEN k % 5 = 1 THEN DATE '1800-08-08' ELSE DATE '2024-01-05' + CAST(k % 18 AS INTEGER) END AS listing_image_url_date",
    "CAST(CASE WHEN k % 3 = 0 THEN CAST(NULL AS DOUBLE) ELSE 100000.75 + (k % 200) END AS DECIMAL(16,4)) AS loan_amount",
    "'Remarks b' || CAST(b AS STRING) || ' ' || CAST(k AS STRING) AS public_remarks",
    "CASE WHEN k % 2 = 0 THEN CAST(NULL AS STRING) ELSE 'Realtor note ' || CAST(k % 6 AS STRING) END AS realtor_remarks",
    "CASE k % 4 WHEN 0 THEN '' WHEN 1 THEN '  ' WHEN 2 THEN 'Broker X' ELSE CAST(NULL AS STRING) END AS listing_broker_name",
    "'BR' || CAST(k % 30 AS STRING) AS listing_broker_id",
    "CASE k % 3 WHEN 0 THEN 'Agent Ann' WHEN 1 THEN 'Agent Bob' ELSE CAST(NULL AS STRING) END AS listing_agent_name",
    "'AG' || CAST(k % 40 AS STRING) AS listing_agent_id",
    phoneCycle(3) + " AS listing_agent_phone",
    "CASE k % 3 WHEN 0 THEN 'agent@example.com' WHEN 1 THEN 'not-an-email' ELSE CAST(NULL AS STRING) END AS listing_agent_email",
    "CASE WHEN k % 4 = 0 THEN CAST(NULL AS STRING) ELSE 'Brokerage ' || CAST(k % 5 AS STRING) END AS brokerage_name",
    phoneCycle(4) + " AS brokerage_phone",
    "CASE k % 4 WHEN 0 THEN '' WHEN 1 THEN 'Seller Sam' ELSE CAST(NULL AS STRING) END AS selling_agent_name",
    "'SA' || CAST(k % 25 AS STRING) AS selling_agent_id",
    "CASE k % 4 WHEN 0 THEN '' WHEN 1 THEN '3%' WHEN 2 THEN CAST(NULL AS STRING) ELSE '2.5% split' END AS commissions",
    "CASE k % 3 WHEN 0 THEN 'Buyer Bea' ELSE CAST(NULL AS STRING) END AS buyer_agent_name",
    "'BA' || CAST(k % 35 AS STRING) AS buyer_agent_id",
    "CAST(CASE k % 3 WHEN 0 THEN 2.5 WHEN 1 THEN CAST(NULL AS DOUBLE) ELSE 3 END AS DECIMAL(8,4)) AS buyer_commission_pct",
    "CASE k % 5 WHEN 0 THEN '123  Main   St # 4B' WHEN 1 THEN '456 Oak Ave' WHEN 2 THEN '789 Pine Rd #12' WHEN 3 THEN CAST(NULL AS STRING) ELSE '  10 Elm St  ' END AS street_address_raw",
    "CASE k % 6 WHEN 0 THEN 'Dallas' WHEN 1 THEN 'UNINCORPORATED' WHEN 2 THEN ' Los  Angeles ' WHEN 3 THEN 'HTTP' WHEN 4 THEN CAST(NULL AS STRING) ELSE 'Plano' END AS city_raw",
    "CASE k % 7 WHEN 0 THEN 'TX' WHEN 1 THEN 'TX' WHEN 2 THEN 'CA' WHEN 3 THEN 'CA' WHEN 4 THEN 'Texas' WHEN 5 THEN 'ZZ' ELSE CAST(NULL AS STRING) END AS state_raw",
    "CASE k % 7 WHEN 0 THEN '75001' WHEN 1 THEN '75002' WHEN 2 THEN '90210' WHEN 3 THEN '90211' WHEN 4 THEN '75001' WHEN 5 THEN '75001' ELSE CAST(NULL AS STRING) END AS zip_raw",
    "'FEED' || CAST(k % 3 AS STRING) AS source",
    "'SRC' || CAST(k % 5 AS STRING) AS source_reference",
    "'SL' || CAST(k AS STRING) AS source_listing_id",
    "CASE WHEN k % 10 = 9 THEN TIMESTAMP '1800-09-09 00:00:00' ELSE soad END AS source_as_of_date",
    "ld AS load_date")

  // -------------------------------------------------------------------
  // Spark side
  // -------------------------------------------------------------------
  private[mls] def dimDf(s: SparkSession, name: String): DataFrame = {
    val (_, cols, rows) = dims.find(_._1 == name).get
    s.sql(s"SELECT * FROM VALUES $rows AS t($cols)")
  }

  /** Batch-parameter base: (k, b, ld, soad, gate_batch) — union N of these
    * cheaply, then [[synthesize]] ONCE above the union. */
  private[mls] def rawBase(s: SparkSession, dir: String, b: Int, loadDate: String,
                           tag: String, soadTs: String = defaultSoad,
                           kFilter: Option[String] = None): DataFrame = {
    val ks = graft.sources.TableIO.readStatic(s, s"$dir/customer.parquet")
      .selectExpr("CAST(c_custkey AS BIGINT) AS k")
    kFilter.fold(ks)(ks.filter)
      .selectExpr("k", s"$b AS b", s"'$loadDate' AS ld",
        s"TIMESTAMP '$soadTs' AS soad", s"'$tag' AS gate_batch")
  }

  /** Apply the shared synthesis once, carrying the batch tag through.
    *
    * The parameter base is a handful of tiny parquet splits, so without
    * intervention EVERY downstream row-wise stage (synthesis, validate
    * joins, the 133-column transform) runs on 1-3 tasks. Repartitioning
    * the 5-column base to the session's core count first costs one
    * negligible shuffle and parallelizes all of it — exactly the lever a
    * real cluster pulls when a narrow source under-splits. */
  private[mls] def synthesize(base: DataFrame): DataFrame =
    base.repartition(base.sparkSession.sparkContext.defaultParallelism)
      .selectExpr((synthExprs :+ "gate_batch"): _*)

  /** Synthesized raw batches land ONCE per (gate, sf dir) as parquet and
    * every pass reads them back (ScratchDirs.memoized). This is the
    * reference's own input shape — each job run reads raw listing dirs
    * from disk (mls_listings_curated.py:31-37) — and it keeps the
    * per-pass analyzed tree to the pipeline under test
    * (validate/transform/windows/merge) instead of re-planning the
    * 133-expression synthesis every bench pass; under CPU steal that
    * extra analyzer/codegen surface is what amplified the e2e gates'
    * recorded noise (r10 q_lifecycle_bucketed, r11 q_job2_e2e). The read
    * is repartitioned because the fixture's small files would bin-pack
    * into 1-2 input splits and serialize every downstream row-wise stage
    * (see [[synthesize]]). */
  private[mls] def rawFixture(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val root = graft.sources.ScratchDirs.memoized(s"${name}_raw", dir) { r =>
      build.write.parquet(s"$r/raw")
    }
    graft.sources.TableIO.readStatic(s, s"$root/raw")
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** Oracle-side synthesized batch: same expressions over the same
    * parameter base. `ksSrc` must expose a BIGINT column `k`. */
  private[mls] def rawSql(b: Int, loadDate: String, soadTs: String = defaultSoad,
                          where: String = "", ksSrc: String = "ks"): String =
    s"""SELECT ${synthExprs.mkString(",\n  ")}
       |FROM (SELECT k, $b AS b, '$loadDate' AS ld,
       |      TIMESTAMP '$soadTs' AS soad FROM $ksSrc$where)""".stripMargin

  /** q_job1_e2e: the full Job-1 pipeline at 133-column width.
    *
    * Both batches flow through ONE tagged validate+transform tree (the
    * transform is row-wise, so transforming the tagged union equals
    * transforming each batch — see [[MlsFullTransform.transformKeeping]]),
    * through the drivers' own front step
    * ([[MlsFullTransform.validatedBatch]]), whose LAZY localCheckpoint
    * truncates the many-thousand-expression lineage before the frames are
    * re-referenced by dedupe and merge: at gate row counts the query is
    * planning-bound, not data-bound, and this halves the analyzer/codegen
    * work without paying a separate eager materialization job.
    *
    * Its window ordering (`load_date` only) and its frame merge are its
    * own, encoded by its oracle; q_job1_cli is the gate that certifies
    * Job 1 as production composes it ([[MlsJobsMain.runJob1]]). */
  def job1E2e(s: SparkSession, dir: String): DataFrame = {
    val asOf = expr(asOfSql)
    val nowTs = expr(nowTsSql)
    val raw = rawFixture(s, dir, "job1")(synthesize(
      rawBase(s, dir, 1, "2024-01-01", tag = "a")
        .unionByName(rawBase(s, dir, 2, "2024-02-01", tag = "b",
          kFilter = Some("k % 3 = 0")))))
    val (tAll, _) = MlsFullTransform.validatedBatch(raw, dimDf(s, _),
      MlsFullTransform.targetSchema, Seq("gate_batch"), asOf, nowTs)
    val t1 = tAll.filter(col("gate_batch") === "a").drop("gate_batch")
    val t2 = tAll.filter(col("gate_batch") === "b").drop("gate_batch")
    val keys = Seq("mls", "mls_listing_id")
    val dd = LatestWins.dedupe(t2, t1, keys, Seq(col("load_date").desc))
    val merged = Merge.mergeFrames(t1, dd.latest, keys)
    merged.select(outCastCols(MlsFullTransform.targetSchema): _*)
  }

  /** q_enrich_lookup: the property-id enrichment leg (J7 + the batched
    * mapPartitions lookup F1/A1) with a DETERMINISTIC stub client — the
    * service response is a pure function of the address's md5, so DuckDB
    * recomputes the whole leg including the reference's three-condition
    * status decode (the intentional AddedToPmDate quirk is branch d=2). */
  def enrichLookup(s: SparkSession, dir: String): DataFrame = {
    val listings = graft.sources.TableIO.readStatic(s, s"$dir/customer.parquet").selectExpr(
      "'MLS' || CAST(c_custkey % 3 AS STRING) AS mls",
      "'L' || CAST(c_custkey AS STRING) AS mls_listing_id",
      "'ADDR ' || CAST(c_custkey % 40 AS STRING) AS street_address",
      "'CITY' || CAST(c_custkey % 5 AS STRING) AS city",
      "'TX' AS state",
      "'75001' AS zip",
      "CASE WHEN c_custkey % 4 = 0 THEN 'U' || CAST(c_custkey % 7 AS STRING) ELSE CAST(NULL AS STRING) END AS unit")
    lkpHashOutput(MlsEnrich.lookupPropertyIds(s, listings, md5StubClient(""),
      batchSize = 64).get)
  }

  /** q_enrich_http: the SAME enrichment leg as q_enrich_lookup but driven
    * through the real [[graft.enrich.HttpLookupClient]] over an actual
    * loopback socket — batch-POST body, JSON `Results` parse, throttle —
    * against [[graft.enrich.StubPropertyServer]], whose responses are the
    * same pure function of `md5(StreetAddress)` the DuckDB oracle
    * recomputes (transform.py:421-481 end-to-end, wire included). The
    * eager localCheckpoint materializes the lookup while the server is
    * alive; the returned frame no longer needs the socket. */
  def enrichHttp(s: SparkSession, dir: String): DataFrame = {
    val server = new graft.enrich.StubPropertyServer()
    try {
      val listings = graft.sources.TableIO.readStatic(s, s"$dir/customer.parquet").selectExpr(
        "'MLS' || CAST(c_custkey % 3 AS STRING) AS mls",
        "'L' || CAST(c_custkey AS STRING) AS mls_listing_id",
        "'ADDR ' || CAST(c_custkey % 40 AS STRING) AS street_address",
        "'CITY' || CAST(c_custkey % 5 AS STRING) AS city",
        "'TX' AS state",
        "'75001' AS zip",
        "CASE WHEN c_custkey % 4 = 0 THEN 'U' || CAST(c_custkey % 7 AS STRING) ELSE CAST(NULL AS STRING) END AS unit")
      val client = new graft.enrich.HttpLookupClient(server.lookupUrl,
        throttleMillis = 10L)
      lkpHashOutput(MlsEnrich.lookupPropertyIds(s, listings, client,
        batchSize = 64).get).localCheckpoint(eager = true)
    } finally server.stop()
  }

  /** Hash-portable projection of a lkp_* lookup result (boolean flags as
    * strings — same policy as [[outCastCols]]); shared by the API and
    * MSSQL enrichment gates. */
  private[mls] def lkpHashOutput(out: DataFrame): DataFrame =
    out.select(col("lkp_mls"), col("lkp_mls_listing_id"),
      col("lkp_asg_primary_id"),
      col("lkp_asg_primary_id_final_flag").cast(StringType)
        .as("lkp_asg_primary_id_final_flag"),
      col("lkp_asg_primary_id_source"),
      col("lkp_asg_primary_id_source_responded_flag").cast(StringType)
        .as("lkp_asg_primary_id_source_responded_flag"),
      col("lkp_asg_primary_id_issue_text"),
      col("lkp_asg_primary_id_mssql_fixed_flag").cast(StringType)
        .as("lkp_asg_primary_id_mssql_fixed_flag"))

  /** Deterministic stub lookup client: the response is a pure function of
    * md5(StreetAddress || salt), so DuckDB recomputes the leg exactly.
    * `salt` varies the "service state" between runs — the backfill gate
    * uses it to make re-lookups return different property ids. */
  private[graft] def md5StubClient(salt: String): graft.enrich.BatchLookup.LookupClient =
    new graft.enrich.BatchLookup.LookupClient {
      override def lookup(batch: Seq[org.apache.spark.sql.Row]): Seq[org.apache.spark.sql.Row] =
        batch.map { r =>
          val refId = r.getAs[Long]("ReferenceID")
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest((r.getAs[String]("StreetAddress") + salt)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          val prop = java.lang.Long.parseLong(hex.substring(0, 12), 16)
          (java.lang.Long.parseLong(hex.substring(0, 1), 16) % 4) match {
            case 0 => org.apache.spark.sql.Row(refId, null, null, null, null, null)
            case 1 => org.apache.spark.sql.Row(refId, prop, "2023-01-01", java.lang.Boolean.FALSE, "2024-01-01", null)
            case 2 => org.apache.spark.sql.Row(refId, prop, null, java.lang.Boolean.TRUE, null, null)
            case _ => org.apache.spark.sql.Row(refId, prop, "2023-05-05", java.lang.Boolean.TRUE, null, "rate limited")
          }
        }
    }

  /** q_job1_rejects: the quarantine leg — the ten validation flags in
    * their exact insertion order and the '|'-joined reason strings
    * (transform.py:93-116), hash-checked per rejected row. */
  def job1Rejects(s: SparkSession, dir: String): DataFrame = {
    val raw1 = rawFixture(s, dir, "job1r")(
      synthesize(rawBase(s, dir, 1, "2024-01-01", tag = "a")))
    val (_, rejected) = MlsValidate.validateListings(raw1, dimDf(s, "boards"),
      dimDf(s, "states"), dimDf(s, "zipcodes"), dimDf(s, "psub"))
    rejected.select(col("source_listing_id"),
      col("_reject_flags").cast("int").as("reject_flags"),
      col("_reject_reasons").as("reject_reasons"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_job1_e2e" -> (job1E2e _),
    "q_job1_rejects" -> (job1Rejects _),
    "q_enrich_lookup" -> (enrichLookup _),
    "q_enrich_http" -> (enrichHttp _))

  // -------------------------------------------------------------------
  // DuckDB oracle
  // -------------------------------------------------------------------

  private val stringCols = Seq("mls", "mls_listing_id", "unit_type", "unit",
    "legal_description", "subdivision", "lot", "block", "legal_tract", "book",
    "section", "township", "range", "apn", "county_name", "fips",
    "census_tract_geo_id", "school_district", "property_type",
    "property_sub_type", "property_description", "zoning", "restrictions",
    "easements", "water_source", "septic_sewer", "sfha", "gated_community",
    "hoa", "hoa_name", "hoa_management_co", "hoa_management_co_phone",
    "occupant_type", "ownership_type", "owner_type", "owner_name",
    "owner_phone", "living_area_sq_ft_source", "building_style", "basement",
    "garage_type", "garage_style", "roof_type", "exterior_material",
    "foundation", "pool", "condition", "hoa_dues_description", "rent_sale",
    "listing_status", "listing_status_detail", "sale_circumstances",
    "listing_conditions", "listing_url", "listing_image_url",
    "public_remarks", "realtor_remarks", "listing_broker_name",
    "listing_broker_id", "listing_agent_name", "listing_agent_id",
    "listing_agent_phone", "listing_agent_email", "brokerage_name",
    "brokerage_phone", "selling_agent_name", "selling_agent_id",
    "commissions", "buyer_agent_name", "buyer_agent_id",
    "street_address_raw", "city_raw", "state_raw", "zip_raw", "source",
    "source_reference", "source_listing_id", "load_date", "states_state")
  private val dateCols = Seq("entry_date", "listing_date", "status_date",
    "current_price_as_of_date", "orig_listing_date", "contract_date",
    "closed_date", "listing_image_url_date")
  private val tsCols = Seq("created_datetime", "dom_date", "source_as_of_date")
  private val numCols = Seq("latitude", "longitude", "lot_size_acres",
    "lot_size_sq_ft", "year_built", "year_updated", "number_of_units",
    "living_area_sq_ft", "stories", "beds", "full_baths", "half_baths",
    "finished_basement_pct", "garage_spaces", "property_tax_appraisal",
    "property_tax", "property_tax_year", "hoa_dues", "hoa_dues_frequency",
    "current_price", "orig_price", "closed_price", "days_on_market",
    "cumulative_days_on_market", "listing_image_url_count", "loan_amount",
    "buyer_commission_pct")

  private[mls] def validateSql(src: String): String =
    s"""SELECT r.* EXCLUDE (mls), coalesce(b.movedto, r.mls) AS mls,
       |       st.state AS states_state
       |FROM $src r
       |LEFT JOIN boards b ON r.mls = b.mls
       |LEFT JOIN states st ON r.state_raw = st.state OR r.state_raw = st.name
       |LEFT JOIN zipcodes z ON r.state_raw = z.state AND r.zip_raw = z.zipcode
       |LEFT JOIN psub p ON r.property_sub_type = p.property_sub_type
       |WHERE b.mls IS NOT NULL
       |  AND r.mls_listing_id IS NOT NULL
       |  AND r.rent_sale IN ('Sale', 'Rental')
       |  AND r.listing_status IN ('A', 'U', 'S', 'X')
       |  AND r.property_type IN ('AP','BD','CN','CO','CP','FM','LD','MF','MH','RI','SF','TH','TS')
       |  AND p.property_sub_type IS NOT NULL
       |  AND NOT ((coalesce(r.current_price, 0) < 1 AND r.listing_status = 'S' AND r.closed_price IS NULL)
       |        OR (coalesce(r.current_price, 0) < 1 AND r.listing_status <> 'S'))
       |  AND st.state IS NOT NULL
       |  AND z.zipcode IS NOT NULL""".stripMargin

  private def bn(x: String) =
    s"CASE WHEN trim($x) = '' THEN CAST(NULL AS STRING) ELSE $x END"

  private def phoneSql(c: String): String = {
    val t1 = s"replace(replace(replace(replace($c, '-', ''), '(', ''), ')', ''), ' ', '')"
    s"""CASE WHEN substring($c, 1, 3) IN ('000','111','999','123') THEN CAST(NULL AS STRING)
       | WHEN length($t1) = 10 AND NOT contains(lower($t1), 'x') THEN $t1
       | WHEN length($t1) > 10 AND contains(lower($t1), 'x') THEN substring($t1, 1, 10)
       | ELSE CAST(NULL AS STRING) END""".stripMargin
  }

  private def twnSql(c: String): String = {
    val u = s"upper($c)"
    s"""CASE WHEN regexp_matches($u, '^(?:[0-9][0-9][N,S,E,W])$$') THEN $c
       | WHEN regexp_matches($u, '^(?:[0-9][0-9].[N,S,E,W])$$') THEN substring($c,1,2) || substring($c,4,1)
       | WHEN regexp_matches($u, '^(?:T[0-9][0-9][N,S,E,W])$$') THEN substring($c,2,3)
       | ELSE CAST(NULL AS STRING) END""".stripMargin
  }

  private def cAny(u: String, vs: Seq[String]): String =
    vs.map(v => s"contains($u, '$v')").mkString("(", " OR ", ")")

  private def waterSql(u: String): String =
    s"""CASE WHEN ${cAny(u, Seq("CITY", "COUNTY", "TOWN", "MUNICIPAL", "PUBLIC"))} THEN 'Municipal'
       | WHEN regexp_matches($u, '^(?:MUN.*)$$') THEN 'Municipal'
       | WHEN ${cAny(u, Seq("WATER DISTRICT", "UTILITY DISTRICT", "MUD", "HCUD"))} THEN 'Utility District'
       | WHEN ${cAny(u, Seq("COMM", "CENTRAL"))} THEN 'Community'
       | WHEN ${cAny(u, Seq("COOPERATIVE", "CO-OP"))} THEN 'Co-op'
       | WHEN contains($u, 'WELL') THEN 'Well'
       | WHEN contains($u, 'SPRING') THEN 'Spring'
       | WHEN ${cAny(u, Seq("CISTERN", "RAINWATER"))} THEN 'Cistern'
       | WHEN ${cAny(u, Seq("PRIVATE", "PVT", "WATER COMPANY"))} THEN 'Private'
       | WHEN contains($u, 'NONE') THEN 'None'
       | WHEN regexp_matches($u, '^(?:NO.*)$$') THEN 'None'
       | ELSE CAST(NULL AS STRING) END""".stripMargin

  /** The full transform mirrored over a validated CTE. Stage s sanitizes,
    * stage d adds shared tmp columns, the outer select computes every final
    * column with the dim joins. `nowTs` injects the run clock; `hist=true`
    * projects the hist-job column set (the 11 asg_* placeholders dropped —
    * the 12 hist tail columns are computed downstream by the lead/flags
    * stage, so they are not emitted here). */
  private[mls] def transformSql(goodCte: String, nowTs: String = nowTsSql,
                                hist: Boolean = false): String = {
    val sanitize =
      (stringCols.map(c => s"trim($c) AS $c") ++
        dateCols.map(c => s"CASE WHEN year($c) >= 1900 THEN $c END AS $c") ++
        tsCols.map(c => s"CASE WHEN year(CAST($c AS DATE)) >= 1900 THEN $c END AS $c") ++
        numCols).mkString(",\n    ")
    val tmps = Seq(
      s"CASE WHEN unit IS NOT NULL AND replace(unit, '0', '') <> '' THEN substring(unit, 1, 10) END AS t_unit1",
      s"regexp_extract(right(street_address_raw, length(street_address_raw)//2), '(.*)#(.*)', 2) AS t_unit3",
      s"regexp_replace(street_address_raw, ' +', ' ', 'g') AS sq_addr",
      s"substring(regexp_replace(city_raw, ' +', ' ', 'g'), 1, 100) AS cr",
      s"""CASE WHEN lot_size_acres IS NOT NULL AND lot_size_acres > 0 THEN CAST(lot_size_acres AS DECIMAL(16,4))
         | WHEN lot_size_acres IS NULL AND lot_size_sq_ft IS NOT NULL AND lot_size_sq_ft > 0 AND lot_size_sq_ft <= 50 THEN CAST(lot_size_sq_ft AS DECIMAL(16,4))
         | WHEN lot_size_acres IS NULL AND lot_size_sq_ft IS NOT NULL AND lot_size_sq_ft > 50 THEN CAST(CAST(round(lot_size_sq_ft, 0) AS DOUBLE) / 43560 AS DECIMAL(16,4))
         | END AS la1""".stripMargin,
      s"""CASE WHEN lot_size_sq_ft IS NOT NULL AND lot_size_sq_ft > 0 THEN round(lot_size_sq_ft, 0)
         | WHEN lot_size_sq_ft IS NULL AND lot_size_acres IS NOT NULL AND lot_size_acres > 0 AND lot_size_acres < 500 THEN CAST(round(CAST(lot_size_acres AS DOUBLE) * 43560, 0) AS DECIMAL(16,4))
         | END AS ls1""".stripMargin,
      phoneSql("hoa_management_co_phone") + " AS ph_mgmt",
      phoneSql("owner_phone") + " AS ph_owner",
      phoneSql("listing_agent_phone") + " AS ph_agent",
      phoneSql("brokerage_phone") + " AS ph_brokerage")
    val u = "upper(subdivision)"
    val finalCols = Seq(
      "d.created_datetime AS created_datetime",
      "d.mls AS mls",
      "d.mls_listing_id AS mls_listing_id",
      "upper(substring(d.sq_addr, 1, 100)) AS street_address",
      "substring(d.unit_type, 1, 10) AS unit_type",
      bn("coalesce(d.t_unit1, d.t_unit3)") + " AS unit",
      "CASE WHEN NOT (upper(d.cr) IN ('UNINCORPORATED','OTHER CITY','HTTP')) THEN upper(d.cr) END AS city",
      "d.states_state AS state",
      "d.zip_raw AS zip",
      "d.latitude AS latitude",
      "d.longitude AS longitude",
      "d.legal_description AS legal_description",
      s"""CASE WHEN contains($u, 'NOT IN A SUBDIVISION') THEN CAST(NULL AS STRING)
         | WHEN contains($u, 'NONE') THEN CAST(NULL AS STRING)
         | WHEN regexp_matches($u, '^(?:^(UNK)(.*))$$') THEN CAST(NULL AS STRING)
         | WHEN $u IN ('NA','N/A','?') THEN CAST(NULL AS STRING)
         | WHEN TRY_CAST(d.subdivision AS INTEGER) IS NOT NULL THEN CAST(NULL AS STRING)
         | WHEN length(d.subdivision) <= 2 THEN CAST(NULL AS STRING)
         | ELSE substring(d.subdivision, 1, 100) END AS subdivision""".stripMargin,
      "CASE WHEN d.lot IS NOT NULL AND replace(d.lot, '0', '') <> '' THEN substring(d.lot, 1, 15) END AS lot",
      "substring(d.block, 1, 15) AS block",
      "substring(d.legal_tract, 1, 10) AS legal_tract",
      "substring(d.book, 1, 25) AS book",
      "CASE WHEN regexp_matches(d.section, '^(?:[0-3][0-9])$') THEN d.section END AS section",
      twnSql("d.township") + " AS township",
      twnSql("d.range") + " AS range",
      "substring(replace(replace(d.apn, '-', ''), ' ', ''), 1, 100) AS apn",
      "coalesce(substring(d.county_name, 1, 50), c1.basename) AS county_name",
      "coalesce(c1.fips, c2.fips) AS fips",
      "coalesce(g1.censustractgeoid, g2.censustractgeoid, g3.censustractgeoid) AS census_tract_geo_id",
      "CASE WHEN TRY_CAST(d.school_district AS INTEGER) IS NULL THEN substring(d.school_district, 1, 125) END AS school_district",
      "d.property_type AS property_type",
      s"substring(${bn("upper(d.property_sub_type)")}, 1, 20) AS property_sub_type",
      "substring(d.property_description, 1, 500) AS property_description",
      "CASE WHEN d.la1 IS NOT NULL AND d.la1 <= 1000000 THEN CAST(d.la1 AS DECIMAL(16,4)) END AS lot_size_acres",
      "CASE WHEN d.ls1 IS NOT NULL AND d.ls1 <= 2147483647 THEN CAST(d.ls1 AS DECIMAL(16,4)) END AS lot_size_sq_ft",
      "substring(d.zoning, 1, 250) AS zoning",
      "substring(d.restrictions, 1, 250) AS restrictions",
      "substring(d.easements, 1, 250) AS easements",
      waterSql("upper(d.water_source)") + " AS water_source",
      s"""CASE WHEN ${cAny("upper(d.septic_sewer)", Seq("SEPTI", "LEACH", "FIELD", "LAGOON", "MOUND", "AEROBIC", "CESSPOOL", "HOLDING TANK"))} THEN 'Septic'
         | WHEN ${cAny("upper(d.septic_sewer)", Seq("SEWER", "SWR", "PUB", "CITY", "SANITARY", "PEP"))} THEN 'Sewer'
         | ELSE CAST(NULL AS STRING) END AS septic_sewer""".stripMargin,
      """CASE WHEN upper(d.sfha) IN ('Y','YES','IN') THEN 'Y'
        | WHEN upper(d.sfha) IN ('N','NO','OUT') THEN 'N'
        | ELSE CAST(NULL AS STRING) END AS sfha""".stripMargin,
      "CASE WHEN upper(d.gated_community) IN ('Y','N') THEN d.gated_community END AS gated_community",
      """CASE WHEN upper(d.hoa) IN ('Y','YES','TRUE','T','MANDATORY') THEN 'Y'
        | WHEN upper(d.hoa) IN ('N','NO','FALSE','F','VOLUNTARY') THEN 'N'
        | WHEN upper(d.hoa_name) IN ('VOLUNTARY') THEN 'N'
        | ELSE CAST(NULL AS STRING) END AS hoa""".stripMargin,
      "CASE WHEN upper(d.hoa_name) = 'VOLUNTARY' THEN CAST(NULL AS STRING) ELSE substring(d.hoa_name, 1, 150) END AS hoa_name",
      "substring(d.hoa_management_co, 1, 250) AS hoa_management_co",
      "d.ph_mgmt AS hoa_management_co_phone",
      "substring(d.occupant_type, 1, 25) AS occupant_type",
      "substring(d.ownership_type, 1, 20) AS ownership_type",
      "substring(d.owner_type, 1, 25) AS owner_type",
      "substring(d.owner_name, 1, 255) AS owner_name",
      "d.ph_owner AS owner_phone",
      "CASE WHEN d.year_built BETWEEN 1600 AND 2025 THEN d.year_built END AS year_built",
      "CASE WHEN d.year_updated BETWEEN 1600 AND 2025 THEN d.year_updated END AS year_updated",
      """CASE WHEN upper(d.property_type) = 'SF' THEN 1
        | WHEN d.number_of_units IS NOT NULL AND d.number_of_units > 0 THEN d.number_of_units
        | END AS number_of_units""".stripMargin,
      """CASE WHEN round(d.living_area_sq_ft, 0) > 0 AND round(d.living_area_sq_ft, 0) <= 2147483647
        | THEN CAST(round(d.living_area_sq_ft, 0) AS DECIMAL(16,4)) END AS living_area_sq_ft""".stripMargin,
      "substring(d.living_area_sq_ft_source, 1, 25) AS living_area_sq_ft_source",
      "substring(d.building_style, 1, 100) AS building_style",
      "CASE WHEN d.stories BETWEEN 0 AND 99 THEN d.stories END AS stories",
      "CASE WHEN d.beds >= 0 THEN d.beds END AS beds",
      "CASE WHEN d.full_baths >= 0 THEN d.full_baths END AS full_baths",
      "CASE WHEN d.half_baths >= 0 THEN d.half_baths END AS half_baths",
      """CASE WHEN upper(d.basement) IN ('Y','TRUE','T') THEN 'Y'
        | WHEN upper(d.basement) IN ('N','FALSE','F') THEN 'N'
        | WHEN d.finished_basement_pct > 0 THEN 'Y'
        | ELSE CAST(NULL AS STRING) END AS basement""".stripMargin,
      "CASE WHEN d.finished_basement_pct <= 100 THEN d.finished_basement_pct END AS finished_basement_pct",
      "CASE WHEN upper(d.garage_type) IN ('G','C','N') THEN d.garage_type END AS garage_type",
      "substring(d.garage_style, 1, 100) AS garage_style",
      "CASE WHEN round(d.garage_spaces, 0) <= 2147483647 THEN round(d.garage_spaces, 0) END AS garage_spaces",
      "substring(d.roof_type, 1, 255) AS roof_type",
      "substring(d.exterior_material, 1, 255) AS exterior_material",
      "substring(d.foundation, 1, 255) AS foundation",
      "substring(d.pool, 1, 100) AS pool",
      "substring(d.condition, 1, 250) AS condition",
      "d.property_tax_appraisal AS property_tax_appraisal",
      "d.property_tax AS property_tax",
      "CASE WHEN d.property_tax_year > 2000 AND d.property_tax_year <= 2025 THEN d.property_tax_year END AS property_tax_year",
      "d.hoa_dues AS hoa_dues",
      "CASE WHEN d.hoa_dues_frequency IN (0,1,2,4,12,52) THEN d.hoa_dues_frequency END AS hoa_dues_frequency",
      "substring(d.hoa_dues_description, 1, 750) AS hoa_dues_description",
      "CASE WHEN d.rent_sale IN ('Sale','Rental') THEN d.rent_sale ELSE 'Sale' END AS rent_sale",
      "d.entry_date AS entry_date",
      "d.listing_date AS listing_date",
      "d.listing_status AS listing_status",
      "d.listing_status_detail AS listing_status_detail",
      "d.status_date AS status_date",
      s"""CASE WHEN coalesce(d.current_price, 0) < 1 AND d.listing_status = 'S' THEN CAST(d.closed_price AS DECIMAL(16,4))
         | WHEN coalesce(d.current_price, 0) < 1 AND d.listing_status <> 'S' THEN CAST(NULL AS DECIMAL(16,4))
         | ELSE CAST(d.current_price AS DECIMAL(16,4)) END AS current_price""".stripMargin,
      "d.current_price_as_of_date AS current_price_as_of_date",
      "CASE WHEN d.orig_price >= 0 THEN d.orig_price END AS orig_price",
      "d.orig_listing_date AS orig_listing_date",
      "d.contract_date AS contract_date",
      "CASE WHEN d.closed_price >= 0 THEN d.closed_price END AS closed_price",
      s"CASE WHEN d.closed_date <= ($asOfSql + 180) THEN d.closed_date END AS closed_date",
      "CASE WHEN d.days_on_market >= 0 THEN d.days_on_market END AS days_on_market",
      "d.dom_date AS dom_date",
      """CASE WHEN d.cumulative_days_on_market IS NOT NULL AND d.cumulative_days_on_market >= 0
        |  AND d.cumulative_days_on_market >= coalesce(d.days_on_market, 0)
        | THEN d.cumulative_days_on_market END AS cumulative_days_on_market""".stripMargin,
      "CASE WHEN NOT (upper(d.sale_circumstances) IN ('NONE','NOT APPLICABLE')) THEN d.sale_circumstances END AS sale_circumstances",
      "CASE WHEN NOT (upper(d.listing_conditions) IN ('NONE','NOT APPLICABLE')) THEN d.listing_conditions END AS listing_conditions",
      "substring(d.listing_url, 1, 250) AS listing_url",
      "substring(d.listing_image_url, 1, 250) AS listing_image_url",
      "d.listing_image_url_count AS listing_image_url_count",
      "d.listing_image_url_date AS listing_image_url_date",
      "d.loan_amount AS loan_amount",
      "d.public_remarks AS public_remarks",
      "d.realtor_remarks AS realtor_remarks",
      bn("substring(d.listing_broker_name, 1, 150)") + " AS listing_broker_name",
      "substring(d.listing_broker_id, 1, 20) AS listing_broker_id",
      "substring(d.listing_agent_name, 1, 150) AS listing_agent_name",
      "substring(d.listing_agent_id, 1, 20) AS listing_agent_id",
      "d.ph_agent AS listing_agent_phone",
      "CASE WHEN contains(d.listing_agent_email, '@') THEN d.listing_agent_email END AS listing_agent_email",
      "substring(d.brokerage_name, 1, 100) AS brokerage_name",
      "d.ph_brokerage AS brokerage_phone",
      bn("substring(d.selling_agent_name, 1, 150)") + " AS selling_agent_name",
      "substring(d.selling_agent_id, 1, 20) AS selling_agent_id",
      bn("substring(d.commissions, 1, 50)") + " AS commissions",
      "substring(d.buyer_agent_name, 1, 150) AS buyer_agent_name",
      "substring(d.buyer_agent_id, 1, 20) AS buyer_agent_id",
      "d.buyer_commission_pct AS buyer_commission_pct",
      "upper(substring(d.sq_addr, 1, 100)) AS street_address_raw",
      "substring(d.sq_addr, 1, 100) AS _ignore_never_used",
      "d.cr AS city_raw",
      "substring(d.state_raw, 1, 50) AS state_raw",
      "substring(d.zip_raw, 1, 20) AS zip_raw",
      "CAST(NULL AS BIGINT) AS asg_primary_id",
      "CAST(NULL AS BOOLEAN) AS asg_primary_id_final_flag",
      "CAST(NULL AS STRING) AS asg_primary_id_source",
      "CAST(NULL AS TIMESTAMP) AS asg_primary_id_source_queried_timestamp",
      "CAST(NULL AS BOOLEAN) AS asg_primary_id_source_responded_flag",
      "CAST(NULL AS STRING) AS asg_primary_id_issue_text",
      "CAST(NULL AS BOOLEAN) AS asg_primary_id_mssql_fixed_flag",
      "CAST(NULL AS BOOLEAN) AS asg_primary_id_updated_flag",
      "CAST(NULL AS TIMESTAMP) AS asg_primary_id_updated_timestamp",
      "CAST(NULL AS BIGINT) AS asg_primary_id_previous_value",
      "CAST(NULL AS STRING) AS asg_primary_id_load_status",
      "d.source AS source",
      "d.source_reference AS source_reference",
      "substring(d.source_listing_id, 1, 50) AS source_listing_id",
      "d.source_as_of_date AS source_as_of_date",
      s"$nowTs AS create_timestamp",
      s"$nowTs AS update_timestamp",
      "d.load_date AS load_date"
    ).filterNot(_.contains("_ignore_never_used"))
      .filterNot(c => hist && c.contains("asg_"))
    s"""SELECT
       |  ${finalCols.mkString(",\n  ")}
       |FROM (
       |  SELECT s.*,
       |    ${tmps.mkString(",\n    ")}
       |  FROM (
       |    SELECT
       |    $sanitize
       |    FROM $goodCte
       |  ) s
       |) d
       |LEFT JOIN counties c1 ON d.fips = c1.fips
       |LEFT JOIN counties c2 ON d.states_state = c2.state AND d.county_name = c2.basename
       |LEFT JOIN geo_ids g1 ON d.census_tract_geo_id = g1.censustract AND coalesce(c1.fips, c2.fips) = g1.fips
       |LEFT JOIN geo_ids g2 ON d.census_tract_geo_id = g2.censustractname AND coalesce(c1.fips, c2.fips) = g2.fips
       |LEFT JOIN geo_ids g3 ON d.census_tract_geo_id = g3.censustractgeoid""".stripMargin
  }

  /** Engine-portable output casts for the hash compare, Spark side (the
    * oracle twin is [[outCastSql]]): dates/timestamps as ISO strings,
    * decimals as exact doubles. Booleans also go out as strings: an
    * all-null typed bool column hits pandas None-vs-NaN dtype drift in the
    * compare harness. */
  private[mls] def outCastCols(schema: StructType): Seq[org.apache.spark.sql.Column] =
    schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case DateType | TimestampType | BooleanType =>
          col(f.name).cast(StringType).as(f.name)
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case _              => col(f.name)
      }
    }

  private[mls] def outCastSql(alias: String,
                              schema: StructType = MlsFullTransform.targetSchema): String =
    schema.fields.map { f =>
      f.dataType match {
        case DateType | TimestampType | BooleanType =>
          s"CAST($alias.${f.name} AS STRING) AS ${f.name}"
        case _: DecimalType => s"CAST($alias.${f.name} AS DOUBLE) AS ${f.name}"
        case _              => s"$alias.${f.name} AS ${f.name}"
      }
    }.mkString(",\n  ")

  def oracle: String = {
    val dimCtes = dims.map { case (n, cols, rows) => s"$n($cols) AS (VALUES $rows)" }
    s"""WITH ${dimCtes.mkString(",\n")},
       |ks AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
       |raw1 AS (${rawSql(1, "2024-01-01")}),
       |raw2 AS (${rawSql(2, "2024-02-01", where = " WHERE k % 3 = 0")}),
       |good1 AS (${validateSql("raw1")}),
       |good2 AS (${validateSql("raw2")}),
       |t1 AS (${transformSql("good1")}),
       |t2 AS (${transformSql("good2")})
       |SELECT ${outCastSql("t2")} FROM t2
       |UNION ALL
       |SELECT ${outCastSql("t1")} FROM t1
       |WHERE NOT EXISTS (SELECT 1 FROM t2
       |  WHERE t2.mls = t1.mls AND t2.mls_listing_id = t1.mls_listing_id)""".stripMargin
  }

  private val enrichLookupOracle: String =
    """WITH l AS (
      |  SELECT 'MLS' || CAST(c_custkey % 3 AS STRING) AS mls,
      |         'L' || CAST(c_custkey AS STRING) AS mls_listing_id,
      |         'ADDR ' || CAST(c_custkey % 40 AS STRING) AS street_address
      |  FROM customer),
      |h AS (SELECT l.*, md5(street_address) AS hex,
      |        ('0x' || substr(md5(street_address), 1, 12))::BIGINT AS prop,
      |        ('0x' || substr(md5(street_address), 1, 1))::BIGINT % 4 AS d
      |      FROM l),
      |r AS (SELECT mls, mls_listing_id,
      |        CASE WHEN d = 0 THEN CAST(NULL AS BIGINT) ELSE prop END AS asg,
      |        CASE WHEN d = 1 THEN 'false' WHEN d = 2 THEN 'true'
      |             WHEN d = 3 THEN 'true' END AS provisional,
      |        CASE WHEN d = 1 THEN '2024-01-01' END AS lastvalidated,
      |        CASE WHEN d = 1 THEN '2023-01-01' WHEN d = 3 THEN '2023-05-05' END AS added,
      |        CASE WHEN d = 3 THEN 'rate limited' END AS issue
      |      FROM h)
      |SELECT mls AS lkp_mls, mls_listing_id AS lkp_mls_listing_id,
      |  asg AS lkp_asg_primary_id,
      |  CASE WHEN asg IS NULL THEN CAST(NULL AS STRING)
      |       WHEN provisional = 'false' AND lastvalidated IS NOT NULL THEN 'true'
      |       WHEN added IS NULL THEN 'true'
      |       ELSE 'false' END AS lkp_asg_primary_id_final_flag,
      |  'API' AS lkp_asg_primary_id_source,
      |  CASE WHEN issue IS NULL THEN 'true' ELSE 'false' END
      |    AS lkp_asg_primary_id_source_responded_flag,
      |  issue AS lkp_asg_primary_id_issue_text,
      |  CAST(NULL AS STRING) AS lkp_asg_primary_id_mssql_fixed_flag
      |FROM r""".stripMargin

  private def job1RejectsOracle: String = {
    val flags = Seq(
      "CASE WHEN bmls IS NULL THEN 1 ELSE 0 END" -> "Invalid MLS code",
      "CASE WHEN mls2 IS NULL THEN 1 ELSE 0 END" -> "Missing MLS code",
      "CASE WHEN mls_listing_id IS NULL THEN 1 ELSE 0 END" -> "Missing listing number",
      "CASE WHEN rent_sale IS NULL OR rent_sale NOT IN ('Sale','Rental') THEN 1 ELSE 0 END" -> "Invalid rental/sale indicator",
      "CASE WHEN listing_status IS NULL OR listing_status NOT IN ('A','U','S','X') THEN 1 ELSE 0 END" -> "Invalid listing status",
      "CASE WHEN property_type IS NULL OR property_type NOT IN ('AP','BD','CN','CO','CP','FM','LD','MF','MH','RI','SF','TH','TS') THEN 1 ELSE 0 END" -> "Invalid property type",
      "CASE WHEN pst_ok IS NULL THEN 1 ELSE 0 END" -> "Invalid property subtype",
      ("CASE WHEN coalesce(current_price, 0) < 1 AND listing_status = 'S' AND closed_price IS NULL THEN 1 " +
        "WHEN coalesce(current_price, 0) < 1 AND listing_status <> 'S' THEN 1 ELSE 0 END") -> "Invalid price",
      "CASE WHEN st_ok IS NULL THEN 1 ELSE 0 END" -> "Invalid state",
      "CASE WHEN zip_ok IS NULL THEN 1 ELSE 0 END" -> "Invalid zip code")
    val fCols = flags.zipWithIndex
      .map { case ((sql, _), i) => s"$sql AS f$i" }.mkString(",\n    ")
    val fSum = flags.indices.map(i => s"f$i").mkString(" + ")
    val reasons = flags.zipWithIndex
      .map { case ((_, label), i) => s"CASE WHEN f$i = 1 THEN '$label' END" }
      .mkString(", ")
    s"""WITH raw1 AS (${rawSql(1, "2024-01-01",
          ksSrc = "(SELECT CAST(c_custkey AS BIGINT) AS k FROM customer)")}),
       |j AS (
       |  SELECT r.*, b.mls AS bmls, coalesce(b.movedto, r.mls) AS mls2,
       |         st.state AS st_ok, z.zipcode AS zip_ok,
       |         p.property_sub_type AS pst_ok
       |  FROM raw1 r
       |  LEFT JOIN boards b ON r.mls = b.mls
       |  LEFT JOIN states st ON r.state_raw = st.state OR r.state_raw = st.name
       |  LEFT JOIN zipcodes z ON r.state_raw = z.state AND r.zip_raw = z.zipcode
       |  LEFT JOIN psub p ON r.property_sub_type = p.property_sub_type),
       |f AS (SELECT source_listing_id,
       |    $fCols
       |  FROM j)
       |SELECT source_listing_id,
       |  CAST($fSum AS INTEGER) AS reject_flags,
       |  concat_ws('|', $reasons) AS reject_reasons
       |FROM f WHERE $fSum > 0""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_job1_e2e" -> oracle,
    "q_job1_rejects" -> {
      val dimCtes = dims.map { case (n, cols, rows) => s"$n($cols) AS (VALUES $rows)" }
      s"WITH ${dimCtes.mkString(",\n")},\n" + job1RejectsOracle.drop("WITH ".length)
    },
    "q_enrich_lookup" -> enrichLookupOracle,
    // Same oracle: the HTTP gate's server computes the identical
    // md5-deterministic responses, so the wire leg must hash-match it.
    "q_enrich_http" -> enrichLookupOracle)
}
