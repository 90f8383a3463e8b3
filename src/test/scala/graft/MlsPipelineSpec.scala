package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.mls.{MlsTransform, MlsValidate}
import graft.sources.ManagedTable
import MlsFixtures._

/** Pipeline-parity e2e (FIXTURES.md §A4): the faithful validate split with
  * exact reason strings and flag order, the faithful transform's edge rows,
  * and Job 2's change-row capture on MLS snapshot grain. */
class MlsPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def validate(rows: org.apache.spark.sql.Row*) =
    MlsValidate.validateListings(listingsDf(spark, rows: _*),
      boards(spark), states(spark), zipcodes(spark), propertySubTypes(spark))

  test("valid row passes; every reject rule fires with its exact reason") {
    val (good, rejected) = validate(
      listing(),
      listing("mls_listing_id" -> "R1", "mls" -> "BADMLS"),
      listing("mls_listing_id" -> "R2", "rent_sale" -> "Lease"),
      listing("mls_listing_id" -> "R3", "listing_status" -> "Z",
        "property_type" -> "ZZ", "property_sub_type" -> "WEIRD"),
      listing("mls_listing_id" -> "R4", "current_price" -> 0.0,
        "listing_status" -> "S", "closed_price" -> null),
      listing("mls_listing_id" -> "R5", "state_raw" -> "ZZ"),
      listing("mls_listing_id" -> "R6", "zip_raw" -> "00000"))
    assert(good.count() == 1)
    val reasons = rejected.select("mls_listing_id", "_reject_reasons")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons("R1") == "Invalid MLS code")
    assert(reasons("R2") == "Invalid rental/sale indicator")
    // three flags fire in dict insertion order
    assert(reasons("R3") ==
      "Invalid listing status|Invalid property type|Invalid property subtype")
    assert(reasons("R4") == "Invalid price")
    assert(reasons("R5") == "Invalid state|Invalid zip code")
    assert(reasons("R6") == "Invalid zip code")
  }

  test("price rule: sold with closed price is fine; active at 0 is not") {
    val (good, rejected) = validate(
      listing("mls_listing_id" -> "OK", "current_price" -> 0.0,
        "listing_status" -> "S", "closed_price" -> 199000.0),
      listing("mls_listing_id" -> "BAD", "current_price" -> 0.0,
        "listing_status" -> "A"))
    assert(good.select("mls_listing_id").collect().map(_.getString(0)).toSeq == Seq("OK"))
    assert(rejected.select("_reject_reasons").collect().head.getString(0) == "Invalid price")
  }

  test("disjunctive state join accepts the full name; movedto remaps MLS") {
    val (good, _) = validate(
      listing("mls_listing_id" -> "FN", "state_raw" -> "Texas",
        "zip_raw" -> "77001"),
      listing("mls_listing_id" -> "MV", "mls" -> "MLSOLD"))
    // full-name state matches; zipcode join uses state_raw='Texas' which
    // has no zipcodes row → that row still rejects on zip only when absent
    val byId = good.collect().map(r =>
      r.getString(good.columns.indexOf("mls_listing_id")) ->
        r.getString(good.columns.indexOf("mls"))).toMap
    assert(byId.contains("MV") && byId("MV") == "MLS2") // remapped
  }

  test("transform: every edge-row pattern matches the reference semantics") {
    val asOf = lit("2024-06-01").cast("date")
    val df = MlsTransform.transformListings(listingsDf(spark,
      listing("mls_listing_id" -> "T1", "township" -> "12 N", "range" -> "T03E",
        "owner_phone" -> "3035551212x42", "unit" -> "00",
        "street_address_raw" -> "12  Main   St # 4B",
        "subdivision" -> "NOT IN A SUBDIVISION",
        "lot_size_acres" -> null, "lot_size_sq_ft" -> 25.0,
        "water_source" -> "drilled well", "sfha" -> "IN",
        "hoa" -> "Voluntary", "hoa_name" -> "VOLUNTARY",
        "cumulative_days_on_market" -> 5,
        "listing_agent_email" -> "not-an-email",
        "closed_date" -> Date.valueOf("2024-12-30"),
        "current_price" -> 0.0, "listing_status" -> "S",
        "closed_price" -> 123456.0),
      listing("mls_listing_id" -> "T2", "township" -> "T12N",
        "owner_phone" -> "123-456-7890", "subdivision" -> "42",
        "lot_size_acres" -> 2.0, "lot_size_sq_ft" -> null,
        "water_source" -> "no water", "year_built" -> 1500,
        "entry_date" -> Date.valueOf("1800-01-01")),
      // boundaries kept: a close at exactly asOf+180, the year 1900, a
      // year_built of 1700 (the window opens at 1600)
      listing("mls_listing_id" -> "T3", "water_source" -> "city water",
        "year_built" -> 1700, "closed_date" -> Date.valueOf("2024-11-28"),
        "entry_date" -> Date.valueOf("1900-01-01"))), asOf)
    val colIdx = df.columns.zipWithIndex.toMap
    val byId = df.collect()
      .map(r => r.getString(colIdx("mls_listing_id")) -> r).toMap
    def v(id: String, c: String): Any = byId(id).get(colIdx(c))
    assert(v("T1", "township") == "12N")
    assert(v("T1", "range") == "03E")
    assert(v("T1", "owner_phone") == "3035551212")   // extension trimmed
    // all-zero unit → extracted from the address's '#' suffix; the
    // reference extracts BEFORE the space squeeze, so the space survives
    assert(v("T1", "unit") == " 4B")
    assert(v("T1", "street_address_raw") == "12 MAIN ST # 4B")
    assert(v("T1", "subdivision") == null)
    assert(v("T1", "lot_size_acres").toString == "25.0000") // ≤50 sqft = acres quirk
    assert(v("T1", "water_source") == "Well")
    assert(v("T1", "sfha") == "Y")
    assert(v("T1", "hoa") == "N")
    assert(v("T1", "hoa_name") == null)
    assert(v("T1", "cumulative_days_on_market") == null) // 5 < dom 10
    assert(v("T1", "listing_agent_email") == null)
    assert(v("T1", "closed_date") == null)            // beyond asOf+180
    assert(v("T1", "current_price").toString == "123456.0000") // closed fallback
    assert(v("T2", "township") == "12N")
    assert(v("T2", "owner_phone") == null)            // 123 prefix
    assert(v("T2", "subdivision") == null)            // integer-castable
    assert(v("T2", "lot_size_sq_ft").toString == "87120.0000") // 2 acres
    assert(v("T2", "water_source") == "None")
    assert(v("T2", "year_built") == null)
    assert(v("T2", "entry_date") == null)             // pre-1900 sanitized
    assert(v("T3", "water_source") == "Municipal")
    assert(v("T3", "year_built") == 1700)
    assert(v("T3", "closed_date") == Date.valueOf("2024-11-28"))
    assert(v("T3", "entry_date") == Date.valueOf("1900-01-01"))
    assert(v("T3", "apn") == "123456")                // from "12-34 56"
    assert(v("T3", "lot_size_acres").toString == "1.0000") // 43560 sq ft
  }

  test("history job on MLS snapshot grain keeps only change rows") {
    val root = Files.createTempDirectory("graft_mls_hist").toString
    runHistory(spark, root, histSnapshots(spark, Seq(
      ("L-1", Some("2024-01-01"), 100000.0, "A"),
      ("L-1", Some("2024-02-01"), 100000.0, "A"),   // no change → dropped
      ("L-1", Some("2024-03-01"), 95000.0, "A"),
      ("L-1", Some("2024-04-01"), 95000.0, "S"))))
    val rows = ManagedTable.read(spark, root)
      .select("source_as_of_date", "current_price_old",
        "current_price_changed_flag", "listing_status_changed_flag")
      .orderBy("source_as_of_date").collect()
    assert(rows.length == 3) // the no-change 02-01 snapshot is absent
    assert(rows(0).isNullAt(1) && rows(0).getBoolean(2))  // first insert
    assert(rows(1).getDouble(1) == 100000.0 && rows(1).getBoolean(2))
    assert(!rows(2).getBoolean(2) && rows(2).getBoolean(3)) // status-only change
  }
}
