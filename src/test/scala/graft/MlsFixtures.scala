package graft

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Synthetic MLS pipeline fixtures per FIXTURES.md §A1/§A2: a listings
  * schema covering every column the faithful validate/transform touch,
  * a default-valid row with per-test overrides, and the dimension tables
  * (including the movedto-remap board and a full-name-matched state for
  * the disjunctive join path). */
object MlsFixtures {

  val listingSchema: StructType = StructType(Seq(
    StructField("mls", StringType), StructField("mls_listing_id", StringType),
    StructField("source_as_of_date", TimestampType),
    StructField("load_date", StringType),
    StructField("listing_date", DateType), StructField("entry_date", DateType),
    StructField("rent_sale", StringType), StructField("listing_status", StringType),
    StructField("property_type", StringType), StructField("property_sub_type", StringType),
    StructField("current_price", DoubleType), StructField("closed_price", DoubleType),
    StructField("state_raw", StringType), StructField("zip_raw", StringType),
    StructField("street_address_raw", StringType), StructField("city_raw", StringType),
    StructField("unit", StringType), StructField("subdivision", StringType),
    StructField("section", StringType), StructField("township", StringType),
    StructField("range", StringType), StructField("apn", StringType),
    StructField("water_source", StringType), StructField("septic_sewer", StringType),
    StructField("sfha", StringType), StructField("hoa", StringType),
    StructField("hoa_name", StringType), StructField("owner_phone", StringType),
    StructField("year_built", IntegerType),
    StructField("lot_size_acres", DoubleType), StructField("lot_size_sq_ft", DoubleType),
    StructField("days_on_market", IntegerType),
    StructField("cumulative_days_on_market", IntegerType),
    StructField("closed_date", DateType),
    StructField("listing_agent_email", StringType)))

  private val defaults: Map[String, Any] = Map(
    "mls" -> "MLS1", "mls_listing_id" -> "L-1",
    "source_as_of_date" -> Timestamp.valueOf("2024-03-01 00:00:00"),
    "load_date" -> "20240301",
    "listing_date" -> Date.valueOf("2024-02-01"),
    "entry_date" -> Date.valueOf("2024-02-01"),
    "rent_sale" -> "Sale", "listing_status" -> "A",
    "property_type" -> "SF", "property_sub_type" -> "RES",
    "current_price" -> 250000.0, "closed_price" -> null,
    "state_raw" -> "TX", "zip_raw" -> "77001",
    "street_address_raw" -> "12 Main St", "city_raw" -> "Houston",
    "unit" -> null, "subdivision" -> "OAK HILLS",
    "section" -> "12", "township" -> "12N", "range" -> "03E",
    "apn" -> "12-34 56", "water_source" -> "City Water",
    "septic_sewer" -> "City Sewer", "sfha" -> "No", "hoa" -> "Yes",
    "hoa_name" -> "Oak Hills HOA", "owner_phone" -> "(303) 555-1212",
    "year_built" -> 1985, "lot_size_acres" -> null, "lot_size_sq_ft" -> 43560.0,
    "days_on_market" -> 10, "cumulative_days_on_market" -> 15,
    "closed_date" -> null, "listing_agent_email" -> "agent@example.com")

  def listing(overrides: (String, Any)*): Row = {
    val m = defaults ++ overrides.toMap
    Row.fromSeq(listingSchema.fieldNames.toIndexedSeq.map(m(_)))
  }

  def listingsDf(spark: SparkSession, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, listingSchema)

  def boards(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("mls", StringType),
      StructField("movedto", StringType)))
    spark.createDataFrame(Seq(
      Row("MLS1", null), Row("MLS2", null), Row("MLSOLD", "MLS2"),
      Row(null, null)).asJava, schema)
  }

  def states(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("state", StringType),
      StructField("name", StringType)))
    spark.createDataFrame(Seq(
      Row("TX", "Texas"), Row("CO", "Colorado")).asJava, schema)
  }

  def zipcodes(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("zipcode", StringType),
      StructField("state", StringType)))
    spark.createDataFrame(Seq(
      Row("77001", "TX"), Row("80202", "CO")).asJava, schema)
  }

  /** Job-2 merge input at the hist grain: (listing id, source_as_of_date,
    * current_price, listing_status) per snapshot, with the window columns
    * and the other four tracked columns held fixed. */
  def histSnapshots(spark: SparkSession,
                    rows: Seq[(String, Option[String], Double, String)],
                    loadDate: String = "20240301"): DataFrame = {
    import spark.implicits._
    rows.toDF("mls_listing_id", "soad", "current_price", "listing_status")
      .selectExpr("'MLS1' AS mls", "mls_listing_id",
        "CAST(soad AS TIMESTAMP) AS source_as_of_date",
        "DATE '2024-02-01' AS listing_date", "DATE '2024-02-01' AS entry_date",
        s"'$loadDate' AS load_date",
        "TIMESTAMP '2024-06-01 00:00:00' AS create_timestamp",
        "listing_status", "current_price",
        "mls_listing_id AS source_listing_id",
        "'12 MAIN ST' AS street_address_raw", "'SF' AS property_type",
        "'RES' AS property_sub_type")
  }

  /** One Job-2 publish into the hist table at `root`, with the table's
    * current state as the curated side (what `runJob2` reads back from
    * the ORC mirror it wrote from that state). */
  def runHistory(spark: SparkSession, root: String, fresh: DataFrame): Unit =
    graft.pipeline.mls.MlsHistory.mergeHistory(spark, root, fresh,
      if (graft.sources.ManagedTable.exists(root))
        Some(graft.sources.ManagedTable.read(spark, root))
      else None,
      fresh.columns.toSeq)

  def propertySubTypes(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("property_sub_type", StringType)))
    spark.createDataFrame(Seq(Row("RES"), Row("CONDO")).asJava, schema)
  }
}
