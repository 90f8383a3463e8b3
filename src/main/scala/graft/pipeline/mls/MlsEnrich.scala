package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.enrich.BatchLookup

/** Faithful property-id enrichment (reference:
  * mls_listings_transform.py:483-572 + mls_listings_curated.py:236-271):
  * canonicalize one lookup per distinct address via a max-over-window
  * ReferenceID, batch the distinct addresses through the external client
  * (at most `batchSize` addresses per call), decode the result status with
  * the reference's exact three-condition CASE (the third condition is
  * intentional per the reference's own comment at transform.py:545-546),
  * then attach results with the order-sensitive asg_* recompute —
  * `asg_primary_id` is assigned LAST because the flag/previous-value
  * columns compare against its pre-update value (curated.py:240 "order is
  * important") — and resolve precedence propertyid_new > new > curated via
  * the lexicographic `_from` window. */
object MlsEnrich {

  /** Client result-row schema (transform.py:534-543). */
  val apiResultSchema: StructType = StructType(Seq(
    StructField("ReferenceID", LongType), StructField("asgPropID", LongType),
    StructField("AddedToPmDate", StringType),
    StructField("IsProvisional", BooleanType),
    StructField("LastValidatedDate", StringType),
    StructField("IssueText", StringType)))

  /** Lookup phase: returns one lkp_* row per (mls, mls_listing_id), or None
    * when there is nothing to look up (reference returns null then). */
  def lookupPropertyIds(spark: SparkSession, listings: DataFrame,
                        client: BatchLookup.LookupClient,
                        batchSize: Int): Option[DataFrame] = {
    // W5: any unique id works — ReferenceID only needs to be one canonical
    // value per distinct address tuple (transform.py:488-499).
    val addrWindow = Window.partitionBy(
      col("StreetAddress"), col("City"), col("StateAbbr"), col("Zip5"), col("Unit"))
    val forLkp = listings.select(
      col("mls").as("lkp_mls"),
      col("mls_listing_id").as("lkp_mls_listing_id"),
      col("street_address").as("StreetAddress"),
      col("city").as("City"),
      col("state").as("StateAbbr"),
      col("zip").as("Zip5"),
      col("unit").as("Unit"),
      // Deterministic per-row id (reference uses monotonically_increasing_id,
      // transform.py:488-499): the natural key hash gives the same ids on
      // recomputation, so no persist() is needed to freeze them — the old
      // mid-pipeline cache existed only to pin nondeterministic ids and
      // leaked for the session. 64-bit collisions at lookup-batch scale
      // (~1e6 rows) have odds ~1e-7 and would only merge two addresses'
      // lookups, not corrupt keys.
      xxhash64(col("mls"), col("mls_listing_id")).as("UniqueID"))
      .withColumn("ReferenceID", max(col("UniqueID")).over(addrWindow))
      // read twice: by the distinct addresses below and by the result join
      .localCheckpoint(eager = false)

    // Materialized once: the emptiness guard, the batch sizing and the
    // batched calls all read these blocks instead of re-running the
    // budget → address window → distinct chain.
    val distinctAddrs = forLkp.select("StreetAddress", "City", "StateAbbr",
      "Zip5", "Unit", "ReferenceID").distinct().localCheckpoint()
    if (distinctAddrs.isEmpty) None
    else {
      val raw = BatchLookup.enrich(spark, distinctAddrs, client, batchSize,
        apiResultSchema)
      // Status decode — exact reference CASE (transform.py:546-552).
      val decoded = raw.select(
        col("ReferenceID").as("api_ReferenceID"),
        col("asgPropID").as("api_asg_primary_id"),
        expr(
          """CASE
            |  WHEN asgPropID IS NULL THEN CAST(NULL AS boolean)
            |  WHEN asgPropID IS NOT NULL AND IsProvisional = false
            |       AND LastValidatedDate IS NOT NULL THEN true
            |  WHEN asgPropID IS NOT NULL AND AddedToPmDate IS NULL THEN true
            |  ELSE false
            |END""".stripMargin).cast(BooleanType)
          .as("api_asg_primary_id_final_flag"),
        col("IssueText").as("api_IssueText"))
      Some(forLkp.join(decoded,
        col("ReferenceID") === col("api_ReferenceID"), "left")
        .select(col("lkp_mls"), col("lkp_mls_listing_id"),
          col("api_asg_primary_id").as("lkp_asg_primary_id"),
          col("api_asg_primary_id_final_flag").as("lkp_asg_primary_id_final_flag"),
          lit("API").as("lkp_asg_primary_id_source"),
          when(col("api_IssueText").isNull, lit(true)).otherwise(lit(false))
            .as("lkp_asg_primary_id_source_responded_flag"),
          col("api_IssueText").as("lkp_asg_primary_id_issue_text"),
          lit(null).cast(BooleanType).as("lkp_asg_primary_id_mssql_fixed_flag")))
    }
  }

  /** MSSQL lookup variant (transform.py:574-633, joins J8-J10): listing →
    * Listing_dt on (mls, mlslistingid) recovers ailpropertyid; hop 1 into
    * PropertyMaster resolves asgprimaryid; hop 2 re-joins PropertyMaster on
    * the PRIMARY id to read its provisional/validation state. The final-
    * flag CASE mirrors the API variant with asgtimestamp standing in for
    * AddedToPmDate; the mssql_fixed flag records primary-id redirection. */
  def lookupPropertyIdsFromMssql(listings: DataFrame, listingsMssql: DataFrame,
                                 propertyMasterMssql: DataFrame): Option[DataFrame] = {
    val forLkp = listings.select(col("mls").as("lkp_mls"),
      col("mls_listing_id").as("lkp_mls_listing_id"))
    if (forLkp.isEmpty) None
    else {
      val ldt = listingsMssql.select("mls", "mlslistingid", "ailpropertyid")
      val pm = propertyMasterMssql.select("asgpropid", "asgprimaryid",
        "isprovisional", "lastvalidated", "asgtimestamp")
      val hop0 = forLkp
        .join(ldt, col("lkp_mls") === col("mls") &&
          col("lkp_mls_listing_id") === col("mlslistingid"), "left")
        .select(col("lkp_mls"), col("lkp_mls_listing_id"),
          when(col("mls").isNull, lit(false)).otherwise(lit(true))
            .as("lkp_source_responded"),
          col("ailpropertyid").as("lkp_ailpropertyid"))
      val hop1 = hop0
        .join(pm, col("lkp_ailpropertyid") === col("asgpropid"), "left")
        .select(col("lkp_mls"), col("lkp_mls_listing_id"),
          col("lkp_source_responded"), col("lkp_ailpropertyid"),
          col("asgprimaryid").as("lkp_asgprimaryid"))
      Some(hop1
        .join(pm, col("lkp_asgprimaryid") === col("asgpropid"), "left")
        .select(col("lkp_mls"), col("lkp_mls_listing_id"),
          col("lkp_asgprimaryid").as("lkp_asg_primary_id"),
          expr(
            """CASE
              |  WHEN lkp_asgprimaryid IS NULL THEN CAST(NULL AS boolean)
              |  WHEN lkp_asgprimaryid IS NOT NULL AND isprovisional = 0
              |       AND lastvalidated IS NOT NULL THEN true
              |  WHEN lkp_asgprimaryid IS NOT NULL AND asgtimestamp IS NULL THEN true
              |  ELSE false
              |END""".stripMargin).as("lkp_asg_primary_id_final_flag"),
          lit("MSSQL").as("lkp_asg_primary_id_source"),
          col("lkp_source_responded").as("lkp_asg_primary_id_source_responded_flag"),
          lit(null).cast(StringType).as("lkp_asg_primary_id_issue_text"),
          expr(
            """CASE
              |  WHEN lkp_asgprimaryid IS NULL THEN CAST(NULL AS boolean)
              |  WHEN lkp_ailpropertyid <> lkp_asgprimaryid THEN true
              |  ELSE false
              |END""".stripMargin).as("lkp_asg_primary_id_mssql_fixed_flag")))
    }
  }

  /** The 11 asg_* property-id bookkeeping columns, in the reference's
    * merge match-condition order (backfill:196-200). Job 1's window 2
    * re-derives every one per key (curated.py:144-159); the ORC mirrors
    * keep only the first two, the id and its final flag (curated.py:360). */
  val asgCols: Seq[String] = Seq("asg_primary_id",
    "asg_primary_id_final_flag", "asg_primary_id_source",
    "asg_primary_id_source_queried_timestamp",
    "asg_primary_id_source_responded_flag", "asg_primary_id_issue_text",
    "asg_primary_id_mssql_fixed_flag", "asg_primary_id_updated_flag",
    "asg_primary_id_updated_timestamp", "asg_primary_id_previous_value",
    "asg_primary_id_load_status")

  /** A lookup budget's ordering and cut (curated.py:211-227,
    * backfill:125-134): never-tried sources first (`desc_nulls_first`),
    * then the caller's load-status rank (a SQL expression — the two jobs
    * rank differently), then the responded flag, then the key tiebreak;
    * the first `limit` rows. */
  def byPriority(rows: DataFrame, statusRank: String, limit: Int): DataFrame =
    rows
      .withColumn("_asg_primary_id_load_status_num", expr(statusRank))
      .orderBy(col("asg_primary_id_source").desc_nulls_first,
        col("_asg_primary_id_load_status_num").asc_nulls_first,
        col("asg_primary_id_source_responded_flag").asc_nulls_first,
        col("mls").asc, col("mls_listing_id").asc)
      .limit(limit)
      .drop("_asg_primary_id_load_status_num")

  /** The asg_* recompute of both attaches (curated.py:236-271,
    * backfill:148-167): inner-join each row to its lookup row, then one
    * withColumns layer recomputes ten asg_* columns from the lkp_* values
    * and the PRE-update `asg_primary_id`, and `asg_primary_id` is assigned
    * LAST ("order is important"). `changed` is the caller's id-changed
    * predicate: Job 1 writes it `coalesce(-1) <>` and Job 3 `NOT <=>`, and
    * the two disagree when one side is null and the other -1. The lkp_*
    * columns stay on the result. */
  def recomputeAsg(rows: DataFrame, lookup: DataFrame, changed: Column,
                   now: Column): DataFrame =
    rows.join(lookup,
        col("mls") === col("lkp_mls") &&
          col("mls_listing_id") === col("lkp_mls_listing_id"), "inner")
      .withColumns(Map(
        "asg_primary_id_final_flag" -> col("lkp_asg_primary_id_final_flag"),
        "asg_primary_id_source" -> col("lkp_asg_primary_id_source"),
        "asg_primary_id_source_queried_timestamp" -> now,
        "asg_primary_id_source_responded_flag" ->
          col("lkp_asg_primary_id_source_responded_flag"),
        "asg_primary_id_issue_text" -> col("lkp_asg_primary_id_issue_text"),
        "asg_primary_id_mssql_fixed_flag" ->
          col("lkp_asg_primary_id_mssql_fixed_flag"),
        "asg_primary_id_updated_flag" -> changed,
        "asg_primary_id_updated_timestamp" ->
          when(changed, now).otherwise(lit(null)).cast(TimestampType),
        "asg_primary_id_previous_value" ->
          when(changed, col("asg_primary_id")).otherwise(lit(null)).cast(LongType),
        "asg_primary_id_load_status" -> expr(
          "CASE WHEN lkp_asg_primary_id_final_flag IS NULL THEN 'Null' " +
            "WHEN lkp_asg_primary_id_final_flag = true THEN 'Final' " +
            "WHEN lkp_asg_primary_id_final_flag = false THEN 'Provisional' END")))
      .withColumn("asg_primary_id", col("lkp_asg_primary_id")) // MUST be last

  /** Attach phase (curated.py:236-271): the asg_* recompute over the
    * lookup's keys, tagged `_from = 'propertyid_new'`, unioned with the
    * main set, keeping the highest-precedence row per key. `now` injects
    * current_timestamp(). */
  def attachPropertyIds(main: DataFrame, lookup: DataFrame,
                        now: Column = current_timestamp()): DataFrame = {
    val tagged = if (main.columns.contains("_from")) main
      else main.withColumn("_from", lit("new"))
    val changed = expr(
      "CASE WHEN coalesce(asg_primary_id,-1) <> coalesce(lkp_asg_primary_id,-1) " +
        "THEN true ELSE false END")
    val enriched = recomputeAsg(tagged, lookup, changed, now)
      .withColumn("_from", lit("propertyid_new"))
      .drop(lookup.columns.toIndexedSeq: _*)

    // propertyid_new > new > curated, lexicographically (curated.py:262-267)
    val w = Window.partitionBy(col("mls"), col("mls_listing_id"))
      .orderBy(col("_from").desc)
    tagged.unionByName(enriched)
      .withColumn("_rownum", row_number().over(w))
      .filter(col("_rownum") === 1)
      .drop("_rownum", "_from")
  }
}
