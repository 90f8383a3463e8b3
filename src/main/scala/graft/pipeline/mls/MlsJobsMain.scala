package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.{BatchLookup, HttpLookupClient}
import graft.pipeline.{JobsCli, JobsCliArgs, LatestWins}
import graft.schema.SchemaLoader
import graft.sources.{ManagedTable, TableIO, VersionedLayout}
import scala.jdk.CollectionConverters._

/** The REAL drivers behind the reference argv surfaces. `main` is the
  * Job-1 entry (mls_listings_curated.py:62-371): it reads ORC listings
  * dirs + the six reference-data dims + the JSON target schema from the
  * parsed flags and drives the full-width pipeline — validate →
  * 133-column transform → union with the live curated table → the two
  * latest-wins windows → optional property-id enrichment (API over HTTP
  * or the MSSQL 3-hop) → reject/outdated text legs → MERGE into the
  * managed table → ORC mirror → retention vacuum. Jobs 2 and 3 are reached
  * through [[runJob2]] (listings history) and [[runJob3]] (property-id
  * backfill), which have no `main` of their own. The q_job1_cli,
  * q_job2_cli and q_job3_cli gates run all three end to end. Every step
  * they compose lives in a step object ([[MlsFullTransform]],
  * [[LatestWins]], [[MlsEnrich]], [[MlsHistory]], [[MlsBackfill]]) that
  * the gates call too.
  *
  * `asOf`/`now` inject the run clock (the reference's `current_date()` /
  * `current_timestamp()`): production `main` passes the real clock, the
  * oracle gate pins both — which is what makes the CLI path
  * hash-checkable.
  *
  * Scale notes: every intermediate that feeds two outputs executes once —
  * validation (reject leg + transform), the ranked window output (outdated
  * leg + lookup + merge) and the lookup's address frame. The dims
  * broadcast (MlsValidate/attachGeo); the windows shuffle only the batch's
  * keys and their curated versions ([[LatestWins.dedupe]]), so the nightly
  * window cost follows the batch, not the table; the merge
  * ([[ManagedTable.mergeVectorized]]) joins on (mls, mls_listing_id) only
  * the curated rows whose key is in the batch (the same broadcast
  * semi-join), so its shuffle follows the batch too, and publishes
  * merge-on-read: the new version holds tombstones for the matched rows
  * plus the batch's post-images and inserts, so the nightly write and the
  * night's delta files follow the batch, not the table: no base data
  * file, and no earlier night's appended file, is rewritten.
  * ManagedTable's fold rule compacts the head into a full snapshot on the
  * night the appended bytes reach the base's; that night pays a full
  * rewrite, as every night did before.
  * The first run into a new table publishes its batch as a full snapshot.
  * The lookup leg sends service batches of at most
  * `--property_id_api_batch_size` rows, and the final ORC mirror (the
  * reference's Hive-table contract) stays a file-count-controlled full
  * overwrite.
  */
object MlsJobsMain {

  private val keys = Seq("mls", "mls_listing_id")

  /** `<output>` → sibling `<output>_delta` (curated.py:418-420). */
  def deltaDirOf(listingsOutputDir: String): String = {
    val p = java.nio.file.Paths.get(listingsOutputDir)
    val parent = Option(p.getParent).map(_.toString).getOrElse(".")
    s"$parent/${p.getFileName}_delta"
  }

  /** Window-1 ordering (curated.py:141): most recent snapshot wins;
    * `desc(_from)` is appended by [[LatestWins.dedupe]]. */
  private val window1Ordering: Seq[Column] = Seq(
    col("source_as_of_date").desc, col("listing_date").desc,
    col("entry_date").asc, col("load_date").desc)

  /** The property-id mode → WHERE branch table (curated.py:199-209). The
    * reference's branches also test `_from = 'new'`, which is vacuous
    * here: every row surviving window 1 IS a new row. */
  private def modeFilter(modes: Seq[String]): Column = {
    val status = col("asg_primary_id_load_status")
    val queried = col("asg_primary_id_source_queried_timestamp")
    modes.map {
      case "New"         => status === "Null" && queried.isNull
      case "Null"        => status === "Null" && queried.isNotNull
      case "Provisional" => status === "Provisional"
      case "Final"       => status === "Final"
      case other => throw new IllegalArgumentException(s"mode '$other'")
    }.reduce(_ || _)
  }

  /** Priority-ordered lookup budget (curated.py:211-227): the shared
    * budget tail ([[MlsEnrich.byPriority]]) with Job 1's load-status rank,
    * which puts never-queried 'Null' rows (mode New) first. */
  private[mls] def budget(toLookup: DataFrame, limit: Int): DataFrame =
    MlsEnrich.byPriority(toLookup,
      "CASE WHEN asg_primary_id_load_status = 'Null' AND " +
        "asg_primary_id_source_queried_timestamp IS NULL THEN 0 " +
        "WHEN asg_primary_id_load_status = 'Null' AND " +
        "asg_primary_id_source_queried_timestamp IS NOT NULL THEN 1 " +
        "WHEN asg_primary_id_load_status = 'Provisional' THEN 2 " +
        "WHEN asg_primary_id_load_status = 'Final' THEN 3 END", limit)

  private def orc(spark: SparkSession, dir: String): DataFrame =
    TableIO.readStatic(spark, format = "orc", path = dir)

  /** The six reference-data dims by [[MlsFullTransform.validatedBatch]]'s
    * names, each read from its flag's ORC dir. */
  private def argvDims(spark: SparkSession, a: JobsCliArgs): String => DataFrame = {
    val dirs = Map("boards" -> a.inputDirBoards, "states" -> a.inputDirStates,
      "zipcodes" -> a.inputDirZipcodes, "psub" -> a.inputDirPropertySubTypes,
      "counties" -> a.inputDirCounties, "geo_ids" -> a.inputDirGeoIds)
    name => orc(spark, dirs(name).get)
  }

  /** The property-id lookup of Jobs 1 and 3, by `--property_id_source`
    * (curated.py:194-271, backfill:138-146): the API over HTTP
    * (`clientOverride` lets specs inject a deterministic client) or the
    * MSSQL 3-hop over the two ORC dirs. None when `rows` is empty. */
  private def lookup(spark: SparkSession, a: JobsCliArgs, rows: DataFrame,
                     clientOverride: Option[BatchLookup.LookupClient])
      : Option[DataFrame] = a.propertyIdSource match {
    case "API" =>
      val client = clientOverride.getOrElse(new HttpLookupClient(
        a.propertyIdApiEndpoint.get,
        throttleMillis = (a.propertyIdApiSleep * 1000).toLong))
      MlsEnrich.lookupPropertyIds(spark, rows, client, a.propertyIdApiBatchSize)
    case "MSSQL" =>
      MlsEnrich.lookupPropertyIdsFromMssql(rows,
        orc(spark, a.inputDirListingsMssql.get),
        orc(spark, a.inputDirPropertyMasterMssql.get))
  }

  /** The ORC mirror of Jobs 1 and 3 (curated.py:359-363; Job 3 writes it
    * under `--overwrite_orc_location`): the live table without the asg_*
    * columns past the id and its final flag. */
  private def writeMirror(spark: SparkSession, deltaRoot: String,
                          dir: String, numFiles: Int): Unit =
    TableIO.writeOrcZlib(
      ManagedTable.read(spark, deltaRoot).drop(MlsEnrich.asgCols.drop(2): _*),
      dir, numFiles)

  /** One full Job-1 run. The batch publishes through the merge-on-read
    * MERGE with the reference's keys and default clauses
    * (curated.py:329-353); the first run into a new table publishes it
    * as a full snapshot. Returns the managed-table root so callers/specs
    * can read the published state; counts are the caller's choice (the
    * reference logs, it does not count). `clientOverride` lets specs
    * inject a deterministic lookup client; production builds the real
    * [[HttpLookupClient]] from the endpoint/sleep flags. */
  def runJob1(spark: SparkSession, a: JobsCliArgs,
              asOf: Column = current_date(),
              now: Column = current_timestamp(),
              clientOverride: Option[BatchLookup.LookupClient] = None)
      : String = {
    val deltaRoot = deltaDirOf(a.listingsOutputDir)
    val batch = job1Batch(spark, a, asOf, now, clientOverride)

    // ---- reject legs (curated.py:287-309) ------------------------------
    if (a.logRejectedRecords) {
      val rejectDir = a.rejectDataDir.get
      TableIO.writeJsonLines(batch.rejected, rejectDir)
      TableIO.writeJsonLines(
        batch.outdated.withColumn("_reject_reasons", lit("Outdated record")),
        rejectDir, append = true)
    }

    // ---- merge + mirror + vacuum (curated.py:316-368) ------------------
    val newTable = !ManagedTable.exists(deltaRoot)
    if (newTable)
      VersionedLayout.withUserMetadata("Create empty listings delta table") {
        ManagedTable.createEmpty(spark, deltaRoot, batch.rows)
      }
    // A MERGE with default clauses into the empty table inserts exactly
    // the batch, so the first run publishes it as a full snapshot: one
    // write, where a merge-on-read publish would append it and fold.
    VersionedLayout.withUserMetadata(
      s"job=listings_curated from=${a.fromDate} to=${a.toDate}") {
      if (newTable) ManagedTable.overwrite(deltaRoot, batch.rows)
      else ManagedTable.mergeVectorized(spark, deltaRoot, batch.rows, keys)
    }
    writeMirror(spark, deltaRoot, a.listingsOutputDir, a.numOutputFiles)
    a.vacuumHrs.foreach(h => ManagedTable.vacuum(deltaRoot, retainHours = h))
    deltaRoot
  }

  /** Job 1's batch as it stands before the publish: `rows`, the
    * validated, latest-wins and looked-up batch in the target schema's
    * column order (the MERGE source), and the two reject legs, the
    * validation `rejected` rows and the window's `outdated` losers. */
  private[mls] final case class Job1Batch(rows: DataFrame, rejected: DataFrame,
                                          outdated: DataFrame)

  /** Read, validate, transform, dedupe against the live table and look
    * up property ids: everything of a Job-1 run up to its reject dump and
    * publish. The property-id lookup runs here. */
  private[mls] def job1Batch(spark: SparkSession, a: JobsCliArgs, asOf: Column,
                             now: Column,
                             clientOverride: Option[BatchLookup.LookupClient])
      : Job1Batch = {
    val deltaRoot = deltaDirOf(a.listingsOutputDir)
    val targetSchema = SchemaLoader.fromFile(a.targetSchemaFile.get)

    // ---- read, validate + transform (curated.py:70-117) ----------------
    val (fresh, rejected) = MlsFullTransform.validatedBatch(
      readWindowedListings(spark, a), argvDims(spark, a), targetSchema, Nil,
      asOf, now)

    // ---- union with curated + the two windows (curated.py:120-189) -----
    val curated: DataFrame =
      if (ManagedTable.exists(deltaRoot))
        ManagedTable.read(spark, deltaRoot)
          .select(targetSchema.fieldNames.toIndexedSeq.map(col): _*)
      else fresh.limit(0)
    // dd.outdated carries each losing row's ORIGINAL bookkeeping values
    // (LatestWins applies the min/max recompute to winners only), matching
    // the reference's reject dump exactly (curated.py:184-189). Both legs
    // read dedupe's one checkpointed window output, so the lookup branch,
    // the attach join and the final projection below reference a
    // batch-sized materialized frame, not the window subtree.
    val dd = LatestWins.dedupe(fresh, curated, keys, window1Ordering,
      recomputeMin = Seq("create_timestamp"),
      recomputeMax = MlsEnrich.asgCols)
    val latest = dd.latest.withColumn("asg_primary_id_load_status",
      coalesce(col("asg_primary_id_load_status"), lit("Null")))

    // ---- property-id lookup (curated.py:194-271) -----------------------
    val resolved: DataFrame = a.propertyIdSource match {
      case "NONE" => latest
      case _ =>
        val toLookup0 = latest.filter(modeFilter(a.propertyIdModes))
        val toLookup = a.propertyIdLimit.fold(toLookup0)(budget(toLookup0, _))
        // Inner-joining the FULL latest set against the lookup rows
        // touches exactly the budgeted keys (lkp keys ⊆ toLookup keys),
        // so one attach covers the reference's subset-join + union.
        lookup(spark, a, toLookup, clientOverride)
          .fold(latest)(MlsEnrich.attachPropertyIds(latest, _, now))
    }
    Job1Batch(
      resolved.select(targetSchema.fieldNames.toIndexedSeq.map(col): _*),
      rejected, dd.outdated)
  }

  /** Positional unionAll of the input dirs, each window-filtered on
    * load_date BEFORE the union so the filter reaches every ORC scan
    * (curated.py:70-77, hist:61-67 — identical in both drivers). */
  private def readWindowedListings(spark: SparkSession,
                                   a: JobsCliArgs): DataFrame =
    a.inputDirListings.map { d =>
      val df = orc(spark, d).filter(
        col("load_date").between(lit(a.fromDateIso), lit(a.toDateIso)))
      a.inputMlsList.fold(df)(codes => df.filter(col("mls").isin(codes: _*)))
    }.reduce(_ union _)

  /** One full Job-2 (listings HISTORY) run behind the reference's hist
    * argv surface (mls_listings_hist_curated.py:55-226): read the
    * window-filtered input dirs + dims + hist schema file → validate
    * (rejects discarded — the hist job logs nothing) → hist-schema
    * transform → union with the CURRENT ORC MIRROR tagged 'curated'
    * (hist:109-121 — the union side is the mirror, NOT the delta table)
    * → hist-grain dedup with min(create_timestamp) recompute → lead()
    * `*_old` columns + `<=>` changed flags → the three-way MERGE into the
    * `_delta` sibling (update-when-changed / DELETE-when-no-driving-change
    * / insert-when-changed, hist:184-210) → overwrite the ORC mirror from
    * the delta state → retention vacuum. Returns the delta root. */
  def runJob2(spark: SparkSession, a: JobsCliArgs,
              asOf: Column = current_date(),
              now: Column = current_timestamp()): String = {
    val histOut = a.listingsHistOutputDir.getOrElse(
      throw new IllegalArgumentException("missing --listings_hist_output_dir"))
    val deltaRoot = deltaDirOf(histOut)
    val targetSchema = SchemaLoader.fromFile(a.targetSchemaFile.get)
    // rejects discarded — the hist job logs nothing
    val (fresh, _) = MlsFullTransform.validatedBatch(
      readWindowedListings(spark, a), argvDims(spark, a), targetSchema, Nil,
      asOf, now)

    // hist:109-116 — union the mirror, or new rows only on the first run
    // (no mirror dir yet, or one without data files).
    val curated: Option[DataFrame] =
      Option.when(hasDataFiles(histOut))(orc(spark, histOut)
        .select(targetSchema.fieldNames.toIndexedSeq.map(col): _*))
    MlsHistory.mergeHistory(spark, deltaRoot, fresh, curated,
      targetSchema.fieldNames.toSeq)
    TableIO.writeOrcZlib(ManagedTable.read(spark, deltaRoot),
      histOut, a.numOutputFiles)
    a.vacuumHrs.foreach(h => ManagedTable.vacuum(deltaRoot, retainHours = h))
    deltaRoot
  }

  /** Whether `dir` exists and holds a data file (a name Spark's file
    * sources do not skip as hidden: not `_`- or `.`-prefixed). */
  private def hasDataFiles(dir: String): Boolean = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.isDirectory(p) && {
      val st = java.nio.file.Files.list(p)
      try st.iterator().asScala.map(_.getFileName.toString)
        .exists(n => !n.startsWith("_") && !n.startsWith("."))
      finally st.close()
    }
  }

  /** One full Job-3 (property-id BACKFILL) run behind the reference's
    * backfill argv surface (propid_backfill.py:60-236): bootstrap the
    * delta table from the ORC dir on first run (adding the 11 asg_*
    * placeholders when absent, load_status = 'Null') → candidate filters
    * (optional mls list, optional load_date window, required load-status
    * modes) → the prioritized `orderBy().limit()` budget when
    * `--backfill_limit` is set → API (HTTP) or MSSQL lookup → inner-join
    * attach recomputing the 11 asg_* columns (`asg_primary_id` LAST) →
    * MERGE on (mls, mls_listing_id), update-only-when-`<=>`-changed plus
    * the reference's unconditional not-matched insert → optional ORC
    * mirror overwrite → retention vacuum. Returns the delta root. */
  def runJob3(spark: SparkSession, a: JobsCliArgs,
              now: Column = current_timestamp(),
              clientOverride: Option[BatchLookup.LookupClient] = None)
      : String = {
    val deltaRoot = a.listingsDeltaDir.getOrElse(
      throw new IllegalArgumentException("missing --listings_delta_dir"))
    val targetSchema = SchemaLoader.fromFile(a.targetSchemaFile.get)
    if (!ManagedTable.exists(deltaRoot)) {
      val orc0 = orc(spark, a.listingsOrcDir.get)
      val boot0 =
        if (orc0.columns.contains("asg_primary_id")) orc0
        else MlsBackfill.addAsgPlaceholders(orc0)
      VersionedLayout.withUserMetadata("Create listings delta table") {
        ManagedTable.overwrite(deltaRoot,
          boot0.select(targetSchema.fieldNames.toIndexedSeq.map(col): _*))
      }
    }
    val cur0 = ManagedTable.read(spark, deltaRoot)
    val cur = a.inputMlsList.fold(cur0)(m => cur0.filter(col("mls").isin(m: _*)))
    val cand = MlsBackfill.candidates(cur, a.backfillRangeIso,
      a.propertyIdModes, a.backfillLimit)
    MlsBackfill.attachAndMerge(spark, deltaRoot, cand,
      lookup(spark, a, cand, clientOverride).getOrElse(
        throw new IllegalStateException("property id lookup returned no frame")),
      now)
    if (a.overwriteOrcLocation)
      writeMirror(spark, deltaRoot, a.listingsOrcDir.get, a.numOutputOrcFiles)
    a.vacuumHrs.foreach(h => ManagedTable.vacuum(deltaRoot, retainHours = h))
    deltaRoot
  }

  def main(argv: Array[String]): Unit = {
    val a = JobsCli.parse(argv.toIndexedSeq)
    // Shared engine defaults (graft.GraftSession) so the production CLI
    // runs the same engine configuration Bench times and Verify certifies.
    val spark = graft.GraftSession.builder()
      .appName("MLS Listings Curated")
      .config("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (a.debug) "INFO" else "WARN")
    val root = runJob1(spark, a)
    val curated = ManagedTable.read(spark, root)
    println(s"""{"curated_rows":${curated.count()},""" +
      s""""curated_version":${ManagedTable.currentVersion(root)}}""")
    spark.stop()
  }
}
