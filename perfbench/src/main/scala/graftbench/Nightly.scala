package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.{HttpLookupClient, StubPropertyServer}
import graft.pipeline.{JobsCli, LatestWins}
import graft.pipeline.mls.{BenchAccess, MlsEnrich, MlsFullTransform, MlsJobsMain, MlsValidate}
import graft.sources.{ManagedTable, TableIO, VersionedLayout}

/** `mls_nightly`: the production Job-1 driver (`MlsJobsMain.runJob1`)
  * merging one day's batch into a curated table of `keys` listings, with
  * reject logging, a 168 h vacuum, and property-id lookups for up to
  * `lookupBudget` never-looked-up listings through the real HTTP client
  * against the stub property service on loopback (reference defaults:
  * batch 500, 0.01 s throttle). Every run starts from the same curated
  * state, restored outside the timer. */
final class Nightly(seed: Long, keys: Int, lookupBudget: Int) extends Workload {
  private val traffic = MlsTraffic(seed, keys)
  private var root: String = _
  private var written: MlsTraffic.Written = _
  private var expectedDigest: String = _
  private var server: StubPropertyServer = _

  private val asOf: Column = expr("DATE '2024-03-03'")
  private val bootNow: Column = expr("TIMESTAMP '2024-03-02 00:00:00'")
  private val runNow: Column = expr("TIMESTAMP '2024-03-03 00:00:00'")
  private val vacuumHrs = 168
  private val mirrorFiles = 8
  private val batchSize = 500
  private val throttleMs = 10L
  private val mlsKeys = Seq("mls", "mls_listing_id")

  private def delta: String = MlsJobsMain.deltaDirOf(s"$root/out")
  private def pristine: String = s"$root/pristine"
  private def outputs = Seq(delta, s"$root/out", s"$root/rejects")
  private def inputBytes = Fs.bytes(s"$root/in_day1").toDouble

  private def argv(day: String, input: String, lookup: Seq[String]) =
    JobsCli.parse(Seq(
      "--from_date", day.replace("-", ""), "--to_date", day.replace("-", ""),
      "--input_dir_listings", s"$root/$input",
      "--input_dir_boards", s"$root/dim_boards",
      "--input_dir_states", s"$root/dim_states",
      "--input_dir_zipcodes", s"$root/dim_zipcodes",
      "--input_dir_property_sub_types", s"$root/dim_psub",
      "--input_dir_counties", s"$root/dim_counties",
      "--input_dir_geo_ids", s"$root/dim_geo_ids",
      "--listings_output_dir", s"$root/out",
      "-s", s"$root/schema.json", "-r", s"$root/rejects", "-g", s"$root/logs",
      "--num_output_files", mirrorFiles.toString,
      "--vacuum_hrs", vacuumHrs.toString, "--log_rejected_records") ++ lookup)

  private def lookupArgv = Seq(
    "--property_id_source", "API",
    "--property_id_api_endpoint", server.lookupUrl,
    "--property_id_api_batch_size", batchSize.toString,
    "--property_id_api_sleep", (throttleMs / 1000.0).toString,
    "--property_id_modes", "New",
    "--property_id_limit", lookupBudget.toString)
  private def nightlyArgv = argv(traffic.day1, "in_day1", lookupArgv)

  private def client = new CountingLookup(
    new HttpLookupClient(server.lookupUrl, throttleMillis = throttleMs))

  /** Seconds per phase of the latest set-up and of the last warm-up. */
  private val setupPhases = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Inputs, then the curated table bootstrapped from the day-0 snapshot by
    * the same driver (with the same lookup budget, so the table starts
    * with looked-up listings), copied aside as the pristine state. */
  def setup(spark: SparkSession, root: String): Unit = {
    close()
    this.root = root
    expectedDigest = null
    server = new StubPropertyServer()
    val (w, genS) = Workload.timed(traffic.write(spark, root))
    written = w
    setupPhases("generate_s") = genS
    setupPhases("bootstrap_s") = Workload.timed {
      MlsJobsMain.runJob1(spark, argv(traffic.day0, "in_day0", lookupArgv),
        asOf = asOf, now = bootNow, clientOverride = Some(client))
      Fs.copyTree(delta, pristine)
    }._2
  }

  /** One nightly run; the first fixes the expected table digest. */
  override def warmUp(spark: SparkSession): Unit = {
    val warm = run(spark)
    setupPhases("warmup_s") = warm.seconds
    require(warm.failures.isEmpty, s"warm-up run: ${warm.failures.mkString("; ")}")
    if (expectedDigest == null)
      expectedDigest = Digest.of(ManagedTable.read(spark, delta))
  }

  /** Restore the pristine table; drop the run's reject output. */
  private def reset(): Unit = {
    Fs.copyTree(pristine, delta)
    Fs.delete(s"$root/rejects")
    CountingLookup.drain()
  }

  def run(spark: SparkSession): RunResult = {
    reset()
    val before = outputs.flatMap(o => Fs.files(o)).toMap
    val (_, dt, cpu) = Workload.timedCpu(MlsJobsMain.runJob1(spark, nightlyArgv,
      asOf = asOf, now = runNow, clientOverride = Some(client)))
    val calls = CountingLookup.drain()
    val (bytes, _) = Fs.written(before, outputs)
    RunResult(dt, cpu, bytes / inputBytes, check(spark, calls))
  }

  /** The output checks: the curated row count the generator predicts, a
    * table digest identical across runs of the seed, exactly the budgeted
    * listings stamped with this run's lookup, each distinct address among
    * them sent once, and no failed lookup row. */
  private def check(spark: SparkSession,
                    calls: Seq[CountingLookup.Call]): Seq[String] = {
    val cur = ManagedTable.read(spark, delta)
    val digest = Digest.of(cur)
    val rows = digest.takeWhile(_ != ':').toLong
    val looked = cur.filter(col("asg_primary_id_source_queried_timestamp") === runNow)
      .groupBy("street_address", "city", "state", "zip", "unit").count()
      .agg(sum("count"), count(lit(1))).head()
    val lookedRows = Option(looked.get(0)).fold(0L)(_.asInstanceOf[Long])
    val tuples = looked.getLong(1)
    val sent = calls.map(_.rows.toLong).sum
    val failedRows = calls.map(_.failedRows).sum
    Seq(
      Option.when(rows != written.expectedCurated)(
        s"curated rows $rows != predicted ${written.expectedCurated}"),
      Option.when(expectedDigest != null && digest != expectedDigest)(
        s"table digest $digest != warm-up run's $expectedDigest"),
      Option.when(lookedRows != lookupBudget)(
        s"$lookedRows listings carry this run's lookup, budget $lookupBudget"),
      Option.when(sent != tuples)(
        s"lookup rows sent $sent != distinct looked-up addresses $tuples"),
      Option.when(failedRows > 0)(s"$failedRows lookup rows failed")).flatten
  }

  // Mirrored from MlsJobsMain (private there): the window-1 ordering, the
  // asg_* columns window 2 recomputes, the columns the mirror drops, and
  // the 'New' property-id mode filter.
  private val window1Ordering = Seq(col("source_as_of_date").desc,
    col("listing_date").desc, col("entry_date").asc, col("load_date").desc)
  private val asgRecomputeMax = Seq("asg_primary_id",
    "asg_primary_id_final_flag", "asg_primary_id_source",
    "asg_primary_id_source_queried_timestamp",
    "asg_primary_id_source_responded_flag", "asg_primary_id_issue_text",
    "asg_primary_id_mssql_fixed_flag", "asg_primary_id_updated_flag",
    "asg_primary_id_updated_timestamp", "asg_primary_id_previous_value",
    "asg_primary_id_load_status")
  private val mirrorDropped = asgRecomputeMax.filterNot(
    Set("asg_primary_id", "asg_primary_id_final_flag"))
  private val newMode = col("asg_primary_id_load_status") === "Null" &&
    col("asg_primary_id_source_queried_timestamp").isNull

  /** Job 1 step by step through the public layer functions, each step
    * materialized (eager local checkpoint) before the next starts:
    * read, validate, transform, dedupe, lookup + attach, rejects, merge,
    * mirror, vacuum. */
  def traced(spark: SparkSession, engine: EngineListener): TracedRun = {
    reset()
    val a = nightlyArgv
    val t = new Tracer
    def orc(p: String) = TableIO.readStatic(spark, format = "orc", path = p)
    def barrier(df: DataFrame) = df.localCheckpoint(eager = true)
    val before = outputs.flatMap(o => Fs.files(o)).toMap
    val counts = scala.collection.mutable.Map[String, Double]()
    val t0 = System.nanoTime()
    t.span("run") {
      val (listings, dims) = t.span("read") {
        val l = barrier(orc(s"$root/in_day1").filter(
          col("load_date").between(lit(a.fromDateIso), lit(a.toDateIso))))
        counts("mls.rows_in") = l.count().toDouble
        (l, Seq("boards", "states", "zipcodes", "psub", "counties", "geo_ids")
          .map(n => n -> orc(s"$root/dim_$n")).toMap)
      }
      val targetSchema = graft.schema.SchemaLoader.fromFile(a.targetSchemaFile.get)
      val fields = targetSchema.fieldNames.toIndexedSeq.map(col)
      val (good, rejected) = t.span("validate") {
        val (g, r) = MlsValidate.validateListings(listings, dims("boards"),
          dims("states"), dims("zipcodes"), dims("psub"))
        val gc = barrier(g)
        counts("mls.valid_ratio") = gc.count() / math.max(1.0, counts("mls.rows_in"))
        (gc, barrier(r))
      }
      val fresh = t.span("transform") {
        barrier(MlsFullTransform.transformKeeping(targetSchema, Nil)(
          good, dims("counties"), dims("geo_ids"), asOf, runNow))
      }
      val (latest, outdated) = t.span("dedupe") {
        val curated = ManagedTable.read(spark, delta).select(fields: _*)
        val dd = LatestWins.dedupe(fresh, curated, mlsKeys, window1Ordering,
          recomputeMin = Seq("create_timestamp"), recomputeMax = asgRecomputeMax)
        val o = barrier(dd.outdated)
        counts("pipeline.rows_outdated") = o.count().toDouble
        (barrier(dd.latest.withColumn("asg_primary_id_load_status",
          coalesce(col("asg_primary_id_load_status"), lit("Null")))), o)
      }
      val cand = t.span("candidates") {
        val c = barrier(BenchAccess.budget(latest.filter(newMode), lookupBudget))
        counts("mls.candidates") = c.count().toDouble
        c
      }
      val lookup = t.span("lookup") {
        barrier(MlsEnrich.lookupPropertyIds(spark, cand, client, batchSize).get)
      }
      val resolved = t.span("attach") {
        barrier(MlsEnrich.attachPropertyIds(latest, lookup, runNow))
      }
      t.span("rejects") {
        TableIO.writeJsonLines(rejected, a.rejectDataDir.get)
        TableIO.writeJsonLines(
          outdated.withColumn("_reject_reasons", lit("Outdated record")),
          a.rejectDataDir.get, append = true)
        counts("sources.rejects_bytes") = Fs.bytes(a.rejectDataDir.get).toDouble
      }
      t.span("merge") {
        val v0 = Fs.files(delta)
        VersionedLayout.withUserMetadata(
          s"job=listings_curated from=${a.fromDate} to=${a.toDate}") {
          ManagedTable.merge(spark, delta, resolved.select(fields: _*), mlsKeys)
        }
        counts("sources.merge_bytes") = Fs.written(v0, Seq(delta))._1.toDouble
      }
      t.span("mirror") {
        TableIO.writeOrcZlib(ManagedTable.read(spark, delta).drop(mirrorDropped: _*),
          a.listingsOutputDir, a.numOutputFiles)
        counts("sources.mirror_bytes") = Fs.bytes(a.listingsOutputDir).toDouble
      }
      t.span("vacuum") { ManagedTable.vacuum(delta, retainHours = vacuumHrs) }
    }
    val total = (System.nanoTime() - t0) / 1e9
    val runSpan = t.all.find(_.name == "run").get
    engine.drain(spark)
    val calls = CountingLookup.drain()
    val callMs = calls.map(_.durNs / 1e6)
    val (bytes, files) = Fs.written(before, outputs)
    val tableBytes = Fs.bytes(delta).toDouble
    val liveBytes = Fs.bytes(s"$delta/v${ManagedTable.currentVersion(delta)}")
    val layers = counts.toMap ++ Map(
      "mls.validate_s" -> t.seconds("validate"),
      "mls.transform_s" -> t.seconds("transform"),
      "pipeline.dedupe_s" -> t.seconds("dedupe"),
      "mls.lookup_s" -> t.seconds("lookup"),
      "mls.attach_s" -> t.seconds("attach"),
      "enrich.calls" -> calls.size.toDouble,
      "enrich.rows" -> calls.map(_.rows.toDouble).sum,
      "enrich.distinct_ratio" ->
        calls.map(_.rows.toDouble).sum / math.max(1.0, counts("mls.candidates")),
      "enrich.call_s" -> callMs.sum / 1000,
      "enrich.call_p50_ms" -> (if (callMs.isEmpty) 0.0 else Stats.quantile(callMs, 0.5)),
      "enrich.call_p90_ms" -> (if (callMs.isEmpty) 0.0 else Stats.quantile(callMs, 0.9)),
      "enrich.failed_calls" -> calls.count(_.failedRows > 0).toDouble,
      "sources.read_s" -> t.seconds("read"),
      "sources.rejects_s" -> t.seconds("rejects"),
      "sources.merge_s" -> t.seconds("merge"),
      "sources.mirror_s" -> t.seconds("mirror"),
      "sources.vacuum_s" -> t.seconds("vacuum"),
      "sources.files_written" -> files.toDouble,
      "sources.write_amp" -> bytes / inputBytes,
      "sources.table_bytes" -> tableBytes,
      "sources.space_amp" -> tableBytes / liveBytes) ++
      engine.window(runSpan.startMs, runSpan.endMs + 1,
        spark.sparkContext.defaultParallelism)
    val failures = check(spark, calls)
    require(failures.isEmpty, s"traced run: ${failures.mkString("; ")}")
    TracedRun(total, layers, t.all)
  }

  def describe: Map[String, Any] = Map(
    "setup_phases" -> setupPhases.toMap,
    "table_keys" -> keys, "batch_rows" -> written.batchRows,
    "lookup_budget" -> lookupBudget,
    "expected_curated_rows" -> written.expectedCurated) ++ written.shares

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}
