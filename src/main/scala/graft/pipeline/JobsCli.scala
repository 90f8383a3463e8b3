package graft.pipeline

/** Reference-shaped command-line surface for the job drivers
  * (mls_listings_curated.py:18-56's argparse block): date window, input
  * dirs (comma-separated), the six reference-data dim dirs, target schema
  * file, optional MLS isin filter, output-file count, retention-vacuum
  * hours, shuffle partitions, reject/log dirs, the property-id source
  * block (API endpoint/batch/sleep/modes/limit, MSSQL input dirs), and
  * the debug/logging switches. Flags keep the reference's exact names
  * (long and short forms) so an operator's existing invocation translates
  * 1:1.
  */
final case class JobsCliArgs(
    fromDate: String = "",                  // YYYYMMDD, inclusive (jobs 1-2)
    toDate: String = "",                    // YYYYMMDD, inclusive (jobs 1-2)
    inputDirListings: Seq[String] = Nil,    // jobs 1-2
    listingsOutputDir: String = "",         // job 1
    inputMlsList: Option[Seq[String]] = None,
    inputDirBoards: Option[String] = None,
    inputDirStates: Option[String] = None,
    inputDirZipcodes: Option[String] = None,
    inputDirPropertySubTypes: Option[String] = None,
    inputDirCounties: Option[String] = None,
    inputDirGeoIds: Option[String] = None,
    targetSchemaFile: Option[String] = None,
    logDir: Option[String] = None,
    rejectDataDir: Option[String] = None,
    numOutputFiles: Int = 100,
    vacuumHrs: Option[Double] = None,
    shufflePartitions: Int = 2,
    propertyIdSource: String = "NONE",          // API | MSSQL | NONE
    propertyIdApiEndpoint: Option[String] = None,
    propertyIdApiBatchSize: Int = 500,
    propertyIdApiSleep: Double = 0.01,          // seconds, like the reference
    propertyIdModes: Seq[String] = Seq("New", "Null"), // argparse default
    propertyIdLimit: Option[Int] = None,        // lookup budget; None = all
    inputDirListingsMssql: Option[String] = None,
    inputDirPropertyMasterMssql: Option[String] = None,
    debug: Boolean = false,
    logRejectedRecords: Boolean = false,
    // --- Job-2 (listings HISTORY, mls_listings_hist_curated.py:27-43) ---
    listingsHistOutputDir: Option[String] = None,
    // --- Job-3 (property-id BACKFILL, propid_backfill.py:27-46) ---
    listingsDeltaDir: Option[String] = None,
    backfillStartDate: Option[String] = None,  // YYYYMMDD
    backfillEndDate: Option[String] = None,    // YYYYMMDD
    backfillLimit: Option[Int] = None,
    listingsOrcDir: Option[String] = None,
    overwriteOrcLocation: Boolean = false,
    numOutputOrcFiles: Int = 100) {
  def fromDateIso: String = JobsCli.iso(fromDate)
  def toDateIso: String = JobsCli.iso(toDate)
  def backfillRangeIso: Option[(String, String)] = for {
    lo <- backfillStartDate; hi <- backfillEndDate
  } yield (JobsCli.iso(lo), JobsCli.iso(hi))
}

object JobsCli {

  private val DatePattern = "(\\d{4})(\\d{2})(\\d{2})".r

  private[pipeline] def iso(yyyymmdd: String): String = yyyymmdd match {
    case DatePattern(y, m, d) => s"$y-$m-$d"
    case other => throw new IllegalArgumentException(
      s"date '$other' is not in YYYYMMDD format")
  }

  // Short-form aliases, exactly the reference's argparse single-letter
  // options (mls_listings_curated.py:40-44,55).
  private val aliases = Map(
    "-s" -> "--target_schema_file",
    "-p" -> "--shuffle_partitions",
    "-r" -> "--reject_data_dir",
    "-g" -> "--log_dir",
    "-d" -> "--debug")

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Shared argv tokenizer: resolve short aliases, split into value flags
    * and switches, fail loudly on anything outside this job's flag set (a
    * typo silently ignored is a misconfigured production run — and each of
    * the reference's three drivers has its OWN argparse set, so e.g.
    * `--reject_data_dir` on the hist job must be rejected, not absorbed). */
  private def tokenize(argv: Seq[String], known: Set[String],
      knownSwitches: Set[String]): (Map[String, String], Set[String]) = {
    var opts = Map.empty[String, String]
    var switches = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val a = aliases.getOrElse(argv(i), argv(i))
      if (knownSwitches(a)) { switches += a; i += 1 }
      else if (known(a)) {
        if (i + 1 >= argv.length) fail(s"flag $a needs a value")
        opts += a -> argv(i + 1); i += 2
      }
      else fail(s"unknown flag '$a'")
    }
    (opts, switches)
  }

  private def list(v: String): Seq[String] =
    v.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Parse the Job-1 (listings CURATED) argv surface. Required, as in the
    * reference's argparse set: --from_date, --to_date,
    * --input_dir_listings, --listings_output_dir, the six dim dirs,
    * -s/--target_schema_file and -r/--reject_data_dir. Unknown flags fail
    * loudly (a typo silently ignored is a misconfigured production run). */
  def parse(argv: Seq[String]): JobsCliArgs = {
    val known = Set("--from_date", "--to_date", "--input_dir_listings",
      "--input_mls_list", "--listings_output_dir",
      "--input_dir_boards", "--input_dir_states", "--input_dir_zipcodes",
      "--input_dir_property_sub_types", "--input_dir_counties",
      "--input_dir_geo_ids", "--target_schema_file", "--log_dir",
      "--reject_data_dir",
      "--num_output_files", "--vacuum_hrs", "--shuffle_partitions",
      "--property_id_source", "--property_id_api_endpoint",
      "--property_id_api_batch_size", "--property_id_api_sleep",
      "--property_id_modes", "--property_id_limit",
      "--input_dir_listings_mssql", "--input_dir_property_master_mssql")
    val knownSwitches = Set("--debug", "--log_rejected_records")
    val (opts, switches) = tokenize(argv, known, knownSwitches)
    def req(k: String): String =
      opts.getOrElse(k, fail(s"missing required flag $k"))
    val args = JobsCliArgs(
      fromDate = req("--from_date"),
      toDate = req("--to_date"),
      inputDirListings = list(req("--input_dir_listings")),
      listingsOutputDir = req("--listings_output_dir"),
      inputMlsList = opts.get("--input_mls_list").map(list),
      inputDirBoards = Some(req("--input_dir_boards")),
      inputDirStates = Some(req("--input_dir_states")),
      inputDirZipcodes = Some(req("--input_dir_zipcodes")),
      inputDirPropertySubTypes = Some(req("--input_dir_property_sub_types")),
      inputDirCounties = Some(req("--input_dir_counties")),
      inputDirGeoIds = Some(req("--input_dir_geo_ids")),
      targetSchemaFile = Some(req("--target_schema_file")),
      logDir = opts.get("--log_dir"),
      rejectDataDir = Some(req("--reject_data_dir")),
      numOutputFiles = opts.get("--num_output_files").map(_.toInt).getOrElse(100),
      vacuumHrs = opts.get("--vacuum_hrs").map(_.toDouble),
      shufflePartitions =
        opts.get("--shuffle_partitions").map(_.toInt).getOrElse(2),
      propertyIdSource =
        opts.getOrElse("--property_id_source", "NONE"),
      propertyIdApiEndpoint = opts.get("--property_id_api_endpoint"),
      propertyIdApiBatchSize =
        opts.get("--property_id_api_batch_size").map(_.toInt).getOrElse(500),
      propertyIdApiSleep =
        opts.get("--property_id_api_sleep").map(_.toDouble).getOrElse(0.01),
      propertyIdModes = opts.get("--property_id_modes").map(list)
        .getOrElse(Seq("New", "Null")),
      propertyIdLimit = opts.get("--property_id_limit").map(_.toInt),
      inputDirListingsMssql = opts.get("--input_dir_listings_mssql"),
      inputDirPropertyMasterMssql =
        opts.get("--input_dir_property_master_mssql"),
      debug = switches("--debug"),
      logRejectedRecords = switches("--log_rejected_records"))
    iso(args.fromDate); iso(args.toDate) // validate eagerly
    require(args.inputDirListings.nonEmpty, "empty --input_dir_listings")
    require(args.numOutputFiles > 0,
      s"--num_output_files ${args.numOutputFiles} must be positive")
    require(Set("API", "MSSQL", "NONE")(args.propertyIdSource),
      s"--property_id_source '${args.propertyIdSource}' not in API|MSSQL|NONE")
    require(args.propertyIdSource != "API" ||
      args.propertyIdApiEndpoint.nonEmpty,
      "--property_id_source API needs --property_id_api_endpoint")
    require(args.propertyIdSource != "MSSQL" ||
      (args.inputDirListingsMssql.nonEmpty &&
        args.inputDirPropertyMasterMssql.nonEmpty),
      "--property_id_source MSSQL needs --input_dir_listings_mssql and " +
        "--input_dir_property_master_mssql")
    val validModes = Set("New", "Null", "Provisional", "Final")
    val badModes = args.propertyIdModes.filterNot(validModes)
    require(badModes.isEmpty,
      s"--property_id_modes ${badModes.mkString(",")} not in " +
        "New|Null|Provisional|Final")
    args.propertyIdLimit.foreach(n =>
      require(n > 0, s"--property_id_limit $n must be positive"))
    args
  }

  /** Parse the Job-2 (listings HISTORY) argv surface — the reference's
    * hist argparse set (mls_listings_hist_curated.py:27-43): the Job-1
    * window/input/dim/schema flags, `--listings_hist_output_dir` in place
    * of `--listings_output_dir`, and NO reject or property-id flags (the
    * hist job discards rejected rows and never looks up property ids). */
  def parseHist(argv: Seq[String]): JobsCliArgs = {
    val known = Set("--from_date", "--to_date", "--input_dir_listings",
      "--input_mls_list", "--input_dir_boards", "--input_dir_states",
      "--input_dir_zipcodes", "--input_dir_property_sub_types",
      "--input_dir_counties", "--input_dir_geo_ids",
      "--listings_hist_output_dir", "--num_output_files", "--vacuum_hrs",
      "--target_schema_file", "--shuffle_partitions", "--log_dir")
    val (opts, switches) = tokenize(argv, known, Set("--debug"))
    def req(k: String): String =
      opts.getOrElse(k, fail(s"missing required flag $k"))
    val args = JobsCliArgs(
      fromDate = req("--from_date"),
      toDate = req("--to_date"),
      inputDirListings = list(req("--input_dir_listings")),
      inputMlsList = opts.get("--input_mls_list").map(list),
      inputDirBoards = Some(req("--input_dir_boards")),
      inputDirStates = Some(req("--input_dir_states")),
      inputDirZipcodes = Some(req("--input_dir_zipcodes")),
      inputDirPropertySubTypes = Some(req("--input_dir_property_sub_types")),
      inputDirCounties = Some(req("--input_dir_counties")),
      inputDirGeoIds = Some(req("--input_dir_geo_ids")),
      listingsHistOutputDir = Some(req("--listings_hist_output_dir")),
      numOutputFiles = opts.get("--num_output_files").map(_.toInt).getOrElse(100),
      vacuumHrs = opts.get("--vacuum_hrs").map(_.toDouble),
      targetSchemaFile = Some(req("--target_schema_file")),
      shufflePartitions =
        opts.get("--shuffle_partitions").map(_.toInt).getOrElse(2),
      logDir = Some(req("--log_dir")),
      debug = switches("--debug"))
    iso(args.fromDate); iso(args.toDate)
    require(args.inputDirListings.nonEmpty, "empty --input_dir_listings")
    require(args.numOutputFiles > 0,
      s"--num_output_files ${args.numOutputFiles} must be positive")
    args
  }

  /** Parse the Job-3 (property-id BACKFILL) argv surface — the reference's
    * backfill argparse set (propid_backfill.py:27-46): the delta/orc table
    * dirs, the optional backfill window/limit, the property-id source
    * block (API choices exclude Job-1's 'New' mode), and the
    * `--overwrite_orc_location` switch. */
  def parseBackfill(argv: Seq[String]): JobsCliArgs = {
    val known = Set("--listings_delta_dir", "--input_mls_list",
      "--backfill_start_date", "--backfill_end_date", "--backfill_limit",
      "--property_id_source", "--property_id_api_endpoint",
      "--property_id_modes", "--property_id_api_batch_size",
      "--property_id_api_sleep", "--input_dir_listings_mssql",
      "--input_dir_property_master_mssql", "--listings_orc_dir",
      "--num_output_orc_files", "--vacuum_hrs", "--target_schema_file",
      "--shuffle_partitions", "--log_dir")
    val (opts, switches) =
      tokenize(argv, known, Set("--debug", "--overwrite_orc_location"))
    def req(k: String): String =
      opts.getOrElse(k, fail(s"missing required flag $k"))
    val args = JobsCliArgs(
      listingsDeltaDir = Some(req("--listings_delta_dir")),
      inputMlsList = opts.get("--input_mls_list").map(list),
      backfillStartDate = opts.get("--backfill_start_date"),
      backfillEndDate = opts.get("--backfill_end_date"),
      backfillLimit = opts.get("--backfill_limit").map(_.toInt),
      propertyIdSource = req("--property_id_source"),
      propertyIdApiEndpoint = opts.get("--property_id_api_endpoint"),
      propertyIdModes = list(req("--property_id_modes")),
      propertyIdApiBatchSize =
        opts.get("--property_id_api_batch_size").map(_.toInt).getOrElse(500),
      propertyIdApiSleep =
        opts.get("--property_id_api_sleep").map(_.toDouble).getOrElse(0.01),
      inputDirListingsMssql = opts.get("--input_dir_listings_mssql"),
      inputDirPropertyMasterMssql =
        opts.get("--input_dir_property_master_mssql"),
      listingsOrcDir = Some(req("--listings_orc_dir")),
      overwriteOrcLocation = switches("--overwrite_orc_location"),
      numOutputOrcFiles =
        opts.get("--num_output_orc_files").map(_.toInt).getOrElse(100),
      vacuumHrs = opts.get("--vacuum_hrs").map(_.toDouble),
      targetSchemaFile = Some(req("--target_schema_file")),
      shufflePartitions =
        opts.get("--shuffle_partitions").map(_.toInt).getOrElse(2),
      logDir = Some(req("--log_dir")),
      debug = switches("--debug"))
    args.backfillStartDate.foreach(iso); args.backfillEndDate.foreach(iso)
    require(Set("API", "MSSQL")(args.propertyIdSource),
      s"--property_id_source '${args.propertyIdSource}' not in API|MSSQL")
    require(args.propertyIdSource != "API" ||
      args.propertyIdApiEndpoint.nonEmpty,
      "--property_id_source API needs --property_id_api_endpoint")
    require(args.propertyIdSource != "MSSQL" ||
      (args.inputDirListingsMssql.nonEmpty &&
        args.inputDirPropertyMasterMssql.nonEmpty),
      "--property_id_source MSSQL needs --input_dir_listings_mssql and " +
        "--input_dir_property_master_mssql")
    val validModes = Set("Null", "Provisional", "Final") // no 'New' here
    val badModes = args.propertyIdModes.filterNot(validModes)
    require(badModes.isEmpty,
      s"--property_id_modes ${badModes.mkString(",")} not in " +
        "Null|Provisional|Final")
    args.backfillLimit.foreach(n =>
      require(n > 0, s"--backfill_limit $n must be positive"))
    require(args.numOutputOrcFiles > 0,
      s"--num_output_orc_files ${args.numOutputOrcFiles} must be positive")
    require(args.listingsDeltaDir != args.listingsOrcDir,
      "--listings_orc_dir must differ from --listings_delta_dir")
    args
  }
}
