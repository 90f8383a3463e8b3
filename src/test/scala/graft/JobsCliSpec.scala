package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.JobsCli

/** The three jobs' argv parsers against the reference's flag surface
  * (mls_listings_curated.py:18-56 and its hist/backfill twins): required
  * flags, defaults, choices, and foreign-flag rejection. The argv-driven
  * runs themselves are pinned in MlsJobsMainSpec. */
class JobsCliSpec extends AnyFunSuite {
  private val fixture = "/root/testdata/sf0.001/orders.parquet"

  test("parser: defaults, lists, dates, and loud failures") {
    // The full Job-1 flag set; `drop` removes one flag and its value.
    def job1Argv(drop: String = ""): Seq[String] = Seq(
      "--from_date", "19950101", "--to_date", "19961231",
      "--input_dir_listings", s"$fixture,$fixture",
      "--input_dir_boards", "/tmp/b", "--input_dir_states", "/tmp/s",
      "--input_dir_zipcodes", "/tmp/z",
      "--input_dir_property_sub_types", "/tmp/p",
      "--input_dir_counties", "/tmp/c", "--input_dir_geo_ids", "/tmp/g",
      "--listings_output_dir", "/tmp/x",
      "-s", "/tmp/schema.json", "-r", "/tmp/rejects")
      .sliding(2, 2).filterNot(_.head == drop).flatten.toSeq
    val a = JobsCli.parse(job1Argv() ++ Seq(
      "--input_mls_list", "MLS0, MLS2",
      "--num_output_files", "7", "--vacuum_hrs", "168",
      "--shuffle_partitions", "3", "--debug", "--log_rejected_records"))
    assert(a.fromDateIso == "1995-01-01" && a.toDateIso == "1996-12-31")
    assert(a.inputDirListings.size == 2)
    assert(a.inputMlsList.contains(Seq("MLS0", "MLS2")))
    assert(a.numOutputFiles == 7 && a.vacuumHrs.contains(168.0))
    assert(a.shufflePartitions == 3 && a.debug && a.logRejectedRecords)
    assert(a.inputDirGeoIds.contains("/tmp/g"))
    assert(a.targetSchemaFile.contains("/tmp/schema.json"))
    assert(a.rejectDataDir.contains("/tmp/rejects"))

    // defaults mirror the reference's argparse defaults
    val d = JobsCli.parse(job1Argv())
    assert(d.numOutputFiles == 100 && d.shufflePartitions == 2 &&
      d.vacuumHrs.isEmpty && !d.debug && d.propertyIdSource == "NONE" &&
      d.propertyIdModes == Seq("New", "Null") && d.logDir.isEmpty)

    // every Job-1-required flag is enforced, the six dim dirs, the schema
    // file and the reject dir included (argparse-required in the reference)
    for (req <- Seq("--from_date", "--to_date", "--input_dir_listings",
        "--listings_output_dir", "--input_dir_boards", "--input_dir_states",
        "--input_dir_zipcodes", "--input_dir_property_sub_types",
        "--input_dir_counties", "--input_dir_geo_ids", "-s", "-r")) {
      val e = intercept[IllegalArgumentException](
        JobsCli.parse(job1Argv(drop = req)))
      assert(e.getMessage.startsWith("missing required flag"), req)
    }
    intercept[IllegalArgumentException](JobsCli.parse(
      job1Argv().updated(1, "1995-01-01")))
    intercept[IllegalArgumentException](JobsCli.parse(
      job1Argv() ++ Seq("--bogus_flag", "1")))

    // property-id choices are validated like argparse
    intercept[IllegalArgumentException](JobsCli.parse(
      job1Argv() ++ Seq("--property_id_source", "FTP")))
    intercept[IllegalArgumentException](JobsCli.parse(
      job1Argv() ++ Seq("--property_id_source", "API"))) // endpoint required
    intercept[IllegalArgumentException](JobsCli.parse(
      job1Argv() ++ Seq("--property_id_modes", "New,Bogus")))
    intercept[IllegalArgumentException](JobsCli.parse(
      job1Argv() ++ Seq("--property_id_limit", "0")))
  }

  test("hist parser: reference flag set, required flags, foreign-flag rejection") {
    def histArgv(drop: String = ""): Seq[String] = Seq(
      "--from_date", "20240101", "--to_date", "20240131",
      "--input_dir_listings", fixture,
      "--input_dir_boards", "/tmp/b", "--input_dir_states", "/tmp/s",
      "--input_dir_zipcodes", "/tmp/z",
      "--input_dir_property_sub_types", "/tmp/p",
      "--input_dir_counties", "/tmp/c", "--input_dir_geo_ids", "/tmp/g",
      "--listings_hist_output_dir", "/tmp/hist",
      "-s", "/tmp/schema.json", "-g", "/tmp/logs")
      .sliding(2, 2).filterNot(_.head == drop).flatten.toSeq
    val a = JobsCli.parseHist(histArgv() ++
      Seq("--num_output_files", "3", "--vacuum_hrs", "24"))
    assert(a.listingsHistOutputDir.contains("/tmp/hist"))
    assert(a.numOutputFiles == 3 && a.vacuumHrs.contains(24.0))
    assert(a.fromDateIso == "2024-01-01")
    // every hist-required flag is enforced
    for (req <- Seq("--listings_hist_output_dir", "--input_dir_boards",
        "--target_schema_file", "--log_dir"))
      intercept[IllegalArgumentException] {
        JobsCli.parseHist(histArgv(drop =
          if (req == "--target_schema_file") "-s"
          else if (req == "--log_dir") "-g" else req))
      }
    // Job-1-only flags are FOREIGN to the hist argparse set (the
    // reference's hist parser has no reject or property-id flags)
    intercept[IllegalArgumentException](
      JobsCli.parseHist(histArgv() ++ Seq("--reject_data_dir", "/tmp/r")))
    intercept[IllegalArgumentException](
      JobsCli.parseHist(histArgv() ++ Seq("--property_id_source", "API")))
    intercept[IllegalArgumentException](
      JobsCli.parseHist(histArgv() :+ "--log_rejected_records"))
  }

  test("backfill parser: choices, switches, and cross-flag requirements") {
    def base: Seq[String] = Seq(
      "--listings_delta_dir", "/tmp/delta",
      "--listings_orc_dir", "/tmp/orc",
      "--property_id_source", "API",
      "--property_id_api_endpoint", "http://x/lookup",
      "--property_id_modes", "Null,Provisional",
      "-s", "/tmp/schema.json", "-g", "/tmp/logs")
    val a = JobsCli.parseBackfill(base ++ Seq(
      "--backfill_start_date", "20240101", "--backfill_end_date", "20240131",
      "--backfill_limit", "40", "--num_output_orc_files", "2",
      "--overwrite_orc_location"))
    assert(a.listingsDeltaDir.contains("/tmp/delta"))
    assert(a.backfillRangeIso.contains(("2024-01-01", "2024-01-31")))
    assert(a.backfillLimit.contains(40) && a.overwriteOrcLocation)
    assert(a.numOutputOrcFiles == 2)
    // reference choices: NONE is a Job-1 value, 'New' a Job-1 mode
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(5, "NONE")))
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(9, "New")))
    // API needs an endpoint; MSSQL needs both input dirs
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.patch(6, Nil, 2)))
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(5, "MSSQL").patch(6, Nil, 2)))
    // orc dir must differ from the delta dir (backfill.py:39's contract)
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(3, "/tmp/delta")))
    // Job-1/2 flags are foreign here
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base ++ Seq("--from_date", "20240101")))
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base ++ Seq("--listings_output_dir", "/tmp/o")))
  }
}
