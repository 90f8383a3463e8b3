package graft.pipeline.mls

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.JobsCli
import graft.sources.ManagedTable

/** Drives the REAL Job-1 pipeline from argv (MlsJobsMain over the
  * reference flag surface): the MSSQL property-id source with
  * hand-computed 3-hop answers, the priority-ordered --property_id_limit
  * budget (never-tried listings beat already-queried ones regardless of
  * key order — curated.py:211-227), and the side artifacts the oracle
  * gate does not hash (reject/outdated text legs, the asg-stripped ORC
  * mirror, the create-empty commit metadata). */
class MlsJobsMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("budget: priority cascade beats key order at every level") {
    import spark.implicits._
    // Rows crafted so plain (mls, mls_listing_id) order would pick the
    // EXACT OPPOSITE of the reference's priority order. Fields:
    // (mls, lid, source, load_status, queried, responded)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val rows = Seq(
      // key order: L1 first; priority: never-tried source sorts FIRST, so
      // L9 (source null) must beat every 'API'/'MSSQL' row.
      ("M", "L9", null, "Null", null, null),
      // among tried: MSSQL > API under desc (null, MSSQL, API)
      ("M", "L8", "MSSQL", "Null", ts, java.lang.Boolean.TRUE),
      // same source: load-status rank New(0) < Null(1) < Prov(2) < Final(3)
      ("M", "L7", "API", "Null", ts, java.lang.Boolean.TRUE),   // rank 1
      ("M", "L2", "API", "Provisional", ts, java.lang.Boolean.TRUE), // rank 2
      // same source+rank: responded asc_nulls_first (null, false, true)
      ("M", "L3", "API", "Final", ts, null),
      ("M", "L1", "API", "Final", ts, java.lang.Boolean.FALSE))
      .toDF("mls", "mls_listing_id", "asg_primary_id_source",
        "asg_primary_id_load_status",
        "asg_primary_id_source_queried_timestamp",
        "asg_primary_id_source_responded_flag")
    val picked = (n: Int) => MlsJobsMain.budget(rows, n)
      .select("mls_listing_id").collect().map(_.getString(0)).toSeq
    assert(picked(1) == Seq("L9"))
    assert(picked(2) == Seq("L9", "L8"))
    assert(picked(3) == Seq("L9", "L8", "L7"))
    assert(picked(4) == Seq("L9", "L8", "L7", "L2"))
    assert(picked(5) == Seq("L9", "L8", "L7", "L2", "L3"))
    assert(picked(6) == Seq("L9", "L8", "L7", "L2", "L3", "L1"))
    // the aux rank column does not leak into the result
    assert(!MlsJobsMain.budget(rows, 2).columns
      .contains("_asg_primary_id_load_status_num"))
  }

  test("MSSQL-mode CLI run wires the 3-hop lookup with known answers") {
    val root = Files.createTempDirectory("graft_cli_mssql").toString
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 1, "2024-01-01", tag = "x"))
      .drop("gate_batch").write.mode("overwrite").orc(s"$root/in_a")
    MlsJob1Gate.dims.foreach { case (n, _, _) =>
      MlsJob1Gate.dimDf(spark, n).write.mode("overwrite").orc(s"$root/dim_$n")
    }
    Files.writeString(Paths.get(root, "schema.json"), new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    // MSSQL fixtures — the MlsEnrichMssqlGate value cycles, written as ORC
    // dirs so they travel the real --input_dir_*_mssql path.
    val ks = spark.range(1, 151).selectExpr("CAST(id AS BIGINT) AS k")
    ks.filter("k % 7 <> 0").selectExpr(
        "'MLS' || CAST(k % 3 AS STRING) AS mls",
        "'L' || CAST(k AS STRING) AS mlslistingid",
        """CASE WHEN k % 11 = 1 THEN CAST(NULL AS BIGINT)
          | WHEN k % 13 = 2 THEN CAST(2000 + k % 10 AS BIGINT)
          | ELSE CAST(1001 + k % 50 AS BIGINT) END AS ailpropertyid""".stripMargin)
      .write.mode("overwrite").orc(s"$root/mssql_ldt")
    ks.filter("k <= 60").selectExpr(
        "CAST(1000 + k AS BIGINT) AS asgpropid",
        """CASE WHEN k % 6 = 3 THEN CAST(NULL AS BIGINT)
          | WHEN k % 4 = 0 THEN CAST(1001 + k % 30 AS BIGINT)
          | WHEN k % 9 = 5 THEN CAST(3000 + k AS BIGINT)
          | ELSE CAST(1000 + k AS BIGINT) END AS asgprimaryid""".stripMargin,
        "CAST(CASE WHEN k % 3 = 1 THEN 1 ELSE 0 END AS INTEGER) AS isprovisional",
        "CASE WHEN k % 5 < 3 THEN '2023-06-01' ELSE CAST(NULL AS STRING) END AS lastvalidated",
        "CASE WHEN k % 7 < 4 THEN '2022-01-01' ELSE CAST(NULL AS STRING) END AS asgtimestamp")
      .write.mode("overwrite").orc(s"$root/mssql_pm")

    val a = JobsCli.parse(Seq(
      "--from_date", "20240101", "--to_date", "20240131",
      "--input_dir_listings", s"$root/in_a",
      "--input_dir_boards", s"$root/dim_boards",
      "--input_dir_states", s"$root/dim_states",
      "--input_dir_zipcodes", s"$root/dim_zipcodes",
      "--input_dir_property_sub_types", s"$root/dim_psub",
      "--input_dir_counties", s"$root/dim_counties",
      "--input_dir_geo_ids", s"$root/dim_geo_ids",
      "--listings_output_dir", s"$root/out",
      "-s", s"$root/schema.json", "-r", s"$root/rejects",
      "--num_output_files", "1",
      "--property_id_source", "MSSQL",
      "--input_dir_listings_mssql", s"$root/mssql_ldt",
      "--input_dir_property_master_mssql", s"$root/mssql_pm"))
    val deltaRoot = MlsJobsMain.runJob1(spark, a,
      asOf = expr("DATE '2024-06-01'"),
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))

    val cur = ManagedTable.read(spark, deltaRoot)
    val mssqlRows = cur.filter(col("asg_primary_id_source") === "MSSQL")
    assert(mssqlRows.count() > 0, "MSSQL-mode run produced no lookups")
    assert(mssqlRows.filter(col("asg_primary_id").isNotNull).count() > 0)
    // Hand-computed 3-hop answer for (MLS0, L9): ail = 1001 + 9 = 1010 →
    // PropertyMaster k=10 row → asgprimaryid 1010 (no redirect), hop-2
    // isprovisional=1 and asgtimestamp present → final_flag=false →
    // 'Provisional'; Listing_dt hit → responded=true; ail==prim → fixed=false.
    val r = cur.filter(col("mls") === "MLS0" && col("mls_listing_id") === "L9")
      .select("asg_primary_id", "asg_primary_id_load_status",
        "asg_primary_id_final_flag", "asg_primary_id_source_responded_flag",
        "asg_primary_id_mssql_fixed_flag", "asg_primary_id_source")
      .head()
    assert(r.getLong(0) == 1010L)
    assert(r.getString(1) == "Provisional")
    assert(!r.getBoolean(2))
    assert(r.getBoolean(3))
    assert(!r.getBoolean(4))
    assert(r.getString(5) == "MSSQL")
  }

  test("MSSQL-mode backfill (runJob3) wires the 3-hop lookup from argv") {
    val root = Files.createTempDirectory("graft_cli3_mssql").toString
    // ORC bootstrap in the reference's pre-backfill shape (no asg_ cols —
    // the first run adds the placeholders, backfill:81-92)
    graft.sources.TableIO.writeOrcZlib(
      MlsJob3Gate.ks(spark, dir).selectExpr(MlsJob3Gate.bootExprs: _*),
      s"$root/orc", numFiles = 1)
    Files.writeString(Paths.get(root, "schema.json"), new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    // Same MSSQL value cycles as the Job-1 MSSQL spec above — the
    // bootstrap keys ('MLS'||k%3, 'L'||k) are the same shape, so the
    // hand-computed (MLS0, L9) hop answer carries over.
    val ks = spark.range(1, 151).selectExpr("CAST(id AS BIGINT) AS k")
    ks.filter("k % 7 <> 0").selectExpr(
        "'MLS' || CAST(k % 3 AS STRING) AS mls",
        "'L' || CAST(k AS STRING) AS mlslistingid",
        """CASE WHEN k % 11 = 1 THEN CAST(NULL AS BIGINT)
          | WHEN k % 13 = 2 THEN CAST(2000 + k % 10 AS BIGINT)
          | ELSE CAST(1001 + k % 50 AS BIGINT) END AS ailpropertyid""".stripMargin)
      .write.mode("overwrite").orc(s"$root/mssql_ldt")
    ks.filter("k <= 60").selectExpr(
        "CAST(1000 + k AS BIGINT) AS asgpropid",
        """CASE WHEN k % 6 = 3 THEN CAST(NULL AS BIGINT)
          | WHEN k % 4 = 0 THEN CAST(1001 + k % 30 AS BIGINT)
          | WHEN k % 9 = 5 THEN CAST(3000 + k AS BIGINT)
          | ELSE CAST(1000 + k AS BIGINT) END AS asgprimaryid""".stripMargin,
        "CAST(CASE WHEN k % 3 = 1 THEN 1 ELSE 0 END AS INTEGER) AS isprovisional",
        "CASE WHEN k % 5 < 3 THEN '2023-06-01' ELSE CAST(NULL AS STRING) END AS lastvalidated",
        "CASE WHEN k % 7 < 4 THEN '2022-01-01' ELSE CAST(NULL AS STRING) END AS asgtimestamp")
      .write.mode("overwrite").orc(s"$root/mssql_pm")

    val a = JobsCli.parseBackfill(Seq(
      "--listings_delta_dir", s"$root/delta",
      "--listings_orc_dir", s"$root/orc",
      "--property_id_source", "MSSQL",
      "--input_dir_listings_mssql", s"$root/mssql_ldt",
      "--input_dir_property_master_mssql", s"$root/mssql_pm",
      "--property_id_modes", "Null",
      "-s", s"$root/schema.json", "-g", s"$root/logs"))
    MlsJobsMain.runJob3(spark, a,
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))

    val cur = ManagedTable.read(spark, s"$root/delta")
    val mssqlRows = cur.filter(col("asg_primary_id_source") === "MSSQL")
    assert(mssqlRows.count() > 0, "MSSQL-mode backfill produced no lookups")
    // (MLS0, L9): ail = 1001 + 9 = 1010 → PropertyMaster k=10 →
    // asgprimaryid 1010, isprovisional=1 → 'Provisional', responded=true
    val r = cur.filter(col("mls") === "MLS0" && col("mls_listing_id") === "L9")
      .select("asg_primary_id", "asg_primary_id_load_status",
        "asg_primary_id_source_responded_flag", "asg_primary_id_source")
      .head()
    assert(r.getLong(0) == 1010L)
    assert(r.getString(1) == "Provisional")
    assert(r.getBoolean(2))
    assert(r.getString(3) == "MSSQL")
  }

  /** Read-only Job-1 input dirs for the argv runs (MlsJobCliGate.argv's
    * in_a/in_b + dims + schema layout). in_a holds the February batch
    * TWICE per key: the second slice carries an older source_as_of_date,
    * so window 1 marks it outdated — exercising the 'Outdated record'
    * reject leg deterministically. in_b holds a batch outside every window
    * these tests use (the multi-dir scan still runs, zero rows survive the
    * load_date filter). */
  private val staleSoad = "2024-01-03 00:00:00"
  private lazy val cliInputs: String = {
    val in = Files.createTempDirectory("graft_cli_inputs").toString
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 2, "2024-02-01", tag = "x")
          .unionByName(MlsJob1Gate.rawBase(spark, dir, 2, "2024-02-01",
            tag = "x", soadTs = staleSoad)))
      .drop("gate_batch").write.mode("overwrite").orc(s"$in/in_a")
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 1, "2023-06-01", tag = "x"))
      .drop("gate_batch").write.mode("overwrite").orc(s"$in/in_b")
    MlsJob1Gate.dims.foreach { case (n, _, _) =>
      MlsJob1Gate.dimDf(spark, n).write.mode("overwrite").orc(s"$in/dim_$n")
    }
    Files.writeString(Paths.get(in, "schema.json"), new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    in
  }

  /** The argv of a February Job-1 run into `out`, API lookups against
    * `server`. */
  private def cliArgs(out: String, server: graft.enrich.StubPropertyServer,
                      extra: Seq[String]) =
    JobsCli.parse(MlsJobCliGate.argv(cliInputs, out,
      "20240201", "20240228", Seq(
        "--property_id_source", "API",
        "--property_id_api_endpoint", server.lookupUrl,
        "--property_id_api_batch_size", "64",
        "--property_id_api_sleep", "0") ++ extra))
  private val cliAsOf = expr("DATE '2024-06-01'")

  /** One February Job-1 run from argv into `out`, API lookups against
    * `server`, at the run clock `nowTs`. Returns the delta root. */
  private def cliRun(out: String, server: graft.enrich.StubPropertyServer,
                     nowTs: String, extra: Seq[String]): String =
    MlsJobsMain.runJob1(spark, cliArgs(out, server, extra),
      asOf = cliAsOf, now = expr(s"TIMESTAMP '$nowTs'"))

  private val keyOf = (r: org.apache.spark.sql.Row) =>
    (r.getString(0), r.getString(1))
  private def keys(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("mls", "mls_listing_id").collect().map(keyOf).toSet
  private def lookedUpAt(root: String, nowTs: String): Set[(String, String)] =
    keys(ManagedTable.read(spark, root)
      .filter(col("asg_primary_id_source_queried_timestamp") ===
        to_timestamp(lit(nowTs))))

  test("CLI budget integration: the re-run budget avoids exactly the keys " +
      "a key-ordered budget would re-pick") {
    // Run A: February window, budget 2 → with every candidate tied on
    // priority, the budget falls to the key tiebreak and picks the 2
    // LOWEST (mls, mls_listing_id) keys. Run B re-sends the same window
    // (latest-wins tie → new wins, the asg recompute carries run A's
    // enrichment) with ALL modes and budget 2: the key-order head is now
    // exactly run A's tried set, so a key-ordered budget would re-pick
    // it — the priority cascade must pick never-tried keys instead.
    val root = Files.createTempDirectory("graft_cli_budget").toString
    val server = new graft.enrich.StubPropertyServer()
    val gateRoot = try {
      val gr = cliRun(root, server, "2024-07-01 00:00:00",
        Seq("--property_id_modes", "New", "--property_id_limit", "2"))
      val afterA = ManagedTable.read(spark, gr)
      val triedA = keys(afterA
        .filter(col("asg_primary_id_source_queried_timestamp").isNotNull))
      val allKeys = keys(afterA)
      // --property_id_limit caps the lookups
      assert(triedA.size == 2)
      assert(allKeys.size >= 4,
        s"fixture too small for a non-vacuous budget test: ${allKeys.size}")
      // run A's budget, all-tied, picked the key-order head
      assert(triedA == allKeys.toSeq.sorted.take(2).toSet)

      cliRun(root, server, "2024-08-01 00:00:00", Seq(
        "--property_id_modes", "New,Null,Provisional,Final",
        "--property_id_limit", "2"))
      val pickedB = lookedUpAt(gr, "2024-08-01 00:00:00")
      assert(pickedB.size == 2)
      assert(pickedB.intersect(triedA).isEmpty,
        "budget re-spent on already-tried keys — priority ordering not applied")
      // and specifically: the never-tried keys it picked are the key-order
      // head of the REMAINING pool (the cascade ends in the key tiebreak)
      assert(pickedB == (allKeys -- triedA).toSeq.sorted.take(2).toSet)
      gr
    } finally server.stop()
    // latest-wins at MLS grain: the stale-soad slice lost to the newer
    // snapshot within run A's batch and to the curated row in run B
    val soads = ManagedTable.read(spark, gateRoot)
      .select(col("source_as_of_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(soads.contains(MlsJob1Gate.defaultSoad) && !soads.contains(staleSoad),
      s"stale snapshot won latest-wins: $soads")
    // --log_rejected_records: run B overwrote -r with its validation
    // rejects, then appended its outdated rows
    val rejectLines = spark.read.text(s"$root/rejects")
    assert(rejectLines.count() > 0)
    assert(rejectLines.filter(col("value")
      .contains("Outdated record")).count() > 0)
    assert(rejectLines.filter(col("value")
      .contains("Invalid MLS code")).count() > 0)
    // Outdated-dump fidelity (curated.py:184-189): the dumped rows keep
    // their ORIGINAL bookkeeping values, not the window-recomputed ones.
    // The outdated rows are run-B's older-soad duplicates, transformed at
    // run-B's clock (2024-08-01) — the per-key min(create_timestamp) the
    // winners take is run-A's 2024-07-01, which must NOT appear here.
    val outdatedRows = spark.read.json(
        spark.read.text(s"$root/rejects").as[String](
          org.apache.spark.sql.Encoders.STRING))
      .filter(col("_reject_reasons") === "Outdated record")
    assert(outdatedRows.count() > 0)
    assert(outdatedRows.filter(!col("create_timestamp")
      .cast("string").startsWith("2024-08-01")).count() == 0,
      "outdated dump carries recomputed create_timestamp, not the original")
    // ORC mirror: asg bookkeeping columns stripped, primary id kept, and
    // exactly --num_output_files (2) data files
    val mirror = spark.read.orc(s"$root/out")
    assert(mirror.columns.contains("asg_primary_id"))
    assert(mirror.columns.contains("asg_primary_id_final_flag"))
    assert(!mirror.columns.contains("asg_primary_id_load_status"))
    assert(mirror.count() == ManagedTable.read(spark, gateRoot).count())
    assert(listNames(s"$root/out").count(_.endsWith(".orc")) == 2)
    // create-empty commit metadata (curated.py:325's userMetadata)
    val h = ManagedTable.commitHistoryWithMetadata(gateRoot)
    assert(h.head._3.contains("Create empty listings delta table"))
    assert(h.exists(_._3.exists(_.contains("job=listings_curated"))))
  }

  test("CLI flag surface: --input_mls_list narrows the merge, widened " +
      "--property_id_modes re-look-up tried keys, --vacuum_hrs 0 keeps " +
      "only the live version") {
    val root = Files.createTempDirectory("graft_cli_flags").toString
    val isin = Seq("--input_mls_list", "MLS0")
    val server = new graft.enrich.StubPropertyServer()
    try {
      // Run C: MLS0 only, mode New, budget 1 (argv's --vacuum_hrs 168).
      val gr = cliRun(root, server, "2024-07-01 00:00:00",
        isin ++ Seq("--property_id_modes", "New", "--property_id_limit", "1"))
      val merged = keys(ManagedTable.read(spark, gr))
      assert(merged.nonEmpty && merged.forall(_._1 == "MLS0"), s"$merged")
      assert(spark.read.orc(s"$cliInputs/in_a")
        .filter(col("mls") =!= "MLS0").count() > 0,
        "fixture holds no other MLS code: the isin check is vacuous")
      // the load_date window keeps in_b's June-2023 batch out entirely
      assert(ManagedTable.read(spark, gr)
        .filter(col("load_date") =!= "2024-02-01").isEmpty)
      // isin filters before validation: no other code reaches -r either
      assert(spark.read.json(s"$root/rejects")
        .filter(col("mls") =!= "MLS0").count() == 0)
      val triedC = lookedUpAt(gr, "2024-07-01 00:00:00")
      assert(triedC.size == 1 && merged.size > 1)
      assert(versionDirs(gr).size > 1)

      // Run D: all modes, no budget, retention 0 h. Mode New alone skips
      // the keys run C tried; the widened modes look every key up again.
      cliRun(root, server, "2024-08-01 00:00:00", isin ++ Seq(
        "--property_id_modes", "New,Null,Provisional,Final",
        "--vacuum_hrs", "0"))
      val lookedD = lookedUpAt(gr, "2024-08-01 00:00:00")
      assert(triedC.subsetOf(lookedD))
      assert(lookedD == keys(ManagedTable.read(spark, gr)))
      // retention 0 h keeps the live version and the versions it reads (a
      // merge-on-read head shares its base's files and the appended files
      // of the versions it lists), nothing else
      val live = ManagedTable.currentVersion(gr)
      assert(versionDirs(gr) ==
        (live +: (dvBaseOf(gr, live).toSeq ++ appendVersionsOf(gr, live)))
          .distinct.sorted)
    } finally server.stop()
  }

  test("compute once: a Job-1 run scans each input dir once and the live " +
      "curated version at most twice") {
    val root = Files.createTempDirectory("graft_cli_once").toString
    val server = new graft.enrich.StubPropertyServer()
    try {
      val gr = cliRun(root, server, "2024-07-01 00:00:00",
        Seq("--property_id_modes", "New", "--property_id_limit", "2"))
      val v = ManagedTable.currentVersion(gr)
      val (live, next) = (s"/v$v", s"/v${v + 1}")
      // The second run merges the MLS0 third of the table: a batch that
      // touches part of it, as a nightly one does.
      val queries = ScanLog.during(spark) {
        cliRun(root, server, "2024-08-01 00:00:00", Seq(
          "--input_mls_list", "MLS0",
          "--property_id_modes", "New,Null,Provisional,Final",
          "--property_id_limit", "2"))
      }
      val scans = queries.flatten
      def scansOf(suffix: String) = scans.count(_.endsWith(suffix))
      // validation's scan + joins + dropDuplicates feed both the reject
      // leg and the transform: one execution
      assert(scansOf("/in_a") == 1, scans)
      assert(scansOf("/in_b") == 1, scans)
      // The published version: a full snapshot dir, or a merge-on-read
      // version's `_dv`/`_append` files (read along with live's files).
      def readsNext(q: Seq[String]) =
        q.exists(r => r.endsWith(next) || r.contains(s"$next/"))
      // the dedupe window and the merge target; the lookup branch and the
      // outdated leg read the window's materialized output
      val liveOnly = queries.count(q => q.exists(_.endsWith(live)) && !readsNext(q))
      assert(liveOnly >= 1 && liveOnly <= 2, queries)
      // the mirror reads the published version, once
      assert(queries.count(readsNext) == 1, queries)
    } finally server.stop()
  }

  test("merge-on-read publish: the nightly version holds only the batch, " +
      "reads as a copy-on-write MERGE would, and folds when its appends " +
      "reach the base") {
    val root = Files.createTempDirectory("graft_cli_mor").toString
    val server = new graft.enrich.StubPropertyServer()
    try {
      // the first run into a new table: v0 empty, v1 the batch as a full
      // snapshot, written once
      val gr = cliRun(root, server, "2024-07-01 00:00:00",
        Seq("--property_id_modes", "New", "--property_id_limit", "2"))
      val live = ManagedTable.currentVersion(gr)
      assert(live == 1 && ManagedTable.readVersion(spark, gr, 0).isEmpty,
        versionDirs(gr))
      assert(dvBaseOf(gr, live).isEmpty)
      assert(listNames(s"$gr/v$live").exists(_.endsWith(".parquet")))

      // The copy-on-write reference: a copy of the pre-run state takes the
      // same night's batch (built from the copy, at the same clock)
      // through ManagedTable.merge.
      val copyOut = s"$root/copy"
      val copyRoot = MlsJobsMain.deltaDirOf(s"$copyOut/out")
      copyTree(gr, copyRoot)
      val batchKeys = keys(ManagedTable.read(spark, gr)
        .filter(col("mls") === "MLS0"))
      assert(batchKeys.nonEmpty && batchKeys.size < keys(
        ManagedTable.read(spark, gr)).size)
      val night2 = Seq("--input_mls_list", "MLS0",
        "--property_id_modes", "New", "--property_id_limit", "1")
      val now2 = "2024-08-01 00:00:00"
      cliRun(root, server, now2, night2)
      val next = live + 1
      assert(ManagedTable.currentVersion(gr) == next)
      // tombstones, appended rows, the appended-versions list and the base
      // marker; no data file
      assert(listNames(s"$gr/v$next").toSet ==
        Set("_dv", "_append", "_append_versions", "_dv_base"))
      assert(dvBaseOf(gr, next).contains(live))
      assert(appendVersionsOf(gr, next) == Seq(next))
      def parquet(d: String) = spark.read.parquet(
        listNames(d).filter(_.endsWith(".parquet")).map(f => s"$d/$f"): _*)
      val appended = parquet(s"$gr/v$next/_append")
      // every batch key matched a live row: one post-image and one
      // tombstone per merged row, no insert
      assert(keys(appended) == batchKeys)
      assert(appended.count() == batchKeys.size)
      assert(parquet(s"$gr/v$next/_dv").count() == batchKeys.size)

      val batch = MlsJobsMain.job1Batch(spark, cliArgs(copyOut, server, night2),
        cliAsOf, expr(s"TIMESTAMP '$now2'"), None).rows
      ManagedTable.merge(spark, copyRoot, batch, Seq("mls", "mls_listing_id"))
      assert(digest(ManagedTable.read(spark, gr)) ==
        digest(ManagedTable.read(spark, copyRoot)))

      // Night 3 re-sends the whole February batch: its post-images plus
      // night 2's appends outweigh the base, so the head folds inside the
      // run. The fold is one more full read (of the new head) and one full
      // rewrite; the mirror then reads the folded version.
      val head = next + 1
      val queries = ScanLog.during(spark) {
        cliRun(root, server, "2024-09-01 00:00:00",
          Seq("--property_id_modes", "New", "--property_id_limit", "1"))
      }
      assert(ManagedTable.currentVersion(gr) == head + 1)
      assert(dvBaseOf(gr, head).contains(live))
      assert(appendVersionsOf(gr, head) == Seq(next, head))
      assert(dvBaseOf(gr, head + 1).isEmpty)
      assert(listNames(s"$gr/v${head + 1}").exists(_.endsWith(".parquet")))
      assert(digest(ManagedTable.readVersion(spark, gr, head)) ==
        digest(ManagedTable.read(spark, gr)))
      val scans = queries.flatten
      assert(scans.count(_.endsWith("/in_a")) == 1, scans)
      assert(scans.count(_.endsWith("/in_b")) == 1, scans)
      // a version's rows: its data files or its appended ones
      def readsRows(v: Int)(q: Seq[String]) =
        q.exists(r => r.endsWith(s"/v$v") || r.contains(s"/v$v/_append/"))
      def readsAny(v: Int)(q: Seq[String]) =
        q.exists(r => r.endsWith(s"/v$v") || r.contains(s"/v$v/"))
      // the dedupe window and the merge target read the pre-run head's
      // rows (v2's files plus v3's appends); nothing else does
      val preRun = queries.count(q => (readsRows(live)(q) || readsRows(next)(q)) &&
        !readsAny(head)(q) && !readsAny(head + 1)(q))
      assert(preRun >= 1 && preRun <= 2, queries)
      assert(queries.count(readsAny(head)) == 1, queries)     // the fold
      assert(queries.count(readsAny(head + 1)) == 1, queries) // the mirror
    } finally server.stop()
  }

  private def listNames(dir: String): Seq[String] = {
    val st = Files.list(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString).toVector
    } finally st.close()
  }

  private def versionDirs(root: String): Seq[Int] =
    listNames(root).filter(_.matches("v\\d+")).map(_.drop(1).toInt).sorted

  /** The full version a merge-on-read version's `_dv_base` names. */
  private def dvBaseOf(root: String, version: Int): Option[Int] = {
    val f = Paths.get(root, s"v$version", "_dv_base")
    Option.when(Files.exists(f))(Files.readString(f).trim.toInt)
  }

  /** The versions whose `_append` dirs a merge-on-read version serves. */
  private def appendVersionsOf(root: String, version: Int): Seq[Int] = {
    val f = Paths.get(root, s"v$version", "_append_versions")
    if (!Files.exists(f)) Nil
    else Files.readString(f).split(',').toSeq.filter(_.nonEmpty).map(_.toInt)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val st = Files.walk(src)
    try st.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally st.close()
  }

  /** Order-independent content digest: row count plus the exact sum of a
    * 64-bit hash of every row. */
  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(
      df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
      .cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Root paths of the file scans of each query a block executes, one entry
  * per query, from the executed plans a [[QueryExecutionListener]] sees
  * (lazy checkpoints report theirs as a `localCheckpoint` action). */
object ScanLog {
  import java.util.concurrent.ConcurrentLinkedQueue
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
    QueryExecution, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}
  import org.apache.spark.sql.util.QueryExecutionListener

  private val Start = "graft_scanlog_start"
  private val End = "graft_scanlog_end"

  def roots(p: SparkPlan): Seq[String] = p match {
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case a: AdaptiveSparkPlanExec => roots(a.executedPlan)
    case q: QueryStageExec => roots(q.plan)
    case c: CommandResultExec => roots(c.commandPhysicalPlan)
    case other => (other.children ++ other.subqueries).flatMap(roots)
  }

  /** Events arrive in order on one bus, but after their query returns:
    * a start and an end marker query bracket `body`, so events of earlier
    * queries are skipped and every event of `body` is in when it returns. */
  def during(spark: SparkSession)(body: => Unit): Seq[Seq[String]] = {
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    @volatile var recording = false
    @volatile var drained = false
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val plan = qe.logical.toString
        if (plan.contains(Start)) recording = true
        else if (plan.contains(End)) drained = true
        else if (recording) seen.add(roots(qe.executedPlan))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def marker(name: String) = spark.range(1).selectExpr(s"id AS $name").collect()
    spark.listenerManager.register(l)
    try {
      marker(Start)
      body
      marker(End)
      val deadline = System.currentTimeMillis() + 20000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(drained, "query listener events never drained")
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }
}
