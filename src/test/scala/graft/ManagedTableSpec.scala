package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Merge
import graft.sources.{ManagedTable, MergeClauses}

class ManagedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("create/read/merge/vacuum versioned lifecycle") {
    val root = Files.createTempDirectory("graft_tbl").toString
    val init = Seq((1, "a"), (2, "b")).toDF("k", "v")
    ManagedTable.overwrite(root, init)
    assert(ManagedTable.exists(root))
    assert(ManagedTable.currentVersion(root) == 0)
    assert(ManagedTable.read(spark, root).count() == 2)

    ManagedTable.merge(spark, root, Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(ManagedTable.currentVersion(root) == 1)
    val rows = ManagedTable.read(spark, root).as[(Int, String)].collect().sorted
    assert(rows.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))
    // old snapshot still readable until vacuum
    assert(Files.exists(Paths.get(root, "v0")))
    ManagedTable.vacuum(root, keep = 1)
    assert(!Files.exists(Paths.get(root, "v0")))
    assert(Files.exists(Paths.get(root, "v1")))
    assert(ManagedTable.read(spark, root).count() == 3)
  }

  test("optimize compacts small files and preserves content exactly") {
    val root = Files.createTempDirectory("graft_tbl_o").toString
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .selectExpr("l_orderkey AS k", "l_linenumber AS ln",
        "CAST(l_partkey AS DOUBLE) AS part", "CAST(l_suppkey AS DOUBLE) AS supp")
    ManagedTable.overwrite(root, df.repartition(32))
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator()
    def nParquet(v: Int) = {
      import scala.jdk.CollectionConverters._
      files(v).asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }
    assert(nParquet(0) == 32)
    val before = ManagedTable.read(spark, root).collect().toSet
    ManagedTable.optimize(spark, root, targetFileBytes = 1L << 30,
      zorderBy = Seq("part", "supp"))
    assert(ManagedTable.currentVersion(root) == 1)
    assert(nParquet(1) == 1) // 1 GiB target bin-packs this table to one file
    assert(ManagedTable.read(spark, root).collect().toSet == before)
  }

  test("z-order layout gives files pairwise-disjoint z-ranges") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_z").toString
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .selectExpr("l_orderkey AS k", "CAST(l_partkey AS DOUBLE) AS part",
        "CAST(l_suppkey AS DOUBLE) AS supp")
    ManagedTable.overwrite(root, df.repartition(16))
    // ~16 KB target so the optimize produces several z-range files.
    ManagedTable.optimize(spark, root, targetFileBytes = 16L << 10,
      zorderBy = Seq("part", "supp"))
    val opt = ManagedTable.read(spark, root)
    // recompute the layout's EXACT z from the cut points the optimize
    // recorded with the version (approxQuantile re-runs aren't
    // bit-reproducible, the recorded recipe is)
    val cuts = ManagedTable.zorderCutsOf(
      root, ManagedTable.currentVersion(root))
    assert(cuts.keySet == Set("part", "supp"))
    def bucket(c: String) =
      size(filter(typedLit(cuts(c)), x => x <= col(c)))
    val z = ManagedTable.interleaveBits(Seq(bucket("part"), bucket("supp")))
    val ranges = opt.withColumn("_f", input_file_name())
      .groupBy("_f").agg(min(z).as("lo"), max(z).as("hi"))
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3))
    assert(ranges.length > 1) // the compaction target really made several files
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  test("interleaveBits is a bijection on the full 8-bit bucket grid") {
    import org.apache.spark.sql.functions._
    // 256×256 bucket pairs → 65536 DISTINCT z-values inside [0, 65536):
    // any collision or range escape breaks the disjoint-z-range layout
    // contract (two files could then own the same z).
    val pairs = spark.range(256L * 256)
      .select((col("id") / 256).cast("int").as("b1"),
        (col("id") % 256).cast("int").as("b2"))
    val z = ManagedTable.interleaveBits(Seq(col("b1"), col("b2")))
    val Seq(n, mn, mx) = pairs.agg(countDistinct(z), min(z), max(z))
      .collect().head.toSeq.map(_.toString.toLong)
    assert(n == 65536L && mn == 0L && mx == 65535L)
  }

  test("analyze + readWhere skip files a z-ordered range query cannot need") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_s").toString
    // 100×100 grid: after z-order, (a, b) spans per file are tight, so a
    // narrow box must touch only a corner of the file set.
    val df = spark.range(10000L)
      .select((col("id") / 100).cast("int").as("a"),
        (col("id") % 100).cast("int").as("b"), col("id").as("payload"))
    ManagedTable.overwrite(root, df.repartition(16))
    // No explicit analyze: a z-order OPTIMIZE records the manifest itself.
    ManagedTable.optimize(spark, root, targetFileBytes = 8L << 10,
      zorderBy = Seq("a", "b"))
    assert(Files.exists(Paths.get(root,
      s"v${ManagedTable.currentVersion(root)}", "_stats.tsv")))
    val full = ManagedTable.read(spark, root)
    val nFilesTotal = full.inputFiles.length
    assert(nFilesTotal > 4) // the 8 KB target really fragmented the snapshot
    val pruned = ManagedTable.readWhere(spark, root,
      Seq(("a", 10, 20), ("b", 30, 40)))
    assert(pruned.inputFiles.length < nFilesTotal)
    // Skipping loses no row and admits no extra row.
    val expect = full.filter(col("a").between(10, 20) &&
      col("b").between(30, 40)).collect().toSet
    assert(expect.nonEmpty && pruned.collect().toSet == expect)
    // A box outside the data prunes every file and still answers cleanly.
    val none = ManagedTable.readWhere(spark, root, Seq(("a", 500, 600)))
    assert(none.count() == 0 && none.columns.toSeq == full.columns.toSeq)
  }

  test("string z-order prunes files for a lexicographic date range") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_zs").toString
    val df = spark.range(32768L)
      .select(col("id").as("k"),
        date_format(date_add(lit("2020-01-01").cast("date"),
          (col("id") % 1461).cast("int")), "yyyy-MM-dd").as("dt"))
    ManagedTable.overwrite(root, df.repartition(16))
    ManagedTable.optimize(spark, root, targetFileBytes = 8L << 10,
      zorderBy = Seq("dt"))
    val full = ManagedTable.read(spark, root)
    val nFilesTotal = full.inputFiles.length
    assert(nFilesTotal > 4)
    val pruned = ManagedTable.readWhere(spark, root,
      Seq(("dt", "2021-02-01", "2021-03-31")))
    // the surrogate clustering makes the 2-month slice skip most files
    assert(pruned.inputFiles.length < nFilesTotal / 2)
    val expect = full.filter(col("dt").between("2021-02-01", "2021-03-31"))
      .collect().toSet
    assert(expect.nonEmpty && pruned.collect().toSet == expect)
  }

  test("readWhere without a manifest degrades to a plain filtered read") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_nm").toString
    val df = spark.range(1000L).select(col("id").cast("int").as("a"))
    ManagedTable.overwrite(root, df.repartitionByRange(8, col("a")))
    val got = ManagedTable.readWhere(spark, root, Seq(("a", 100, 199)))
    assert(got.inputFiles.length ==
      ManagedTable.read(spark, root).inputFiles.length)
    assert(got.count() == 100)
    // Explicit analyze (no OPTIMIZE involved) makes the same read prune:
    // the range-partitioned files have tight per-file spans.
    ManagedTable.analyze(spark, root, Seq("a"))
    val pruned = ManagedTable.readWhere(spark, root, Seq(("a", 100, 199)))
    assert(pruned.inputFiles.length <
      ManagedTable.read(spark, root).inputFiles.length)
    assert(pruned.count() == 100)
  }

  test("time travel pins a historical version; vacuum makes it unreadable") {
    val root = Files.createTempDirectory("graft_tbl_tt").toString
    ManagedTable.overwrite(root, Seq((1, "a")).toDF("k", "v"))          // v0
    ManagedTable.merge(spark, root, Seq((2, "b")).toDF("k", "v"), Seq("k")) // v1
    ManagedTable.merge(spark, root, Seq((3, "c")).toDF("k", "v"), Seq("k")) // v2
    assert(ManagedTable.readVersion(spark, root, 1).count() == 2)
    assert(ManagedTable.readVersion(spark, root, 2).count() == 3)
    ManagedTable.vacuum(root, keep = 1)
    intercept[IllegalArgumentException] {
      ManagedTable.readVersion(spark, root, 1)
    }
    assert(ManagedTable.readVersion(spark, root, 2).count() == 3)
  }

  test("change feed records row-level actions; vacuum ages feeds out") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_cdf").toString
    ManagedTable.overwrite(root, Seq((1, "a"), (2, "b")).toDF("k", "v")) // v0
    val changed = !(col("t.v") <=> col("s.v"))
    ManagedTable.merge(spark, root,
      Seq((1, "a"), (2, "B"), (3, "c")).toDF("k", "v"), Seq("k"),
      graft.sources.MergeClauses.Spec(
        updateWhen = Some(changed), deleteWhen = Some(lit(true))),
      changeFeed = true)                                                 // v1
    val feed = ManagedTable.changes(spark, root, 1)
      .as[(Int, String, String)].collect().sortBy(_._1)
    // k=1 unchanged → delete pre-image; k=2 → update post-image; k=3 → insert.
    assert(feed.toSeq == Seq((1, "a", "delete"), (2, "B", "update"),
      (3, "c", "insert")))
    // The published snapshot is consistent with replaying the feed.
    val live = ManagedTable.read(spark, root)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(live.toSeq == Seq((2, "B"), (3, "c")))
    ManagedTable.merge(spark, root, Seq((4, "d")).toDF("k", "v"), Seq("k"),
      changeFeed = true)                                                 // v2
    // Range read stamps each row's version (table_changes(from, to)).
    val ranged = ManagedTable.changes(spark, root, 1, 2)
      .as[(Int, String, String, Int)].collect().sortBy(r => (r._4, r._1))
    assert(ranged.map(_._4).toSeq == Seq(1, 1, 1, 2))
    assert(ranged.last == ((4, "d", "insert", 2)))
    intercept[IllegalArgumentException] { // v3 has no feed: loud, not silent
      ManagedTable.changes(spark, root, 1, 3)
    }
    ManagedTable.vacuum(root, keep = 1)
    intercept[IllegalArgumentException] {
      ManagedTable.changes(spark, root, 1)
    }
    assert(ManagedTable.changes(spark, root, 2).count() == 1) // insert of k=4
  }

  test("UPDATE evaluates SET and the feed on the pre-update row") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_u").toString
    ManagedTable.overwrite(root, Seq((1, 50.0), (2, 500.0)).toDF("k", "total"))
    // Self-referential: WHERE total < 100 SET total += 1000. The post-image
    // (1050.0) no longer satisfies the predicate — the feed must still
    // carry it.
    ManagedTable.update(spark, root,
      Map("total" -> (col("total") + lit(1000.0))),
      where = col("total") < 100.0, changeFeed = true)
    val live = ManagedTable.read(spark, root)
      .as[(Int, Double)].collect().sortBy(_._1)
    assert(live.toSeq == Seq((1, 1050.0), (2, 500.0)))
    val feed = ManagedTable.changes(spark, root, 1)
      .as[(Int, Double, String)].collect()
    assert(feed.toSeq == Seq((1, 1050.0, "update")))
  }

  test("DELETE keeps null-predicate rows (SQL semantics) and feeds pre-images") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_tbl_d").toString
    ManagedTable.overwrite(root,
      Seq((1, Some(5)), (2, None), (3, Some(1))).toDF("k", "n"))
    ManagedTable.delete(spark, root, col("n") > 3, changeFeed = true)
    val live = ManagedTable.read(spark, root)
      .select("k").as[Int].collect().sorted
    assert(live.toSeq == Seq(2, 3)) // null predicate row 2 is KEPT
    val feed = ManagedTable.changes(spark, root, 1)
      .select("k", Merge.ActionCol).as[(Int, String)].collect()
    assert(feed.toSeq == Seq((1, "delete")))
  }

  test("RESTORE republishes old content as a new head, history linear") {
    val root = Files.createTempDirectory("graft_tbl_r").toString
    ManagedTable.overwrite(root, Seq((1, "a")).toDF("k", "v"))          // v0
    ManagedTable.merge(spark, root, Seq((2, "b")).toDF("k", "v"), Seq("k")) // v1
    ManagedTable.restore(spark, root, 0)                                // v2
    assert(ManagedTable.currentVersion(root) == 2)
    assert(ManagedTable.read(spark, root).count() == 1)     // v0 content
    assert(ManagedTable.readVersion(spark, root, 1).count() == 2) // intact
  }

  test("deletion vectors: no data file rewritten; stacked, vacuumed, purged") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_dv").toString
    val df = (1 to 1000).map(i => (i.toLong, i % 10)).toDF("k", "m")
    ManagedTable.overwrite(root, df.repartition(8))
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val baseFiles = files(0)
    assert(baseFiles.size == 8)

    // first vectorized delete: base files untouched, v1 is metadata+dv only
    ManagedTable.deleteVectorized(spark, root, col("m") === 0)
    assert(ManagedTable.currentVersion(root) == 1)
    assert(files(0) == baseFiles)
    assert(files(1).isEmpty) // no top-level data files in the DV version
    assert(Files.exists(Paths.get(root, "v1", "_dv_base")))
    val got1 = ManagedTable.read(spark, root).as[(Long, Int)].collect()
    assert(got1.length == 900 && got1.forall(_._2 != 0))

    // stacked delete accumulates tombstones against the SAME base
    ManagedTable.deleteVectorized(spark, root, col("m") === 1)
    assert(Files.readString(Paths.get(root, "v2", "_dv_base")).trim == "0")
    val got2 = ManagedTable.read(spark, root).as[(Long, Int)].collect()
    assert(got2.length == 800 && got2.forall(r => r._2 != 0 && r._2 != 1))
    // time travel still resolves each stage
    assert(ManagedTable.readVersion(spark, root, 0).count() == 1000)
    assert(ManagedTable.readVersion(spark, root, 1).count() == 900)

    // vacuum(keep=1) retains v0: the live DV version references its files
    ManagedTable.vacuum(root, keep = 1)
    assert(Files.exists(Paths.get(root, "v0")))
    assert(!Files.exists(Paths.get(root, "v1")))
    assert(ManagedTable.read(spark, root).count() == 800)

    // OPTIMIZE purges the vectors into a plain full snapshot
    ManagedTable.optimize(spark, root)
    val live = ManagedTable.currentVersion(root)
    assert(files(live).nonEmpty)
    assert(!Files.exists(Paths.get(root, s"v$live", "_dv_base")))
    assert(ManagedTable.read(spark, root).count() == 800)
    // ... after which vacuum can finally drop the base
    ManagedTable.vacuum(root, keep = 1)
    assert(!Files.exists(Paths.get(root, "v0")))
    assert(ManagedTable.read(spark, root).count() == 800)
  }

  test("a deletion-vector read logs no 'All paths were ignored' WARN") {
    import org.apache.spark.sql.functions.col
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val root = Files.createTempDirectory("graft_dv_warn").toString
    ManagedTable.overwrite(root, (1 to 100).map(i => (i.toLong, i % 10)).toDF("k", "m"))
    ManagedTable.deleteVectorized(spark, root, col("m") === 0)
    // v2: a merge-on-read MERGE, so the read below also takes `_append`
    ManagedTable.mergeVectorized(spark, root,
      Seq(1L, 2L, 3L, 10L).map(k => (k, 7)).toDF("k", "m"), Seq("k"))
    assert(ManagedTable.currentVersion(root) == 2)
    assert(Files.exists(Paths.get(root, "v2", "_dv_base")))
    assert(Files.exists(Paths.get(root, "v2", "_append")))
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("dv-read-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // Spark's file-source resolution logs under this name.
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[Logger]
    val level0 = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    val (rows1, rows2) = try (ManagedTable.readVersion(spark, root, 1).count(),
        ManagedTable.read(spark, root).count())
      finally { logger.removeAppender(capture); logger.setLevel(level0); capture.stop() }
    assert(rows1 == 90)
    assert(rows2 == 91) // k = 10 was deleted in v1, so the merge re-inserts it
    import scala.jdk.CollectionConverters._
    assert(!messages.asScala.exists(_.contains("All paths were ignored")),
      messages.asScala.mkString("\n"))
  }

  test("compactSmall packs only the small tail; big files carry as links") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_cmp").toString
    // skewed hash layout: one huge partition (key 0 ~ 90%), many slivers
    val df = spark.range(200000L)
      .select(when(col("id") % 10 === 0, col("id") % 7 + 1).otherwise(0L).as("g"),
        col("id").as("payload"))
    ManagedTable.overwrite(root, df.repartition(12, col("g")))
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toVector
    def ino(v: Int, name: String) = Files.getAttribute(
      Paths.get(root, s"v$v", name), "unix:ino")
    val before = files(0)
    val sizes = before.map(f =>
      f -> Files.size(Paths.get(root, "v0", f))).toMap
    val bigFiles = before.filter(f => sizes(f) >= (64L << 10) / 2)
    assert(bigFiles.nonEmpty && bigFiles.size < before.size)

    ManagedTable.compactSmall(spark, root, targetFileBytes = 64L << 10)
    assert(ManagedTable.currentVersion(root) == 1)
    val after = files(1)
    assert(after.size < before.size)
    // every healthy file carried by NAME and by INODE (hard link, 0 bytes)
    bigFiles.foreach { f =>
      assert(after.contains(f))
      assert(ino(0, f) == ino(1, f))
    }
    // content untouched
    val a = ManagedTable.readVersion(spark, root, 0).collect().toSet
    val b = ManagedTable.read(spark, root).collect().toSet
    assert(a == b && b.nonEmpty)
    // idempotent: a second pass finds <=1 small file and publishes nothing
    ManagedTable.compactSmall(spark, root, targetFileBytes = 64L << 10)
    assert(ManagedTable.currentVersion(root) == 1)
  }

  test("generated columns: backfill, compute-on-write, validate-on-supply") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_gen").toString
    ManagedTable.overwrite(root,
      Seq((1L, "2024-03-05"), (2L, "2025-11-30")).toDF("k", "dt"))
    // registering on a populated table BACKFILLS a new version
    ManagedTable.addGeneratedColumn(spark, root, "yr", "substring(dt, 1, 4)")
    assert(ManagedTable.currentVersion(root) == 1)
    assert(ManagedTable.read(spark, root).as[(Long, String, String)]
      .collect().toSet == Set((1L, "2024-03-05", "2024"),
        (2L, "2025-11-30", "2025")))
    // a writer supplying only physical columns gets the column computed
    ManagedTable.overwrite(root, Seq((3L, "2026-01-15")).toDF("k", "dt"))
    assert(ManagedTable.read(spark, root).as[(Long, String, String)]
      .collect().toSet == Set((3L, "2026-01-15", "2026")))
    // a writer supplying a WRONG value aborts before the pointer swaps
    val before = ManagedTable.currentVersion(root)
    intercept[Exception] {
      ManagedTable.overwrite(root,
        Seq((4L, "2027-06-01", "1999")).toDF("k", "dt", "yr"))
    }
    assert(ManagedTable.currentVersion(root) == before)
    // a correct supplied value passes validation
    ManagedTable.overwrite(root,
      Seq((5L, "2027-06-01", "2027")).toDF("k", "dt", "yr"))
    assert(ManagedTable.read(spark, root).count() == 1)
    // dropping the definition stops the compute
    ManagedTable.dropGeneratedColumn(root, "yr")
    ManagedTable.overwrite(root, Seq((6L, "2028-02-02")).toDF("k", "dt"))
    assert(ManagedTable.read(spark, root).columns.toSeq == Seq("k", "dt"))
  }

  test("merge-on-read UPDATE: base untouched; updated copies appended") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_mor").toString
    val df = (1 to 1000).map(i => (i.toLong, i % 10, i.toDouble))
      .toDF("k", "m", "v")
    ManagedTable.overwrite(root, df.repartition(8))
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val baseFiles = files(0)

    ManagedTable.updateVectorized(spark, root,
      Map("v" -> (col("v") + 10000.0)), col("m") === 3)
    assert(ManagedTable.currentVersion(root) == 1)
    assert(files(0) == baseFiles) // no base data file rewritten
    assert(files(1).isEmpty)      // v1 holds only _dv/_append/_dv_base
    assert(Files.exists(Paths.get(root, "v1", "_append")))
    val got1 = ManagedTable.read(spark, root).as[(Long, Int, Double)]
      .collect()
    assert(got1.length == 1000)
    got1.foreach { case (k, m, v) =>
      assert(v == (if (m == 3) k + 10000.0 else k.toDouble)) }

    // stacked: a vectorized DELETE sees (and filters) the appended rows
    ManagedTable.deleteVectorized(spark, root, col("v") > 10500.0)
    val got2 = ManagedTable.read(spark, root).as[(Long, Int, Double)]
      .collect()
    assert(got2.forall(_._3 <= 10500.0))
    assert(got2.count(_._2 == 3) == 50) // 503..993 deleted, 50 remain

    // a second UPDATE tombstones matched appended rows and appends their
    // new copies
    ManagedTable.updateVectorized(spark, root,
      Map("v" -> (col("v") + 1.0)), col("m") === 3)
    val got3 = ManagedTable.read(spark, root).as[(Long, Int, Double)]
      .collect().filter(_._2 == 3).map(r => r._1 -> r._3).toMap
    assert(got3(3L) == 3L + 10000.0 + 1.0)
    assert(got3.size == 50)

    // a type-changing SET is rejected before anything is published
    val vBefore = ManagedTable.currentVersion(root)
    intercept[IllegalArgumentException] {
      ManagedTable.updateVectorized(spark, root,
        Map("v" -> lit("not-a-double")), col("m") === 3)
    }
    assert(ManagedTable.currentVersion(root) == vBefore)

    // OPTIMIZE purges the whole merge-on-read stack into a full snapshot
    ManagedTable.optimize(spark, root)
    val live = ManagedTable.currentVersion(root)
    assert(files(live).nonEmpty)
    assert(!Files.exists(Paths.get(root, s"v$live", "_dv_base")))
    assert(ManagedTable.read(spark, root).count() == got2.length)
  }

  test("replaceWhere: wholesale slice swap, insertion contract, MOR at delta cost") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_rw").toString
    val df = (1 to 1000).map(i => (i.toLong, i % 10, i.toDouble))
      .toDF("k", "m", "v")
    ManagedTable.overwrite(root, df.repartition(8))
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val baseFiles = files(0)

    // CoW: replace slice m=3 with a DIFFERENT cardinality (2 rows) —
    // wholesale swap, not a keyed merge
    ManagedTable.overwriteWhere(spark, root,
      Seq((3L, 3, 111.0), (13L, 3, 222.0)).toDF("k", "m", "v"),
      col("m") === 3)
    val got1 = ManagedTable.read(spark, root).as[(Long, Int, Double)].collect()
    assert(got1.length == 900 + 2)
    assert(got1.filter(_._2 == 3).map(_._3).sorted.toSeq == Seq(111.0, 222.0))

    // insertion contract: a replacement row OUTSIDE the slice aborts
    // before the pointer swaps (CoW and MOR forms alike)
    val vBefore = ManagedTable.currentVersion(root)
    intercept[Exception] {
      ManagedTable.overwriteWhere(spark, root,
        Seq((7L, 7, 1.0)).toDF("k", "m", "v"), col("m") === 3)
    }
    intercept[Exception] {
      ManagedTable.overwriteWhereVectorized(spark, root,
        Seq((7L, 7, 1.0)).toDF("k", "m", "v"), col("m") === 3)
    }
    assert(ManagedTable.currentVersion(root) == vBefore)

    // MOR: replace slice m=7 at delta cost — no base file rewritten
    val morBase = files(vBefore)
    ManagedTable.overwriteWhereVectorized(spark, root,
      Seq((7L, 7, 777.0)).toDF("k", "m", "v"), col("m") === 7)
    val vMor = ManagedTable.currentVersion(root)
    assert(files(vBefore) == morBase) // base untouched
    assert(files(vMor).isEmpty)       // vN holds only _dv/_append/_dv_base
    assert(Files.exists(Paths.get(root, s"v$vMor", "_append")))
    val got2 = ManagedTable.read(spark, root).as[(Long, Int, Double)].collect()
    assert(got2.length == 800 + 2 + 1)
    assert(got2.filter(_._2 == 7).map(_._3).toSeq == Seq(777.0))

    // a replacement schema that diverges in type is rejected up front
    intercept[IllegalArgumentException] {
      ManagedTable.overwriteWhereVectorized(spark, root,
        Seq((8L, 8, "x")).toDF("k", "m", "v"), col("m") === 8)
    }

    // stacked MOR replace filters previously-appended rows in the slice
    ManagedTable.overwriteWhereVectorized(spark, root,
      Seq((7L, 7, 778.0)).toDF("k", "m", "v"), col("m") === 7)
    val got3 = ManagedTable.read(spark, root).as[(Long, Int, Double)].collect()
    assert(got3.filter(_._2 == 7).map(_._3).toSeq == Seq(778.0))
    assert(got3.length == got2.length)
  }

  test("optimistic commit: conflict detected, loser discarded, retry lands") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_occ").toString
    ManagedTable.overwrite(root, Seq((1L, "base")).toDF("k", "v"))   // v0

    // writer A reads v0 and derives its write; writer B publishes first
    val aBase = ManagedTable.currentVersion(root)
    ManagedTable.overwrite(root, Seq((1L, "writer-b")).toDF("k", "v")) // v1
    val ex = intercept[ManagedTable.ConcurrentWriteException] {
      ManagedTable.commit(spark, root, aBase,
        Seq((1L, "writer-a")).toDF("k", "v"))
    }
    assert(ex.getMessage.contains("expected live v0") &&
      ex.getMessage.contains("found v1"))
    // winner untouched; loser's stage removed, nothing published
    assert(ManagedTable.currentVersion(root) == 1)
    assert(ManagedTable.read(spark, root).as[(Long, String)].head() ==
      (1L, "writer-b"))
    assert(!Files.exists(Paths.get(root, "v2")))

    // A re-reads the new snapshot and retries against it — lands as v2
    ManagedTable.commit(spark, root, 1, Seq((1L, "writer-a2")).toDF("k", "v"))
    assert(ManagedTable.currentVersion(root) == 2)
    assert(ManagedTable.read(spark, root).as[(Long, String)].head() ==
      (1L, "writer-a2"))
    // history stays linear and time-travelable past the conflict
    assert(ManagedTable.readVersion(spark, root, 1)
      .as[(Long, String)].head() == (1L, "writer-b"))
  }

  test("bloom index: exact point lookups, real file pruning, safe fallback") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_bloom").toString
    val df = (1L to 4000L).map(i => (i, (i % 97).toInt)).toDF("k", "m")
    // hash layout: every file spans ~the full key range, min/max is blind
    ManagedTable.overwrite(root, df.repartition(16, col("k")))
    ManagedTable.analyzeBloom(spark, root, Seq("k"))

    // exact results for a spread of present keys, and pruning is real
    var opened = 0
    Seq(1L, 97L, 1234L, 3999L, 4000L).foreach { key =>
      val hit = ManagedTable.readPoint(spark, root, "k", key)
      assert(hit.inputFiles.length < 16) // pruned below the full listing
      opened += hit.inputFiles.length
      assert(hit.as[(Long, Int)].collect().toSeq == Seq((key, (key % 97).toInt)))
    }
    assert(opened <= 10) // ~1 file/probe + rare false positives

    // absent key: correct empty result (false positives may open a file)
    assert(ManagedTable.readPoint(spark, root, "k", 999999L).count() == 0)

    // unindexed column falls back to a full filtered read, still exact
    val byM = ManagedTable.readPoint(spark, root, "m", 5)
    assert(byM.count() == df.filter(col("m") === 5).count())

    // stacked MoR delete: the lookup subtracts tombstones from survivors
    ManagedTable.deleteVectorized(spark, root, col("k") === 97L)
    assert(ManagedTable.readPoint(spark, root, "k", 97L).count() == 0)
    assert(ManagedTable.readPoint(spark, root, "k", 98L).count() == 1)
  }

  test("write-audit-publish: failing audit discards stage, live untouched") {
    import org.apache.spark.sql.functions._
    import graft.operators.DataQuality.{Rule, countWhere}
    val root = Files.createTempDirectory("graft_wap").toString
    val good = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    ManagedTable.overwrite(root, good)
    val rules = Seq(
      Rule("k_unique", count(lit(1)) - countDistinct(col("k"))),
      Rule("v_positive", countWhere(col("v") <= 0.0)))

    // bad batch: duplicate key AND a negative value → both rules fail
    val bad = Seq((1L, 10.0), (1L, -5.0)).toDF("k", "v")
    val report1 = ManagedTable.writeAuditPublish(spark, root, bad, rules)
    assert(report1.filter(col("passed")).count() == 0)    // both rules fail
    assert(ManagedTable.currentVersion(root) == 0)       // pointer unmoved
    assert(!Files.exists(Paths.get(root, "v1")))          // stage discarded
    assert(ManagedTable.read(spark, root).count() == 3)

    // clean batch publishes as v1 with an all-green report
    val report2 = ManagedTable.writeAuditPublish(spark, root,
      good.withColumn("v", col("v") + 1.0), rules)
    assert(report2.filter(!col("passed")).count() == 0)
    assert(ManagedTable.currentVersion(root) == 1)
    assert(ManagedTable.read(spark, root).as[(Long, Double)]
      .collect().toMap.apply(1L) == 11.0)
  }

  test("merge-on-read MERGE: base untouched; delta-sized tombstones+appends") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_mor_merge").toString
    val df = (1 to 1000).map(i => (i.toLong, i % 10, i.toDouble))
      .toDF("k", "m", "v")
    ManagedTable.overwrite(root, df.repartition(8))
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    val baseFiles = files(0)

    // upsert: keys 900-1100 → 101 updates + 100 inserts
    val delta = (900 to 1100).map(i => (i.toLong, i % 10, i + 0.5))
      .toDF("k", "m", "v")
    ManagedTable.mergeVectorized(spark, root, delta, Seq("k"))
    assert(ManagedTable.currentVersion(root) == 1)
    assert(files(0) == baseFiles) // no base data file rewritten
    assert(files(1).isEmpty)      // v1 holds only _dv/_append/_dv_base
    val got1 = ManagedTable.read(spark, root).as[(Long, Int, Double)]
      .collect().map(r => r._1 -> r._3).toMap
    assert(got1.size == 1100)
    assert(got1(100L) == 100.0)    // unmatched base row untouched
    assert(got1(950L) == 950.5)    // matched base row updated
    assert(got1(1050L) == 1050.5)  // not-matched source row inserted
    // tombstones are delta-sized: exactly the 101 matched base rows
    assert(spark.read.parquet(s"$root/v1/_dv").count() == 101)

    // stacked MoR merge with a delete clause: matched keys 1000-1100
    // with even m are deleted, the rest updated; appended rows from v1
    // are tombstoned by address like base rows, and neither the base nor
    // v1's appended files are rewritten: v2 appends only its 50 updates.
    def appFiles(v: Int) = Files.list(Paths.get(root, s"v$v", "_append"))
      .iterator().asScala.map(p => p.getFileName.toString -> Files.size(p))
      .filter(_._1.endsWith(".parquet")).toMap
    val v1App = appFiles(1)
    val delta2 = (1000 to 1100).map(i => (i.toLong, i % 10, i + 0.25))
      .toDF("k", "m", "v")
    ManagedTable.mergeVectorized(spark, root, delta2, Seq("k"),
      MergeClauses.Spec(
        updateWhen = Some(col("s.m") % 2 =!= 0),
        deleteWhen = Some(lit(true)),
        insertWhen = Some(lit(false))))
    assert(files(0) == baseFiles)
    assert(appFiles(1) == v1App)
    assert(spark.read.parquet(s"$root/v2/_append").count() == 50)
    assert(Files.readString(Paths.get(root, "v2", "_append_versions")) == "1,2")
    val got2 = ManagedTable.read(spark, root).as[(Long, Int, Double)]
      .collect().map(r => r._1 -> r._3).toMap
    assert(got2.size == 1100 - 51)        // 51 even-m keys in 1000..1100 gone
    assert(got2(1001L) == 1001.25)        // odd-m appended row updated
    assert(!got2.contains(1000L))         // even-m appended row deleted
    assert(got2(999L) == 999.5)           // prior append survivor carried
    assert(got2(1L) == 1.0)               // base bulk untouched

    // a type-changing source is rejected before anything is published
    val vBefore = ManagedTable.currentVersion(root)
    intercept[IllegalArgumentException] {
      ManagedTable.mergeVectorized(spark, root,
        Seq((1L, 1, "bad")).toDF("k", "m", "v"), Seq("k"))
    }
    assert(ManagedTable.currentVersion(root) == vBefore)

    // OPTIMIZE folds the MoR stack back into a full snapshot
    ManagedTable.optimize(spark, root)
    val live = ManagedTable.currentVersion(root)
    assert(files(live).nonEmpty)
    assert(!Files.exists(Paths.get(root, s"v$live", "_dv_base")))
    assert(ManagedTable.read(spark, root).count() == got2.size)
  }

  test("shallow clone links files zero-copy; clone writes never touch source") {
    import scala.jdk.CollectionConverters._
    val srcRoot = Files.createTempDirectory("graft_mcl_src").toString
    val cloneRoot = Files.createTempDirectory("graft_mcl").toString + "/t"
    ManagedTable.overwrite(srcRoot,
      (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(4))
    ManagedTable.addConstraint(spark, srcRoot, "k_pos", "k > 0")
    def ino(dir: String, name: String) =
      Files.getAttribute(Paths.get(dir, name), "unix:ino")
    ManagedTable.shallowClone(spark, srcRoot, cloneRoot)
    val srcFiles = Files.list(Paths.get(srcRoot, "v0")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toVector
    srcFiles.foreach { f =>
      assert(ino(s"$srcRoot/v0", f) == ino(s"$cloneRoot/v0", f))
    }
    assert(ManagedTable.read(spark, cloneRoot).count() == 500)
    // constraints travel with the clone
    assert(ManagedTable.constraintsOf(cloneRoot).map(_.name) == Seq("k_pos"))

    // a merge into the clone leaves the source byte-identical
    val srcBytes = srcFiles.map(f =>
      f -> Files.size(Paths.get(srcRoot, "v0", f))).toMap
    ManagedTable.merge(spark, cloneRoot,
      Seq((5L, "EDIT"), (9999L, "NEW")).toDF("k", "v"), Seq("k"))
    assert(ManagedTable.read(spark, cloneRoot).count() == 501)
    assert(ManagedTable.read(spark, srcRoot).count() == 500)
    srcFiles.foreach { f =>
      assert(Files.size(Paths.get(srcRoot, "v0", f)) == srcBytes(f))
    }
    // a clone-side constraint violation still aborts (enforcement cloned)
    intercept[Exception] {
      ManagedTable.merge(spark, cloneRoot,
        Seq((-1L, "BAD")).toDF("k", "v"), Seq("k"))
    }
  }

  test("timestampAsOf resolves through the commit log; bounds fail clearly") {
    import graft.sources.VersionedLayout
    val t = new java.util.concurrent.atomic.AtomicLong(0L)
    val prev = VersionedLayout.commitClock
    VersionedLayout.commitClock = () => t.addAndGet(100L)
    try {
      val root = Files.createTempDirectory("graft_ts").toString
      ManagedTable.overwrite(root, Seq((1, "a")).toDF("k", "v"))   // @100
      ManagedTable.overwrite(root, Seq((1, "b")).toDF("k", "v"))   // @200
      ManagedTable.overwrite(root, Seq((1, "c")).toDF("k", "v"))   // @300
      assert(ManagedTable.commitHistory(root) ==
        Seq(0 -> 100L, 1 -> 200L, 2 -> 300L))
      def vAt(ts: Long) = ManagedTable.readAsOf(spark, root, ts)
        .as[(Int, String)].collect().head._2
      assert(vAt(100L) == "a") // exactly at a commit: that commit
      assert(vAt(250L) == "b") // between commits: newest at-or-before
      assert(vAt(9999L) == "c")
      intercept[IllegalArgumentException](vAt(50L)) // before first commit
    } finally VersionedLayout.commitClock = prev
  }

  test("fold rule: a merge-on-read head whose appends outweigh its base folds") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_mor_fold").toString
    def files(v: Int) = Files.list(Paths.get(root, s"v$v")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    def isMor(v: Int) = Files.exists(Paths.get(root, s"v$v", "_dv_base"))
    def rows(v: Int) = ManagedTable.readVersion(spark, root, v)
      .as[(Long, Double)].collect().toMap

    // the first merge into an empty table folds at once: v1 is
    // merge-on-read over the empty v0, v2 its full snapshot
    ManagedTable.createEmpty(spark, root, Seq((0L, 0.0)).toDF("k", "v"))
    ManagedTable.mergeVectorized(spark, root,
      (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("k", "v").coalesce(1),
      Seq("k"))
    assert(isMor(1))
    assert(ManagedTable.currentVersion(root) == 2)
    assert(!isMor(2) && files(2).nonEmpty)
    assert(rows(2) == rows(1) && rows(2).size == 10)

    // a light head stays merge-on-read
    ManagedTable.mergeVectorized(spark, root, Seq((1L, 1.5)).toDF("k", "v"),
      Seq("k"))
    assert(ManagedTable.currentVersion(root) == 3 && isMor(3))

    // appends that outweigh the 10-row base fold the head into v5
    ManagedTable.mergeVectorized(spark, root,
      (5 to 2000).map(i => (i.toLong, i + 0.5)).toDF("k", "v"), Seq("k"))
    assert(isMor(4))
    assert(ManagedTable.currentVersion(root) == 5)
    assert(!isMor(5) && files(5).nonEmpty)
    val folded = rows(5)
    assert(folded == rows(4))
    assert(folded.size == 2000)
    assert(folded(1L) == 1.5 && folded(4L) == 4.0 && folded(5L) == 5.5)

    // Nightly upserts of a fifth of the table: each night appends only its
    // own rows and serves the earlier nights' appended files as written,
    // so no single night outweighs the base, but their sum does, and the
    // night it does folds.
    val baseBytes = Files.list(Paths.get(root, "v5")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    def appBytes(v: Int) = Files.list(Paths.get(root, s"v$v", "_append"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
    val written = scala.collection.mutable.LinkedHashMap[Int, Map[String, Long]]()
    var expected = folded
    var night = 0
    while (ManagedTable.currentVersion(root) == 5 + night && night < 10) {
      night += 1
      val ks = (1 to 400).map(i => ((i * 5 + night) % 2000 + 1).toLong)
      ManagedTable.mergeVectorized(spark, root,
        ks.map(k => (k, k + night * 0.125)).toDF("k", "v").coalesce(1), Seq("k"))
      expected = expected ++ ks.map(k => k -> (k + night * 0.125))
      val v = 5 + night
      assert(rows(v) == expected)
      written(v) = appBytes(v)
      // earlier nights' appended files are served unchanged
      written.foreach { case (w, f) => assert(appBytes(w) == f) }
    }
    val head = 5 + night
    assert(night >= 2, "a single night folded: the chain is untested")
    assert(ManagedTable.currentVersion(root) == head + 1, "no night folded")
    assert(Files.readString(Paths.get(root, s"v$head", "_append_versions")) ==
      (6 to head).mkString(","))
    assert(written(head).values.sum < baseBytes)
    assert(written.values.map(_.values.sum).sum >= baseBytes)
    assert(!isMor(head + 1) && rows(head + 1) == expected)

    // vacuum keeps a merge-on-read head's base and every version whose
    // appended files it serves
    ManagedTable.mergeVectorized(spark, root, Seq((7L, 0.0)).toDF("k", "v"), Seq("k"))
    ManagedTable.mergeVectorized(spark, root, Seq((8L, 0.0)).toDF("k", "v"), Seq("k"))
    val tip = ManagedTable.currentVersion(root)
    ManagedTable.vacuum(root, keep = 1)
    val left = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("v\\d+")).map(_.drop(1).toInt)
      .toSet
    assert(left == Set(tip - 2, tip - 1, tip))
    assert(rows(tip) == expected ++ Map(7L -> 0.0, 8L -> 0.0))
  }

  test("createEmpty publishes schema-only snapshot (limit 0)") {
    val root = Files.createTempDirectory("graft_tbl_e").toString
    ManagedTable.createEmpty(spark, root, Seq((1, "a")).toDF("k", "v"))
    val df = ManagedTable.read(spark, root)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("k", "v"))
  }

  test("same-JVM concurrent commits: one wins, loser gets the CAS error, no stage leak") {
    val root = Files.createTempDirectory("graft_occ_jvm").toString
    ManagedTable.overwrite(root, Seq((1L, "base")).toDF("k", "v")) // v0
    // Two threads race the SAME expectedVersion: without the per-root JVM
    // monitor this crashes with OverlappingFileLockException instead of
    // the documented conflict contract.
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val threads = Seq("writer-a", "writer-b").map { who =>
      new Thread(() => {
        try {
          ManagedTable.commit(spark, root, 0, Seq((1L, who)).toDF("k", "v"))
          results.add(Right(()))
        } catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val (losers, winners) = {
      import scala.jdk.CollectionConverters._
      results.asScala.toSeq.partition(_.isLeft)
    }
    assert(winners.size == 1 && losers.size == 1)
    losers.head.left.foreach(t =>
      assert(t.isInstanceOf[ManagedTable.ConcurrentWriteException],
        s"loser failed with ${t.getClass.getName}: ${t.getMessage}"))
    assert(ManagedTable.currentVersion(root) == 1)
    // the losing commit's staged dir must not leak
    val staging = Paths.get(root, "_staging")
    if (Files.exists(staging)) {
      import scala.jdk.CollectionConverters._
      val leaked = Files.list(staging)
      try assert(leaked.iterator().asScala.isEmpty) finally leaked.close()
    }
  }

  test("unpublished version dirs are not readable (crash orphan / mid-publish)") {
    val root = Files.createTempDirectory("graft_orphan").toString
    ManagedTable.overwrite(root, Seq((1, "a")).toDF("k", "v")) // v0 live
    // simulate a crash that left a fully-written but never-published dir
    Seq((9, "orphan")).toDF("k", "v").write.parquet(s"$root/v1")
    val ex = intercept[IllegalArgumentException](
      ManagedTable.readVersion(spark, root, 1))
    assert(ex.getMessage.contains("not published"))
    // the live read is unaffected
    assert(ManagedTable.read(spark, root).as[(Int, String)].head() == (1, "a"))
  }

  test("failing audit leaves no v-dir anywhere and empties its staging") {
    import org.apache.spark.sql.functions._
    import graft.operators.DataQuality.{Rule, countWhere}
    val root = Files.createTempDirectory("graft_wap_stage").toString
    ManagedTable.overwrite(root, Seq((1L, 1.0)).toDF("k", "v"))
    val report = ManagedTable.writeAuditPublish(spark, root,
      Seq((2L, -1.0)).toDF("k", "v"), Seq(Rule("v_pos", countWhere(col("v") <= 0))))
    assert(report.filter(col("passed")).count() == 0)
    assert(!Files.exists(Paths.get(root, "v1")))
    val staging = Paths.get(root, "_staging")
    if (Files.exists(staging)) {
      import scala.jdk.CollectionConverters._
      val st = Files.list(staging)
      try assert(st.iterator().asScala.isEmpty) finally st.close()
    }
  }

  test("vacuum by retention hours honors commit timestamps; live always kept") {
    import graft.sources.VersionedLayout
    val root = Files.createTempDirectory("graft_vac_hours").toString
    val hour = 3600L * 1000L
    val prev = VersionedLayout.commitClock
    try {
      var now = 0L
      VersionedLayout.commitClock = () => now
      now = 1 * hour; ManagedTable.overwrite(root, Seq((1, "a")).toDF("k", "v")) // v0
      now = 5 * hour; ManagedTable.overwrite(root, Seq((1, "b")).toDF("k", "v")) // v1
      now = 9 * hour; ManagedTable.overwrite(root, Seq((1, "c")).toDF("k", "v")) // v2
      now = 10 * hour
      // cutoff = now − 6h = 4h: v0 (1h) ages out, v1 (5h) and live v2 stay
      ManagedTable.vacuum(root, retainHours = 6.0)
      assert(!Files.exists(Paths.get(root, "v0")))
      assert(Files.exists(Paths.get(root, "v1")))
      assert(Files.exists(Paths.get(root, "v2")))
      // retain 0 h: everything but the live version ages out
      ManagedTable.vacuum(root, retainHours = 0.0)
      assert(!Files.exists(Paths.get(root, "v1")))
      assert(Files.exists(Paths.get(root, "v2")))
      assert(ManagedTable.read(spark, root).as[(Int, String)].head() == (1, "c"))
    } finally VersionedLayout.commitClock = prev
  }

  test("RENAME COLUMN: metadata-only, time travel exact, cleared by rewrite") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_rename").toString
    val df = (1L to 200L).map(i => (i, i % 7, i.toDouble)).toDF("k", "grp", "v")
    ManagedTable.overwrite(root, df)                      // v0
    ManagedTable.analyze(spark, root, Seq("k"))
    def parquetNames(v: Int): Set[String] = {
      import scala.jdk.CollectionConverters._
      val l = Files.list(Paths.get(root, s"v$v"))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally l.close()
    }
    ManagedTable.renameColumn(spark, root, "v", "score")  // v1, links only
    assert(parquetNames(1) == parquetNames(0), "rename rewrote data files")
    assert(ManagedTable.read(spark, root).columns.toSeq == Seq("k", "grp", "score"))
    assert(ManagedTable.read(spark, root).agg(sum("score")).head.getDouble(0)
      == (1L to 200L).map(_.toDouble).sum)
    // time travel: the pre-rename version still reads under its old name
    assert(ManagedTable.readVersion(spark, root, 0).columns.contains("v"))
    // translated skipping manifest still prunes on the (unrenamed) key
    val pruned = ManagedTable.readWhere(spark, root, Seq(("k", 1L, 5L)))
    assert(pruned.count() == 5 && pruned.columns.contains("score"))
    // chained rename carries the earlier mapping
    ManagedTable.renameColumn(spark, root, "grp", "bucket") // v2
    assert(ManagedTable.read(spark, root).columns.toSeq ==
      Seq("k", "bucket", "score"))
    // every vectorized DML op refuses mapped versions with a clear error
    val row = Seq((1L, 7L, 1.0)).toDF("k", "bucket", "score")
    Seq[() => Unit](
      () => ManagedTable.deleteVectorized(spark, root, col("k") === 1L),
      () => ManagedTable.updateVectorized(spark, root,
        Map("score" -> lit(0.0)), col("k") === 1L),
      () => ManagedTable.overwriteWhereVectorized(spark, root, row,
        col("k") === 1L),
      () => ManagedTable.mergeVectorized(spark, root, row, Seq("k"))
    ).foreach { op =>
      val ex = intercept[IllegalArgumentException](op())
      assert(ex.getMessage.contains("column-mapped"))
    }
    // a logical rewrite (merge) materializes the names and drops the map
    ManagedTable.merge(spark, root,
      Seq((1L, 99L, 123.0)).toDF("k", "bucket", "score"), Seq("k")) // v3
    assert(ManagedTable.colmapOf(root, ManagedTable.currentVersion(root)).isEmpty)
    assert(ManagedTable.read(spark, root)
      .filter(col("k") === 1L).head.getLong(1) == 99L)
    // constraints referencing a column block its rename
    ManagedTable.addConstraint(spark, root, "score_pos", "score >= 0 OR score = 123.0")
    val ex2 = intercept[IllegalArgumentException](
      ManagedTable.renameColumn(spark, root, "score", "s2"))
    assert(ex2.getMessage.contains("constraint"))
  }

  test("commit userMetadata is stamped per publish and read back from history") {
    import graft.sources.VersionedLayout
    val root = Files.createTempDirectory("graft_meta").toString
    VersionedLayout.withUserMetadata("job=curated run=2024-01-01") {
      ManagedTable.overwrite(root, Seq((1, "a")).toDF("k", "v")) // v0
    }
    ManagedTable.overwrite(root, Seq((1, "b")).toDF("k", "v"))   // v1, no meta
    VersionedLayout.withUserMetadata("backfill with tabs\tand spaces") {
      ManagedTable.overwrite(root, Seq((1, "c")).toDF("k", "v")) // v2
    }
    val h = ManagedTable.commitHistoryWithMetadata(root)
    assert(h.map(_._1) == Seq(0, 1, 2))
    assert(h(0)._3.contains("job=curated run=2024-01-01"))
    assert(h(1)._3.isEmpty)
    assert(h(2)._3.contains("backfill with tabs\tand spaces")) // TSV-safe
    // the plain history view still parses 3-field lines
    assert(ManagedTable.commitHistory(root).map(_._1) == Seq(0, 1, 2))
  }
}
