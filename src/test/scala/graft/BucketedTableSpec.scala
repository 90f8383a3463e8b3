package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Merge
import graft.sources.{BucketedTable, ManagedTable, MergeClauses}
import scala.jdk.CollectionConverters._

class BucketedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("merge rewrites only touched buckets; result equals full merge") {
    val root = Files.createTempDirectory("graft_bt").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i", i % 7)).toDF("k", "v", "n")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)
    assert(BucketedTable.read(spark, root).count() == 1000)

    val source = Seq((5L, "UPDATED", 99), (2000L, "NEW", 1)).toDF("k", "v", "n")
    BucketedTable.merge(spark, root, source)

    // correctness: identical to a plain full-table merge
    val expected = Merge.mergeFrames(target, source, Seq("k"))
      .collect().map(_.toSeq).toSet
    val got = BucketedTable.read(spark, root).collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.size == 1001)

    // scale contract: v1 holds only the buckets containing keys 5 and 2000
    val v1Buckets = Files.list(Paths.get(root, "v1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("b")).toSeq
    assert(v1Buckets.size <= 2)
    // untouched buckets still served from v0 via the manifest
    val manifest = Files.readAllLines(Paths.get(root, "v1", "_manifest"))
      .asScala.tail
    assert(manifest.count(_.endsWith(",v0")) >= 14)
  }

  test("schema evolution widens only touched buckets; restore narrows back") {
    val root = Files.createTempDirectory("graft_bt_evo").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)

    // evolving merge: source carries a NEW column `extra`
    val source = Seq((5L, "UPDATED", 1.5), (2000L, "NEW", 2.5))
      .toDF("k", "v", "extra")
    BucketedTable.merge(spark, root, source, schemaEvolution = true)

    val after = BucketedTable.read(spark, root)
    assert(after.columns.toSeq == Seq("k", "v", "extra"))
    val got = after.as[(Long, String, Option[Double])].collect()
      .map { case (k, v, e) => k -> ((v, e)) }.toMap
    assert(got(5L) == (("UPDATED", Some(1.5))))
    assert(got(2000L) == (("NEW", Some(2.5))))
    // never-touched bucket rows read null-filled through the wide schema
    assert(got(1L) == (("v1", None)))
    assert(got.size == 1001)

    // scale contract: the evolving merge rewrote <=2 buckets; the rest
    // still resolve into v0's NARROW files by manifest reference
    val v1Buckets = Files.list(Paths.get(root, "v1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("b")).toSeq
    assert(v1Buckets.size <= 2)
    val manifest = Files.readAllLines(Paths.get(root, "v1", "_manifest"))
      .asScala.tail
    assert(manifest.count(_.endsWith(",v0")) >= 14)

    // time travel reads v0 with its own narrow schema; restore republishes
    // it as the live head, narrowing the table back
    assert(BucketedTable.readVersion(spark, root, 0).columns.toSeq ==
      Seq("k", "v"))
    BucketedTable.restore(spark, root, 0)
    assert(BucketedTable.read(spark, root).columns.toSeq == Seq("k", "v"))
    assert(BucketedTable.read(spark, root).count() == 1000)
  }

  test("delete rewrites only buckets holding matches; feeds pre-images") {
    val root = Files.createTempDirectory("graft_bt_del").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i", i % 7)).toDF("k", "v", "n")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)

    // a narrow key predicate touches at most its keys' buckets
    BucketedTable.delete(spark, root,
      col("k") === 5L || col("k") === 700L, changeFeed = true)
    val got = BucketedTable.read(spark, root).as[(Long, String, Int)]
      .collect().map(_._1).toSet
    assert(got.size == 998 && !got(5L) && !got(700L))
    val v1Buckets = Files.list(Paths.get(root, "v1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("b")).toSeq
    assert(v1Buckets.size <= 2)
    val manifest = Files.readAllLines(Paths.get(root, "v1", "_manifest"))
      .asScala.tail
    assert(manifest.count(_.endsWith(",v0")) >= 14)
    // the feed carries exactly the destroyed pre-images
    val feed = BucketedTable.changes(spark, root, 1)
    assert(feed.select("k").as[Long].collect().toSet == Set(5L, 700L))

    // null-predicate rows are KEPT (SQL DELETE), and a no-match delete
    // publishes nothing
    val before = BucketedTable.currentVersion(root)
    BucketedTable.delete(spark, root,
      org.apache.spark.sql.functions.when(col("k") === -1L, true))
    assert(BucketedTable.currentVersion(root) == before)
    assert(BucketedTable.read(spark, root).count() == 998)
  }

  test("update rewrites only buckets holding matches; SET sees pre-rows") {
    val root = Files.createTempDirectory("graft_bt_upd").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i", i.toDouble))
      .toDF("k", "v", "x")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)

    // self-referential SET on a narrow key predicate: pre-row semantics
    BucketedTable.update(spark, root,
      Map("x" -> (col("x") + 1000.0)),
      col("k") === 5L || col("k") === 700L, changeFeed = true)
    val got = BucketedTable.read(spark, root).as[(Long, String, Double)]
      .collect().map(r => r._1 -> r._3).toMap
    assert(got(5L) == 1005.0 && got(700L) == 1700.0 && got(6L) == 6.0)
    assert(got.size == 1000)
    val v1Buckets = Files.list(Paths.get(root, "v1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("b")).toSeq
    assert(v1Buckets.size <= 2)
    // post-image feed
    assert(BucketedTable.changes(spark, root, 1)
      .select("x").as[Double].collect().toSet == Set(1005.0, 1700.0))
    // bucket keys are immutable under UPDATE (a key change moves buckets)
    intercept[IllegalArgumentException] {
      BucketedTable.update(spark, root, Map("k" -> lit(9L)), col("k") === 5L)
    }
    // no-match update publishes nothing
    val before = BucketedTable.currentVersion(root)
    BucketedTable.update(spark, root, Map("x" -> lit(0.0)), col("k") === -1L)
    assert(BucketedTable.currentVersion(root) == before)
  }

  test("replaceWhere rewrites only slice + target buckets; contract enforced") {
    val root = Files.createTempDirectory("graft_bt_rw").toString
    val target = (1 to 1000).map(i => (i.toLong, i % 10, i.toDouble))
      .toDF("k", "m", "v")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)

    // replace two keys' rows with ONE row for a fresh key (1001 hashes to
    // its own bucket): touched = the 2 slice buckets + the target bucket
    BucketedTable.overwriteWhere(spark, root,
      Seq((1001L, 1, 9999.0)).toDF("k", "m", "v"),
      col("k") === 5L || col("k") === 700L || col("k") === 1001L)
    val got = BucketedTable.read(spark, root).as[(Long, Int, Double)]
      .collect().map(_._1).toSet
    assert(got.size == 999 && !got(5L) && !got(700L) && got(1001L))
    val v1Buckets = Files.list(Paths.get(root, "v1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("b")).toSeq
    assert(v1Buckets.size <= 3)
    val manifest = Files.readAllLines(Paths.get(root, "v1", "_manifest"))
      .asScala.tail
    assert(manifest.count(_.endsWith(",v0")) >= 13)

    // insertion contract: a replacement row outside the slice aborts
    // before any bucket is written
    val before = BucketedTable.currentVersion(root)
    intercept[Exception] {
      BucketedTable.overwriteWhere(spark, root,
        Seq((42L, 2, 1.0)).toDF("k", "m", "v"), col("k") === 5L)
    }
    assert(BucketedTable.currentVersion(root) == before)

    // empty slice + empty replacement publishes nothing
    BucketedTable.overwriteWhere(spark, root,
      target.filter(lit(false)), col("k") === -1L)
    assert(BucketedTable.currentVersion(root) == before)
  }

  test("vacuum keeps manifest-reachable buckets, drops superseded ones") {
    val root = Files.createTempDirectory("graft_bt_vac").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)
    // two merges touching the same small key set → v1's rewrites of those
    // buckets are superseded by v2 and become garbage
    val s1 = Seq((5L, "A"), (2000L, "B")).toDF("k", "v")
    val s2 = Seq((5L, "A2"), (2000L, "B2"), (7L, "C")).toDF("k", "v")
    BucketedTable.merge(spark, root, s1)
    BucketedTable.merge(spark, root, s2)

    def bucketDirs(ver: String): Set[String] =
      if (!Files.exists(Paths.get(root, ver))) Set.empty
      else Files.list(Paths.get(root, ver)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("b")).toSet
    val v1Before = bucketDirs("v1")
    assert(v1Before.nonEmpty)

    BucketedTable.vacuum(root, keep = 1)

    // v2's manifest references only v0 + v2 dirs → every v1 bucket dir
    // (superseded by the second merge over the same keys) is garbage
    val manifest = Files.readAllLines(Paths.get(root, "v2", "_manifest"))
      .asScala.tail.map(_.split(","))
    assert(manifest.forall(a => a(1) == "v0" || a(1) == "v2"))
    assert(bucketDirs("v1").isEmpty)
    // untouched buckets carried by reference in v0 must SURVIVE vacuum
    assert(bucketDirs("v0").nonEmpty)
    // and the post-vacuum read equals the chained full-table merge
    val expected = Merge.mergeFrames(
      Merge.mergeFrames(target, s1, Seq("k")), s2, Seq("k"))
      .collect().map(_.toSeq).toSet
    val got = BucketedTable.read(spark, root).collect().map(_.toSeq).toSet
    assert(got == expected)
  }

  test("bucketed change feed equals the whole-table feed at delta cost") {
    val root = Files.createTempDirectory("graft_bt_cdf").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i", i % 7)).toDF("k", "v", "n")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)
    val source = Seq((5L, "v5", 5 % 7), (7L, "UPDATED", 99), (2000L, "NEW", 1))
      .toDF("k", "v", "n")
    val changed = !(col("t.v") <=> col("s.v")) || !(col("t.n") <=> col("s.n"))
    val spec = MergeClauses.Spec(
      updateWhen = Some(changed), deleteWhen = Some(lit(true)))
    BucketedTable.merge(spark, root, source, spec, changeFeed = true)
    val feed = BucketedTable.changes(spark, root, 1)
      .as[(Long, String, Int, String)].collect().sortBy(_._1)
    // k=5 matched+unchanged → delete pre-image; k=7 → update; k=2000 → insert.
    // No keep rows — in particular NONE from the ~14 untouched buckets.
    assert(feed.toSeq == Seq((5L, "v5", 5, "delete"),
      (7L, "UPDATED", 99, "update"), (2000L, "NEW", 1, "insert")))
    // The feed is exactly what a whole-table tagged merge would emit.
    val whole = Merge.mergeFramesTagged(target, source, Seq("k"), spec)
      .filter(col(Merge.ActionCol) =!= "keep")
      .as[(Long, String, Int, String)].collect().sortBy(_._1)
    assert(feed.toSeq == whole.toSeq)
    // Vacuum ages the feed out with its version's retention.
    BucketedTable.merge(spark, root, Seq((3000L, "X", 0)).toDF("k", "v", "n"),
      changeFeed = true)
    BucketedTable.vacuum(root, keep = 1)
    intercept[IllegalArgumentException] {
      BucketedTable.changes(spark, root, 1)
    }
    assert(BucketedTable.changes(spark, root, 2).count() == 1)

    // The same DELETE, UPDATE, OVERWRITE WHERE and MERGE on three layouts
    // (whole-snapshot copy-on-write, merge-on-read, bucketed) publish the
    // same rows, and the same feed wherever the op records one. The seeded
    // table has null `n` and `total` values, so null-predicate rows meet
    // every op, and the UPDATE's SET re-reads its own predicate column.
    val rnd = new scala.util.Random(12)
    val seeded = (1 to 400).map(i => (i.toLong, s"v$i",
        Option.when(rnd.nextInt(7) != 0)(rnd.nextInt(7)),
        Option.when(rnd.nextInt(9) != 0)(rnd.nextInt(300))))
      .toDF("k", "v", "n", "total")
    val (cow, mor, bkt) = (Files.createTempDirectory("graft_x_cow").toString,
      Files.createTempDirectory("graft_x_mor").toString,
      Files.createTempDirectory("graft_x_bkt").toString)
    ManagedTable.overwrite(cow, seeded)
    ManagedTable.overwrite(mor, seeded)
    BucketedTable.create(bkt, seeded, Seq("k"), nBuckets = 8)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    // Each op, run on the three layouts; the feed of the version it
    // published, where that layout's op records one.
    def step(op: String)(onCow: => Unit, onMor: => Unit, onBkt: => Unit,
                         feeds: Set[String]): Unit = {
      val vs = Seq(cow, mor).map(ManagedTable.currentVersion(_) + 1) :+
        (BucketedTable.currentVersion(bkt) + 1)
      onCow; onMor; onBkt
      val rows = Seq(ManagedTable.read(spark, cow), ManagedTable.read(spark, mor),
        BucketedTable.read(spark, bkt)).map(sorted)
      assert(rows.distinct.size == 1, s"$op: layouts publish different rows")
      val recorded = Seq("cow", "mor", "bkt").zip(vs).filter(lv => feeds(lv._1))
        .map {
          case ("bkt", v) => sorted(BucketedTable.changes(spark, bkt, v))
          case (l, v) => sorted(ManagedTable.changes(spark,
            if (l == "cow") cow else mor, v))
        }
      assert(recorded.nonEmpty && recorded.forall(_.nonEmpty))
      assert(recorded.distinct.size == 1, s"$op: layouts record different feeds")
    }
    val all = Set("cow", "mor", "bkt")
    val del = col("n") === 3
    step("delete")(ManagedTable.delete(spark, cow, del, changeFeed = true),
      ManagedTable.deleteVectorized(spark, mor, del, changeFeed = true),
      BucketedTable.delete(spark, bkt, del, changeFeed = true), all)
    assert(ManagedTable.read(spark, cow).filter(col("n").isNull).count() ==
      seeded.filter(col("n").isNull).count()) // null-predicate rows kept
    val set = Map("total" -> (col("total") + 1000))
    val low = col("total") < 100
    step("update")(ManagedTable.update(spark, cow, set, low, changeFeed = true),
      ManagedTable.updateVectorized(spark, mor, set, low, changeFeed = true),
      BucketedTable.update(spark, bkt, set, low, changeFeed = true), all)
    // seeded totals are < 300, so each hit row was raised exactly once
    assert(ManagedTable.read(spark, cow).filter(col("total") < 100 ||
      col("total") >= 1100).isEmpty)
    val slice = col("n") === 5
    val repl = seeded.filter(slice).limit(3).withColumn("v", lit("R"))
      .unionByName(Seq((5000L, "NEW", Option(5), Option.empty[Int]))
        .toDF("k", "v", "n", "total"))
      .localCheckpoint()
    step("overwriteWhere")(
      ManagedTable.overwriteWhere(spark, cow, repl, slice, changeFeed = true),
      ManagedTable.overwriteWhereVectorized(spark, mor, repl, slice),
      BucketedTable.overwriteWhere(spark, bkt, repl, slice), Set("cow"))
    val src = ManagedTable.read(spark, cow).filter(col("k") % 11 === 0)
      .withColumn("v", when(col("k") % 2 === 0, lit("M")).otherwise(col("v")))
      .unionByName(Seq((6000L, "INS", Option.empty[Int], Option(1)))
        .toDF("k", "v", "n", "total"))
      .localCheckpoint()
    step("merge")(
      ManagedTable.merge(spark, cow, src, Seq("k"), spec, changeFeed = true),
      ManagedTable.mergeVectorized(spark, mor, src, Seq("k"), spec,
        changeFeed = true),
      BucketedTable.merge(spark, bkt, src, spec, changeFeed = true), all)
  }

  test("matched-delete empties a bucket without breaking reads") {
    val root = Files.createTempDirectory("graft_bt_del").toString
    val target = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 4)
    // delete every row of the source's buckets via matched-delete
    val source = target
    BucketedTable.merge(spark, root, source,
      MergeClauses.Spec(updateWhen = Some(lit(false)),
        deleteWhen = Some(lit(true)), insertWhen = Some(lit(false))))
    // all rows deleted → all buckets empty; read of an all-empty table is
    // the one edge case the reader cannot express (no parquet files), so
    // assert emptiness structurally instead
    val manifest = Files.readAllLines(Paths.get(root, "v1", "_manifest"))
      .asScala.tail
    assert(manifest.forall(_.endsWith(",v1")))
    val files = (0 until 4).flatMap(b => Files.list(
      Paths.get(root, "v1", f"b$b%05d")).iterator().asScala)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.isEmpty)
  }

  test("compact rewrites only fragmented buckets; healthy ones carry") {
    val root = Files.createTempDirectory("graft_bt_cmp").toString
    val target = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    // 10-way write → every bucket collects ~10 small files
    BucketedTable.create(root, target.repartition(10), Seq("k"), nBuckets = 4)
    // one bucket gets healed by a merge first (merge rewrites it with the
    // test session's 4 shuffle partitions → ≤4 files)
    val healKey = 5L
    val healedBucket = spark.range(1).select(
      pmod(hash(lit(healKey)), lit(4))).head().getInt(0)
    BucketedTable.merge(spark, root,
      Seq((healKey, "HEALED")).toDF("k", "v"))                        // v1

    def nFiles(ver: String, b: Int): Int = {
      val dir = Paths.get(root, ver, f"b$b%05d")
      if (!Files.exists(dir)) 0
      else Files.list(dir).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    }
    assert((0 until 4).count(b => nFiles("v0", b) > 5) >= 3)
    val before = BucketedTable.read(spark, root).collect().map(_.toSeq).toSet

    BucketedTable.compact(spark, root, maxFilesPerBucket = 5)         // v2

    val manifest = Files.readAllLines(Paths.get(root, "v2", "_manifest"))
      .asScala.tail.map { l => val Array(b, v) = l.split(","); b.toInt -> v }
      .toMap
    // the merge-healed bucket is carried BY REFERENCE, the rest rewritten
    assert(manifest(healedBucket) == "v1")
    assert(manifest.count { case (_, v) => v == "v2" } == 3)
    (0 until 4).filter(_ != healedBucket).foreach { b =>
      assert(nFiles("v2", b) == 1) // compacted to a single file
    }
    // content is untouched by the layout-only version
    assert(BucketedTable.read(spark, root).collect().map(_.toSeq).toSet
      == before)
    // compacting a healthy table is a no-op (no empty version published)
    BucketedTable.compact(spark, root, maxFilesPerBucket = 5)
    assert(!Files.exists(Paths.get(root, "v3")))
  }

  test("shallow clone is zero-copy; clone merges never touch the source") {
    val srcRoot = Files.createTempDirectory("graft_bt_src").toString
    val cloneRoot = Files.createTempDirectory("graft_bt_cln").toString + "/t"
    val base = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketedTable.create(srcRoot, base, Seq("k"), nBuckets = 16)
    val srcBytes = Files.walk(Paths.get(srcRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap

    BucketedTable.shallowClone(srcRoot, cloneRoot)
    // zero-copy: the clone holds ONLY metadata (commit log, pointer,
    // manifest, recorded schema) — no data bytes
    val cloneFiles = Files.walk(Paths.get(cloneRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    assert(cloneFiles.sorted ==
      Seq("_history", "_latest", "_manifest", "_schema.json"))
    assert(BucketedTable.read(spark, cloneRoot).count() == 1000)

    // copy-on-write: a merge into the clone materializes only touched
    // buckets under the clone root and leaves the source byte-identical
    BucketedTable.merge(spark, cloneRoot,
      Seq((5L, "CLONE-EDIT"), (2000L, "NEW")).toDF("k", "v"))
    val v1Buckets = Files.list(Paths.get(cloneRoot, "v1")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("b")).toSeq
    assert(v1Buckets.size <= 2)
    val srcAfter = Files.walk(Paths.get(srcRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
    assert(srcAfter == srcBytes)
    assert(BucketedTable.read(spark, srcRoot)
      .filter(col("k") === 5L).select("v").as[String].head() == "v5")
    assert(BucketedTable.read(spark, cloneRoot)
      .filter(col("k") === 5L).select("v").as[String].head() == "CLONE-EDIT")
    assert(BucketedTable.read(spark, cloneRoot).count() == 1001)

    // the clone's vacuum walks only the clone root — source survives
    BucketedTable.vacuum(cloneRoot, keep = 1)
    assert(Files.walk(Paths.get(srcRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).size == srcBytes.size)
    assert(BucketedTable.read(spark, cloneRoot).count() == 1001)
    // cloning onto an existing table is refused
    intercept[IllegalArgumentException] {
      BucketedTable.shallowClone(srcRoot, cloneRoot)
    }
  }

  test("restore republishes a manifest metadata-only; lookup prunes buckets") {
    val root = Files.createTempDirectory("graft_bt_rst").toString
    val target = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 16)
    BucketedTable.merge(spark, root, Seq((5L, "A")).toDF("k", "v"))   // v1
    BucketedTable.merge(spark, root,
      Seq((5L, "B"), (6L, "C")).toDF("k", "v"))                       // v2
    val dataFilesBefore = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet

    BucketedTable.restore(spark, root, 1)                             // v3
    // metadata-only: not one data file added or removed
    val dataFilesAfter = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSet
    assert(dataFilesAfter == dataFilesBefore)
    assert(BucketedTable.read(spark, root)
      .filter(col("k") === 5L).select("v").as[String].head() == "A")
    assert(BucketedTable.read(spark, root).count() == 1000)
    // restoring past a vacuum fails loudly
    BucketedTable.vacuum(root, keep = 1)
    intercept[Exception] { BucketedTable.restore(spark, root, 2) }

    // lookup: reads only the buckets its keys hash into
    val hit = BucketedTable.lookup(spark, root, Seq(5L, 17L))
    assert(hit.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((5L, "A"), (17L, "v17")))
    val touched = hit.inputFiles.map(_.replaceFirst("/[^/]*$", "")).distinct
    assert(touched.length <= 2,
      s"lookup opened ${touched.length} bucket dirs for 2 keys")
    // a key that does not exist resolves to its bucket and returns nothing
    assert(BucketedTable.lookup(spark, root, Seq(99999L)).count() == 0)
  }

  test("readVersion resolves historical manifests until vacuumed") {
    val root = Files.createTempDirectory("graft_bt_tt").toString
    val target = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketedTable.create(root, target, Seq("k"), nBuckets = 4)
    BucketedTable.merge(spark, root, Seq((5L, "A")).toDF("k", "v"))   // v1
    BucketedTable.merge(spark, root, Seq((5L, "B"), (200L, "N"))
      .toDF("k", "v"))                                                // v2

    def vAt(ver: Int, k: Long): String =
      BucketedTable.readVersion(spark, root, ver)
        .filter(col("k") === k).select("v").as[String].head()
    assert(vAt(0, 5L) == "v5")
    assert(vAt(1, 5L) == "A")
    assert(vAt(2, 5L) == "B")
    assert(BucketedTable.readVersion(spark, root, 0).count() == 100)
    assert(BucketedTable.readVersion(spark, root, 2).count() == 101)

    BucketedTable.vacuum(root, keep = 1)
    // live head unaffected; pinned v1 read now fails loudly (its manifest
    // aged out even though some of its bucket dirs still host live data)
    assert(BucketedTable.read(spark, root).count() == 101)
    intercept[IllegalArgumentException] {
      BucketedTable.readVersion(spark, root, 1)
    }
  }

  test("optimistic commitMerge: stale writer fails fast, winner lands once, retry works") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bkt_occ").toString
    BucketedTable.create(root,
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), Seq("k"), 8) // v0

    // writer B publishes first; writer A's derivation is now stale
    BucketedTable.merge(spark, root, Seq((1L, "writer-b")).toDF("k", "v")) // v1
    val ex = intercept[graft.sources.ManagedTable.ConcurrentWriteException] {
      BucketedTable.commitMerge(spark, root, 0,
        Seq((1L, "writer-a")).toDF("k", "v"))
    }
    assert(ex.getMessage.contains("expected live v0"))
    assert(BucketedTable.currentVersion(root) == 1) // loser wrote nothing
    assert(BucketedTable.read(spark, root)
      .filter($"k" === 1L).head.getString(1) == "writer-b")

    // same-JVM race at the SAME expected version: exactly one wins
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val threads = Seq("racer-a", "racer-b").map { who =>
      new Thread(() => {
        try {
          BucketedTable.commitMerge(spark, root, 1, Seq((2L, who)).toDF("k", "v"))
          results.add(Right(()))
        } catch { case t: Throwable => results.add(Left(t)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    import scala.jdk.CollectionConverters._
    val (losers, winners) = results.asScala.toSeq.partition(_.isLeft)
    assert(winners.size == 1 && losers.size == 1)
    losers.head.left.foreach(t => assert(
      t.isInstanceOf[graft.sources.ManagedTable.ConcurrentWriteException],
      s"loser failed with ${t.getClass.getName}: ${t.getMessage}"))
    assert(BucketedTable.currentVersion(root) == 2)
    // loser retries against the new live version and lands cleanly
    BucketedTable.commitMerge(spark, root, 2, Seq((3L, "retried")).toDF("k", "v"))
    assert(BucketedTable.read(spark, root)
      .filter($"k" === 3L).head.getString(1) == "retried")
    assert(BucketedTable.read(spark, root).count() == 100)
  }

  test("retention-hours vacuum keeps young + live manifests and their references") {
    import graft.sources.VersionedLayout
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bkt_vh").toString
    val hour = 3600L * 1000L
    val prev = VersionedLayout.commitClock
    try {
      var now = 0L
      VersionedLayout.commitClock = () => now
      now = 1 * hour
      BucketedTable.create(root,
        (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), Seq("k"), 8) // v0
      now = 5 * hour
      BucketedTable.merge(spark, root, Seq((1L, "u1")).toDF("k", "v"))       // v1
      now = 9 * hour
      BucketedTable.merge(spark, root, Seq((2L, "u2")).toDF("k", "v"))       // v2
      now = 10 * hour
      BucketedTable.vacuum(root, retainHours = 6.0) // cutoff 4h: v0 ages out
      // v1 retained (5h): still time-travelable, carrying v0's untouched
      // buckets BY REFERENCE — reachability keeps those dirs alive
      assert(BucketedTable.readVersion(spark, root, 1).count() == 100)
      assert(BucketedTable.read(spark, root).count() == 100)
      intercept[IllegalArgumentException](
        BucketedTable.readVersion(spark, root, 0)) // v0's manifest is gone
      // retain 0h: only the live manifest (and what it references) survives
      BucketedTable.vacuum(root, retainHours = 0.0)
      intercept[IllegalArgumentException](
        BucketedTable.readVersion(spark, root, 1))
      assert(BucketedTable.read(spark, root)
        .filter($"v".isin("u1", "u2")).count() == 2)
    } finally VersionedLayout.commitClock = prev
  }

  test("update refuses a bucket-key or missing-column SET that hits no row") {
    val root = Files.createTempDirectory("graft_bt_upd_refuse").toString
    BucketedTable.create(root, (1 to 100).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v"), Seq("k"), nBuckets = 4)
    val before = BucketedTable.currentVersion(root)
    val noRow = col("k") === -1L
    intercept[IllegalArgumentException] {
      BucketedTable.update(spark, root, Map("k" -> lit(9L)), noRow)
    }
    intercept[IllegalArgumentException] {
      BucketedTable.update(spark, root, Map("missing" -> lit(1)), noRow)
    }
    assert(BucketedTable.currentVersion(root) == before)
  }

  test("overwriteWhere computes its replacement once") {
    val root = Files.createTempDirectory("graft_bt_rw_once").toString
    BucketedTable.create(root, (1 to 1000).map(i => (i.toLong, i.toDouble))
      .toDF("k", "v"), Seq("k"), nBuckets = 16)
    val computed = spark.sparkContext.longAccumulator("bt_replacement_rows")
    val counted = udf { (k: Long) => computed.add(1); k }.asNondeterministic()
    // two replacement rows, one per slice key, built over a counting UDF
    val repl = spark.range(2).select(
      counted(when(col("id") === 0L, 5L).otherwise(700L)).as("k"),
      lit(-1.0).as("v"))
    BucketedTable.overwriteWhere(spark, root, repl,
      col("k") === 5L || col("k") === 700L)
    assert(computed.value == 2L)
    val got = BucketedTable.read(spark, root).as[(Long, Double)].collect().toMap
    assert(got.size == 1000 && got(5L) == -1.0 && got(700L) == -1.0)
  }
}
