package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Merge, Salting}
import graft.pipeline.LatestWins

/** Property-based invariants (SURVEY §5's stated test strategy):
  * latest-wins dedup is idempotent;
  * merge replay is idempotent; salted aggregation/top-k equal their plain
  * forms for any salt/k. Inputs come from seeded ScalaCheck generators
  * (the scalatest-scalacheck bridge isn't in the offline cache, so cases
  * are drawn explicitly — same coverage, deterministic replay). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowGen: Gen[List[(Int, String, Int)]] = Gen.listOf(for {
    k <- Gen.chooseNum(1, 8)
    v <- Gen.chooseNum(-100, 100)
    d <- Gen.chooseNum(1, 28)
  } yield (k, f"2024-01-$d%02d", v))

  private def cases[A](g: Gen[A], n: Int = 6): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(5 + i * 10), Seed(42L + i)))

  test("latest-wins dedup is idempotent") {
    for (rows <- cases(rowGen) if rows.nonEmpty) {
      val df = rows.toDF("k", "dt", "v")
      val ordering = Seq(col("dt").desc, col("v").desc)
      val once = LatestWins.dedupeAll(df, df.limit(0), Seq("k"), ordering)
      val twice = LatestWins.dedupeAll(once, once.limit(0), Seq("k"), ordering)
      assert(once.collect().toSet == twice.collect().toSet)
      assert(once.select("k").distinct().count() == once.count())
    }
  }

  test("merge replay is idempotent for any target/source pair") {
    for ((t, s) <- cases(rowGen).zip(cases(Gen.resize(10, rowGen)))) {
      val target = t.toDF("k", "dt", "v").dropDuplicates("k")
      val source = s.toDF("k", "dt", "v").dropDuplicates("k")
      val once = Merge.mergeFrames(target, source, Seq("k"))
      val twice = Merge.mergeFrames(once, source, Seq("k"))
      assert(once.collect().toSet == twice.collect().toSet)
    }
  }

  test("salted aggregation equals plain aggregation for any salt") {
    for ((rows, i) <- cases(rowGen).zipWithIndex if rows.nonEmpty) {
      val salt = 1 + (i % 7)
      val df = rows.toDF("k", "dt", "v")
      val plain = df.groupBy("k")
        .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
      val salted = Salting.saltedAgg(df, Seq("k"), salt)(
        partials = Seq(sum(col("v").cast("long")).as("ps"),
          count(lit(1)).as("pn")),
        combine = Seq(sum(col("ps")).as("s"), sum(col("pn")).as("n")))
      assert(salted.collect().toSet == plain.collect().toSet)
    }
  }

  test("as-of join equals the brute-force latest-prior pick on any input") {
    val asofGen: Gen[(List[(Int, Int, Int)], List[(Int, Int, Int)])] = for {
      l <- Gen.listOf(for { k <- Gen.chooseNum(1, 4); t <- Gen.chooseNum(0, 20)
                            id <- Gen.chooseNum(100, 999) } yield (k, t, id))
      r <- Gen.listOf(for { k <- Gen.chooseNum(1, 4); t <- Gen.chooseNum(0, 20)
                            tb <- Gen.chooseNum(1, 99) } yield (k, t, tb))
    } yield (l, r)
    for ((lRows, rRows) <- cases(asofGen) if lRows.nonEmpty) {
      val left = lRows.map { case (k, t, id) => (k.toLong, t.toLong, id.toLong) }
        .toDF("k", "t", "lid")
      val right = rRows.map { case (k, t, tb) => (k.toLong, t.toLong, tb.toLong) }
        .toDF("k", "rt", "tb")
      val got = graft.operators.SpecialJoins
        .asOfJoin(left, right, "k", "t", "rt", "tb", Seq("tb", "rt"))
        .select("k", "t", "lid", "tb", "rt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      // brute force: per left row, the (rt, tb)-max right row with rt <= t
      val expected = lRows.map { case (k, t, id) =>
        val best = rRows.filter(r => r._1 == k && r._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption
        (k.toLong, t.toLong, id.toLong,
          best.map(_._3.toLong), best.map(_._2.toLong))
      }.toSet
      assert(got == expected)
    }
  }

  test("forward as-of join equals the brute-force next-after pick") {
    val asofGen: Gen[(List[(Int, Int, Int)], List[(Int, Int, Int)])] = for {
      l <- Gen.listOf(for { k <- Gen.chooseNum(1, 4); t <- Gen.chooseNum(0, 20)
                            id <- Gen.chooseNum(100, 999) } yield (k, t, id))
      r <- Gen.listOf(for { k <- Gen.chooseNum(1, 4); t <- Gen.chooseNum(0, 20)
                            tb <- Gen.chooseNum(1, 99) } yield (k, t, tb))
    } yield (l, r)
    for ((lRows, rRows) <- cases(asofGen) if lRows.nonEmpty) {
      val left = lRows.map { case (k, t, id) => (k.toLong, t.toLong, id.toLong) }
        .toDF("k", "t", "lid")
      val right = rRows.map { case (k, t, tb) => (k.toLong, t.toLong, tb.toLong) }
        .toDF("k", "rt", "tb")
      val got = graft.operators.SpecialJoins
        .asOfJoin(left, right, "k", "t", "rt", "tb", Seq("tb", "rt"),
          direction = "forward")
        .select("k", "t", "lid", "tb", "rt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      // brute force: per left row, the earliest right row with rt >= t;
      // among equal rt, the greatest tb
      val expected = lRows.map { case (k, t, id) =>
        val best = rRows.filter(r => r._1 == k && r._2 >= t)
          .sortBy(r => (r._2, -r._3)).headOption
        (k.toLong, t.toLong, id.toLong,
          best.map(_._3.toLong), best.map(_._2.toLong))
      }.toSet
      assert(got == expected)
    }
  }

  test("band join equals the brute-force interval filter for any bands") {
    val bandGen: Gen[(List[Int], List[Int])] = for {
      vals <- Gen.nonEmptyListOf(Gen.chooseNum(0, 200))
      cuts <- Gen.nonEmptyListOf(Gen.chooseNum(0, 200))
    } yield (vals, cuts)
    for (((vals, cuts), i) <- cases(bandGen).zipWithIndex if cuts.distinct.size >= 2) {
      val edges = cuts.distinct.sorted
      val bands = edges.zip(edges.tail).zipWithIndex
        .map { case ((lo, hi), j) => (s"b$j", lo.toDouble, hi.toDouble) }
      val facts = vals.zipWithIndex
        .map { case (v, id) => (id.toLong, v.toDouble) }.toDF("id", "v")
      val width = Seq(3.0, 7.0, 50.0)(i % 3) // wildly mis-sized on purpose
      val got = graft.operators.SpecialJoins
        .bandJoin(facts, bands.toDF("band", "lo", "hi"), "v", "lo", "hi", width)
        .select("id", "band").as[(Long, String)].collect().toSet
      val expected = (for {
        (v, id) <- vals.zipWithIndex
        (b, lo, hi) <- bands if v >= lo && v < hi
      } yield (id.toLong, b)).toSet
      assert(got == expected)
    }
  }

  test("data-skipping read equals the full-scan filter for any range box") {
    import graft.sources.ManagedTable
    val root = java.nio.file.Files.createTempDirectory("graft_prop_skip").toString
    val df = spark.range(4096L)
      .select((org.apache.spark.sql.functions.col("id") / 64).cast("int").as("a"),
        (org.apache.spark.sql.functions.col("id") % 64).cast("int").as("b"))
    ManagedTable.overwrite(root, df.repartition(8))
    ManagedTable.optimize(spark, root, targetFileBytes = 4L << 10,
      zorderBy = Seq("a", "b")) // auto-analyzed
    val full = ManagedTable.read(spark, root)
    val boxGen: Gen[(Int, Int, Int, Int)] = for {
      aLo <- Gen.chooseNum(-5, 70); aW <- Gen.chooseNum(0, 40)
      bLo <- Gen.chooseNum(-5, 70); bW <- Gen.chooseNum(0, 40)
    } yield (aLo, aLo + aW, bLo, bLo + bW)
    for ((aLo, aHi, bLo, bHi) <- cases(boxGen, n = 10)) {
      val pruned = ManagedTable.readWhere(spark, root,
        Seq(("a", aLo, aHi), ("b", bLo, bHi)))
        .as[(Int, Int)].collect().sorted.toSeq
      val expect = full
        .filter(org.apache.spark.sql.functions.col("a").between(aLo, aHi) &&
          org.apache.spark.sql.functions.col("b").between(bLo, bHi))
        .as[(Int, Int)].collect().sorted.toSeq
      assert(pruned == expect, s"box a[$aLo,$aHi] b[$bLo,$bHi]")
    }
  }

  test("bloom point lookup equals the full-scan filter for any probe") {
    import graft.sources.ManagedTable
    val root = java.nio.file.Files.createTempDirectory("graft_prop_bloom").toString
    // sparse keys (id*7) so roughly half the probes below miss
    val df = spark.range(2048L)
      .select((col("id") * 7).as("k"), (col("id") % 31).cast("int").as("m"))
    ManagedTable.overwrite(root, df.repartition(8, col("k")))
    ManagedTable.analyzeBloom(spark, root, Seq("k"))
    val full = ManagedTable.read(spark, root)
    for (probe <- cases(Gen.chooseNum(0L, 7L * 2300), n = 12)) {
      val got = ManagedTable.readPoint(spark, root, "k", probe)
        .as[(Long, Int)].collect().sorted.toSeq
      val expect = full.filter(col("k") === probe)
        .as[(Long, Int)].collect().sorted.toSeq
      assert(got == expect, s"probe $probe")
    }
  }

  test("string data-skipping read equals the full-scan filter for any range") {
    import graft.sources.ManagedTable
    val root = java.nio.file.Files.createTempDirectory("graft_prop_skipstr").toString
    // ISO-date-shaped strings: lexicographic == chronological
    val df = spark.range(2048L)
      .select(org.apache.spark.sql.functions.col("id").as("k"),
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.date_add(
            org.apache.spark.sql.functions.lit("2024-01-01").cast("date"),
            (org.apache.spark.sql.functions.col("id") % 365).cast("int")),
          "yyyy-MM-dd").as("dt"))
    ManagedTable.overwrite(root, df.repartition(16))
    // optimize exercises the string z-order surrogate + auto-analyze path
    ManagedTable.optimize(spark, root, targetFileBytes = 8L << 10,
      zorderBy = Seq("dt"))
    val full = ManagedTable.read(spark, root)
    val rangeGen: Gen[(Int, Int)] = for {
      lo <- Gen.chooseNum(-10, 380); w <- Gen.chooseNum(0, 120)
    } yield (lo, lo + w)
    def d(off: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(off).toString
    for ((lo, hi) <- cases(rangeGen, n = 8)) {
      val pruned = ManagedTable.readWhere(spark, root, Seq(("dt", d(lo), d(hi))))
        .as[(Long, String)].collect().sorted.toSeq
      val expect = full
        .filter(org.apache.spark.sql.functions.col("dt").between(d(lo), d(hi)))
        .as[(Long, String)].collect().sorted.toSeq
      assert(pruned == expect, s"range [${d(lo)}, ${d(hi)}]")
    }
  }

  test("salted top-k equals windowed top-k for any k") {
    for ((rows, i) <- cases(rowGen).zipWithIndex if rows.nonEmpty) {
      val k = 1 + (i % 4)
      val df = rows.toDF("k", "dt", "v")
      val ordering = Seq(col("dt").desc, col("v").desc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(ordering: _*)
      val plain = df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k).drop("_rn")
      val fast = Salting.topKPerKey(df, Seq("k"), ordering, k)
      assert(fast.collect().toSet == plain.collect().toSet)
    }
  }

  // (k1, k2, dt, v, lo, hi): key (k1, k2) with a nullable k2; ordering
  // (dt, v) desc; `lo` takes the per-key min, `hi` (nullable) the max.
  private type LwRow = (Int, Option[String], Int, Int, Int, Option[Int])
  private val lwCols = Seq("k1", "k2", "dt", "v", "lo", "hi")

  private def lwRow(maxK1: Int): Gen[LwRow] = for {
    k1 <- Gen.chooseNum(1, maxK1)
    k2 <- Gen.oneOf(None, Some("a"), Some("b"))
    dt <- Gen.chooseNum(1, 4)
    v <- Gen.chooseNum(0, 2)
    lo <- Gen.chooseNum(-50, 50)
    hi <- Gen.option(Gen.chooseNum(-50, 50))
  } yield (k1, k2, dt, v, lo, hi)

  /** (fresh, curated, extra): fresh is unique on (key, dt, v) so window
    * ranks are deterministic; curated holds copies of some fresh rows
    * (new-vs-curated ties on every ordering column) with other lo/hi;
    * extra holds curated rows whose keys are absent from fresh. */
  private val pruneGen = for {
    fresh0 <- Gen.listOf(lwRow(3))
    cur0 <- Gen.listOf(lwRow(3))
    tieSeed <- Gen.listOf(Gen.chooseNum(0, 1000))
    extra0 <- Gen.listOf(lwRow(4))
  } yield {
    val fresh = fresh0.distinctBy(r => (r._1, r._2, r._3, r._4))
    val ties = fresh.zip(tieSeed).collect { case (r, t) if t % 3 == 0 =>
      (r._1, r._2, r._3, r._4, r._5 - t, Some(t)) }
    val freshKeys = fresh.map(r => (r._1, r._2)).toSet
    (fresh, cur0 ++ ties, extra0.filterNot(r => freshKeys((r._1, r._2))))
  }

  /** Latest-wins by hand: per key, rank new ∪ curated by (dt, v) desc with
    * new before curated on ties; a new winner takes min(lo)/max(hi) over
    * all the key's rows, the other new rows are outdated as they came. */
  private def lwModel(fresh: Seq[LwRow], cur: Seq[LwRow])
      : (Seq[LwRow], Seq[LwRow]) = {
    val byKey = (fresh.map(_ -> 1) ++ cur.map(_ -> 0)).groupBy(t => (t._1._1, t._1._2))
    val ranked = byKey.values.map(_.sortBy { case (r, isNew) => (-r._3, -r._4, -isNew) })
    val latest = ranked.collect { case rs if rs.head._2 == 1 =>
      val his = rs.flatMap(_._1._6)
      rs.head._1.copy(_5 = rs.map(_._1._5).min,
        _6 = if (his.isEmpty) None else Some(his.max))
    }
    val outdated = ranked.flatMap(_.tail.collect { case (r, 1) => r })
    (latest.toSeq.sortBy(_.toString), outdated.toSeq.sortBy(_.toString))
  }

  test("latest-wins ignores curated keys absent from the batch") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[LwRow] =
      df.select(lwCols.map(col): _*).collect().map(r => (r.getInt(0),
        Option(r.getString(1)), r.getInt(2), r.getInt(3), r.getInt(4),
        if (r.isNullAt(5)) None else Some(r.getInt(5)))).toSeq.sortBy(_.toString)
    val seen = scala.collection.mutable.Set[String]()
    for ((fresh, cur, extra) <- cases(pruneGen, n = 8)) {
      val f = fresh.toDF(lwCols: _*)
      def dedupe(c: Seq[LwRow]) = {
        val dd = LatestWins.dedupe(f, c.toDF(lwCols: _*), Seq("k1", "k2"),
          Seq(col("dt").desc, col("v").desc),
          recomputeMin = Seq("lo"), recomputeMax = Seq("hi"))
        (rows(dd.latest), rows(dd.outdated))
      }
      val base = dedupe(cur)
      assert(base == lwModel(fresh, cur))
      assert(dedupe(cur ++ extra) == base)
      val all = fresh ++ cur
      if (all.groupBy(r => (r._1, r._2)).exists(_._2.size > 1)) seen += "multi"
      if (cur.exists(c => fresh.exists(r => r.productIterator.take(4).toSeq ==
          c.productIterator.take(4).toSeq))) seen += "tie"
      if (fresh.exists(r => r._2.isEmpty && cur.exists(c => c._1 == r._1 && c._2.isEmpty)))
        seen += "null key both sides"
      if (extra.nonEmpty) seen += "extra"
    }
    assert(seen == Set("multi", "tie", "null key both sides", "extra"))
  }
}
