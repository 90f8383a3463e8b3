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
}
