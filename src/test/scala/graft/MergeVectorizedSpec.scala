package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManagedTable, MergeClauses}

/** The merge-on-read MERGE against the copy-on-write one. `mergeVectorized`
  * joins only the target rows whose key is in the source, so every clause
  * edge the semi-join could get wrong is drawn here, from seeded
  * ScalaCheck generators (the cases are drawn explicitly, as in
  * PropertySpec): null key components under both key equalities, an
  * update condition that reads the target row, a delete clause, duplicate
  * source keys that match no target row, and a source that matches none.
  * Both forms must publish the same rows and record the same feed. */
class MergeVectorizedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (k1, k2, v, n): a two-column key and two payload columns. */
  private type Rec = (Option[Int], Option[String], Option[String], Int)

  private val keys = Seq("k1", "k2")

  // Target keys come from a small domain with null components; new source
  // keys have k2 "p" or "q", which no target row has, so they match none
  // under either key equality.
  private val targetKey: Gen[(Option[Int], Option[String])] = for {
    k1 <- Gen.option(Gen.chooseNum(0, 5))
    k2 <- Gen.option(Gen.oneOf("a", "b"))
  } yield (k1, k2)
  private val newKey: Gen[(Option[Int], Option[String])] = for {
    k1 <- Gen.option(Gen.chooseNum(10, 11))
    k2 <- Gen.oneOf("p", "q")
  } yield (k1, Some(k2))
  private val payload: Gen[(Option[String], Int)] = for {
    v <- Gen.option(Gen.oneOf("x", "y", "z"))
    n <- Gen.chooseNum(0, 9)
  } yield (v, n)

  /** Distinct target keys, the first with a null component; the source
    * takes that one and some others once each (none when `touch` is
    * false) plus new keys sent one to three times. */
  private def caseGen(touch: Boolean): Gen[(Seq[Rec], Seq[Rec])] = for {
    tKeys <- Gen.listOf(targetKey)
      .map(ks => ((Option.empty[Int], Option("a")) :: ks).distinct)
    tRows <- Gen.sequence[List[Rec], Rec](tKeys.map(k =>
      payload.map { case (v, n) => (k._1, k._2, v, n) }))
    hit <- if (touch) Gen.someOf(tKeys.tail).map(tKeys.head +: _.toSeq)
           else Gen.const(Nil)
    sent <- Gen.listOf(newKey).map(_.distinct)
    copies <- Gen.listOfN(sent.size, Gen.chooseNum(1, 3))
    sRows <- Gen.sequence[List[Rec], Rec](
      (hit ++ sent.zip(copies).flatMap { case (k, c) => Seq.fill(c)(k) })
        .map(k => payload.map { case (v, n) => (k._1, k._2, v, n) }))
  } yield (tRows, sRows)

  /** 300 rows outside both key domains, so the base outweighs a merge's
    * appended rows and the head stays merge-on-read. */
  private val bulk: Seq[Rec] =
    (100 until 400).map(i => (Some(i), Some("bulk"), Some("x"), i % 10))

  private val clauses = MergeClauses.Spec(
    updateWhen = Some(!(col("t.v") <=> col("s.v")) && col("t.n") <= col("s.n")),
    deleteWhen = Some(col("s.n") % 3 === 0),
    insertWhen = Some(col("s.n") =!= 7))

  private def frame(rows: Seq[Rec]): DataFrame =
    rows.toDF("k1", "k2", "v", "n")

  private def canon(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)

  /** Two copies of `target`, each carried one version past its base by the
    * same plain upsert of five bulk rows, so the merge-on-read copy's head
    * serves tombstones and appended rows. */
  private def tables(target: Seq[Rec]): (String, String) = {
    val pre = frame(bulk.take(5).map { case (k1, k2, _, n) => (k1, k2, Some("y"), n) })
    val cow = Files.createTempDirectory("graft_mvs_cow").toString
    val mor = Files.createTempDirectory("graft_mvs_mor").toString
    Seq(cow, mor).foreach(ManagedTable.overwrite(_, frame(target ++ bulk).coalesce(1)))
    ManagedTable.merge(spark, cow, pre, keys)
    ManagedTable.mergeVectorized(spark, mor, pre, keys)
    assert(ManagedTable.currentVersion(mor) == 1 &&
      Files.exists(Paths.get(mor, "v1", "_dv_base")),
      "the merge-on-read copy folded; its read path is untested")
    (cow, mor)
  }

  test("mergeVectorized publishes the rows and the feed of the copy-on-write merge") {
    // (nullSafeKeys, changeFeed, preImageFeed), one seeded case each; the
    // second case's source matches no target row
    val modes = Seq((true, false, false), (false, true, false),
      (true, true, true), (false, true, true), (true, true, false),
      (false, false, false))
    val drawn = scala.collection.mutable.Set[String]()
    for (((nullSafe, feed, pre), i) <- modes.zipWithIndex) {
      val (target, source) = caseGen(touch = i != 1)
        .apply(Gen.Parameters.default.withSize(12), Seed(1300L + i)).get
      val tKeys = target.map(r => (r._1, r._2)).toSet
      val sKeys = source.map(r => (r._1, r._2))
      if (sKeys.exists(k => tKeys(k) && (k._1.isEmpty || k._2.isEmpty)))
        drawn += s"a null key component in a target key, nullSafeKeys=$nullSafe"
      if (sKeys.diff(sKeys.distinct).exists(k => !tKeys(k)))
        drawn += "a duplicate source key matching no target row"
      val (cow, mor) = tables(target)
      val ctx = s"case $i (nullSafeKeys=$nullSafe, changeFeed=$feed, " +
        s"preImageFeed=$pre)"
      // the first bulk row has an appended post-image in the head
      val src = frame(if (i == 1) source else source :+ bulk.head)
      val next = ManagedTable.currentVersion(mor) + 1
      ManagedTable.merge(spark, cow, src, keys, clauses, nullSafe,
        changeFeed = feed, preImageFeed = pre)
      ManagedTable.mergeVectorized(spark, mor, src, keys, clauses, nullSafe,
        changeFeed = feed, preImageFeed = pre)
      assert(canon(ManagedTable.read(spark, mor)) ==
        canon(ManagedTable.read(spark, cow)), ctx)
      if (feed) {
        val cowFeed = ManagedTable.changes(spark, cow,
          ManagedTable.currentVersion(cow))
        assert(canon(ManagedTable.changes(spark, mor, next)) == canon(cowFeed),
          ctx)
        drawn ++= cowFeed.select("_action").as[String].collect()
      }
    }
    assert(Set("a null key component in a target key, nullSafeKeys=true",
      "a null key component in a target key, nullSafeKeys=false",
      "a duplicate source key matching no target row",
      "update", "delete", "insert").subsetOf(drawn), drawn)
  }

  test("a duplicate source key that matches one target row raises in both forms") {
    val target: Seq[Rec] = Seq((Some(1), Some("a"), Some("x"), 1),
      (None, Some("b"), Some("x"), 2))
    val dup: Seq[Rec] = Seq((Some(1), Some("a"), Some("y"), 4),
      (Some(1), Some("a"), Some("z"), 5))
    for (nullSafe <- Seq(true, false)) {
      val (cow, mor) = tables(target)
      val before = (ManagedTable.currentVersion(cow),
        ManagedTable.currentVersion(mor))
      for (merge <- Seq[() => Unit](
          () => ManagedTable.merge(spark, cow, frame(dup), keys,
            nullSafeKeys = nullSafe),
          () => ManagedTable.mergeVectorized(spark, mor, frame(dup), keys,
            nullSafeKeys = nullSafe))) {
        val e = intercept[Exception](merge())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage)
            .contains("duplicate rows matching one target row")), e)
      }
      assert((ManagedTable.currentVersion(cow),
        ManagedTable.currentVersion(mor)) == before)
    }
  }

  test("a 100-row merge into a 50,000-row table shuffles batch-sized data") {
    val root = Files.createTempDirectory("graft_mvs_scale").toString
    ManagedTable.overwrite(root, spark.range(50000)
      .select(col("id").as("k"), (col("id") % 97).as("n"), lit("v").as("v")))
    val computed = spark.sparkContext.longAccumulator("mvs_source_rows")
    val counted = udf { (k: Long) => computed.add(1); k }.asNondeterministic()
    // 50 updates and 50 inserts, each source row computed by the UDF
    val source = spark.range(49950, 50050)
      .select(col("id").as("k"), counted(col("id")).as("n"), lit("w").as("v"))
    val records = RoundCount.shuffleRecordsDuring(spark) {
      ManagedTable.mergeVectorized(spark, root, source, Seq("k"))
    }
    info(s"shuffle records written: $records")
    assert(records < 10 * 100,
      s"the merge shuffled $records records for a 100-row source")
    assert(computed.value == 100L, "the source was computed more than once")
    val got = ManagedTable.read(spark, root)
    assert(got.count() == 50050)
    assert(got.filter(col("v") === "w").count() == 100)
  }
}
