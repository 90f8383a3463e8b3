package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.LatestWins
import graft.sources.ManagedTable
import MlsFixtures.{histSnapshots, runHistory}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("latest-wins dedup: newest version wins, 'new' beats 'curated' on ties") {
    val curated = Seq((1, "2024-01-02", "cur_v2"), (2, "2024-01-01", "cur_only"))
      .toDF("k", "dt", "v")
    val fresh = Seq((1, "2024-01-03", "new_v3"), (1, "2024-01-02", "new_v2"))
      .toDF("k", "dt", "v")
    val dd = LatestWins.dedupe(fresh, curated, Seq("k"), Seq(col("dt").desc))
    val latest = dd.latest.as[(Int, String, String)].collect().toMap2
    assert(latest(1) == ("2024-01-03", "new_v3"))
    assert(!latest.contains(2)) // curated winner is not re-emitted
    // only the losing NEW row (new_v2) is outdated; superseded curated rows
    // are replaced, not sent to the reject leg (curated.py:184)
    assert(dd.outdated.count() == 1)
    assert(dd.outdated.as[(Int, String, String)].collect().head._3 == "new_v2")
    // tie at same dt: 'new' wins
    val tie = LatestWins.dedupe(
      Seq((9, "2024-01-02", "from_new")).toDF("k", "dt", "v"),
      Seq((9, "2024-01-02", "from_cur")).toDF("k", "dt", "v"),
      Seq("k"), Seq(col("dt").desc))
    assert(tie.latest.as[(Int, String, String)].collect().head._3 == "from_new")
  }

  test("changeFlags: lead-based old values and null-safe change detection") {
    val df = Seq(
      (1, "2024-01-01", 100), (1, "2024-01-02", 100), (1, "2024-01-03", 150),
      (2, "2024-01-01", 70)).toDF("k", "dt", "price")
    val out = LatestWins.changeFlags(df, Seq("k"), Seq(col("dt").desc), Seq("price"))
      .orderBy("k", "dt")
      .select("k", "dt", "price_old", "price_changed_flag", "_insert_update_flag")
      .collect()
    // oldest version: no previous → old=null, changed=true (first insert)
    assert(out(0).isNullAt(2) && out(0).getBoolean(3))
    // second version same price → changed=false
    assert(out(1).getInt(2) == 100 && !out(1).getBoolean(3))
    // third version new price → changed=true
    assert(out(2).getInt(2) == 100 && out(2).getBoolean(3))
    // single-version key: changed=true (insert)
    assert(out(3).isNullAt(2) && out(3).getBoolean(3))
  }

  test("history job parity knobs: whole-dollar comparator, match guard, plain-= keys") {
    val root = Files.createTempDirectory("graft_hist_knobs").toString
    // L-1 has two snapshots whose prices differ only in cents — the
    // whole-dollar comparator (hist:152) collapses them to ONE log row;
    // L-2's null source_as_of_date snapshot also lands.
    val rows = Seq(
      ("L-1", Some("2024-01-01"), 100.10, "A"),
      ("L-1", Some("2024-01-02"), 100.40, "A"), // same dollar -> not a change
      ("L-2", None, 50.0, "A"))
    runHistory(spark, root, histSnapshots(spark, rows))
    def table = ManagedTable.read(spark, root)
      .select("mls_listing_id", "source_as_of_date", "load_date")
      .as[(String, Option[java.sql.Timestamp], String)].collect()
    val t1 = table
    assert(t1.count(_._1 == "L-1") == 1, s"cents-only change logged: ${t1.toSeq}")
    assert(t1.count(r => r._1 == "L-2" && r._2.isEmpty) == 1)
    // Replay with a later load_date: the replayed rows win the hist-grain
    // window, but the matched L-1 row's 18 guard columns are unchanged, so
    // the guard (hist:188-192) leaves the stored row as it was; with plain
    // `=` merge keys (hist:185) the null-soad snapshot never matches and
    // accumulates a duplicate.
    runHistory(spark, root, histSnapshots(spark, rows, loadDate = "20240302"))
    val t2 = table
    assert(t2.count(r => r._1 == "L-2" && r._2.isEmpty) == 2, s"got: ${t2.toSeq}")
    assert(t2.filter(_._1 == "L-1").map(_._3).toSeq == Seq("20240301"))
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
