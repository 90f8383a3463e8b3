package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MixQueries, SimilarityQueries, Sketches, TextQueries}

/** Behavioral coverage for the corpus-curation operators: repetition
  * scoring, split assignment, the composed q_curation_e2e pipeline,
  * shuffle sharding, and the theta distinct sketch. Value-level parity is the DuckDB gate; these tests pin the
  * operator-level invariants (known scores, proportions, determinism,
  * stability under corpus growth, estimator accuracy). */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDir(docs: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    docs.toDF("doc_id", "text", "lang")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("repetition: duplicate token and trigram fractions match hand counts") {
    val dir = docsDir(Seq(
      (1L, "a a a a", "en"),          // 4 toks, 1 type; trigrams: [a a a]x2
      (2L, "w x y z", "en"),          // no repetition at all
      (3L, "x y", "en")))             // too short for trigrams
    val got = TextQueries.txtRepetition(spark, dir)
      .as[(Long, Int, Int, Int, Int, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4, 1, 2, 1, 0.75, Some(0.5))))
    assert(got(2L) == ((2L, 4, 4, 2, 2, 0.0, Some(0.0))))
    assert(got(3L) == ((3L, 2, 2, 0, 0, 0.0, None)))
  }

  test("split assignment: ~90/5/5, deterministic, stable under growth") {
    val big = docsDir((1L to 2000L).map(i => (i, "t", "en")))
    val a = MixQueries.splitAssign(spark, big)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.90) < 0.03, s"train=${frac("train")}")
    assert(math.abs(frac("validation") - 0.05) < 0.02)
    assert(math.abs(frac("test") - 0.05) < 0.02)
    // growth stability: the first half's assignments are unchanged when
    // only the first half exists (membership is a pure function of the id)
    val small = docsDir((1L to 1000L).map(i => (i, "t", "en")))
    val b = MixQueries.splitAssign(spark, small)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(b == a.filter(_._1 <= 1000L))
  }

  test("curation e2e: splits partition the deduped corpus, quality floor held") {
    val dir = "/root/testdata/sf0.001"
    val corpus = MixQueries.curationE2e(spark, dir).cache()
    try {
      val n = corpus.count()
      assert(n > 0)
      // every surviving doc has exactly one split, from the known three
      assert(corpus.select("doc_id").distinct().count() == n)
      val bySplit = corpus.groupBy("split").count().as[(String, Long)]
        .collect().toMap
      assert(bySplit.keySet.subsetOf(Set("train", "validation", "test")))
      assert(bySplit.values.sum == n)
      assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("test", 0L))
      assert(corpus.filter("quality_score < 2").isEmpty)
      // non-canonical near-dup cluster members are dropped
      val dropped = graft.operators.GraphCC.dedupClusters(spark, dir)
        .filter("is_canonical = 0").select("doc_id")
      assert(corpus.join(dropped, "doc_id").isEmpty)
    } finally corpus.unpersist()
  }

  test("shuffle shard: dense positions per shard, a permutation of the corpus") {
    val dir = docsDir((1L to 500L).map(i => (i, "t", "en")))
    val rows = MixQueries.shuffleShard(spark, dir, nShards = 8)
      .as[(Long, Long, Int)].collect()
    assert(rows.map(_._1).toSet == (1L to 500L).toSet) // every doc exactly once
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < 8)
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.size), s"shard $shard not dense")
    }
    // deterministic across invocations
    val again = MixQueries.shuffleShard(spark, dir, nShards = 8)
      .as[(Long, Long, Int)].collect()
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("budget selection: best-first greedy cut at the token budget") {
    // 20 high-quality docs (40 distinct tokens each) and 20 low-quality
    // ones (40 copies of one token). Budget 400 tokens -> exactly the 10
    // best-ranked (lowest doc_id) high-quality docs fit.
    val hi = (1L to 20L).map(i =>
      (i, (0 until 40).map(j => s"w${i}_$j").mkString(" "), "en"))
    val lo = (21L to 40L).map(i => (i, ("x " * 40).trim, "en"))
    val dir = docsDir(hi ++ lo)
    val got = MixQueries.selectBudget(spark, dir, budget = 400L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 10L).toSet)
    assert(got(1L) == 0L && got(10L) == 360L)
  }

  test("corpus stats: per-source card counts docs, tokens, exact dups") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    Seq(
      ("crawl", "en", "a b c", 1L), ("crawl", "en", "a b c", 2L),
      ("crawl", "en", "d e", 3L), ("books", "en", "x y z w", 4L))
      .toDF("source", "lang", "text", "doc_id")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = MixQueries.corpusStats(spark, dir)
      .select("source", "n_docs", "total_tokens", "n_unique_texts", "dup_frac")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("crawl") == (("crawl", 3L, 8L, 2L, 1.0 / 3.0)))
    assert(got("books") == (("books", 1L, 4L, 1L, 0.0)))
  }

  test("knn label vote: majority of nearest neighbors wins") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    // query 0 points at e1 (true label 7); three close label-7 vectors,
    // two orthogonal label-3 vectors -> top-5 votes 3:2 for label 7
    Seq(
      (0L, v(1f, 0f), 7), (1L, v(0.9f, 0.1f), 7), (2L, v(0.8f, 0.2f), 7),
      (3L, v(0.95f, 0.05f), 7), (4L, v(0f, 1f), 3), (5L, v(0.1f, 0.9f), 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityQueries.simKnnLabel(spark, dir, nQueries = 1, k = 5)
      .as[(Long, Int, Long, Int, Boolean)].collect()
    assert(got.toSeq == Seq((0L, 7, 3L, 7, true)))
  }

  test("events ts dtype drift: bigint-ns and timestamp-µs encodings hash identically") {
    // The driver has regenerated events.parquet with ts as TIMESTAMP(NANOS)
    // (nanos-as-long under the legacy flag) AND as timestamp[us]/NTZ. The
    // reader must produce byte-identical results for both encodings of the
    // same instants — this pins the schema-adaptive dispatch in
    // TableIO.withEpochMicros so the next regeneration breaks a spec, not
    // the round.
    def ns(sec: Long) = sec * 1000000000L
    val rows = Seq(
      (1L, ns(3601), 1L, "view"), (2L, ns(3723), 1L, "click"),
      (3L, ns(7201), 2L, "view"), (4L, ns(7500), 2L, "purchase"))
    def base = rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
    val dirNs = java.nio.file.Files.createTempDirectory("curation").toString
    base.write.mode("overwrite").parquet(s"$dirNs/events.parquet")
    val dirTs = java.nio.file.Files.createTempDirectory("curation").toString
    base.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      .write.mode("overwrite").parquet(s"$dirTs/events.parquet")
    // one TimestampType dir, one TimestampNTZ dir — cover both branches
    val dirNtz = java.nio.file.Files.createTempDirectory("curation").toString
    base.withColumn("ts",
        org.apache.spark.sql.functions.expr(
          "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      .write.mode("overwrite").parquet(s"$dirNtz/events.parquet")
    def run(dir: String) = Seq(
      graft.operators.EventQueries.eventsHourly(spark, dir),
      graft.operators.EventQueries.eventsSessionize(spark, dir),
      graft.operators.SpecialJoins.asofClicksErrors(spark, dir))
      .map(_.collect().map(_.toSeq).toSet)
    val (a, b, c) = (run(dirNs), run(dirTs), run(dirNtz))
    assert(a == b, "nanos-as-long vs timestamp[us] drifted")
    assert(a == c, "nanos-as-long vs timestamp_ntz drifted")
    assert(a.head.nonEmpty)
  }

  test("event funnel: stage order is enforced, not per-type minima") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    def ns(sec: Long) = sec * 1000000000L
    // user 1 completes in order; user 2's only click PRECEDES its first
    // view (must not count); user 3's purchase precedes its click; user 4
    // never views.
    Seq(
      (1L, ns(1), 1L, "view"), (2L, ns(2), 1L, "click"), (3L, ns(3), 1L, "purchase"),
      (4L, ns(1), 2L, "click"), (5L, ns(2), 2L, "view"),
      (6L, ns(1), 3L, "purchase"), (7L, ns(2), 3L, "view"), (8L, ns(3), 3L, "click"),
      (9L, ns(1), 4L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.EventQueries.eventsFunnel(spark, dir)
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> r).toMap
    def us(sec: Long) = Some(sec * 1000000L)
    assert(got(1L) == ((1L, us(1), us(2), us(3), 3)))
    assert(got(2L) == ((2L, us(2), None, None, 1)))
    assert(got(3L) == ((3L, us(2), us(3), None, 2)))
    assert(got(4L) == ((4L, None, None, None, 0)))
  }

  test("as-of attribution: purchases attach to the latest preceding view") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    def ns(sec: Long) = sec * 1000000000L
    Seq(
      (1L, ns(1), 1L, "view"), (2L, ns(3), 1L, "view"), (3L, ns(5), 1L, "purchase"),
      (4L, ns(1), 2L, "purchase"), (5L, ns(2), 2L, "view"), (6L, ns(3), 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.EventQueries.eventsAttribution(spark, dir)
      .as[(Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    def us(sec: Long) = sec * 1000000L
    assert(got(3L) == ((3L, 1L, us(5), Some(us(3)), Some(us(2))))) // latest view, not first
    assert(got(4L) == ((4L, 2L, us(1), None, None)))               // direct purchase
    assert(got(6L) == ((6L, 2L, us(3), Some(us(2)), Some(us(1)))))
  }

  test("retention: next-day returners counted per day") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    def day(d: Int, h: Int) = // 2024-01-0d h:00 UTC in ns (tz-independent)
      java.time.LocalDateTime.of(2024, 1, d, h, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
    // day1: users 1,2 (user 1 twice); day2: users 2,3; day3: user 3
    Seq(
      (1L, day(1, 1), 1L, "view"), (2L, day(1, 2), 1L, "click"),
      (3L, day(1, 3), 2L, "view"),
      (4L, day(2, 1), 2L, "view"), (5L, day(2, 2), 3L, "view"),
      (6L, day(3, 1), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.EventQueries.eventsRetention(spark, dir)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("2024-01-01") == ((2L, 1L, 0.5))) // only user 2 returns
    assert(got("2024-01-02") == ((2L, 1L, 0.5))) // only user 3 returns
    assert(got("2024-01-03") == ((1L, 0L, 0.0)))
  }

  test("transitions: per-user lead pairs, no cross-user leakage") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    def ns(sec: Long) = sec * 1000000000L
    // user 1: view->click->view; user 2: a lone purchase (no transition,
    // and it must NOT pair with user 1's timeline)
    Seq(
      (1L, ns(1), 1L, "view"), (2L, ns(2), 1L, "click"), (3L, ns(3), 1L, "view"),
      (4L, ns(2), 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.EventQueries.eventsTransitions(spark, dir)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("view", "click", 1L), ("click", "view", 1L)))
  }

  test("wau: each activity day feeds the following window of report days") {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    def day(d: Int) = // 2024-01-0d noon UTC in ns (tz-independent)
      java.time.LocalDateTime.of(2024, 1, d, 12, 0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
    Seq((1L, day(1), 1L, "view"), (2L, day(3), 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.EventQueries.eventsWau(spark, dir, windowDays = 3)
      .as[(String, Long)].collect().toMap
    // user 1 active Jan 1 covers report days 1-3; user 2 (Jan 3) covers 3-5
    assert(got == Map(
      "2024-01-01" -> 1L, "2024-01-02" -> 1L, "2024-01-03" -> 2L,
      "2024-01-04" -> 1L, "2024-01-05" -> 1L))
  }

  test("weighted sample: key is the max of `weight` salted draws, sorted") {
    val out = MixQueries.sampleWeighted(spark, "/root/testdata/sf0.001", k = 50)
      .collect()
    assert(out.length == 50)
    def draw(id: Long, r: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"wsample1:$id#$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    out.foreach { row =>
      val (id, w, key) = (row.getLong(0), row.getInt(1), row.getLong(2))
      assert(w >= 1 && w <= 4)
      assert(key == (1 to w).map(draw(id, _)).max,
        s"doc $id key mismatch") // max-of-uniforms = u^(1/w) order, exactly
    }
    val keys = out.map(_.getLong(2)).toSeq
    assert(keys == keys.sortBy(k => -k), "not sorted by key desc")
  }

  test("theta sketch: distinct estimate tracks the exact count") {
    // 6000 distinct tokens spread over docs; expect ~375 sampled hashes
    // and a relative error around 4/sqrt(6000) ~ 5%.
    val docs = (0L until 600L).map { d =>
      (d, (0 until 10).map(j => s"tok${d * 10 + j}").mkString(" "), "en")
    }
    val dir = docsDir(docs)
    val (n, est) = Sketches.sketchThetaDistinct(spark, dir)
      .select("n_sampled", "est_distinct").as[(Long, Long)].head()
    assert(n > 0)
    assert(math.abs(est - 6000L) < 6000 * 0.25, s"est=$est exact=6000")
  }
}
