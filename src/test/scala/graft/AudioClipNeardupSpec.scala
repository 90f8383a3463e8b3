package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MultimodalQueries

/** q_mm_audio_clip_neardup semantics on sf0.001:
  *  - the persisted segment-signature table matches the splice
  *    generator's closed form (real decode + silence split + 2-window
  *    integer energy profile);
  *  - the recovered pair set is EXACTLY the seeded (base, spliced
  *    re-broadcast) twins — no coincidence pairs;
  *  - each twin pair's shared-shingle count and Jaccard match the
  *    construction (ns−2 shared of ns−1 / ns per side);
  *  - the whole-clip fingerprint axis (q_mm_audio_neardup's 57
  *    time-proportional windows) provably MISSES the splice: head/tail
  *    insertion shifts every window, so base and twin fingerprints
  *    diverge far past the banded search's Hamming tolerance.
  */
class AudioClipNeardupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def amp(d: Long, zi: Int, k: Int): Long = {
    val z = (d * 71 + 2L * zi + k + 1) % 65521L
    val w = (z * z) % 65521L
    500L + ((w * w) % 65519L) % 16000L
  }
  private def sig(d: Long, zi: Int): Long =
    amp(d, zi, 0) * 32768L + amp(d, zi, 1)

  private lazy val docIds: Seq[Long] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("persisted segment signatures match the splice closed form") {
    val segs = spark.read
      .parquet(MultimodalQueries.audioSegTablePath(spark, dir))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    docIds.foreach { d =>
      val ns = (10 + d % 5).toInt
      for (i <- 0 until ns)
        assert(segs((2 * d, i)) == sig(d, i),
          s"base segment signature, doc $d seg $i")
      if (d % 4 == 0) {
        assert(segs((2 * d + 1, 0)) == sig(d, ns), s"head segment, doc $d")
        for (i <- 1 until ns)
          assert(segs((2 * d + 1, i)) == sig(d, i),
            s"embedded segment, doc $d seg $i")
        assert(segs((2 * d + 1, ns)) == sig(d, ns + 1), s"tail segment, doc $d")
      }
    }
    // segment-count funnel: ns per base, ns+1 per twin
    val expected = docIds.map(d => 10 + d % 5).sum +
      docIds.filter(_ % 4 == 0).map(d => 11 + d % 5).sum
    assert(segs.size == expected, "segment row count diverged")
  }

  test("recovered pairs are exactly the seeded splices, with the " +
      "constructed overlap") {
    val out = MultimodalQueries.mmAudioClipNeardup(spark, dir).collect()
      .map(r => (r.getAs[Long]("audio_a"), r.getAs[Long]("audio_b")) ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("jaccard"))).toMap
    val seeded = docIds.filter(_ % 4 == 0).map(d => (2 * d, 2 * d + 1)).toSet
    assert(out.keySet == seeded,
      s"pair set diverged: extra=${out.keySet -- seeded} missing=${seeded -- out.keySet}")
    seeded.foreach { case (a, b) =>
      val d = a / 2
      val ns = (10 + d % 5).toInt
      val (shared, na, nb, jac) = out((a, b))
      // base: ns-1 shingles; twin (ns+1 segments): ns shingles;
      // shared run 1..ns-1: ns-2 shingles
      assert(na == ns - 1 && nb == ns && shared == ns - 2,
        s"overlap for doc $d: shared=$shared na=$na nb=$nb")
      assert(jac == (ns - 2).toDouble / (ns + 1).toDouble,
        s"jaccard for doc $d")
    }
  }

  test("the whole-clip fingerprint provably misses the splice (the gap " +
      "this gate exists to close)") {
    val payloads = spark.read
      .parquet(MultimodalQueries.wavSpliceFixture(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    val spliced = docIds.filter(_ % 4 == 0)
    assert(spliced.nonEmpty)
    val hammings = spliced.map { d =>
      val fa = MultimodalQueries.audioFingerprint56(payloads(2 * d))
      val fb = MultimodalQueries.audioFingerprint56(payloads(2 * d + 1))
      java.lang.Long.bitCount(fa ^ fb)
    }
    // every seeded pair sits far past the banded search's k=3 tolerance
    assert(hammings.forall(_ > 3),
      s"some splice pair inside whole-clip tolerance: min=${hammings.min}")
  }

  test("fixture sizing estimates equal the emitted payload bytes") {
    for (id <- 0L until 200L)
      assert(MultimodalQueries.wavSpliceBytesOf(id) ==
        MultimodalQueries.wavSpliceRows(id).map(_._2.length.toLong).sum,
        s"doc $id")
  }
}
