package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MultimodalQueries

/** q_mm_audio_neardup semantics on sf0.001:
  *  - the REAL `javax.sound` decode recovers the fixture generator's
  *    closed-form 56-bit energy-profile fingerprint for every variant;
  *  - the resampled-2× and gain-2× twins share their base's fingerprint
  *    EXACTLY (time-proportional windows / cross-multiplied comparison)
  *    while their PCM bytes differ — the invariance exact-PCM identity
  *    lacks;
  *  - the adjacent-segment-swap twins sit at Hamming 1–3 and the banded
  *    + Hamming-verified gate recovers every such pair.
  */
class AudioNeardupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def amp(id: Long, i: Int): Int = {
    val z = (id * 48271L + i + 1) % 65521L
    val w = (z * z) % 65521L
    (500L + 2L * (((w * w) % 65519L) % 7900L) + i % 2).toInt
  }

  /** Closed-form fingerprint — the generator's own arithmetic, mirroring
    * the DuckDB oracle CTEs, independent of the decode path under test. */
  private def expectedFp(id: Long, variant: Int): Long = {
    val j = (id % 56).toInt
    def seg(i: Int): Int =
      if (variant == 3) { if (i == j) j + 1 else if (i == j + 1) j else i }
      else i
    var hash = 0L
    for (i <- 0 until 56)
      if (amp(id, seg(i)) > amp(id, seg(i + 1))) hash |= 1L << i
    hash
  }

  private lazy val decoded: Map[Long, Long] =
    MultimodalQueries.audioFingerprintFrame(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private lazy val docIds: Seq[Long] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("real decode recovers the closed-form fingerprint for every variant") {
    val expectedCount = docIds.size + docIds.count(_ % 3 == 0) +
      docIds.count(_ % 4 == 0) + docIds.count(_ % 5 == 0)
    assert(decoded.size == expectedCount)
    docIds.foreach { d =>
      assert(decoded(4 * d) == expectedFp(d, 0), s"base fp, doc $d")
      if (d % 3 == 0)
        assert(decoded(4 * d + 1) == expectedFp(d, 0), s"resample fp, doc $d")
      if (d % 4 == 0)
        assert(decoded(4 * d + 2) == expectedFp(d, 0), s"gain fp, doc $d")
      if (d % 5 == 0)
        assert(decoded(4 * d + 3) == expectedFp(d, 3), s"near fp, doc $d")
    }
  }

  test("resample/gain twins collapse into the base's exact group while " +
      "their PCM bytes differ") {
    val payloads = spark.read
      .parquet(MultimodalQueries.wavNearFixture(spark, dir))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    docIds.filter(d => d % 3 == 0 || d % 4 == 0).take(50).foreach { d =>
      val twin = if (d % 3 == 0) 4 * d + 1 else 4 * d + 2
      assert(decoded(twin) == decoded(4 * d))
      assert(!java.util.Arrays.equals(payloads(twin), payloads(4 * d)),
        s"twin of doc $d must not be byte-identical")
    }
  }

  test("banded near-dup recovers every seeded swap pair exact grouping misses") {
    val out = MultimodalQueries.mmAudioNeardup(spark, dir).collect()
      .map(r => (r.getAs[Long]("canon_a"), r.getAs[Long]("canon_b")) ->
        r.getAs[Int]("hamming")).toMap
    val canonOf = decoded.toSeq.groupBy(_._2)
      .map { case (fp, ids) => fp -> ids.map(_._1).min }
    val seeded = docIds.filter(_ % 5 == 0).flatMap { d =>
      val (fb, fv) = (decoded(4 * d), decoded(4 * d + 3))
      val ham = java.lang.Long.bitCount(fb ^ fv)
      if (ham == 0) None else Some((d, fb, fv, ham))
    }
    assert(seeded.nonEmpty, "fixture must contain perturbed near twins")
    seeded.foreach { case (d, fb, fv, ham) =>
      // bit j provably flips; only bits {j-1, j, j+1} can change
      assert(ham >= 1 && ham <= 3, s"doc $d twin flipped $ham bits")
      val key = if (fb < fv) (canonOf(fb), canonOf(fv))
                else (canonOf(fv), canonOf(fb))
      assert(out.contains(key), s"seeded near pair of doc $d missing")
      assert(out(key) == ham, s"hamming for doc $d")
    }
    out.values.foreach(h => assert(h >= 1 && h <= 3))
  }

  test("fixture sizing estimates equal the emitted payload bytes") {
    for (id <- 0L until 200L)
      assert(MultimodalQueries.wavNearBytesOf(id) ==
        MultimodalQueries.wavNearRows(id).map(_._2.length.toLong).sum,
        s"doc $id")
  }
}
