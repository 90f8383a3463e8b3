package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CurationMm, MultimodalQueries, Sketches}

/** Property certification of the tolerance-derived banded candidate
  * join (`BandJoin`, through its image/audio, incremental-ingest and
  * simhash callers): on seeded-random hash sets,
  *  - UNCAPPED banding recovers EXACTLY the brute-force Hamming ≤ k pair
  *    set for every supported tolerance — the pigeonhole-losslessness
  *    claim (nBands = k+1 bands of ⌈bits/nBands⌉ bits), verified against
  *    an implementation-independent O(n²) scan — for the 56-bit self
  *    join, the 56-bit probe join (exactly the pairs with a new
  *    endpoint) and the 64-bit simhash width;
  *  - the bucket cap only ever REMOVES pairs (never invents one): the
  *    capped output is a subset of brute force at any cap. */
class BandingPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val mask56 = (1L << 56) - 1

  private def bruteForce(hs: Seq[Long], k: Int): Set[(Long, Long)] =
    (for {
      a <- hs; b <- hs if a < b
      if java.lang.Long.bitCount(a ^ b) <= k
    } yield (a, b)).toSet

  /** One twin per hash in `hs`, at Hamming exactly k: twin p keeps
    * band p % (k+1) intact and flips one bit in every other band — the
    * pigeonhole worst case, a single agreeing band — alternating between
    * each band's lowest and highest bit below `live`, where a mis-sliced
    * band boundary loses the pair. */
  private def worstCaseTwins(hs: Seq[Long], k: Int, bits: Int,
                             live: Int): Seq[Long] = {
    val chunk = (bits + k) / (k + 1)
    hs.zipWithIndex.map { case (h, p) =>
      (0 to k).filter(_ != p % (k + 1)).foldLeft(h) { (v, band) =>
        val bit =
          if ((p / (k + 1)) % 2 == 0) math.min((band + 1) * chunk, live) - 1
          else band * chunk
        v ^ (1L << bit)
      }
    }
  }

  private def banded(hs: Seq[Long], k: Int,
                     maxBucket: Int): Set[(Long, Long)] = {
    val spark2 = spark
    import spark2.implicits._
    val grp = hs.toDF("phash")
      .withColumn("canon", col("phash"))
      .withColumn("n_copies", lit(1L))
    MultimodalQueries.phashGroupPairs(grp, k, maxBucket).collect()
      .map(r => (r.getAs[Long]("canon_a"), r.getAs[Long]("canon_b")))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
  }

  test("uncapped banding equals brute force at every tolerance") {
    val rnd = new scala.util.Random(42)
    // ALL supported tolerances — k = 2/4/5 are the uneven splits
    // (nBands·chunkBits > 56) where a mis-sliced last band would lose
    // pairs while the even splits stayed green
    for (k <- 1 to 6) {
      val base = Vector.fill(50)(rnd.nextLong() & mask56)
      // seed genuine near pairs: flip 1..k random bits of some bases
      val near = base.take(25).map { h =>
        var v = h
        (1 to 1 + rnd.nextInt(k)).foreach(_ => v ^= 1L << rnd.nextInt(56))
        v
      }
      val hs = (base ++ near).distinct
      val expect = bruteForce(hs, k)
      assert(expect.nonEmpty, s"k=$k: seeding failed to produce near pairs")
      val got = banded(hs, k, Int.MaxValue)
      assert(got == expect,
        s"k=$k: banding diverged from brute force — " +
          s"missing=${(expect -- got).size} extra=${(got -- expect).size}")
    }
  }

  test("the bucket cap never invents a pair") {
    val rnd = new scala.util.Random(7)
    // skew deliberately: many hashes share low-14-bit chunk 0
    val hs = (Vector.fill(40)(rnd.nextLong() & mask56 & ~16383L) ++
      Vector.fill(40)(rnd.nextLong() & mask56)).distinct
    val expect = bruteForce(hs, 3)
    for (cap <- Seq(1, 5, Int.MaxValue)) {
      val got = banded(hs, 3, cap)
      assert(got.subsetOf(expect),
        s"cap=$cap produced pairs outside brute force: ${got -- expect}")
    }
  }

  test("the probe join equals brute force over pairs with a new endpoint") {
    val rnd = new scala.util.Random(11)
    for (k <- 1 to 6) {
      val base = Vector.fill(40)(rnd.nextLong() & mask56)
      // twins of the first half stay old (old-old pairs the probe must
      // NOT emit), twins of the second half are new; plus new-new pairs
      val (oldTwins, newTwins) = worstCaseTwins(base, k, 56, 56).splitAt(20)
      val fresh = Vector.fill(12)(rnd.nextLong() & mask56)
      val old = base ++ oldTwins
      val hs = old ++ newTwins ++ fresh ++ worstCaseTwins(fresh, k, 56, 56)
      assert(hs.distinct.size == hs.size)
      val firstNew = old.size
      val canon = hs.zipWithIndex.toMap
      val expect = bruteForce(hs, k).map { case (a, b) =>
        (math.min(canon(a), canon(b)), math.max(canon(a), canon(b))) }
        .filter(_._2 >= firstNew)
      assert(expect.exists(_._1 < firstNew) && expect.exists(_._1 >= firstNew),
        s"k=$k: seeding failed to produce old-new and new-new pairs")
      assert(bruteForce(hs, k).exists { case (a, b) =>
        canon(a) < firstNew && canon(b) < firstNew },
        s"k=$k: seeding failed to produce old-old pairs")
      val spark2 = spark
      import spark2.implicits._
      val got = CurationMm.deltaHashPairs(hs.zipWithIndex.toDF("phash",
          "canon"), col("canon") >= firstNew, k, "spec_probe_cap").collect()
        .map(r => (r.getInt(0), r.getInt(1)))
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      assert(got == expect,
        s"k=$k: probe diverged from brute force — " +
          s"missing=${(expect -- got).size} extra=${(got -- expect).size}")
    }
  }

  test("64-bit banding at k = 7 (the simhash width) equals brute force") {
    val rnd = new scala.util.Random(64)
    // Sketches.simhash emits bits 60-63 as 0
    val live60 = (1L << 60) - 1
    val base = Vector.fill(64)(rnd.nextLong() & live60)
    val near = base.take(24).map { h =>
      var v = h
      (1 to 1 + rnd.nextInt(7)).foreach(_ => v ^= 1L << rnd.nextInt(60))
      v
    }
    val hs = (base ++ worstCaseTwins(base, 7, 64, 60) ++ near).distinct
    val expect = bruteForce(hs, 7)
    val spark2 = spark
    import spark2.implicits._
    val docs = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "simhash")
    val got = Sketches.simhashSigPairs(docs, 7, Int.MaxValue).collect()
      .map(r => (hs(r.getLong(0).toInt), hs(r.getLong(1).toInt)))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(got == expect,
      s"64-bit banding diverged from brute force — " +
        s"missing=${(expect -- got).size} extra=${(got -- expect).size}")
  }
}
