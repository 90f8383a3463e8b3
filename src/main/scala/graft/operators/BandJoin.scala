package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded candidate join every near-duplicate family runs, with
  * candidate generation split from exact verification (the split REPOSE,
  * ICDE'21, and continuously adaptive similarity search, SIGMOD'20,
  * build on): rows explode into band keys ([[bands]] for a Hamming
  * tolerance; MinHash band hashes, sign-LSH buckets, IVF cells and
  * sequence shingles bring their own), rows sharing every key meet in a
  * [[self]] or [[probe]] join under the caller's pair predicate over the
  * `a` and `b` sides, and [[withinHamming]] / [[withEndpoints]] verify.
  *
  * The optional [[Cap]] is the production skew guard
  * ([[SkewCap.dropOverCap]], observable per call-site metric):
  * near-uniform keys (short or stop-worded text, flat images,
  * letterboxes, flat-frame shingles) can concentrate a bucket until the
  * join on it is quadratic in corpus size, so index-side buckets above
  * `maxBucket` are DROPPED before the join, bounding any bucket's join
  * cost at maxBucket². The windowed count rides the key exchange the
  * join pays anyway. Recall effect: a pair agreeing ONLY on dropped
  * buckets is lost; across several bands a true near pair survives
  * unless all its agreeing buckets are degenerate, the pathological
  * cluster the cap exists to exclude (`PhashNeardupSpec`, `CoverageSpec`
  * pin both directions). At oracle scale the caps never fire and the
  * DuckDB replays are capless (`CapObservabilitySpec`). */
object BandJoin {

  /** Skew cap on the index side's key buckets; `failOnDrop` makes a
    * firing cap fail the job (see [[SkewCap.dropOverCap]]). */
  final case class Cap(maxBucket: Int, metric: String,
                       failOnDrop: Boolean = false)

  /** (band, chunk) explode of a `bits`-wide hash column for Hamming ≤
    * `maxHamming` blocking: `maxHamming + 1` bands of ⌈bits / nBands⌉
    * bits. By pigeonhole any pair within the tolerance agrees exactly on
    * at least one band, so band equality is lossless at the requested
    * tolerance, with the largest per-band key space that guarantee
    * allows (56 bits at k = 3: 4 × 14-bit bands; 64 bits at k = 7:
    * 8 × 8-bit bands). The DuckDB oracles hardcode the same constants. */
  def bands(df: DataFrame, hashCol: String, bits: Int,
            maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val chunkBits = (bits + nBands - 1) / nBands
    require(maxHamming >= 1 && maxHamming * chunkBits < bits,
      s"band tolerance $maxHamming leaves an empty band over $bits bits")
    val mask = (1L << chunkBits) - 1
    df.select(df.columns.map(col) :+
      posexplode(expr(s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> ($hashCol >> (b * $chunkBits)) & $mask)"))
        .as(Seq("band", "chunk")): _*)
  }

  /** Self join of `keyed` on equality of every `keys` column; `pair`
    * orders or filters each candidate (e.g. `a.id < b.id`). The cap, if
    * any, applies once and the capped frame is read on both sides. */
  def self(keyed: DataFrame, keys: Seq[String], pair: Column,
           cap: Option[Cap] = None): DataFrame = {
    val side = capped(keyed, keys, cap)
    side.alias("a").join(side.alias("b"), keysMatch(keys) && pair)
  }

  /** Probe join: each `probes` row (side `b`) meets the `index` rows
    * (side `a`) sharing its keys. The cap, if any, applies to the index
    * side only, so probe cost is O(probes × capped bucket size). */
  def probe(index: DataFrame, probes: DataFrame, keys: Seq[String],
            pair: Column = lit(true), cap: Option[Cap] = None): DataFrame =
    capped(index, keys, cap).alias("a")
      .join(probes.alias("b"), keysMatch(keys) && pair)

  /** Exact Hamming verify over a [[self]] or [[probe]] result: adds
    * `hamming` = popcount(a.hashCol xor b.hashCol) and keeps rows within
    * `maxHamming`. Apply it before any distinct: a per-row codegen filter
    * costs less than the exchange it keeps rows out of. */
  def withinHamming(cand: DataFrame, hashCol: String,
                    maxHamming: Int): DataFrame =
    cand.withColumn("hamming",
        bit_count(col(s"a.$hashCol").bitwiseXOR(col(s"b.$hashCol"))))
      .filter(col("hamming") <= maxHamming)

  /** Attach both endpoints' payload to candidate `pairs`: `payload` is
    * keyed by `id`; its other columns `c` arrive as `c_a` (joined on
    * `ends._1`) and `c_b` (joined on `ends._2`). */
  def withEndpoints(pairs: DataFrame, payload: DataFrame, id: String,
                    ends: (String, String)): DataFrame = {
    def end(key: String, suffix: String) =
      payload.select(payload.columns.map(c =>
        if (c == id) col(c).as(key) else col(c).as(s"${c}_$suffix")): _*)
    pairs.join(end(ends._1, "a"), ends._1).join(end(ends._2, "b"), ends._2)
  }

  private def capped(df: DataFrame, keys: Seq[String],
                     cap: Option[Cap]): DataFrame =
    cap.fold(df)(c => SkewCap.dropOverCap(df, keys.map(col), c.maxBucket,
      c.metric, failOnDrop = c.failOnDrop))

  private def keysMatch(keys: Seq[String]): Column =
    keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
}
