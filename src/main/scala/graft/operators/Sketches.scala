package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableIO.table

/** Sketch-based near-duplicate detection: MinHash+LSH and SimHash.
  * These are the 100 TB scale path for dedup — candidate generation is a
  * single shuffle on (band, bucket) whose fan-in is bounded by bucket size,
  * instead of the inverted-index join whose cost grows with shingle
  * document-frequency squared.
  *
  * Everything is built from deterministic, codegen'd expressions:
  * `hash()` (Murmur3-x86-32) and `xxhash64` are stable across runs, JVMs,
  * and executors, and the permutation coefficients come from a fixed-seed
  * generator at plan-build time — so results are reproducible cluster-wide.
  */
object Sketches {

  /** Hashed word-3-gram shingle set for a token-array column — ONE native
    * pass (window + concat + xxhash64 + distinct in a primitive loop; the
    * earlier interpreted `transform(sequence…concat_ws)` + hash HOF chain
    * cost ~1 ms/doc and dominated every sketch query). 64-bit hashes make
    * downstream set ops collision-safe at corpus scale (~1e-11 at 1e6
    * distinct shingles). */
  def hashedShingles(toks: Column): Column =
    graft.functions.VectorExpressions.wordNgramHashes(
      toks, n = 3, algo = "xxhash64", distinct = true)

  /** MinHash signature column: for each of k permutations, the minimum of
    * (a_i * x + b_i) mod p over the hashed shingle set — all k minima in
    * a single native-expression pass (no explode, no shuffle). */
  def minhashSignature(hashedShingles: Column, k: Int, seed: Long): Column =
    graft.functions.VectorExpressions.minhashSig(hashedShingles, k, seed)

  /** MinHash + LSH banding dedup:
    *  1. signature per doc (k hashes, no shuffle);
    *  2. explode into `bands` buckets keyed by a hash of each band slice;
    *  3. candidate pairs = docs sharing any (band, bucket) — one shuffle;
    *  4. verify candidates with exact shingle Jaccard (small set).
    * With k=64, bands=16 (r=4), a pair at J=0.9 is missed with probability
    * (1-0.9^4)^16 ≈ 4e-8 — at the dataset's bimodal similarity split
    * (J≥0.9 or J<0.1) the verified output equals exact all-pairs Jaccard,
    * which is what the oracle checks. */
  def dedupMinhashLsh(s: SparkSession, dir: String, k: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    val r = k / bands
    val base = table(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", hashedShingles(col("toks")))
    // The shingle sets feed exact verification TWICE: materialize them via
    // a repartition exchange that both join sides share (ReuseExchange
    // computes it once; shuffle files are disk-backed and job-scoped) —
    // persist() here leaked cache for the session, since the function
    // returns a lazy frame and has no unpersist point. The k-hash signature
    // is only needed on the banding path, so it is computed there alone.
    val sh = base
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
      .repartition(col("doc_id"))

    // The k-hash signature is the expensive narrow stage and the banded
    // frame self-joins below: pin a repartition exchange AFTER the
    // signature so both join sides read the same shuffle output
    // (ReusedExchange) instead of recomputing the signatures per side —
    // a broadcast-hash self-join would otherwise evaluate the subtree
    // twice (once to broadcast, once to stream).
    val banded = base
      .withColumn("sig", minhashSignature(col("shingles"), k, seed = 42L))
      .select(col("doc_id"), col("sig"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> hash(b, slice(sig, b * $r + 1, $r)))")).as(Seq("band", "bucket")))
    val cand = BandJoin.self(banded, Seq("band", "bucket"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    BandJoin.withEndpoints(cand, sh, "doc_id", ("doc_a", "doc_b"))
      .withColumn("inter",
        size(array_intersect(col("shingles_a"), col("shingles_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("n_sh_a") + col("n_sh_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash signature from token-hash bit votes: bit j of the
    * signature is 1 iff more tokens have bit j set than unset. Tokens are
    * hashed once to a 60-bit int (md5 hex prefix — md5 is the one hash both
    * Spark and DuckDB compute byte-identically, which is what makes the
    * DuckDB oracle possible; 15 hex chars keep the value positive in a
    * signed long on both engines), then the 64 bit-votes and sign-packing
    * happen in one native-expression pass. Bits 60-63 of every hash are 0,
    * so those signature bits are always 0 — harmless for banding/Hamming. */
  def simhash(toksCol: String): Column =
    graft.functions.VectorExpressions.simhash64(
      graft.functions.VectorExpressions.wordNgramHashes(
        col(toksCol), n = 1, algo = "md5_60", distinct = false))

  /** SimHash near-dup pairs: band the 64-bit signature into
    * `maxHamming + 1` chunks (eight 8-bit chunks at the default 7; any
    * pair within the distance must agree on ≥1 chunk), join candidates
    * per chunk, then filter by exact Hamming distance. */
  def dedupSimhash(s: SparkSession, dir: String, maxHamming: Int = 7): DataFrame =
    simhashPairs(table(s, dir, "documents"), maxHamming)

  /** Core SimHash candidate join over a (doc_id, text) frame, with
    * `maxBucket` as the production skew cap ([[BandJoin]]). Bits 60-63
    * are structurally 0, so band 7 has only 16 live values. */
  def simhashPairs(docsText: DataFrame, maxHamming: Int = 7,
                   maxBucket: Int = 100000): DataFrame =
    simhashSigPairs(docsText
      .withColumn("toks", split(col("text"), " "))
      .withColumn("simhash", simhash("toks"))
      .select("doc_id", "simhash"), maxHamming, maxBucket)

  /** Banded Hamming self-join over (doc_id, simhash) signatures. */
  private[graft] def simhashSigPairs(docs: DataFrame, maxHamming: Int,
                                     maxBucket: Int): DataFrame =
    BandJoin.withinHamming(
        BandJoin.self(BandJoin.bands(docs, "simhash", 64, maxHamming),
          Seq("band", "chunk"), col("a.doc_id") < col("b.doc_id"),
          Some(BandJoin.Cap(maxBucket, "simhash_band_cap"))),
        "simhash", maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("hamming"))
      .distinct()

  /** Keep token hashes below 2^56 — a deterministic 1/16 stripe of the
    * 60-bit md5 hash space. */
  private val theta = 1L << 56

  /** Fixed-threshold Theta sketch: estimated distinct vocabulary per
    * language. A token's 60-bit md5 hash lands below `theta` with
    * probability 1/16 independent of the token, so
    * `distinct(hashes < theta) * 16` is an unbiased distinct-count
    * estimate (the bottom-sketch / KMV family with a FIXED threshold,
    * which — unlike HyperLogLog or an adaptive-k KMV — is a pure
    * function of the data, so a second engine reproduces it bit-for-bit).
    *
    * Scale shape: the `h < theta` filter runs scan-side BEFORE the
    * shuffle, so only 1/16 of token hashes move; the distinct-aggregate
    * partials combine map-side. Estimator σ ≈ √(D/16)·16 relative ~4/√D
    * per language — at real vocabulary sizes (10⁶+) well under 1%. */
  def sketchThetaDistinct(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast(LongType))
      .filter(col("h") < theta)
      .groupBy(col("lang"))
      .agg(countDistinct(col("h")).as("n_sampled"),
        (countDistinct(col("h")) * 16).as("est_distinct"))

  /** Exact heavy hitters at stream-summary cost: every token whose global
    * count exceeds N/k, via the classic two-pass candidate/verify shape
    * (Misra-Gries '82; mergeability per Agarwal et al., "Mergeable
    * Summaries", PODS '12):
    *
    *  1. CANDIDATES — one scan with a k-counter Misra-Gries summary per
    *     partition (`mapPartitions`: genuinely imperative per-partition
    *     state, the F1 pattern). Pigeonhole gives the superset guarantee:
    *     a token with global count > N/k must exceed N_p/k in at least
    *     one partition, so it survives that partition's summary. Each
    *     partition also emits its token total on the same pass.
    *  2. VERIFY — exact counts for candidate tokens only: a broadcast
    *     semi-join (≤ partitions×k candidates, never the vocabulary)
    *     filters the token stream before the count shuffle, so the
    *     exchange carries candidate tokens instead of the full vocab.
    *
    * The output is a pure function of the data — "count > N/k", no
    * sketch artifacts — which is what makes the DuckDB oracle exact.
    * Decrement-all amortizes: each eviction event destroys k+1 count
    * units, so total eviction work is O(N) per partition. Driver never
    * holds tokens; the candidate set and the 1-row total stay
    * distributed (broadcast by the planner, same as the IVF codebook
    * contract). */
  def heavyHitters(s: SparkSession, dir: String, k: Int = 200): DataFrame = {
    import s.implicits._
    heavyHittersTokens(s, table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok")).as[String], k)
  }

  /** Core of [[heavyHitters]] over an arbitrary token stream. */
  def heavyHittersTokens(s: SparkSession,
                         toks: org.apache.spark.sql.Dataset[String],
                         k: Int): DataFrame = {
    import s.implicits._
    require(k > 1, s"heavy-hitter capacity k=$k must exceed 1")
    // (tok, 0) candidate rows + one (null, partitionTotal) row per partition
    val summary = toks.mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { t =>
        n += 1
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1
          case None if counters.size < k => counters(t) = 1L
          case None => // full: decrement-all, drop zeros (the new token dies too)
            val dead = List.newBuilder[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters(key) = c - 1
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator.map(t => (t, 0L)) ++ Iterator.single((null: String, n))
    }.toDF("tok", "n")
    val candidates = summary.filter(col("tok").isNotNull)
      .select("tok").distinct()
    val total = summary.filter(col("tok").isNull)
      .agg(sum(col("n")).as("n_total"))
    toks.toDF("tok")
      .join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") > col("n_total") / lit(k.toDouble))
      .select(col("tok"), col("cnt"))
  }

  /** HyperLogLog++ distinct-count certification: per-language token
    * vocabulary via Spark's `approx_count_distinct` (HLL++, Heule et al.
    * '13 — mergeable, codegen'd, constant memory per group), certified
    * against the exact distinct count computed in the same aggregate.
    *
    * HLL++ register layouts are engine-internal, so a second engine cannot
    * reproduce the ESTIMATE bit-for-bit — what IS a pure function of the
    * data is the certificate `|est - exact| / exact <= tol`, which both
    * engines agree on (the oracle asserts `true`). The exact side exists
    * only to certify: at 100 TB you ship the HLL column alone — a
    * fixed-size register blob per group that merges associatively across
    * partitions/days, vs `COUNT(DISTINCT)`'s distinct-expand exchange of
    * the full vocabulary. rsd=0.01 → ~6 KB of registers per group; tol
    * leaves 5× headroom over the advertised σ. */
  def sketchHllCertify(s: SparkSession, dir: String,
                       rsd: Double = 0.01, tol: Double = 0.05): DataFrame =
    table(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact_distinct"),
        approx_count_distinct(col("tok"), rsd).as("_est"))
      .select(col("lang"), col("exact_distinct"),
        (abs(col("_est") - col("exact_distinct")) <=
          col("exact_distinct") * tol).as("est_ok"))

  /** Greenwald-Khanna quantile-sketch certification: per-language p50/p90
    * of tokens-per-document via `percentile_approx(accuracy)`, certified by
    * the sketch's own rank guarantee instead of a value convention.
    *
    * Exact percentiles at 100 TB need a full sort per group; the GK sketch
    * is the mergeable scale path but its returned element is
    * engine-specific at tied/boundary ranks, so the gate checks the actual
    * GK contract: the returned value q must satisfy
    * `rank<(q)/n <= p + eps` and `rank<=(q)/n >= p - eps` (rank error
    * <= eps·n with eps = 1/accuracy; `eps` below adds discreteness slack).
    * Both bounds are convention-free — DuckDB certifies them as `true`
    * whatever element its own quantile picks. The certificate rides one
    * broadcast join of the 5-row quantile frame back onto the data. */
  def sketchQuantileCertify(s: SparkSession, dir: String,
                            accuracy: Int = 10000, eps: Double = 0.01): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).as("v"))
    val approx = docs.groupBy(col("lang"))
      .agg(percentile_approx(col("v"),
        array(lit(0.5), lit(0.9)), lit(accuracy)).as("ap"))
      .select(col("lang"), col("ap")(0).as("ap50"), col("ap")(1).as("ap90"))
    def okAt(p: Double, ap: Column): Column = {
      val n = count(lit(1))
      val le = sum(when(col("v") <= ap, 1L).otherwise(0L))
      val lt = sum(when(col("v") < ap, 1L).otherwise(0L))
      le >= n * lit(p - eps) && lt <= n * lit(p + eps)
    }
    // ap50/ap90 are group-constant after the join, so they can sit inside
    // the aggregate expressions directly (no nested agg needed).
    docs.join(broadcast(approx), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        okAt(0.5, col("ap50")).as("ok_p50"),
        okAt(0.9, col("ap90")).as("ok_p90"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash" -> ((s: SparkSession, d: String) => dedupMinhashLsh(s, d)),
    "q_dedup_simhash" -> ((s: SparkSession, d: String) => dedupSimhash(s, d)),
    "q_sketch_heavy" -> ((s: SparkSession, d: String) => heavyHitters(s, d)),
    "q_sketch_hll" -> ((s: SparkSession, d: String) => sketchHllCertify(s, d)),
    "q_sketch_quantile" ->
      ((s: SparkSession, d: String) => sketchQuantileCertify(s, d)),
    "q_sketch_theta" -> (sketchThetaDistinct _))

  /** The MinHash+LSH pipeline (verified candidates) must reproduce exact
    * all-pairs shingle Jaccard at this dataset's similarity split — same
    * oracle as q_dedup_jaccard. The SimHash oracle recomputes the whole
    * pipeline in DuckDB SQL: identical md5-derived token hashes, the 60
    * live bit-votes, sign-packing, 8×8-bit banding, and the Hamming
    * verify — exact, not statistical. */
  val oracles: Map[String, String] = Map(
    "q_sketch_hll" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, COUNT(DISTINCT tok) AS exact_distinct, true AS est_ok
        |FROM toks GROUP BY lang""".stripMargin,
    "q_sketch_quantile" ->
      """SELECT lang, COUNT(*) AS n_docs, true AS ok_p50, true AS ok_p90
        |FROM documents GROUP BY lang""".stripMargin,
    "q_sketch_heavy" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM toks)
        |SELECT tok, COUNT(*) AS cnt
        |FROM toks GROUP BY tok
        |HAVING COUNT(*) > (SELECT n FROM tot) / 200.0""".stripMargin,
    "q_sketch_theta" ->
      s"""WITH toks AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT lang,
         |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
         |  FROM toks)
         |SELECT lang, COUNT(DISTINCT h) AS n_sampled,
         |  COUNT(DISTINCT h) * 16 AS est_distinct
         |FROM h WHERE h < ${1L << 56} GROUP BY lang""".stripMargin,
    "q_dedup_minhash" -> TextQueries.oracles("q_dedup_jaccard"),
    "q_dedup_simhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  list_transform(toks, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
        |  FROM t),
        |sig AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 60), j ->
        |    CASE WHEN list_sum(list_transform(hs,
        |           x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |         THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM h),
        |banded AS (SELECT doc_id, simhash, b.range AS band,
        |    (simhash >> (b.range * 8)) & 255 AS chunk
        |  FROM sig CROSS JOIN range(0, 8) b),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sig_a, b.simhash AS sig_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 7""".stripMargin)
}
