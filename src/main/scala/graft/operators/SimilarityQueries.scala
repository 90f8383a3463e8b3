package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableIO.table

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Scale shape: queries are broadcast (small side), the corpus is scanned
  * once — brute force is O(|corpus| × |queries| × dim) with NO shuffle of
  * the corpus, so it parallelizes perfectly across executors; the LSH
  * variant cuts the per-query candidate set by bucketing on random
  * hyperplane signs, trading recall for compute exactly like an IVF probe.
  *
  * Float discipline: elementwise products of two float32 values are exact
  * in float64 (24+24 < 53 mantissa bits), and both Spark's `aggregate` and
  * DuckDB's `list_sum` fold arrays left-to-right in float64 — giving
  * bit-identical cosines for the oracle compare.
  */
object SimilarityQueries {

  /** In-order float64 dot product of two float-array columns — native
    * Catalyst expression (the HOF form `aggregate(zip_with(...))` runs
    * interpreted per element and was 10-100× slower; results bit-identical). */
  def dotProduct(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.arrayDot(a, b)

  /** Float64 L2 norm of a float-array column (native expression). */
  def l2Norm(a: Column): Column =
    graft.functions.VectorExpressions.arrayL2Norm(a)

  private def corpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .withColumn("norm", l2Norm(col("embedding")))

  /** Brute-force cosine top-k: every query vector against the full corpus,
    * ranked per query with a unique-id tiebreak. */
  def simCosineTopK(s: SparkSession, dir: String, nQueries: Int = 10,
                    k: Int = 5): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        dotProduct(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
  }

  /** LSH-bucketed ANN: sign-bit bucket from `nPlanes` fixed pseudo-random
    * hyperplanes (±1 entries, fixed seed — deterministic across executors),
    * candidates = corpus vectors in the query's bucket OR any bucket one
    * sign-flip away (Hamming-1 multiprobe — near-boundary neighbors land
    * one flipped bit over, so single-probe recall degrades exactly where
    * similarity is highest). Exact cosine top-k within candidates. Scale:
    * candidate fraction ≈ (1+planes)/2^planes of the corpus per query,
    * tunable via planes and probe radius. */
  /** Fixed-seed ±1 hyperplane matrix, shared by the Spark plan AND the
    * generated DuckDB oracle SQL (the planes are emitted as SQL literals,
    * so both engines compute byte-identical buckets). */
  private[graft] def lshPlanes(nPlanes: Int): IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(7)
    IndexedSeq.fill(nPlanes)(IndexedSeq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** The banded sign-signature as a Spark column: element b is band b's
    * bucket (rowsPerBand sign bits packed little-endian). Shared by the
    * batch LSH dedup and the streaming intake screen so both speak the
    * same bucket language as the generated oracles. */
  private[graft] def bandSignature(e: Column, nBands: Int,
                                   rowsPerBand: Int): Column =
    graft.functions.VectorExpressions.bandSignature(e,
      lshPlanes(nBands * rowsPerBand).map(_.map(_.toFloat).toArray).toArray,
      rowsPerBand)

  /** DuckDB CTE fragments for the banded signature: (bucket column list
    * for a `sig` CTE over `c`, the 16-way UNION ALL turning `sig` into
    * (vec_id, band, bucket) rows). Shared by every banded-LSH oracle. */
  private[graft] def lshBandSigSql(nBands: Int, rowsPerBand: Int)
      : (String, String) = {
    val planes = lshPlanes(nBands * rowsPerBand)
    def dotSql(p: IndexedSeq[Double]): String = {
      val lits = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * ($lits)[j]))"
    }
    val bucketCols = (0 until nBands).map { b =>
      val expr = (0 until rowsPerBand).map { r =>
        s"(CASE WHEN ${dotSql(planes(b * rowsPerBand + r))} >= 0 THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
      s"($expr) AS b$b"
    }.mkString(",\n    ")
    val unioned = (0 until nBands)
      .map(b => s"SELECT vec_id, $b AS band, b$b AS bucket FROM sig")
      .mkString("\n  UNION ALL\n  ")
    (bucketCols, unioned)
  }

  def simLshTopK(s: SparkSession, dir: String, nPlanes: Int = 4,
                 nQueries: Int = 10, k: Int = 5): DataFrame = {
    val planes = lshPlanes(nPlanes)
    def bucketOf(e: Column): Column =
      planes.zipWithIndex.map { case (p, i) =>
        val dot = aggregate(
          zip_with(e, array(p.map(lit): _*), (x, w) => x.cast(DoubleType) * w),
          lit(0.0), (acc, v) => acc + v)
        when(dot >= 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)

    val c = corpus(s, dir).withColumn("bucket", bucketOf(col("embedding")))
    val probes = (0 until nPlanes).map(i => col("q_bucket0").bitwiseXOR(1 << i))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("bucket").as("q_bucket0"))
      .withColumn("q_bucket", explode(array((col("q_bucket0") +: probes): _*)))
    val scored = c.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        dotProduct(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
  }

  /** IVF-style ANN (the other scale path the sweep calls for, next to LSH):
    * a deterministic coarse quantizer — the first `nCells` corpus vectors
    * act as cell seeds — assigns every vector to its highest-cosine cell;
    * a query probes its `nProbe` nearest cells and exact-cosine re-ranks
    * only those inverted lists. Candidate fraction ≈ nProbe/nCells of the
    * corpus per query (data-dependent, unlike LSH's fixed 2^-planes).
    *
    * Scale shape: the codebook is COLLECTED to the driver (nCells rows —
    * IVF's coarse quantizer is a driver-held artifact everywhere, exactly
    * like the bucketed-table manifest) and inlined as float literals, so
    * cell assignment is a pure codegen'd projection over one corpus scan —
    * no shuffle, no per-row join against the seed table. A production
    * variant would train the codebook with k-means; a deterministic seed
    * pick keeps the gate exactly replayable (float means over distributed
    * partial sums are order-dependent, so a trained codebook could not be
    * hash-checked cross-engine).
    *
    * Tie discipline: cells rank by (score DESC, seed_id ASC) on both
    * engines — the packed struct sorts (score, -seed_id) ascending and is
    * reversed. */
  def simIvfTopK(s: SparkSession, dir: String, nCells: Int = 16,
                 nProbe: Int = 2, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val c = corpus(s, dir)
    val seeds: Seq[(Int, Seq[Float], Double)] = c.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast(IntegerType), col("embedding"), col("norm"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)
    // Per-vector array of struct(score, -seed_id), best cell first.
    def rankedCells(e: Column, n: Column): Column =
      reverse(array_sort(array(seeds.map { case (id, emb, snorm) =>
        struct(
          (dotProduct(e, array(emb.map(lit): _*)) / (n * lit(snorm))).as("s"),
          lit(-id).as("negid"))
      }: _*)))

    val assigned = c.withColumn("cell",
      -rankedCells(col("embedding"), col("norm")).getItem(0).getField("negid"))
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        explode(slice(transform(rankedCells(col("embedding"), col("norm")),
          x => -x.getField("negid")), 1, nProbe)).as("q_cell"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        dotProduct(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
  }

  /** PRODUCT-QUANTIZATION top-k (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) — the billion-vector ANN scale
    * path: vectors compress to m sub-space code IDs (here 4×16-dim
    * sub-spaces, 16 codes each → 4 bytes/vector vs 256), queries scan the
    * CODES via asymmetric-distance lookup tables (ADC), and only an
    * adc-shortlist is reranked with exact cosine on the full vectors.
    *
    * The codebook is deterministic — the first `nCodes` corpus vectors'
    * sub-vectors (the same seeded-codebook contract as [[simIvfTopK]];
    * [[Clustering]] owns real Lloyd training, this gate pins the
    * encode/ADC/rerank machinery). Driver state = nCodes vectors, the
    * standard driver-held-quantizer contract. Sub-space distances expand
    * as ‖e‖² − 2·e·c + ‖c‖² with in-order float64 dots, so the DuckDB
    * oracle reproduces every distance bit-for-bit and the gate is
    * hash-exact, not statistical.
    *
    * At 100 TB: the corpus scan moves m bytes/vector (the codes) instead
    * of 4·dim; each query's ADC table is m×nCodes doubles broadcast with
    * the query; exact vectors are touched only for the shortlist — the
    * read amplification drops from corpus-wide to shortlist-wide. */
  def simPqTopK(s: SparkSession, dir: String, m: Int = 4, nCodes: Int = 16,
                nQueries: Int = 10, k: Int = 5, shortlist: Int = 15): DataFrame = {
    val c = corpus(s, dir)
    val dim = 64
    require(dim % m == 0, s"simPqTopK: $m sub-spaces must divide dim $dim")
    val subDim = dim / m
    val codebook: Seq[(Int, Seq[Float])] = c.filter(col("vec_id") < nCodes)
      .select(col("vec_id").cast(IntegerType), col("embedding"))
      .collect().toSeq.map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    def codeSub(code: Seq[Float], j: Int): Seq[Float] =
      code.slice(j * subDim, (j + 1) * subDim)
    // ‖c_sub‖² folded driver-side left-to-right in float64 — the same
    // order DuckDB's list_sum and the executor-side dots use.
    def selfDot(xs: Seq[Float]): Double =
      xs.foldLeft(0.0)((acc, f) => acc + f.toDouble * f.toDouble)
    // ‖e_sub‖² − 2·(e_sub·c_sub) + ‖c_sub‖², parenthesized exactly as the
    // oracle writes it.
    def dist2(eSub: Column, eSelf: Column, code: Seq[Float], j: Int): Column = {
      val cs = codeSub(code, j)
      (eSelf - lit(2.0) * dotProduct(eSub, array(cs.map(lit): _*))) +
        lit(selfDot(cs))
    }
    def eSub(j: Int): Column = slice(col("embedding"), j * subDim + 1, subDim)

    // corpus encoding: per sub-space, the argmin code (tie → smallest id)
    val encoded = (0 until m).foldLeft(c) { (df, j) =>
      val es = eSub(j)
      val self = dotProduct(es, es)
      df.withColumn(s"code_$j",
        array_sort(array(codebook.map { case (id, code) =>
          struct(dist2(es, self, code, j).as("d"), lit(id).as("code"))
        }: _*)).getItem(0).getField("code"))
    }
    // query ADC tables: per sub-space, the 16 code distances in id order
    val queries = (0 until m).foldLeft(
        c.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("embedding"),
            col("norm").as("q_norm"))) { (df, j) =>
      val es = eSub(j)
      val self = dotProduct(es, es)
      df.withColumn(s"qd_$j",
        array(codebook.map { case (_, code) => dist2(es, self, code, j) }: _*))
    }.withColumnRenamed("embedding", "q_emb")
    val adc = (0 until m).map(j =>
        element_at(col(s"qd_$j"), col(s"code_$j").cast(IntegerType) + 1))
      .reduce(_ + _)
    val scored = encoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", adc)
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    scored.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .withColumn("cos_sim",
        dotProduct(col("q_emb"), col("embedding")) /
          (col("q_norm") * col("norm")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos_sim"))
  }

  /** Embedding-cosine near-duplicate pairs: ALL pairs above a cosine
    * threshold — exact semantics, distributed plan.
    *
    * Why not LSH candidates + verify: this dataset (and any threshold-dedup
    * over a continuous similarity distribution) has NO similarity gap at
    * the cut — measured at sf0.01/0.1, the closest pair below the 0.35
    * threshold sits at cos 0.34997 and the closest above at 0.35004, and a
    * pair at cos 0.35 disagrees with each random hyperplane w.p. ≈ 0.39,
    * so every banding scheme drops some qualifying pairs. Exact all-pairs
    * cosine over dense vectors is inherently O(n²) compute; the job of the
    * plan is to DISTRIBUTE that compute, not to fake it away.
    *
    * Shape: triangle blocking (the 1-bucket-theta join of Okcan &
    * Riedewald, SIGMOD'11). Each vector lands in block g = hash(id) mod B
    * and is replicated ≤ B+1 times across the B(B+1)/2 unordered block
    * pairs, which become balanced reduce groups of a shuffled EQUI-join on
    * (lo, hi). No BroadcastNestedLoop/Cartesian: replication factor
    * B ≈ √(2·parallelism), shuffle volume ~n(B+1) rows — negligible next
    * to the n²/2 comparisons it spreads evenly across the cluster.
    *
    * OPT-IN exact path: this is the certification/ground-truth contract
    * for corpora where n² compute is affordable (≲10⁷ vectors). The
    * DEFAULT dedup contract at scale is [[dedupEmbeddingLsh]] — banded
    * LSH candidates + exact verify, recall certified against this result
    * by [[dedupEmbRecall]].
    *
    * `nBlocks` ≤ 0 (the default) derives B = max(8, ⌈√(2·parallelism)⌉) so
    * the B(B+1)/2 reduce groups keep every core busy at any cluster size
    * (1000 executors × 4 cores → B = 90 → 4095 groups); blocking is
    * output-invariant, so the choice never shows in results. */
  def dedupEmbedding(s: SparkSession, dir: String, threshold: Double = 0.35,
                     nBlocks: Int = 0): DataFrame = {
    val b = if (nBlocks > 0) nBlocks
      else math.max(8,
        math.ceil(math.sqrt(2.0 * s.sparkContext.defaultParallelism)).toInt)
    val c = corpus(s, dir)
      .withColumn("g", pmod(hash(col("vec_id")), lit(b)))
    // Block g plays the LEFT role for block pairs (g, j≥g) and the RIGHT
    // role for (i≤g, g): every unordered block pair meets in exactly one
    // reduce group, and within the diagonal groups (lo==hi) the id order
    // residual keeps each pair once. Off-diagonal pairs meet exactly once
    // by construction (a vector's left keys all have lo=g, right keys all
    // have hi=g), so ids are re-sorted on output instead of filtered.
    val l = c.withColumn("j", explode(sequence(col("g"), lit(b - 1))))
      .select(col("g").as("lo"), col("j").as("hi"), col("vec_id").as("id_l"),
        col("embedding").as("e_l"), col("norm").as("n_l"))
    val r = c.withColumn("i", explode(sequence(lit(0), col("g"))))
      .select(col("i").as("lo_r"), col("g").as("hi_r"), col("vec_id").as("id_r"),
        col("embedding").as("e_r"), col("norm").as("n_r"))
    l.join(r,
        col("lo") === col("lo_r") && col("hi") === col("hi_r") &&
          (col("lo") =!= col("hi") || col("id_l") < col("id_r")))
      .withColumn("cos_sim",
        dotProduct(col("e_l"), col("e_r")) / (col("n_l") * col("n_r")))
      .filter(col("cos_sim") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("cos_sim"))
  }

  /** DEFAULT embedding near-dup contract at scale: banded sign-LSH
    * candidate generation + EXACT cosine verification. Every emitted pair
    * truly clears the threshold (verification is exact, so there are NO
    * false positives and the output is a subset of [[dedupEmbedding]]);
    * what is approximate is recall — a qualifying pair is found only if it
    * collides in at least one band. With `nBands` b and `rowsPerBand` r,
    * a pair at cosine exactly the 0.35 threshold agrees with a random
    * ±1 hyperplane w.p. 1 − acos(0.35)/π ≈ 0.61, so band-collision
    * probability is 0.61^r ≈ 0.14 and overall recall at the cut is
    * 1 − (1 − 0.14)^b ≈ 0.91 — rising steeply above the threshold (the
    * near-identical pairs dedup actually cares about collide in nearly
    * every band). [[dedupEmbRecall]] MEASURES that recall against the
    * exact all-pairs result and pins it in an oracle gate, so a banding
    * regression moves a number instead of silently dropping pairs.
    *
    * Scale shape (why this is the 100 TB default and exact all-pairs is
    * opt-in): the signature pass is one codegen'd projection (b·r plane
    * dots/vector); the band join shuffles only n·b (band, bucket, id)
    * rows — no embeddings; candidate dedup + the two verify joins touch
    * candidate pairs only. Total compute ∝ candidates, not n²/2 — at 10⁹
    * vectors that is the difference between feasible and not. */
  def dedupEmbeddingLsh(s: SparkSession, dir: String, threshold: Double = 0.35,
                        nBands: Int = 16, rowsPerBand: Int = 4,
                        candFilter: Option[Column] = None): DataFrame = {
    val c = corpus(s, dir)
    // ±1 planes ride as FLOAT literals inside bandSignature: arrayDot
    // takes two float arrays; ±1.0f is exact, so the float64 accumulation
    // matches the oracle's.
    val sig = bandSignature(col("embedding"), nBands, rowsPerBand)
    val banded = c.select(col("vec_id"), posexplode(sig).as(Seq("band", "bucket")))
    cosineVerified(c, BandJoin.self(banded, Seq("band", "bucket"),
      col("a.vec_id") < col("b.vec_id")), threshold, candFilter)
  }

  /** Exact cosine verify of a [[BandJoin.self]] candidate join over the
    * corpus `c`: distinct (id_a, id_b) pairs, then both endpoints'
    * embeddings. An id-level candidate restriction (e.g. the recall
    * gate's sample slice) commutes with exact verification — applying it
    * BEFORE the verify joins cuts their work to the slice's share. */
  private def cosineVerified(c: DataFrame, cand: DataFrame,
                             threshold: Double,
                             candFilter: Option[Column]): DataFrame = {
    val pairs = cand
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    BandJoin.withEndpoints(candFilter.fold(pairs)(pairs.filter),
        c.select("vec_id", "embedding", "norm"), "vec_id", ("id_a", "id_b"))
      .withColumn("cos_sim", dotProduct(col("embedding_a"),
        col("embedding_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** IVF-CELL-BLOCKED near-dup (the SemDeDup shape — Abbas et al. 2023
    * prune within semantic clusters): candidates are pairs sharing a
    * coarse-quantizer cell (the deterministic seeded assignment
    * [[simIvfTopK]] uses), exact-verified. Same zero-false-positive
    * contract as the LSH path with a different candidate geometry:
    * cluster-shaped candidate sets (cheap when the corpus is clustered,
    * which curated corpora are) vs the LSH path's threshold-shaped ones;
    * recall for both is measured against exact by [[dedupEmbRecall]].
    * Scale: assignment is one codegen'd projection (driver-held seed
    * codebook, the standard IVF contract); the self-join shuffles on the
    * cell id — compute ∝ Σ|cell|²/2, the SemDeDup economics. */
  def dedupEmbeddingIvf(s: SparkSession, dir: String, threshold: Double = 0.35,
                        nCells: Int = 16, nProbe: Int = 3,
                        candFilter: Option[Column] = None): DataFrame = {
    val c = corpus(s, dir)
    val seeds: Seq[(Int, Seq[Float], Double)] = c.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast(IntegerType), col("embedding"), col("norm"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)
    // top-nProbe cells per vector (multi-probe blocking: a boundary pair
    // split by the quantizer still meets if ANY probe cell is shared) —
    // same ranked-cells tie discipline as simIvfTopK.
    def probeCells(e: Column, n: Column): Column =
      slice(transform(
        reverse(array_sort(array(seeds.map { case (id, emb, snorm) =>
          struct(
            (dotProduct(e, array(emb.map(lit): _*)) / (n * lit(snorm))).as("s"),
            lit(-id).as("negid"))
        }: _*))), x => -x.getField("negid")), 1, nProbe)
    val probed = c.select(col("vec_id"),
        explode(probeCells(col("embedding"), col("norm"))).as("cell"))
    cosineVerified(c, BandJoin.self(probed, Seq("cell"),
      col("a.vec_id") < col("b.vec_id")), threshold, candFilter)
  }

  /** Exact near-dup pairs restricted to a deterministic QUERY SAMPLE:
    * every pair with at least one endpoint in {vec_id % sampleMod == 0},
    * computed as broadcast(sample) × one corpus scan — n·(n/m) exact
    * comparisons instead of n²/2. The modulus spreads the sample across
    * the whole id space (no locality bias a prefix sample would have),
    * and both-sampled pairs dedup through the (least, greatest) keys.
    * This is the at-scale certification recipe: ground truth stays EXACT
    * per sampled query, only the number of queries shrinks — at 10⁹
    * vectors a 10⁻⁴ sample still certifies recall on ~10⁵ queries while
    * full all-pairs ground truth is simply unrunnable. */
  def dedupEmbeddingExactSampled(s: SparkSession, dir: String,
                                 threshold: Double = 0.35,
                                 sampleMod: Int = 8): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    // Each pair materializes exactly once by construction — a both-sampled
    // pair is emitted only from its lower-id query — so no distinct/shuffle
    // is needed on the n·(n/m) verify output.
    c.join(broadcast(q),
        col("vec_id") =!= col("q_id") &&
          (pmod(col("vec_id"), lit(sampleMod)) =!= 0 ||
            col("q_id") < col("vec_id")))
      .withColumn("cos_sim",
        dotProduct(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
      .filter(col("cos_sim") >= threshold)
      .select(least(col("q_id"), col("vec_id")).as("id_a"),
        greatest(col("q_id"), col("vec_id")).as("id_b"), col("cos_sim"))
  }

  /** Certification gate for the approximate dedup methods: each
    * exact-verifies its candidates, so its output is a strict subset of
    * the exact all-pairs result and recall is simply n_approx / n_exact —
    * a deterministic fraction both engines recompute identically. The
    * gate hash-pins one row per method: any banding/quantizer change
    * that degrades recall breaks the hash instead of silently shrinking
    * the dedup set.
    *
    * Recall is measured on the [[dedupEmbeddingExactSampled]] slice
    * (pairs with ≥1 endpoint in the deterministic vec_id sample): the
    * exact leg — the gate's only O(n²) component — shrinks by the sample
    * factor while the certified quantity keeps the same meaning, and the
    * approximate sides restrict to the same slice so the ratio compares
    * like with like. Full-corpus exact pairs remain their own gate
    * (q_dedup_embedding); this gate certifies the APPROXIMATION, which
    * a sample does at any corpus size. */
  def dedupEmbRecall(s: SparkSession, dir: String,
                     sampleMod: Int = 8): DataFrame = {
    val inSample =
      pmod(col("id_a"), lit(sampleMod)) === 0 ||
        pmod(col("id_b"), lit(sampleMod)) === 0
    val nExact = dedupEmbeddingExactSampled(s, dir, sampleMod = sampleMod)
      .agg(count(lit(1)).as("n_exact"))
    def row(method: String, approx: DataFrame): DataFrame =
      nExact.crossJoin(approx.agg(count(lit(1)).as("n_approx"))).select(
        lit(method).as("method"), col("n_exact"), col("n_approx"),
        (col("n_approx").cast(DoubleType) / col("n_exact").cast(DoubleType))
          .as("recall_vs_exact"))
    // The slice restriction rides INSIDE each approximate pipeline (as a
    // candidate filter ahead of the exact-verify joins) — identical
    // result to filtering the finished pair set, a fraction of the work.
    row("lsh_banded", dedupEmbeddingLsh(s, dir, candFilter = Some(inSample)))
      .unionByName(row("ivf_cell",
        dedupEmbeddingIvf(s, dir, candFilter = Some(inSample))))
  }

  /** kNN label vote: predict each query vector's label from the majority
    * label of its k nearest corpus neighbors (cosine; smallest-label
    * tiebreak) — the standard embedding-quality eval for a labeled slice
    * of the corpus, and the relabeling step semi-supervised pipelines run
    * over unlabeled data. Same scale shape as [[simCosineTopK]]: queries
    * broadcast, corpus scanned once, then two tiny per-query aggregations
    * (≤ k vote rows per query). */
  def simKnnLabel(s: SparkSession, dir: String, nQueries: Int = 50,
                  k: Int = 5): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("label").as("true_label"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        dotProduct(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val votes = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(vw)).filter(col("vr") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
        col("n_votes"), col("true_label"),
        (col("label") === col("true_label")).as("agree"))
  }

  /** Cross-modal corpus report: text-quality statistics per embedding
    * label (documents and embeddings align on id) — the check that a
    * semantic cluster isn't dominated by low-quality text before it is
    * up-sampled. One id equi-join (AQE broadcasts the smaller side) and a
    * 10-row aggregation; means come from exact integer sums with a single
    * final division, so both engines agree bitwise. */
  def embLabelQuality(s: SparkSession, dir: String): DataFrame = {
    val quality = graft.operators.TextQueries.txtQuality(s, dir)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    val labels = table(s, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"))
    quality.join(labels, "doc_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality_score")).as("sum_quality"),
        sum(col("n_tokens")).as("sum_tokens"))
      .select(col("label"), col("n_docs"),
        col("sum_quality"), col("sum_tokens"),
        (col("sum_quality").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("mean_quality"),
        (col("sum_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("mean_tokens"))
  }

  /** ANN recall gate: overlap@k of the LSH and IVF approximate top-k
    * against the brute-force cosine ground truth — the one quality
    * dimension the exact-replay oracles cannot see (they encode the same
    * bucketing on both sides, so a probe/banding regression that silently
    * drops true neighbors would still hash-match). Recall here is a
    * DETERMINISTIC fraction (every input query is deterministic), so the
    * oracle recomputes the same overlap and the gate hash-checks it; a
    * bucketing change that degrades recall now moves a measured number.
    * Cost: three broadcast-query scans + two tiny joins over ≤ n·k rows. */
  def simRecall(s: SparkSession, dir: String, nQueries: Int = 10,
                k: Int = 5): DataFrame = {
    val exact = simCosineTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    def overlap(method: String, approx: DataFrame): DataFrame =
      approx.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / lit((nQueries * k).toDouble))
            .as("recall_at_k"))
    overlap("ivf", simIvfTopK(s, dir))
      .unionByName(overlap("lsh", simLshTopK(s, dir)))
      .unionByName(overlap("pq", simPqTopK(s, dir)))
  }

  /** q_emb_outliers: embedding-space QUALITY screen — per label class,
    * flag vectors whose L2 norm sits more than `k`·MAD from the class
    * median: truncated/zero-padded embeddings, un-normalized strays, or
    * encoder failures all surface as norm outliers before they poison
    * ANN search or SemDeDup thresholds (cosine hides magnitude, so no
    * similarity gate catches these). Same exact-rank median/MAD idiom
    * as q_events_anomaly, applied to doubles: rank SELECTION returns an
    * existing norm value (no interpolation), the norm itself is the
    * in-order float64 fold + IEEE sqrt (bit-portable — the file-header
    * contract every embedding oracle here relies on), and the flag is
    * one multiply+compare, so both engines agree bit-for-bit. Scale
    * shape: norms scan-side (native expression), then the label-keyed
    * windows share ONE bounded exchange (rows = vectors, keyed by a
    * bounded class set — the event_type discipline). */
  def embNormOutliers(s: SparkSession, dir: String, k: Double = 3.0): DataFrame = {
    val byLabel = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), l2Norm(col("embedding")).as("norm"))
      .withColumn("rn", row_number().over(
        byLabel.orderBy(col("norm"), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(byLabel))
      .withColumn("median_norm",
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("norm")))
          .over(byLabel))
      .withColumn("adev", abs(col("norm") - col("median_norm")))
      .withColumn("rn2", row_number().over(
        byLabel.orderBy(col("adev"), col("vec_id"))))
      .withColumn("mad_norm",
        max(when(col("rn2") === expr("(cnt + 1) div 2"), col("adev")))
          .over(byLabel))
      .withColumn("is_outlier", col("adev") > lit(k) * col("mad_norm"))
      .select("vec_id", "label", "norm", "median_norm", "mad_norm", "is_outlier")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_emb_outliers" -> ((s: SparkSession, d: String) => embNormOutliers(s, d)),
    "q_sim_recall" -> ((s: SparkSession, d: String) => simRecall(s, d)),
    "q_emb_label_quality" -> (embLabelQuality _),
    "q_sim_knn_label" -> ((s: SparkSession, d: String) => simKnnLabel(s, d)),
    "q_sim_cosine_topk" -> ((s: SparkSession, d: String) => simCosineTopK(s, d)),
    "q_sim_lsh_topk" -> ((s: SparkSession, d: String) => simLshTopK(s, d)),
    "q_sim_ivf_topk" -> ((s: SparkSession, d: String) => simIvfTopK(s, d)),
    "q_sim_pq_topk" -> ((s: SparkSession, d: String) => simPqTopK(s, d)),
    "q_dedup_embedding" -> ((s: SparkSession, d: String) => dedupEmbedding(s, d)),
    "q_dedup_embedding_lsh" -> ((s: SparkSession, d: String) => dedupEmbeddingLsh(s, d)),
    "q_dedup_embedding_ivf" -> ((s: SparkSession, d: String) => dedupEmbeddingIvf(s, d)),
    "q_dedup_emb_recall" -> ((s: SparkSession, d: String) => dedupEmbRecall(s, d)))

  /** DuckDB SQL replicating simIvfTopK: the oracle re-derives the seed
    * codebook from the data (the Spark side inlines the SAME values as
    * float literals — Spark lit() is exact and both engines fold the dot/
    * norm sums left-to-right in float64, so scores are bit-identical). */
  private def ivfTopKOracle(nCells: Int, nProbe: Int, nQueries: Int,
                            k: Int): String =
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |seeds AS (SELECT vec_id AS seed_id, embedding AS s_emb, norm AS s_norm
       |          FROM c WHERE vec_id < $nCells),
       |pr AS (
       |  SELECT c.vec_id, seeds.seed_id,
       |    list_sum(list_transform(range(1, 65),
       |      j -> CAST(c.embedding[j] AS DOUBLE) * CAST(seeds.s_emb[j] AS DOUBLE)))
       |      / (c.norm * seeds.s_norm) AS score
       |  FROM c CROSS JOIN seeds),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY score DESC, seed_id ASC) AS rn FROM pr),
       |assigned AS (
       |  SELECT c.vec_id, c.embedding, c.norm, rk.seed_id AS cell
       |  FROM c JOIN rk ON c.vec_id = rk.vec_id AND rk.rn = 1),
       |probes AS (SELECT vec_id AS query_id, seed_id AS q_cell
       |           FROM rk WHERE vec_id < $nQueries AND rn <= $nProbe),
       |qv AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |       FROM c WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      j -> CAST(qv.q_emb[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)))
       |      / (qv.q_norm * a.norm) AS cos_sim
       |  FROM assigned a
       |  JOIN probes p ON a.cell = p.q_cell AND a.vec_id <> p.query_id
       |  JOIN qv ON qv.query_id = p.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_sim
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** DuckDB SQL replicating simLshTopK exactly: the seeded plane matrix is
    * inlined as ±1.0 literals, sign-bit buckets and Hamming-1 probes are
    * recomputed in SQL, and the exact cosine re-rank matches the float64
    * in-order accumulation both engines share. */
  private def lshTopKOracle(nPlanes: Int, nQueries: Int, k: Int): String = {
    val planes = lshPlanes(nPlanes)
    def dotSql(p: IndexedSeq[Double]): String = {
      val lits = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * ($lits)[j]))"
    }
    val bucketSql = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(p)} >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")
    val probesSql = ("b0" +: (0 until nPlanes).map(i => s"xor(b0, ${1 << i})"))
      .mkString("[", ", ", "]")
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))) AS norm,
       |    ($bucketSql) AS bucket
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
       |        bucket AS b0
       |      FROM c WHERE vec_id < $nQueries),
       |p AS (SELECT query_id, q_emb, q_norm, unnest($probesSql) AS q_bucket FROM q),
       |scored AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      j -> CAST(p.q_emb[j] AS DOUBLE) * CAST(c.embedding[j] AS DOUBLE)))
       |      / (p.q_norm * c.norm) AS cos_sim
       |  FROM c JOIN p ON c.bucket = p.q_bucket AND c.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_sim
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  private def cosineTopKOracle(nQueries: Int, k: Int): String =
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
       |      FROM c WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |      / (q.q_norm * c.norm) AS cos_sim
       |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_sim
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** Oracle for [[simRecall]]: the three top-k oracles composed as derived
    * tables, overlap counted per method. */
  /** DuckDB SQL replicating simPqTopK bit-for-bit: codebook from the
    * data, sub-space distances expanded as (‖e‖² − 2·e·c) + ‖c‖² with the
    * same in-order float64 sums, argmin encode with the same (d2, code)
    * tie-break, left-associated ADC sum over the 4 sub-spaces, and the
    * exact-cosine rerank of the adc-shortlist. */
  private def pqTopKOracle(m: Int, subDim: Int, nCodes: Int, nQueries: Int,
                           k: Int, shortlist: Int): String = {
    def sumSq(arr: String) =
      s"list_sum(list_transform(range($subDim*t.j+1, $subDim*t.j+${subDim + 1}), " +
        s"x -> CAST($arr[x] AS DOUBLE) * CAST($arr[x] AS DOUBLE)))"
    val dotEC =
      s"list_sum(list_transform(range($subDim*t.j+1, $subDim*t.j+${subDim + 1}), " +
        "x -> CAST(c.embedding[x] AS DOUBLE) * CAST(cb.cb_emb[x] AS DOUBLE)))"
    val adcSum = (0 until m).map(j => s"MAX(CASE WHEN e.j = $j THEN qd.d2 END)")
      .mkString("(", " + ", ")")
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      x -> CAST(embedding[x] AS DOUBLE) * CAST(embedding[x] AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code_id, embedding AS cb_emb
       |       FROM c WHERE vec_id < $nCodes),
       |d AS (
       |  SELECT c.vec_id, t.j, cb.code_id,
       |    (${sumSq("c.embedding")}
       |     - 2.0 * $dotEC)
       |     + ${sumSq("cb.cb_emb")} AS d2
       |  FROM c CROSS JOIN (SELECT unnest(range(0, $m)) AS j) t CROSS JOIN cb),
       |enc AS (
       |  SELECT vec_id, j, code_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY d2 ASC, code_id ASC) AS rn FROM d)
       |  WHERE rn = 1),
       |adc AS (
       |  SELECT qd.vec_id AS query_id, e.vec_id AS neighbor_id, $adcSum AS adc
       |  FROM enc e
       |  JOIN d qd ON qd.vec_id < $nQueries AND qd.vec_id <> e.vec_id
       |    AND qd.j = e.j AND qd.code_id = e.code_id
       |  GROUP BY qd.vec_id, e.vec_id),
       |short AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc ASC, neighbor_id ASC) AS srank FROM adc),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      x -> CAST(qc.embedding[x] AS DOUBLE) * CAST(nc.embedding[x] AS DOUBLE)))
       |      / (qc.norm * nc.norm) AS cos_sim
       |  FROM short s
       |  JOIN c qc ON qc.vec_id = s.query_id
       |  JOIN c nc ON nc.vec_id = s.neighbor_id
       |  WHERE s.srank <= $shortlist),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM rer)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_sim
       |FROM ranked WHERE rank <= $k""".stripMargin
  }

  private def recallOracle(nQueries: Int, k: Int): String =
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKOracle(nQueries, k)})),
       |lsh AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${lshTopKOracle(nPlanes = 4, nQueries = nQueries, k = k)})),
       |ivf AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${ivfTopKOracle(nCells = 16, nProbe = 2, nQueries = nQueries, k = k)})),
       |pq AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${pqTopKOracle(m = 4, subDim = 16, nCodes = 16,
                               nQueries = nQueries, k = k, shortlist = 15)})),
       |h AS (
       |  SELECT 'ivf' AS method, COUNT(*) AS n_hits
       |  FROM ivf JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh' AS method, COUNT(*) AS n_hits
       |  FROM lsh JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'pq' AS method, COUNT(*) AS n_hits
       |  FROM pq JOIN exact USING (query_id, neighbor_id))
       |SELECT method, n_hits,
       |  CAST(n_hits AS DOUBLE) / ${(nQueries * k).toDouble} AS recall_at_k
       |FROM h""".stripMargin

  val oracles: Map[String, String] = Map(
    // Exact-rank median/MAD over the bit-portable float64 norm fold —
    // selection (not interpolation), so every emitted double is a value
    // both engines computed identically.
    "q_emb_outliers" ->
      """WITH n AS (SELECT vec_id, label,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |r1 AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY norm, vec_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY label) AS cnt FROM n),
        |m1 AS (SELECT *,
        |    MAX(CASE WHEN rn = (cnt + 1) // 2 THEN norm END)
        |      OVER (PARTITION BY label) AS median_norm FROM r1),
        |a1 AS (SELECT *, ABS(norm - median_norm) AS adev FROM m1),
        |r2 AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY adev, vec_id) AS rn2
        |  FROM a1),
        |m2 AS (SELECT *,
        |    MAX(CASE WHEN rn2 = (cnt + 1) // 2 THEN adev END)
        |      OVER (PARTITION BY label) AS mad_norm FROM r2)
        |SELECT vec_id, label, norm, median_norm, mad_norm,
        |  (adev > 3 * mad_norm) AS is_outlier
        |FROM m2""".stripMargin,
    "q_emb_label_quality" ->
      s"""WITH ${graft.operators.TextQueries.qualityScoreCtesSql},
         |a AS (
         |  SELECT e.label, COUNT(*) AS n_docs,
         |    CAST(SUM(q.quality_score) AS BIGINT) AS sum_quality,
         |    CAST(SUM(q.n_tokens) AS BIGINT) AS sum_tokens
         |  FROM q JOIN embeddings e ON q.doc_id = e.vec_id
         |  GROUP BY e.label)
         |SELECT label, n_docs, sum_quality, sum_tokens,
         |  CAST(sum_quality AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_quality,
         |  CAST(sum_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens
         |FROM a""".stripMargin,
    "q_sim_knn_label" ->
      """WITH c AS (
        |  SELECT vec_id, embedding, label,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
        |        label AS true_label
        |      FROM c WHERE vec_id < 50),
        |scored AS (
        |  SELECT q.query_id, q.true_label, c.vec_id AS neighbor_id, c.label,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |      / (q.q_norm * c.norm) AS cos_sim
        |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM scored),
        |votes AS (
        |  SELECT query_id, true_label, label, COUNT(*) AS n_votes
        |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2, 3),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY n_votes DESC, label ASC) AS vr
        |  FROM votes)
        |SELECT query_id, label AS predicted_label, n_votes, true_label,
        |  (label = true_label) AS agree
        |FROM best WHERE vr = 1""".stripMargin,
    "q_sim_lsh_topk" -> lshTopKOracle(nPlanes = 4, nQueries = 10, k = 5),
    "q_sim_ivf_topk" -> ivfTopKOracle(nCells = 16, nProbe = 2, nQueries = 10, k = 5),
    "q_sim_pq_topk" -> pqTopKOracle(m = 4, subDim = 16, nCodes = 16,
      nQueries = 10, k = 5, shortlist = 15),
    "q_sim_recall" -> recallOracle(nQueries = 10, k = 5),
    "q_sim_cosine_topk" -> cosineTopKOracle(nQueries = 10, k = 5),
    "q_dedup_embedding" -> dedupEmbeddingExactOracle,
    "q_dedup_embedding_lsh" ->
      dedupEmbeddingLshOracle(threshold = 0.35, nBands = 16, rowsPerBand = 4),
    "q_dedup_embedding_ivf" ->
      dedupEmbeddingIvfOracle(threshold = 0.35, nCells = 16, nProbe = 3),
    // Recall certified on the deterministic vec_id % 8 query sample:
    // exact ground truth = broadcast(sample) × corpus (one-endpoint
    // pairs, (least, greatest) dedup); approximate sides restrict to the
    // same slice. Mirrors dedupEmbeddingExactSampled/dedupEmbRecall.
    "q_dedup_emb_recall" ->
      s"""WITH cs AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
         |  FROM embeddings),
         |exact AS (
         |  SELECT DISTINCT least(q.vec_id, e.vec_id) AS id_a,
         |         greatest(q.vec_id, e.vec_id) AS id_b
         |  FROM cs q JOIN cs e
         |    ON q.vec_id % 8 = 0 AND e.vec_id <> q.vec_id
         |  WHERE list_sum(list_transform(range(1, 65),
         |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
         |      / (q.norm * e.norm) >= 0.35),
         |lshp AS (SELECT id_a, id_b FROM (${dedupEmbeddingLshOracle(
               threshold = 0.35, nBands = 16, rowsPerBand = 4)})
         |  WHERE id_a % 8 = 0 OR id_b % 8 = 0),
         |ivfp AS (SELECT id_a, id_b FROM (${dedupEmbeddingIvfOracle(
               threshold = 0.35, nCells = 16, nProbe = 3)})
         |  WHERE id_a % 8 = 0 OR id_b % 8 = 0)
         |SELECT 'lsh_banded' AS method,
         |  CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
         |  CAST((SELECT COUNT(*) FROM lshp) AS BIGINT) AS n_approx,
         |  CAST((SELECT COUNT(*) FROM lshp) AS DOUBLE)
         |    / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE) AS recall_vs_exact
         |UNION ALL
         |SELECT 'ivf_cell',
         |  CAST((SELECT COUNT(*) FROM exact) AS BIGINT),
         |  CAST((SELECT COUNT(*) FROM ivfp) AS BIGINT),
         |  CAST((SELECT COUNT(*) FROM ivfp) AS DOUBLE)
         |    / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)""".stripMargin)

  /** DuckDB SQL replicating [[dedupEmbeddingIvf]]: the same seeded-cell
    * assignment as the IVF top-k oracle (score DESC, seed_id ASC), same-
    * cell candidate pairs, exact cosine verify. */
  private def dedupEmbeddingIvfOracle(threshold: Double, nCells: Int,
                                      nProbe: Int): String =
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |seeds AS (SELECT vec_id AS seed_id, embedding AS s_emb, norm AS s_norm
       |          FROM c WHERE vec_id < $nCells),
       |pr AS (
       |  SELECT c.vec_id, seeds.seed_id,
       |    list_sum(list_transform(range(1, 65),
       |      j -> CAST(c.embedding[j] AS DOUBLE) * CAST(seeds.s_emb[j] AS DOUBLE)))
       |      / (c.norm * seeds.s_norm) AS score
       |  FROM c CROSS JOIN seeds),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY score DESC, seed_id ASC) AS rn FROM pr),
       |probed AS (SELECT vec_id, seed_id AS cell FROM rk WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM probed a JOIN probed b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT cand.id_a, cand.id_b,
       |  list_sum(list_transform(range(1, 65),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.norm * b.norm) AS cos_sim
       |FROM cand
       |JOIN c a ON a.vec_id = cand.id_a
       |JOIN c b ON b.vec_id = cand.id_b
       |WHERE list_sum(list_transform(range(1, 65),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.norm * b.norm) >= $threshold""".stripMargin

  private def dedupEmbeddingExactOracle: String =
    """WITH c AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(range(1, 65),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (a.norm * b.norm) AS cos_sim
      |FROM c a JOIN c b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(range(1, 65),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (a.norm * b.norm) >= 0.35""".stripMargin

  /** DuckDB SQL replicating [[dedupEmbeddingLsh]] bit-for-bit: the same
    * seeded ±1 planes as SQL literals, per-band sign-bit buckets, band
    * self-join for candidates, DISTINCT pair dedup, exact cosine verify. */
  private def dedupEmbeddingLshOracle(threshold: Double, nBands: Int,
                                      rowsPerBand: Int): String = {
    val (bucketCols, unioned) = lshBandSigSql(nBands, rowsPerBand)
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |sig AS (
       |  SELECT vec_id,
       |    $bucketCols
       |  FROM c),
       |e AS (
       |  $unioned),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
       |  FROM e l JOIN e r ON l.band = r.band AND l.bucket = r.bucket
       |    AND l.vec_id < r.vec_id)
       |SELECT cand.id_a, cand.id_b,
       |  list_sum(list_transform(range(1, 65),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.norm * b.norm) AS cos_sim
       |FROM cand
       |JOIN c a ON a.vec_id = cand.id_a
       |JOIN c b ON b.vec_id = cand.id_b
       |WHERE list_sum(list_transform(range(1, 65),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.norm * b.norm) >= $threshold""".stripMargin
  }
}
