package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO.table

/** Corpus-composition operators for training-data pipelines: deterministic
  * stratified sampling / up-sampling ("data mixing") and benchmark n-gram
  * decontamination. Both are pure scan-side transforms plus one small
  * join — the shapes that survive a 100 TB corpus.
  */
object MixQueries {

  /** Per-stratum mixing rates (shared SQL literals — same rows build the
    * Spark dim and the oracle CTE). rate < 1 down-samples, rate > 1
    * repeats each kept document floor(rate)..ceil(rate) times; strata
    * absent from the table fall back to the default rate. */
  private val mixRatesSql =
    "('en', CAST(0.5 AS DOUBLE)), ('de', CAST(1.0 AS DOUBLE)), " +
      "('fr', CAST(0.25 AS DOUBLE)), ('es', CAST(2.5 AS DOUBLE))"
  private val defaultRateSql = "CAST(0.1 AS DOUBLE)"
  private val mixSalt = "mix1:"

  /** Uniform deterministic draw in [0, 2^32): the first 8 md5 hex chars of
    * (salt || id) as a long — ONE definition of the hash-draw idiom shared
    * by mixing and split assignment, with [[saltedDrawSql]] as its
    * byte-identical DuckDB twin. */
  private[operators] def saltedDraw(salt: String, id: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")
  private[operators] def saltedDrawSql(salt: String, idExpr: String): String =
    s"('0x' || substr(md5('$salt' || CAST($idExpr AS STRING)), 1, 8))::BIGINT"

  /** q_mix_sample: deterministic data mixing by language.
    *
    * The keep/repeat decision is a pure function of the document id:
    * u = first 8 md5 hex chars of (salt || doc_id) mod 1e6 is a uniform
    * deterministic draw, reps = floor(rate) + [u < frac(rate)·1e6]. No
    * RNG state, so the sample is reproducible across retries, executors,
    * and engines — the property that makes corpus recipes auditable. One
    * broadcast join against the rate dim, then a scan-side projection +
    * explode for the repeats: zero shuffles at any corpus size. */
  def mixSample(s: SparkSession, dir: String): DataFrame = {
    val rateDim = s.sql(s"SELECT * FROM VALUES $mixRatesSql AS t(lang, rate)")
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(broadcast(rateDim), Seq("lang"), "left")
      .withColumn("rate", coalesce(col("rate"), expr(defaultRateSql)))
      .withColumn("u", saltedDraw(mixSalt, col("doc_id")) % 1000000L)
      .withColumn("reps", floor(col("rate")).cast("int") +
        when(col("u") < (col("rate") - floor(col("rate"))) * 1000000d, 1)
          .otherwise(0))
      .filter(col("reps") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), col("reps"))).as("copy_idx"))
  }

  /** q_txt_contamination: benchmark decontamination by 8-gram overlap —
    * the held-out-eval hygiene pass every training corpus needs. Documents
    * with doc_id % 20 == 7 stand in for the benchmark set; every corpus
    * document sharing at least one distinct 8-gram with it is reported
    * with its shared-ngram count.
    *
    * N-grams are hashed once to 60-bit ids by the native expression
    * (space-joined tokens, md5-derived — the hash both engines compute
    * byte-identically), so the overlap join moves longs, not strings. One
    * shuffle on the ngram hash; at real scale the benchmark side is tiny
    * and broadcasts, leaving a single corpus scan. */
  def contamination(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val ng = table(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions.wordNgramHashes(
          col("toks"), n, "md5_60", distinct = true)).as("g"))
    val bench = ng.filter(col("doc_id") % 20 === 7).select("g").distinct()
    val corpus = ng.filter(col("doc_id") % 20 =!= 7)
    corpus.join(bench, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  private val splitSalt = "split1:"
  private val shufSalt = "shuf1:"

  /** q_split_assign: deterministic train/validation/test assignment.
    *
    * Each document draws a bucket in [0, 100) from the md5 of a salted
    * doc_id — a pure function of the id, so membership is stable across
    * runs, engines, and corpus growth (adding documents never reassigns
    * existing ones, the property that keeps eval sets frozen). 90/5/5
    * thresholds on the bucket give the splits. Scan-side projection only —
    * zero shuffles at any corpus size. */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("bucket", saltedDraw(splitSalt, col("doc_id")) % 100L)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "validation")
          .otherwise("test"))

  /** q_shuffle_shard: deterministic global shuffle for training order.
    *
    * Documents are ranked by the md5 of a salted doc_id — a reproducible
    * pseudo-random permutation (no RNG state, same order on any cluster) —
    * and dealt into `nShards` shards by hash prefix, with a dense position
    * inside each shard. Downstream writers emit one file sequence per
    * shard and readers interleave shards for training order. One shuffle
    * on the shard key; the within-shard sort is the window's sort, spilled
    * if needed. At 100 TB, size nShards to the target shard file count
    * (shards ≫ cores keeps every executor busy and bounds per-task sort
    * memory) — the global permutation never materializes in one place. */
  def shuffleShard(s: SparkSession, dir: String, nShards: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)
    table(s, dir, "documents")
      .select(col("doc_id"))
      .withColumn("h", md5(concat(lit(shufSalt), col("doc_id").cast("string"))))
      .withColumn("shard",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** q_select_budget: quality-ranked corpus selection under a global token
    * budget — "take the best documents until the budget is spent", the
    * step that turns a scored crawl into a fixed-size training corpus.
    *
    * Documents are ranked by the [[TextQueries.txtQuality]] score (doc_id
    * tiebreak) and kept while the exclusive running token total stays
    * under `budget`. The running total is NOT a single-partition window:
    * it reuses the two-pass distributed prefix sum (range sort + partial
    * sums + broadcast bases — see [[PackQueries.withExclusivePrefixSum]]),
    * so selection parallelizes at any corpus size. */
  def selectBudget(s: SparkSession, dir: String, budget: Long = 10000L): DataFrame = {
    val q = TextQueries.txtQuality(s, dir)
      .select(col("doc_id"), col("quality_score"),
        col("n_tokens").cast("long").as("n_tokens"))
    PackQueries.withExclusivePrefixSum(s, q,
        Seq(col("quality_score").desc, col("doc_id").asc), "n_tokens")
      .filter(col("cum_before") < budget)
  }

  /** Per-domain token budgets for [[mixDomainBudget]]: a deterministic
    * weights table (src_i gets (i mod 4)+1 shares of 400 tokens) shared
    * verbatim with the oracle — the "domain mixture recipe" artifact a
    * training run records. */
  private def domainBudgetsSql: String = (0 until 20)
    .map(i => s"('src$i', ${(i % 4 + 1) * 400L})").mkString(", ")

  /** q_mix_domain_budget: PER-DOMAIN quality-ranked selection under a
    * token-budget mixture — the step that turns "web 50%, books 30%,
    * code 20%" into an actual document list. Within each source, docs are
    * ranked by quality (doc_id tiebreak) and kept while the domain's
    * exclusive running token total stays under that domain's budget.
    *
    * Scale shape: a naive per-domain window puts each domain through ONE
    * reducer — the skew trap when a domain is half the corpus. Instead
    * the GLOBAL two-pass distributed prefix sum runs once, ordered
    * (source, quality desc, doc_id): domains are contiguous in that
    * order, so each domain's exclusive running total is the global
    * `cum_before` minus the domain's base (its minimum `cum_before`,
    * a tiny groupBy broadcast back). Selection stays fully parallel at
    * any corpus/domain size. */
  def mixDomainBudget(s: SparkSession, dir: String): DataFrame = {
    val budgets = s.sql(
      s"SELECT * FROM VALUES $domainBudgetsSql AS t(source, domain_budget)")
    val scored = TextQueries.txtQuality(s, dir)
      .select(col("doc_id"), col("quality_score"),
        col("n_tokens").cast("long").as("n_tokens"))
      .join(table(s, dir, "documents").select("doc_id", "source"), "doc_id")
    val ordered = PackQueries.withExclusivePrefixSum(s, scored,
      Seq(col("source").asc, col("quality_score").desc, col("doc_id").asc),
      "n_tokens")
    val bases = ordered.groupBy("source")
      .agg(min("cum_before").as("domain_base"))
    ordered.join(broadcast(bases), "source")
      .join(broadcast(budgets), "source")
      .withColumn("domain_cum_before", col("cum_before") - col("domain_base"))
      .filter(col("domain_cum_before") < col("domain_budget"))
      .select("doc_id", "source", "quality_score", "n_tokens",
        "domain_cum_before")
  }

  private val tempSalt = "mixtemp1:"

  /** q_mix_temperature: √-temperature domain REBALANCING — the multilingual
    * /multi-domain mixing rule (sampling mass ∝ share^α with α = 0.5) that
    * up-samples under-represented domains and down-samples dominant ones
    * without hand-written rates. Per-domain target = 8·⌊√cnt⌋ docs, so the
    * per-doc expected-repeat rate is target/cnt ∝ 1/√cnt; the keep/repeat
    * decision then reuses the deterministic hash-draw idiom of
    * [[mixSample]] (reps = ⌊rate⌋ + [u < frac(rate)·10⁶]). α = 0.5 is the
    * deliberately chosen temperature because √ is IEEE-correctly-rounded
    * — unlike pow(x, α), every arithmetic step here (sqrt, one divide,
    * one subtract, one multiply) is bit-portable, so the DuckDB oracle
    * replays the mix EXACTLY and the recipe is auditable across engines.
    *
    * Plan shape: one tiny groupBy for the domain counts, broadcast back,
    * then a scan-side draw + explode — like mixSample, zero data shuffles
    * at any corpus size. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val counts = table(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("cnt"))
      .withColumn("target",
        (floor(sqrt(col("cnt").cast("double"))) * 8).cast("long"))
    table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(broadcast(counts), "source")
      .withColumn("rate",
        col("target").cast("double") / col("cnt").cast("double"))
      .withColumn("u", saltedDraw(tempSalt, col("doc_id")) % 1000000L)
      .withColumn("reps", floor(col("rate")).cast("int") +
        when(col("u") < (col("rate") - floor(col("rate"))) * 1000000d, 1)
          .otherwise(0))
      .filter(col("reps") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("reps"))).as("copy_idx"))
  }

  private val wsampleSalt = "wsample1:"

  /** q_sample_weighted: deterministic weighted sampling without
    * replacement — the A-ES scheme (Efraimidis & Spirakis, IPL 2006:
    * top-k by u^(1/w)) made ENGINE-EXACT by the max-of-uniforms identity:
    * for an integer weight w, max of w independent uniform draws has
    * exactly the u^(1/w) distribution, so the sort key is the max of w
    * salted integer hash draws — no transcendental pow/log whose last-ULP
    * differences would break the cross-engine oracle. Weights here are
    * the document quality score (1..4): higher-quality docs are
    * proportionally more likely to be kept, but low-quality docs still
    * appear — sampling, not a hard cutoff.
    *
    * Scale shape: the key is a scan-side expression (≤4 tiny hashes per
    * row) and the top-k plans as TakeOrderedAndProject — per-partition
    * heaps, a k-row driver merge, no global sort.
    *
    * Bound: max-of-uniforms is O(weight) hashes per row — fine for small
    * integer weights (here 1..4); for unbounded weights cap the weight
    * per document, or switch to the O(1)-per-row exponential form of A-ES
    * (key = -ln(u)/w, equivalently rank by w/(-ln u)) and accept that a
    * transcendental key cannot be hash-replayed across engines (gate it
    * with a rows-only oracle instead). */
  def sampleWeighted(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val q = TextQueries.txtQuality(s, dir)
      .select(col("doc_id"), col("quality_score").as("weight"))
      .withColumn("key", expr(
        s"array_max(transform(sequence(1, weight), r -> " +
          s"cast(conv(substring(md5(concat('$wsampleSalt', " +
          s"cast(doc_id as string), '#', cast(r as string))), 1, 8), 16, 10) " +
          s"as bigint)))"))
    q.orderBy(col("key").desc, col("doc_id").asc).limit(k)
  }

  /** q_corpus_stats: the per-(source, language) corpus card — doc and
    * token volumes, size extremes, and the exact-duplicate rate from the
    * text fingerprint. The first report any corpus intake produces, and
    * the one that catches a broken feed (token counts collapse, dup rate
    * spikes) before training does. One shuffle on the (source, lang) key
    * with map-side partial aggregation; the distinct-fingerprint count
    * rides the same exchange. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("fp"), col("n_chars"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("fp")).as("n_unique_texts"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique_texts")).cast("double") /
          col("n_docs").cast("double"))

  private val groupSplitSalt = "splitg:"
  private val stratSalt = "strat1:"

  /** q_split_leakage: DEDUP-AWARE train/validation/test assignment — the
    * leakage guard [[splitAssign]] lacks: two near-duplicate documents
    * hashed independently land in different splits with p ≈ 18%, silently
    * leaking training text into eval. Here the split is drawn from the
    * near-dup CLUSTER id (the connected component over verified
    * exact-Jaccard pairs — [[GraphCC.dedupClusters]]), so every document
    * of a cluster co-assigns; singletons (no near-dup) fall back to their
    * own id via the left join + coalesce, preserving splitAssign's
    * stability under corpus growth.
    *
    * Scale shape: the CC labels arrive from the PERSISTED cluster table
    * ([[GraphCC.clusterTablePath]] — the pipeline the corpus already ran,
    * paid once per sf dir; q_dedup_cc stays the live leg timing it), and
    * the table is tiny next to the corpus (only docs incident to a
    * near-dup pair), so AQE broadcasts the left join; the split draw
    * itself is scan-side — the operator adds ONE FileScan and ONE
    * broadcast join. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    splitLeakageFrom(
      table(s, dir, "documents").select(col("doc_id")),
      graft.sources.TableIO.readStatic(s, GraphCC.clusterTablePath(s, dir))
        .select(col("doc_id"), col("cluster_id")))

  /** Split assignment from an EXISTING cluster labeling — lets a pipeline
    * that already ran the dedup ([[curationE2e]]) reuse it instead of paying
    * the pair-generation + components pass twice. `clusters` carries
    * (doc_id, cluster_id) for clustered docs only. */
  def splitLeakageFrom(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", saltedDraw(groupSplitSalt, col("group_id")) % 100L)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "validation")
          .otherwise("test"))
      .select(col("doc_id"), col("group_id"), col("split"))

  /** q_curation_e2e: the CAPSTONE composition — the training-data
    * curation pipeline as one hash-gated frame. Near-dup clustering
    * (exact-Jaccard PPJoin → connected components) drops non-canonical
    * cluster members; the
    * heuristic quality screen keeps score ≥ 2; leakage-safe splits are
    * drawn per CLUSTER (computed before the drop, so each canonical keeps
    * its cluster's assignment). One run of the dedup feeds BOTH the drop
    * set and the split grouping — the reuse the composed pipeline exists
    * to prove. DuckDB replays all three stages from their own gate
    * oracles; a drift in any stage, or in how they compose (a dropped
    * canonical, a split drawn after the drop), breaks the hash. */
  def curationE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val clusters = GraphCC.dedupClusters(s, dir)
    val dropIds = clusters.filter(col("is_canonical") === 0).select("doc_id")
    val quality = TextQueries.txtQuality(s, dir)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    val splits = splitLeakageFrom(docs,
      clusters.select(col("doc_id"), col("cluster_id")))
      .select("doc_id", "split")
    docs.select(col("doc_id"))
      .join(dropIds, Seq("doc_id"), "left_anti")
      .join(quality, "doc_id")
      .filter(col("quality_score") >= 2)
      .join(splits, "doc_id")
      .select(col("doc_id"), col("split"), col("quality_score"),
        col("n_tokens"))
  }

  /** q_sample_stratified: fixed-count per-stratum sample — `nPer`
    * documents from every source, the holdout/inspection draw that a
    * proportional rate ([[mixSample]]) can't produce when strata sizes
    * differ by orders of magnitude. Documents rank per stratum by the
    * same deterministic salted-hash draw (doc_id tiebreak), so the
    * sample is reproducible anywhere and stable per stratum. One window
    * shuffle on the stratum key; the rank<=n filter plans as
    * WindowGroupLimit, pruning each partition to its top-n BEFORE the
    * exchange — per-task state is O(nPer), not O(stratum). */
  def sampleStratified(s: SparkSession, dir: String, nPer: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("u").asc, col("doc_id").asc)
    table(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("u", saltedDraw(stratSalt, col("doc_id")))
      .withColumn("stratum_rank", row_number().over(w))
      .filter(col("stratum_rank") <= nPer)
      .select(col("doc_id"), col("source"), col("stratum_rank"))
  }

  /** Fixed-point base-2 logarithm of a positive BIGINT SQL expression:
    * e·2^16 + floor-truncated 16 fractional bits, computed ENTIRELY in
    * integer arithmetic — exponent from the binary-string length (both
    * engines print minimal binary exactly), mantissa normalized to
    * [2^20, 2^21) and squared 16 times (the classic shift-and-square
    * fixed-point log). No transcendental is evaluated, so Spark and
    * DuckDB produce bit-identical scores — the same portability rule the
    * familiarity/quality gates follow (one IEEE op or exact integers),
    * extended to the logarithm DSIR cannot avoid. Truncation error is
    * < 2^-16 + mantissa rounding; [[graft.MixDsirSpec]] pins the bound
    * against java.lang.Math. */
  private[graft] def log2fpSql(n: String): String = {
    val e = s"(length(conv(CAST(($n) AS STRING), 10, 2)) - 1)"
    val sq = "acc.m * acc.m"
    val hi = "2199023255552" // 2^41: mantissa² carry threshold
    s"(aggregate(sequence(1, 16), " +
      s"named_struct('m', CASE WHEN $e <= 20 THEN shiftleft($n, 20 - $e) " +
      s"ELSE shiftright($n, $e - 20) END, 'f', CAST(0 AS BIGINT)), " +
      s"(acc, i) -> named_struct(" +
      s"'m', CASE WHEN $sq >= $hi THEN shiftright($sq, 21) " +
      s"ELSE shiftright($sq, 20) END, " +
      s"'f', acc.f * 2 + CASE WHEN $sq >= $hi THEN 1 ELSE 0 END), " +
      s"acc -> acc.f) + CAST($e AS BIGINT) * 65536)"
  }

  private val dsirBuckets = 1024
  private val dsirK = 150

  /** q_select_dsir: Data Selection with Importance Resampling (Xie et al.
    * 2023) — rank a raw corpus by how much more likely each document is
    * under a TARGET distribution than under the raw distribution, both
    * estimated as hashed-BIGRAM bag models from the data itself (the
    * paper's feature choice; target here: the `lang = 'en'` slice — the
    * canonical "select English-like text from a multilingual crawl"
    * instance, and on this corpus bigrams lift the selected-set target
    * share to 88% vs 59% for unigrams). Per bucket b: add-one-smoothed
    * ratio r_b = (ct_b+1)(Nq+B) / ((cq_b+1)(Nt+B)); per document:
    * log importance weight = Σ_features log2fp-ratio of the feature's
    * bucket — exact integers end to end ([[log2fpSql]]) — then ONE IEEE
    * division by the feature count (raw log-weight sums rank short
    * documents first regardless of content; the per-feature mean is the
    * length-debiased rank, and a single division of two exact integers
    * replays bit-for-bit). Selection is deterministic top-k by
    * (score, doc_id); hash-seeded Gumbel resampling would bolt onto the
    * same scores but adds a transcendental for no gate value.
    *
    * Scale shape: one explode-side pass builds BOTH distributions (a
    * groupBy on the 1024-key bucket space, map-side combined); the
    * corpus totals come from an unpartitioned window over the B-row
    * stats table (1024 rows through a single-partition exchange — a
    * scalar-aggregate crossJoin instead would re-instantiate the whole
    * gram-explode + bucket-shuffle subtree as a second plan branch,
    * doubling the corpus scan cost; PlanShapeSpec pins this shape); the
    * scored bucket table broadcasts back (B rows, never the corpus); the
    * only wide shuffle keys on doc_id and is partial-aggregated. At a
    * real 100 TB corpus the bucket counts approach 2^47 and the smoothed
    * products would overflow BIGINT — [[dsirBucketScores]] carries the
    * live guard (uniform right-shift of all counts; ranking preserved,
    * property-tested), a no-op at any scale where bits(nq) ≤ 30. */
  def selectDsir(s: SparkSession, dir: String, k: Int = dsirK): DataFrame = {
    val grams = table(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        (col("lang") === "en").cast("long").as("is_t"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> array_join(slice(toks, i, 2), ' '))")).as("tok"))
      .withColumn("b", expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) " +
        s"AS BIGINT) % $dsirBuckets"))
    val scored = dsirBucketScores(grams.groupBy("b")
      .agg(count(lit(1)).as("cq"), sum("is_t").as("ct")))
    grams.join(broadcast(scored), "b")
      .groupBy("doc_id")
      .agg(max("lang").as("lang"), max("source").as("source"),
        sum("s").as("log_w_fp"), count(lit(1)).as("n_feats"))
      .withColumn("dsir_score",
        col("log_w_fp").cast("double") / col("n_feats").cast("double"))
      .orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Smoothed importance-ratio score per bucket over a (b, cq, ct) stats
    * frame — with the OVERFLOW GUARD live, not just documented: at a real
    * 100 TB corpus the raw counts approach 2^47 and the smoothed products
    * (ct+1)(nq+B) would silently wrap BIGINT (log2fp on a negative value
    * returns garbage). All four counts are uniformly right-shifted by
    * `sh = max(0, bits(nq) − 30)` BEFORE smoothing — nq bounds every
    * other count, so both smoothed factors stay under 2^31 and the
    * products under 2^62, at any corpus size. The ratio is
    * scale-invariant up to the smoothing constants, so rescaled scores
    * rank identically (MixDsirSpec property-tests ranking agreement
    * against exact real-arithmetic scores on synthetic stats near 2^47);
    * at gate scale bits(nq) ≤ 30 ⇒ sh = 0 and the formula is bit-for-bit
    * the unguarded one the DuckDB oracle replays. Totals come from an
    * unpartitioned window over the B-row stats frame (bounded, never
    * corpus-sized — see [[selectDsir]]'s plan note). */
  private[graft] def dsirBucketScores(stats: DataFrame): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy() // B rows total — bounded, never corpus-sized
    stats
      .withColumn("nq", sum("cq").over(wAll))
      .withColumn("nt", sum("ct").over(wAll))
      .withColumn("sh", greatest(lit(0),
        expr("length(conv(CAST(nq AS STRING), 10, 2)) - 30")))
      .withColumn("num",
        expr(s"(shiftright(ct, sh) + 1) * (shiftright(nq, sh) + $dsirBuckets)"))
      .withColumn("den",
        expr(s"(shiftright(cq, sh) + 1) * (shiftright(nt, sh) + $dsirBuckets)"))
      .withColumn("s",
        expr(log2fpSql("num")) - expr(log2fpSql("den")))
      .select("b", "s")
  }

  /** DuckDB twin of [[log2fpSql]]'s 16 squaring steps, unrolled as chained
    * CTEs over the bucket table (two mantissa/fraction tracks: `n` for the
    * numerator, `d` for the denominator). */
  private def dsirOracle: String = {
    val steps = (1 to 16).map { i =>
      s"""l$i AS (SELECT b, en, ed,
         |  CASE WHEN mn*mn >= 2199023255552 THEN (mn*mn) >> 21
         |       ELSE (mn*mn) >> 20 END AS mn,
         |  fn*2 + CASE WHEN mn*mn >= 2199023255552 THEN 1 ELSE 0 END AS fn,
         |  CASE WHEN md*md >= 2199023255552 THEN (md*md) >> 21
         |       ELSE (md*md) >> 20 END AS md,
         |  fd*2 + CASE WHEN md*md >= 2199023255552 THEN 1 ELSE 0 END AS fd
         |FROM l${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, lang, source,
       |    string_split(text, ' ') AS toks FROM documents),
       |gg AS (SELECT doc_id, lang, source, toks,
       |    unnest(range(1, len(toks))) AS p
       |  FROM t WHERE len(toks) >= 2),
       |g0 AS (SELECT doc_id, lang, source,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
       |    array_to_string(
       |      toks[CAST(p AS INTEGER):CAST(p + 1 AS INTEGER)], ' ') AS tok
       |  FROM gg),
       |g AS (SELECT doc_id, lang, source, is_t,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % $dsirBuckets AS b
       |  FROM g0),
       |st AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cq,
       |    CAST(SUM(is_t) AS BIGINT) AS ct
       |  FROM g GROUP BY b),
       |tt AS (SELECT CAST(SUM(cq) AS BIGINT) AS nq,
       |    CAST(SUM(ct) AS BIGINT) AS nt FROM st),
       |nd AS (SELECT b, (ct + 1) * (nq + $dsirBuckets) AS num,
       |    (cq + 1) * (nt + $dsirBuckets) AS den
       |  FROM st, tt),
       |l0 AS (SELECT b, en, ed,
       |    CASE WHEN en <= 20 THEN num << (20 - en)
       |         ELSE num >> (en - 20) END AS mn, CAST(0 AS BIGINT) AS fn,
       |    CASE WHEN ed <= 20 THEN den << (20 - ed)
       |         ELSE den >> (ed - 20) END AS md, CAST(0 AS BIGINT) AS fd
       |  FROM (SELECT b, num, den, length(bin(num)) - 1 AS en,
       |          length(bin(den)) - 1 AS ed FROM nd)),
       |$steps,
       |sc AS (SELECT b, (fn + en * 65536) - (fd + ed * 65536) AS s FROM l16),
       |ds AS (SELECT g.doc_id, MAX(g.lang) AS lang, MAX(g.source) AS source,
       |    CAST(SUM(sc.s) AS BIGINT) AS log_w_fp,
       |    CAST(COUNT(*) AS BIGINT) AS n_feats
       |  FROM g JOIN sc USING (b) GROUP BY g.doc_id)
       |SELECT doc_id, lang, source, log_w_fp, n_feats,
       |  CAST(log_w_fp AS DOUBLE) / CAST(n_feats AS DOUBLE) AS dsir_score
       |FROM ds ORDER BY dsir_score DESC, doc_id ASC LIMIT $dsirK""".stripMargin
  }

  /** q_mix_epochs: multi-EPOCH repeat planning under data constraint
    * (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models": repeating the best data for a few epochs is near-free,
    * value decays fast after ~4) — assign each document a repeat factor
    * from its quality tier (4 epochs top tier, 2 mid, 1 low, 0 = junk
    * dropped) and EXPLODE the deterministic (doc, epoch) assignments a
    * training loader consumes, token payload attached. Chains on the
    * quality gate's scan-side arithmetic; the explode is in-place row
    * fan-out bounded by 4× — the whole plan is Scan → Project →
    * Generate, zero shuffle, so the epoch plan costs one corpus read at
    * any scale. */
  def mixEpochs(s: SparkSession, dir: String): DataFrame =
    TextQueries.txtQuality(s, dir)
      .withColumn("repeat_factor",
        when(col("quality_score") >= 4, 4)
          .when(col("quality_score") === 3, 2)
          .when(col("quality_score") >= 2, 1)
          .otherwise(0))
      .filter(col("repeat_factor") >= 1)
      .select(col("doc_id"), col("quality_score"), col("repeat_factor"),
        col("n_tokens"),
        explode(expr("sequence(1, repeat_factor)")).as("epoch_idx"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_select_dsir" -> ((s: SparkSession, d: String) => selectDsir(s, d)),
    "q_split_leakage" -> (splitLeakage _),
    "q_curation_e2e" -> (curationE2e _),
    "q_sample_stratified" -> ((s: SparkSession, d: String) => sampleStratified(s, d)),
    "q_mix_sample" -> (mixSample _),
    "q_mix_epochs" -> (mixEpochs _),
    "q_mix_temperature" -> ((s: SparkSession, d: String) => mixTemperature(s, d)),
    "q_mix_domain_budget" -> (mixDomainBudget _),
    "q_txt_contamination" -> ((s: SparkSession, d: String) => contamination(s, d)),
    "q_split_assign" -> (splitAssign _),
    "q_shuffle_shard" -> ((s: SparkSession, d: String) => shuffleShard(s, d)),
    "q_select_budget" -> ((s: SparkSession, d: String) => selectBudget(s, d)),
    "q_corpus_stats" -> (corpusStats _),
    "q_sample_weighted" -> ((s: SparkSession, d: String) => sampleWeighted(s, d)))

  val oracles: Map[String, String] = Map(
    // The quality gate's tiering replayed, then the epoch fan-out as a
    // bounded range cross join.
    "q_mix_epochs" ->
      // reuses the ONE quality-bar definition (TextQueries.qualityScoreCtesSql
      // — the same CTEs q_txt_quality and q_emb_label_quality replay), so an
      // edit to the quality bar is an edit to this oracle too.
      s"""WITH ${TextQueries.qualityScoreCtesSql},
        |r AS (SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |    quality_score,
        |    CASE WHEN quality_score >= 4 THEN 4
        |         WHEN quality_score = 3 THEN 2
        |         WHEN quality_score >= 2 THEN 1 ELSE 0 END AS repeat_factor
        |  FROM q)
        |SELECT doc_id, CAST(quality_score AS INTEGER) AS quality_score,
        |  CAST(repeat_factor AS INTEGER) AS repeat_factor, n_tokens,
        |  CAST(e.range + 1 AS INTEGER) AS epoch_idx
        |FROM r CROSS JOIN range(0, 4) e
        |WHERE repeat_factor >= 1 AND e.range < repeat_factor""".stripMargin,
    "q_select_dsir" -> dsirOracle,
    // Composition oracle: each stage is its own gate oracle, nested as a
    // FROM-subquery — an edit to any stage's bar is an edit to both.
    "q_curation_e2e" ->
      s"""SELECT d.doc_id, sp.split, q.quality_score, q.n_tokens
         |FROM documents d
         |JOIN (${TextQueries.oracles("q_txt_quality")}) q
         |  ON q.doc_id = d.doc_id
         |JOIN (SELECT doc_id, split
         |      FROM (WITH cl AS (
         |        SELECT doc_id, cluster_id
         |        FROM (${GraphCC.oracles("q_dedup_cc")}) cc),
         |      grp AS (
         |        SELECT d2.doc_id, coalesce(cl.cluster_id, d2.doc_id) AS group_id
         |        FROM documents d2 LEFT JOIN cl ON d2.doc_id = cl.doc_id),
         |      b AS (SELECT doc_id, group_id,
         |          ${saltedDrawSql("splitg:", "group_id")} % 100 AS bucket
         |        FROM grp)
         |      SELECT doc_id,
         |        CASE WHEN bucket < 90 THEN 'train'
         |             WHEN bucket < 95 THEN 'validation'
         |             ELSE 'test' END AS split
         |      FROM b)) sp
         |  ON sp.doc_id = d.doc_id
         |WHERE q.quality_score >= 2
         |  AND NOT EXISTS (
         |    SELECT 1 FROM (${GraphCC.oracles("q_dedup_cc")}) cc
         |    WHERE cc.doc_id = d.doc_id AND cc.is_canonical = 0)""".stripMargin,
    "q_split_leakage" ->
      s"""WITH cl AS (
         |  SELECT doc_id, cluster_id
         |  FROM (${GraphCC.oracles("q_dedup_cc")}) cc),
         |grp AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |b AS (SELECT doc_id, group_id,
         |    ${saltedDrawSql("splitg:", "group_id")} % 100 AS bucket
         |  FROM grp)
         |SELECT doc_id, group_id,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,
    "q_sample_stratified" ->
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |    ${saltedDrawSql("strat1:", "doc_id")} AS u
         |  FROM documents),
         |r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC)
         |      AS stratum_rank
         |  FROM u)
         |SELECT doc_id, source, CAST(stratum_rank AS INTEGER) AS stratum_rank
         |FROM r WHERE stratum_rank <= 20""".stripMargin,
    "q_sample_weighted" ->
      s"""WITH ${TextQueries.qualityScoreCtesSql},
         |keyed AS (SELECT doc_id, quality_score AS weight,
         |    list_max(list_transform(range(1, quality_score + 1), r ->
         |      ('0x' || substr(md5('wsample1:' || CAST(doc_id AS STRING)
         |        || '#' || CAST(r AS STRING)), 1, 8))::BIGINT)) AS key
         |  FROM q)
         |SELECT doc_id, weight, key
         |FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 100""".stripMargin,
    "q_corpus_stats" ->
      """WITH d AS (SELECT source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(text) AS fp, n_chars
        |  FROM documents),
        |a AS (SELECT source, lang,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |    COUNT(DISTINCT fp) AS n_unique_texts,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
        |    CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
        |  FROM d GROUP BY source, lang)
        |SELECT *, CAST(n_docs - n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |  AS dup_frac
        |FROM a""".stripMargin,
    "q_mix_domain_budget" ->
      s"""WITH w(source, domain_budget) AS (VALUES $domainBudgetsSql),
         |${TextQueries.qualityScoreCtesSql},
         |j AS (SELECT q.doc_id, d.source, q.quality_score,
         |    CAST(q.n_tokens AS BIGINT) AS n_tokens
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
         |cum AS (SELECT *,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY quality_score DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS domain_cum_before
         |  FROM j)
         |SELECT doc_id, source, quality_score, n_tokens, domain_cum_before
         |FROM cum JOIN w USING (source)
         |WHERE domain_cum_before < domain_budget""".stripMargin,
    "q_select_budget" ->
      s"""WITH ${TextQueries.qualityScoreCtesSql},
         |p AS (SELECT doc_id, quality_score, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (
         |      ORDER BY quality_score DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM q)
         |SELECT doc_id, quality_score, n_tokens, cum_before
         |FROM p WHERE cum_before < 10000""".stripMargin,
    "q_split_assign" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    ${saltedDrawSql(splitSalt, "doc_id")} % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin,
    "q_shuffle_shard" ->
      s"""WITH h AS (
         |  SELECT doc_id, md5('$shufSalt' || CAST(doc_id AS STRING)) AS h
         |  FROM documents),
         |sh AS (SELECT doc_id, h,
         |    ('0x' || substr(h, 1, 8))::BIGINT % 32 AS shard
         |  FROM h)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC)
         |    AS INTEGER) AS pos
         |FROM sh""".stripMargin,
    "q_mix_temperature" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
         |r AS (SELECT source, cnt,
         |    CAST(floor(sqrt(CAST(cnt AS DOUBLE))) * 8 AS BIGINT) AS target
         |  FROM c),
         |d AS (
         |  SELECT doc_id, dd.source,
         |    CAST(target AS DOUBLE) / CAST(cnt AS DOUBLE) AS rate,
         |    ${saltedDrawSql(tempSalt, "doc_id")} % 1000000 AS u
         |  FROM documents dd JOIN r ON dd.source = r.source),
         |k AS (
         |  SELECT doc_id, source,
         |    CAST(floor(rate) AS INTEGER)
         |      + CASE WHEN u < (rate - floor(rate)) * 1000000 THEN 1 ELSE 0 END
         |      AS reps
         |  FROM d)
         |SELECT doc_id, source,
         |  CAST(unnest(range(1, reps + 1)) AS INTEGER) AS copy_idx
         |FROM k WHERE reps > 0""".stripMargin,
    "q_mix_sample" ->
      s"""WITH rates(lang, rate) AS (VALUES $mixRatesSql),
         |d AS (
         |  SELECT doc_id, dd.lang, coalesce(r.rate, $defaultRateSql) AS rate,
         |    ${saltedDrawSql(mixSalt, "doc_id")} % 1000000 AS u
         |  FROM documents dd LEFT JOIN rates r ON dd.lang = r.lang),
         |k AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(rate) AS INTEGER)
         |      + CASE WHEN u < (rate - floor(rate)) * 1000000 THEN 1 ELSE 0 END
         |      AS reps
         |  FROM d)
         |SELECT doc_id, lang,
         |  CAST(unnest(range(1, reps + 1)) AS INTEGER) AS copy_idx
         |FROM k WHERE reps > 0""".stripMargin,
    "q_txt_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ng AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 6),
        |         i -> ('0x' || substr(md5(
        |                list_aggregate(t[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT))
        |         AS gs
        |       FROM toks WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % 20 = 7),
        |corp AS (SELECT doc_id, unnest(gs) AS g FROM ng WHERE doc_id % 20 <> 7)
        |SELECT c.doc_id, count(*) AS n_shared
        |FROM corp c JOIN bench b ON c.g = b.g
        |GROUP BY c.doc_id""".stripMargin)
}
