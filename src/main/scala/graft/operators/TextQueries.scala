package graft.operators

import scala.util.chaining._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TableIO.table

/** Text-analysis + deduplication operators over the `documents` table —
  * the large-scale training-data-pipeline extension surface (BASELINE.json
  * north star; not present in the reference, which is pure MLS ETL).
  *
  * All token machinery uses native array expressions (`split`, `transform`,
  * `filter`, `aggregate`) — whole-stage-codegen'd, no UDFs — so per-document
  * cost is pure columnar compute and scales linearly with corpus size.
  */
object TextQueries {

  private def withTokens(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))

  /** Token counting: whitespace tokens, BPE-ish regex word extraction,
    * distinct types, char stats. */
  def txtTokens(s: SparkSession, dir: String): DataFrame =
    withTokens(table(s, dir, "documents")).select(
      col("doc_id"),
      size(col("toks")).as("n_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_word_tokens"),
      size(array_distinct(col("toks"))).as("n_types"),
      length(col("text")).as("n_chars_text"),
      col("n_chars"))

  /** Quality scoring: stopword ratio, type-token ratio, mean word length,
    * and a small integer quality score — all integer-derived so the doubles
    * are single-division deterministic across engines. */
  def txtQuality(s: SparkSession, dir: String): DataFrame =
    withTokens(table(s, dir, "documents"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_types", size(array_distinct(col("toks"))))
      .withColumn("stop_cnt",
        expr("size(filter(toks, x -> x IN ('the','a','of','to','and','in')))"))
      .withColumn("ttr",
        col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("stop_ratio",
        col("stop_cnt").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("mean_word_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast(DoubleType) /
          col("n_tokens").cast(DoubleType))
      .withColumn("quality_score",
        when(col("n_tokens") >= 30, 2).otherwise(1)
          + when(col("ttr") >= lit(0.4), 1).otherwise(0)
          + when(col("stop_ratio") <= lit(0.2), 1).otherwise(0))
      .select("doc_id", "n_tokens", "n_types", "stop_cnt", "ttr",
        "stop_ratio", "mean_word_len", "quality_score")

  /** Per-document language scoring shared by [[txtLangId]] (row-level
    * output) and [[txtConfusion]] (matrix aggregation): hits against each
    * candidate language's function-word list, argmax with a fixed
    * precedence tiebreak (en > es > fr). */
  private def langScored(s: SparkSession, dir: String): DataFrame =
    withTokens(table(s, dir, "documents"))
      .withColumn("en_hits",
        expr("size(filter(toks, x -> x IN ('the','a','and','of','in')))"))
      .withColumn("es_hits",
        expr("size(filter(toks, x -> x IN ('el','la','de','y','en')))"))
      .withColumn("fr_hits",
        expr("size(filter(toks, x -> x IN ('le','les','de','et','un')))"))
      .withColumn("predicted_lang",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("fr_hits"), "en")
          .when(col("es_hits") >= col("fr_hits"), "es")
          .otherwise("fr"))

  /** Language identification, stopword-profile heuristic. */
  def txtLangId(s: SparkSession, dir: String): DataFrame =
    langScored(s, dir)
      .select(col("doc_id"), col("en_hits"), col("es_hits"), col("fr_hits"),
        col("predicted_lang"),
        (col("predicted_lang") === col("lang")).as("label_agrees"))

  /** Classifier confusion matrix: documents per (labeled lang, predicted
    * lang) cell — the standard eval report for any per-document classifier
    * in the pipeline (language ID here; the same shape audits quality or
    * topic classifiers). One tiny aggregation with map-side combine over
    * the scan-side scoring pass. */
  def txtConfusion(s: SparkSession, dir: String): DataFrame =
    langScored(s, dir)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Document fingerprinting: exact (md5 of raw text) + order-insensitive
    * bag fingerprint (md5 of sorted distinct tokens). */
  def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    withTokens(table(s, dir, "documents")).select(
      col("doc_id"),
      md5(col("text")).as("exact_fp"),
      md5(concat_ws(" ", sort_array(array_distinct(col("toks"))))).as("bag_fp"))

  // PII patterns (shared regex subset — Java and RE2 agree on character
  // classes and bounded repetition; no lookaround, no backreferences).
  private val emailRx = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val ssnRx = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  private val phoneRx = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything else sees the text: emails, SSNs, and phone numbers are
    * replaced with typed placeholder tags, and per-kind match counts are
    * reported for audit. Deterministic PII is synthesized onto each
    * document in the shared SQL subset so every pattern fires; all three
    * passes are codegen'd regexp_replace over one scan — zero shuffles,
    * linear at any corpus size. */
  def txtRedact(s: SparkSession, dir: String): DataFrame = {
    val pii = table(s, dir, "documents").selectExpr("doc_id",
      "text || ' Contact user' || CAST(doc_id AS STRING) || '@example.com or 214-555-' " +
        "|| lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || ' SSN 123-45-' " +
        "|| lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || '.' AS text")
    pii.select(col("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        emailRx, "<EMAIL>"), ssnRx, "<SSN>"), phoneRx, "<PHONE>")
        .as("redacted"),
      size(regexp_extract_all(col("text"), lit(emailRx), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(ssnRx), lit(0))).as("n_ssns"),
      // phones counted after email/SSN removal, as the redactor sees them
      size(regexp_extract_all(
        regexp_replace(regexp_replace(col("text"), emailRx, "<EMAIL>"),
          ssnRx, "<SSN>"), lit(phoneRx), lit(0))).as("n_phones"))
  }

  /** Repetition scoring (the Gopher-style "repetitive text" quality
    * signal): fraction of duplicate tokens and duplicate word-3-grams per
    * document. Highly repetitive documents (boilerplate, keyword stuffing,
    * degenerate generations) score high and get filtered before training.
    * Trigrams are hashed once by the native one-pass expression (md5-based,
    * so the oracle recomputes identical values); everything is scan-side
    * columnar compute — zero shuffles at any corpus size. */
  def txtRepetition(s: SparkSession, dir: String): DataFrame =
    withTokens(table(s, dir, "documents"))
      .withColumn("tris", graft.functions.VectorExpressions.wordNgramHashes(
        col("toks"), n = 3, algo = "md5_60", distinct = false))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_types"),
        size(col("tris")).as("n_tri"),
        size(array_distinct(col("tris"))).as("n_tri_distinct"))
      .withColumn("dup_tok_frac",
        (col("n_tokens") - col("n_types")).cast(DoubleType) /
          col("n_tokens").cast(DoubleType))
      .withColumn("dup_tri_frac",
        when(col("n_tri") > 0,
          (col("n_tri") - col("n_tri_distinct")).cast(DoubleType) /
            col("n_tri").cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType)))

  /** Exact deduplication: hash-groupBy on the text fingerprint, electing
    * the minimum doc_id as the canonical representative of each group.
    * At 100 TB this is one shuffle on a 128-bit key with map-side partial
    * aggregation — the cheapest possible dedup. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))

  /** Near-duplicate pairs by word-3-gram shingle Jaccard, computed with an
    * inverted shingle index (explode → self-equi-join on shingle → pair
    * counts) instead of a quadratic cross join. Cost is sum over shingles of
    * (docs-per-shingle)², so at 100 TB the production guard is dropping
    * ultra-frequent shingles (stop-shingles) before the join and/or the
    * MinHash-LSH variant (q_dedup_minhash) which bounds candidates per band
    * bucket; semantics of surviving pairs are identical. */
  def dedupJaccardShingle(s: SparkSession, dir: String, threshold: Double = 0.5,
                          stopDfFrac: Option[Double] = None): DataFrame = {
    // Shingles are 64-bit-hashed once (collision odds ~1e-11 at this shingle
    // cardinality, far below any oracle-visible effect) so all downstream
    // joins move longs, not strings.
    //
    // The frame feeds candidate generation once and verification twice.
    // Materialization is via a repartition exchange, NOT persist(): all
    // three consumers read the identical exchange subtree, so ReuseExchange
    // computes the shingling once and the copies read shuffle files —
    // disk-backed, cleaned up with the job, no executor memory pinned and
    // nothing leaked after the query (persist() here had no unpersist path
    // because the function returns a lazy frame).
    val sh = withTokens(table(s, dir, "documents"))
      .withColumn("shingles", Sketches.hashedShingles(col("toks")))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
      .repartition(col("doc_id"))

    jaccardCandidates(sh, threshold, stopDfFrac)
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_sh").as("na")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Candidate-pair generation for [[dedupJaccardShingle]] (exposed at
    * package scope so the fan-out bound is directly testable).
    *
    * PPJoin-style prefix filtering (lossless for J >= t): order each doc's
    * shingles by ascending global document frequency; two docs with
    * J >= t MUST share a shingle within both prefixes of length
    * n - ceil(t*n) + 1. Candidate generation joins only the prefixes —
    * the sum-of-df² blowup shrinks by ~4x AND concentrates on rare
    * shingles — then the caller verifies candidates with the exact
    * intersection.
    *
    * `stopDfFrac` is the 100 TB stop-shingle guard: shingles appearing in
    * more than max(2, frac·N) documents (template boilerplate, headers) are
    * excluded from candidate generation, bounding per-shingle join fan-out
    * at (frac·N)² instead of N². Prefixes are then drawn from the rarest
    * SURVIVING shingles at unchanged prefix length, so recall loss is
    * confined to pairs whose overlap is boilerplate-only — exactly the
    * pairs near-dup removal should not key on — and exact verification
    * keeps precision at 1 regardless. `None` (the gate default) keeps the
    * strictly lossless PPJoin behavior. */
  private[graft] def jaccardCandidates(sh: DataFrame, threshold: Double,
                                       stopDfFrac: Option[Double] = None): DataFrame = {
    val inv = sh.select(col("doc_id"), col("n_sh"),
      explode(col("shingles")).as("sh"))
    val docFreq = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    val withDf = inv.join(docFreq, "sh")
    // The df-cap compares against a 1-row corpus count — a crossJoin against
    // a scalar aggregate (broadcast, no shuffle), same idiom as the TF-IDF
    // and boilerplate gates; the lossless path skips it entirely.
    val capped = stopDfFrac match {
      case Some(frac) =>
        val n = sh.select(count(lit(1)).as("_n_docs"))
        withDf.crossJoin(n)
          .filter(col("df") <= greatest(lit(2), ceil(col("_n_docs") * frac)))
          .drop("_n_docs")
      case None => withDf
    }
    // The prefix frame self-joins below (alias a/b): pin a repartition
    // exchange on the join key so both sides read one ReusedExchange —
    // without it a broadcast self-join recomputes the docFreq join +
    // window per side. The exchange doubles as the join's co-location.
    val prefix = capped
      .withColumn("_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("sh").asc)))
      .filter(col("_rank") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id"), col("sh"), col("n_sh"))
      .repartition(col("sh"))

    // Length filter: J >= t forces t <= |A|/|B| <= 1/t — prune size-
    // incompatible pairs inside the join before they materialize.
    prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") >= col("b.n_sh") * threshold &&
          col("b.n_sh") >= col("a.n_sh") * threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) >= threshold — the
    * asymmetric overlap measure that catches a short document EMBEDDED in
    * a longer one, which symmetric Jaccard structurally misses (J is
    * capped at |A|/|B| however perfect the containment). The sub-document
    * duplication screen corpus pipelines run alongside Jaccard.
    *
    * Candidate generation: the prefix-filter bound applies to the SMALLER
    * side of a pair (|A∩B| >= ceil(t·|A|) forces a shared shingle in A's
    * df-ascending prefix of length |A| − ceil(t·|A|) + 1), and no
    * size-ratio filter exists (that is the point), so each doc's prefix
    * joins the FULL inverted index — cost Σ_sh prefix_df·df, with the
    * same stop-shingle cap as the Jaccard path bounding the fan-out at
    * scale. Exact set verification keeps precision 1 regardless. */
  def dedupContainment(s: SparkSession, dir: String, threshold: Double = 0.8,
                       stopDfFrac: Option[Double] = None): DataFrame = {
    val sh = withTokens(table(s, dir, "documents"))
      .withColumn("shingles", Sketches.hashedShingles(col("toks")))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
      .repartition(col("doc_id"))
    val inv = sh.select(col("doc_id"), col("n_sh"),
      explode(col("shingles")).as("sh"))
    val docFreq = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    val withDf = inv.join(docFreq, "sh")
    val capped = stopDfFrac match {
      case Some(frac) =>
        val n = sh.select(count(lit(1)).as("_n_docs"))
        withDf.crossJoin(n)
          .filter(col("df") <= greatest(lit(2), ceil(col("_n_docs") * frac)))
          .drop("_n_docs")
      case None => withDf
    }
    val prefix = capped
      .withColumn("_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("sh").asc)))
      .filter(col("_rank") <= col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id"), col("sh"))
      .repartition(col("sh"))
    // prefix(smaller side) × full index covers every qualifying pair in
    // at least one direction; least/greatest canonicalizes the pair.
    val cands = prefix.alias("a")
      .join(capped.select(col("doc_id"), col("sh")).alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    BandJoin.withEndpoints(cands, sh, "doc_id", ("doc_a", "doc_b"))
      .withColumn("inter",
        size(array_intersect(col("shingles_a"), col("shingles_b"))))
      .withColumn("containment", col("inter").cast(DoubleType) /
        least(col("n_sh_a"), col("n_sh_b")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Exact per-group quantiles via window math (rank == ceil(q·n)) —
    * deterministic integer selection, unlike interpolating percentile
    * functions whose midpoint arithmetic differs across engines. The corpus
    * length distribution per language is a standard training-data health
    * check. */
  def txtLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val w = byLang.orderBy(col("n_chars").asc, col("doc_id").asc)
    table(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(byLang))
      .withColumn("q", when(col("rn") === ceil(col("cnt") * 0.5), "p50")
        .when(col("rn") === ceil(col("cnt") * 0.9), "p90")
        .when(col("rn") === col("cnt"), "max"))
      .filter(col("q").isNotNull)
      .groupBy(col("lang"))
      .agg(
        max(when(col("q") === "p50", col("n_chars"))).as("p50_chars"),
        max(when(col("q") === "p90", col("n_chars"))).as("p90_chars"),
        max(when(col("q") === "max", col("n_chars"))).as("max_chars"))
  }

  /** TF-IDF top terms per document: tf from the token bag, idf =
    * ln((N+1)/(df+1)), score = tf·idf, top-3 per doc with a term tiebreak.
    * Corpus vocabulary weighting is the first step of most quality/topic
    * filters. The raw score is NOT part of the checked output: `ln` differs
    * in the last ULP between Java's Math.log and DuckDB's libm, so only the
    * ULP-robust artifacts (rank, term, tf) are emitted — distinct (tf, df)
    * combinations sit far more than a ULP apart, so rankings agree. */
  def txtTfIdf(s: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = withTokens(table(s, dir, "documents"))
    val terms = docs.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // Scale shape: no broadcast hint on the vocabulary — at web-corpus
    // vocab the df table does not fit the driver, so the join strategy is
    // left to AQE (broadcast while small, shuffle join when not). N is
    // folded in as a 1-row aggregate cross-join instead of a driver-side
    // count(): one plan, no extra job, no collected scalar. The doc-term
    // exchange is reused (ReuseExchange) by both the df aggregation and
    // the join left side, so tokenization runs once without persist().
    val df = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    terms.join(df, "term")
      .crossJoin(n)
      .withColumn("idf", log((col("n") + 1).cast(DoubleType) /
        (col("df") + 1).cast(DoubleType)))
      .withColumn("score", col("tf").cast(DoubleType) * col("idf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"))
  }

  /** q_txt_boilerplate: CROSS-document boilerplate detection — the
    * corpus-level complement of [[txtRepetition]]'s within-document
    * signals. A word-3-gram appearing in ≥ `minDocs` distinct documents
    * is boilerplate (headers, navigation chrome, license banners — the
    * text a crawl repeats verbatim across pages); each document reports
    * its distinct-gram count, how many are boilerplate, and the fraction
    * — the standard filter signal for dropping template-dominated pages.
    *
    * Scale shape: per-doc DISTINCT hashed 3-grams (the same scan-side
    * native shingle expression the Jaccard path uses — 64-bit longs, not
    * strings), document frequency via partial-aggregated groupBy, then a
    * merge-join of grams × df and one doc_id aggregation. The join is
    * hinted away from broadcast (the df table is O(distinct n-grams) —
    * never broadcastable at corpus scale) AND away from the tempting
    * count-window-over-grams form: hot grams are by definition the
    * boilerplate ones, and a window partition is ONE unsplittable task
    * per gram, where the shuffled merge join lets AQE's skew handling
    * slice the hot gram's rows across tasks (the df side, one row per
    * gram, duplicates into each slice). Shingling is computed once per
    * join side — linear scan-side work that parallelizes; skew is the
    * thing that doesn't. */
  def txtBoilerplate(s: SparkSession, dir: String, minDocs: Int = 5): DataFrame = {
    val grams = withTokens(table(s, dir, "documents"))
      .select(col("doc_id"),
        explode(Sketches.hashedShingles(col("toks"))).as("g"))
    val docFreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(docFreq.hint("merge"), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") >= minDocs, lit(1))).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** q_dedup_incremental: near-dup screening of an INCOMING batch against
    * the existing corpus — the shape a production pipeline actually runs
    * daily (the full self-join, [[dedupJaccardShingle]], is the bootstrap;
    * after that every ingest only needs delta × corpus). Documents with
    * doc_id % 10 == 0 stand in for the new batch; output is every
    * (new, existing) pair with shingle-Jaccard ≥ `threshold` — the new
    * docs to reject or cluster-merge.
    *
    * Same PPJoin prefix filtering as the self-join, but ordered by the
    * shingle HASH instead of document frequency: any shared total order
    * keeps the prefix filter lossless (two docs with J ≥ t must share a
    * shingle within both prefixes of length n − ⌈t·n⌉ + 1), and hash
    * order needs no df pass over the corpus — the right trade when the
    * corpus side is consulted incrementally. Both prefix frames read ONE
    * pinned doc_id exchange (filters sit above it, so all four consumers
    * reuse it). Scale: the delta side is small by construction, so the
    * candidate join broadcasts it and the corpus streams once; cost is
    * O(delta × colliding corpus prefixes), never corpus². */
  def dedupIncremental(s: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val sh = withTokens(table(s, dir, "documents"))
      .withColumn("shingles", array_sort(Sketches.hashedShingles(col("toks"))))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n_sh"))
      .repartition(col("doc_id"))
    def prefixed(df: DataFrame, idName: String) =
      df.withColumn("sh", explode(slice(col("shingles"), lit(1),
          (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int"))))
        .select(col("doc_id").as(idName), col("sh"),
          col("n_sh").as(s"n_$idName"))
    val delta = prefixed(sh.filter(col("doc_id") % 10 === 0), "doc_new")
    val corp = prefixed(sh.filter(col("doc_id") % 10 =!= 0), "doc_existing")
    val cand = corp.join(broadcast(delta),
        corp("sh") === delta("sh") &&
          col("n_doc_new") >= col("n_doc_existing") * threshold &&
          col("n_doc_existing") >= col("n_doc_new") * threshold)
      .select(col("doc_new"), col("doc_existing"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_new"), col("shingles").as("sh_a"),
        col("n_sh").as("na")), "doc_new")
      .join(sh.select(col("doc_id").as("doc_existing"), col("shingles").as("sh_b"),
        col("n_sh").as("nb")), "doc_existing")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_new"), col("doc_existing"), col("jaccard"))
  }

  /** Every exact-Jaccard pair with at least one endpoint in the `isNew`
    * slice of the corpus — [[dedupIncremental]]'s machinery generalized
    * to drive an INCREMENTAL ingest (the multimodal curation merge): the
    * corpus side is ALL documents with `corp.doc_id < new.doc_id`, so
    * new-vs-existing AND new-vs-new pairs come out of ONE
    * delta-broadcast join. Because the hash-ordered prefix filter is
    * lossless and verification is exact, the output is EXACTLY the full
    * PPJoin pair set ([[dedupJaccardShingle]]) restricted to pairs whose
    * larger endpoint satisfies `isNew` — which, when new ids are assigned
    * above all existing ids, is every pair touching the new batch. Cost
    * is O(delta × colliding corpus prefixes), never corpus². `isNew` is
    * a predicate over `doc_id`. */
  /** Persisted per-doc quality table (doc_id, quality_score, n_tokens) —
    * the [[txtQuality]] columns the curation manifest consumes, written
    * once per sf dir: quality is a pure per-doc scan-side function, so at
    * 100 TB it is a persisted artifact probed by id like the hash/shingle
    * tables, never recomputed per curation invocation. q_txt_quality
    * stays the live leg certifying the scoring itself. */
  private[graft] def qualityTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("txt_qual_fix", dir)(
      txtQuality(s, dir)
        .select(col("doc_id"), col("quality_score"), col("n_tokens")))

  /** Persisted sorted-shingle index (doc_id, shingles, n_sh) — the
    * corpus-side artifact an incremental ingest probes (production
    * maintains it by appending each admitted batch's shingles); built
    * once per sf dir. q_dedup_incremental stays the live leg certifying
    * the fresh-shingling probe path. */
  private[operators] def shingleTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("txt_shgl_fix", dir)(
      withTokens(table(s, dir, "documents"))
        .withColumn("shingles", array_sort(Sketches.hashedShingles(col("toks"))))
        .select(col("doc_id"), col("shingles"),
          size(col("shingles")).as("n_sh")))

  private[operators] def incrementalPairsAgainstAll(
      s: SparkSession, dir: String, isNew: org.apache.spark.sql.Column,
      threshold: Double = 0.5,
      shingleIndex: Option[DataFrame] = None): DataFrame = {
    val sh = shingleIndex.getOrElse(
        withTokens(table(s, dir, "documents"))
          .withColumn("shingles",
            array_sort(Sketches.hashedShingles(col("toks"))))
          .select(col("doc_id"), col("shingles"),
            size(col("shingles")).as("n_sh")))
      .repartition(col("doc_id"))
    def prefixed(df: DataFrame, idName: String) =
      df.withColumn("sh", explode(slice(col("shingles"), lit(1),
          (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int"))))
        .select(col("doc_id").as(idName), col("sh"),
          col("n_sh").as(s"n_$idName"))
    val delta = prefixed(sh.filter(isNew), "doc_b")
    val corp = prefixed(sh, "doc_a")
    // join strategy left to the planner: the probe side is delta-SIZED
    // (any fraction of the corpus), so AQE broadcasts it when small and
    // falls back to a shuffle join beyond the broadcast limit
    val cand = corp.join(delta,
        corp("sh") === delta("sh") &&
          col("doc_a") < col("doc_b") &&
          col("n_doc_b") >= col("n_doc_a") * threshold &&
          col("n_doc_a") >= col("n_doc_b") * threshold)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n_sh").as("na")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** q_dedup_substring: EXACT substring-level deduplication — the pass
    * doc-level dedup misses: text REUSED across otherwise-distinct
    * documents (licence boilerplate, quoted passages, templated spans),
    * per Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022). Their suffix array is a single-machine structure;
    * the distributed re-expression is the standard k-gram cover: a token
    * span is corpus-duplicated iff every length-k window inside it occurs
    * ≥ 2 times in the corpus, so (1) explode each document into its
    * complete k-token grams scan-side, (2) keep grams with corpus
    * frequency ≥ 2 — a duplicated substring of length ≥ k contributes
    * only duplicated grams, (3) per document, merge overlapping/adjacent
    * gram covers [pos, pos+k-1] into maximal spans (gaps-and-islands over
    * a running max). One row per maximal duplicated span; downstream
    * either drops the span from the training text or drops the doc when
    * span_tokens/n_tokens is large.
    *
    * Scale shape: the gram explode is scan-side (no shuffle); frequency
    * is one groupBy + one shuffle join back on the gram. At corpus scale
    * both legs key on `xxhash64(gram)` and drop the string — 8-byte
    * shuffle keys, collision odds ~n²/2⁶⁴ — which is exactly what
    * `hashKeys = true` does (gated as q_dedup_substring_hashed: the
    * fixture corpus is collision-free, so the STRING-keyed oracle pins
    * the hashed plan's spans bit-for-bit while `HashedKeysSpec` pins the
    * 8-byte key in the plan). The default keys on the gram itself so the
    * oracle replay is collision-free by construction at any scale. The
    * islands pass shuffles once on doc_id with bounded frames. */
  def dedupSubstringSpans(s: SparkSession, dir: String, k: Int = 5,
                          hashKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams0 = withTokens(table(s, dir, "documents"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), expr(
        s"inline(transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> struct(i AS pos, array_join(slice(toks, i, $k), ' ') AS gram)))"))
    // Production keying: the gram STRING never reaches an exchange — both
    // shuffle legs carry the 8-byte hash only.
    val grams = if (hashKeys)
      grams0.select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gram"))
    else grams0
    val dup = grams.groupBy("gram").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val covers = grams.join(dup, "gram")
      .select(col("doc_id"), col("pos"), (col("pos") + lit(k - 1)).as("end_pos"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    covers
      .withColumn("prev_max_end",
        max(col("end_pos")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_max_end").isNull ||
          col("pos") > col("prev_max_end") + 1, 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min("pos").as("span_start"), max("end_pos").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** q_txt_novelty: marginal-contribution scoring — per document, the
    * fraction of its k-gram occurrences whose gram was NEVER produced by
    * any earlier document (doc_id order = ingestion order), i.e. how much
    * genuinely new text each document adds to the growing corpus. The
    * per-batch view of this curve is how corpus builders measure
    * diminishing returns of further crawling and order candidate batches
    * by contribution; a document that re-treads existing text scores near
    * 0 even when no single source passes the pairwise near-dup bar (the
    * signal Jaccard/MinHash structurally miss when copying is many-to-one).
    * Attribution is first-writer-wins: one groupBy finds each gram's
    * min(doc_id), the join back marks a gram occurrence novel iff this doc
    * IS that minimum, and the ratio is one IEEE division of two exact
    * integers. Same two-exchange shape as the substring pass: scan-side
    * gram explode, gram-keyed groupBy (map-side combined), doc-keyed
    * aggregation; at 100 TB both gram legs shuffle xxhash64(gram) like
    * q_dedup_substring_hashed, and the min-doc_id attribution IS the
    * incremental screen's "known grams" table when run batch-over-batch —
    * realized as [[txtNoveltyIncremental]], gated equal to this leg. */
  def txtNovelty(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val grams = withTokens(table(s, dir, "documents"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> array_join(slice(toks, i, $k), ' '))")).as("gram"))
    val firstWriter = grams.groupBy("gram")
      .agg(min("doc_id").as("first_doc"))
    grams.join(firstWriter, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** q_txt_novelty_incremental: [[txtNovelty]] run BATCH-OVER-BATCH — the
    * shape a production pipeline actually executes (daily ingest scored
    * against the accumulated corpus), realized from the promise on the
    * one-shot leg: the min-doc_id attribution IS the incremental screen's
    * known-grams table.
    *
    * Batch 1 (doc_id ≤ the range midpoint — the ingestion cut is a pure
    * function of the data) scores against itself and PRODUCES the
    * known-grams table (gram → first writer); batch 2 scores each gram
    * occurrence novel iff the gram is absent from the known table AND
    * this doc is its first writer within the batch. Because batch ids
    * all precede the delta's, the union of the two scorings equals the
    * one-shot leg EXACTLY — which is the gate contract: the oracle is
    * the ONE-SHOT novelty query, so the two-batch replay must reproduce
    * it bit-for-bit (the q_stream_* replay-equals-batch discipline,
    * batch-incremental form). The known-grams table is genuinely
    * PERSISTED — parquet written once per sf dir (the
    * q_stream_neardup corpus-index precedent: production's incremental
    * input is yesterday's table on disk) and consumed by a plain read,
    * so today's scoring pays delta-sized work plus one table scan, never
    * a corpus recompute. NOTE the GATE still re-emits batch 1's scores
    * (the oracle must see every document), so its timed work includes
    * batch 1's explode; a deployment persists yesterday's scores and
    * pays only the delta leg. At 100 TB the persisted table keys on
    * xxhash64(gram) — 8-byte keys, the q_dedup_substring_hashed
    * discipline — and each day ends with a delta-sized merge of new
    * first-writers into it, realized (and plan-pinned delta-sized) in
    * [[txtNoveltyRolling]]'s [[noveltyKnownMerge]]. */
  def txtNoveltyIncremental(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    def grams = noveltyGrams(s, dir, k)
    // 1-row scalar aggregate, broadcast back — the bounded crossJoin
    // idiom. The cut is a pure function of the data, so the fixture
    // build and the live run derive the identical boundary. Computed
    // over the DOCUMENTS frame (same id range as the gram frame — every
    // gram doc has >= k tokens and vice versa), not the exploded grams:
    // a scalar min/max must not pay a corpus-scale gram explode.
    val mid = withTokens(table(s, dir, "documents"))
      .filter(size(col("toks")) >= k)
      .agg(((min("doc_id") + max("doc_id")) / lit(2)).cast(LongType).as("mid"))
    def b1(g: DataFrame) = noveltyBatch(g, mid)(col("doc_id") <= col("mid"))
    def b2(g: DataFrame) = noveltyBatch(g, mid)(col("doc_id") > col("mid"))
    // Yesterday's state: batch 1's first-writer table, persisted once
    // per sf dir and read back like any other source table.
    val knownRoot = graft.sources.ScratchDirs.memoized("novelty_known_fix", dir) {
      r =>
        noveltyFirstWriters(b1(grams)).write.parquet(s"$r/known")
    }
    val known = graft.sources.TableIO.readStatic(s, s"$knownRoot/known")
    val out1 = noveltyScoreSelf(b1(grams), known)
    val out2 = noveltyScoreDelta(b2(grams), known,
      noveltyFirstWriters(b2(grams)))
    out1.unionByName(out2)
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** K-gram explode of the qualifying documents — the one corpus-scale
    * pass every novelty leg batches over. */
  private def noveltyGrams(s: SparkSession, dir: String, k: Int): DataFrame =
    withTokens(table(s, dir, "documents"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> array_join(slice(toks, i, $k), ' '))")).as("gram"))

  /** Range-third ingestion cuts (t1, t2) over the qualifying documents —
    * a 1-row scalar aggregate (pure function of the data, so fixture
    * build, live legs, and spec all derive identical boundaries),
    * broadcast back via the bounded-crossJoin idiom. Integer `div` keeps
    * the cut exact. Computed over the DOCUMENTS frame, never the
    * exploded grams — a scalar must not pay a corpus-scale explode. */
  private def noveltyCuts(s: SparkSession, dir: String, k: Int): DataFrame =
    withTokens(table(s, dir, "documents"))
      .filter(size(col("toks")) >= k)
      .agg(expr("min(doc_id) + (max(doc_id) - min(doc_id)) div 3").as("t1"),
        expr("min(doc_id) + ((max(doc_id) - min(doc_id)) * 2) div 3").as("t2"))

  private def noveltyBatch(g: DataFrame, cuts: DataFrame)
                          (pred: org.apache.spark.sql.Column): DataFrame =
    g.crossJoin(broadcast(cuts)).filter(pred).drop(cuts.columns: _*)

  /** Per-gram first writer of a batch — the attribution/known-table unit. */
  private def noveltyFirstWriters(g: DataFrame): DataFrame =
    g.groupBy("gram").agg(min("doc_id").as("first_doc"))

  /** Self-scored batch: every gram occurrence counted, novel iff this doc
    * is the first writer `firstWriters` (gram, first_doc) records — the
    * scoring shape for a batch measured against its OWN attribution. */
  private def noveltyScoreSelf(grams: DataFrame,
                               firstWriters: DataFrame): DataFrame =
    grams.join(firstWriters, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))

  /** Delta-scored batch: novel iff the gram is absent from `known` AND
    * this doc is the batch's own first writer (`first`: gram, first_doc)
    * — the ONE scoring rule every later batch applies, shared so the
    * incremental and rolling gates cannot silently diverge. */
  private def noveltyScoreDelta(grams: DataFrame, known: DataFrame,
                                first: DataFrame): DataFrame =
    grams
      .join(known.select(col("gram"), lit(1).as("known")), Seq("gram"), "left")
      .join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("known").isNull && col("doc_id") === col("first_doc"), 1L)
          .otherwise(0L)).as("n_novel"))

  /** Batch-1 first-writer known-grams table for the ROLLING gate,
    * persisted once per (sf dir, k) — "the day-before-yesterday's table
    * on disk" the 3-batch replay starts from. */
  private def rollingKnownPath(s: SparkSession, dir: String, k: Int): String = {
    val root = graft.sources.ScratchDirs.memoized("novelty_roll_fix",
      s"$dir#$k") { r =>
      val g = noveltyGrams(s, dir, k)
      val cuts = noveltyCuts(s, dir, k)
      noveltyFirstWriters(noveltyBatch(g, cuts)(col("doc_id") <= col("t1")))
        .write.parquet(s"$r/known")
    }
    s"$root/known"
  }

  /** The END-OF-DAY MERGE of the rolling-novelty screen: fold batch 2's
    * first-writers into the persisted known-grams table. DELTA-sized by
    * construction — the only gram explode in this leg is batch 2's (the
    * day's delta), and the accumulated corpus contributes one parquet
    * scan + one anti-join; no corpus-scale recompute of batch 1's
    * attribution ever runs (PlanShapeSpec pins exactly one Generate and
    * the known-table FileScan in this plan). At 100 TB both gram legs
    * key on xxhash64(gram) like q_dedup_substring_hashed and the merge
    * is an append of anti-joined novel grams. */
  private[graft] def noveltyKnownMerge(s: SparkSession, dir: String,
                                       k: Int = 5): DataFrame = {
    val known1 = graft.sources.TableIO.readStatic(s, rollingKnownPath(s, dir, k))
    val cuts = noveltyCuts(s, dir, k)
    val first2 = noveltyFirstWriters(
      noveltyBatch(noveltyGrams(s, dir, k), cuts)(
        col("doc_id") > col("t1") && col("doc_id") <= col("t2")))
    noveltyKnownMergeFrom(known1, first2)
  }

  /** The merge itself over already-built frames — the gate passes its
    * shared known1/first2 here so the batch-2 attribution is declared
    * once in the gate plan rather than rebuilt per consumer. */
  private def noveltyKnownMergeFrom(known1: DataFrame,
                                    first2: DataFrame): DataFrame =
    known1.unionByName(
      first2.join(known1.select("gram"), Seq("gram"), "left_anti"))

  /** q_txt_novelty_rolling: the THREE-batch form of
    * [[txtNoveltyIncremental]], realizing the known-grams end-of-day
    * merge that gate's docstring promises: batch 1 (ids ≤ t1, range
    * thirds) scores against the PERSISTED known-grams table it produced;
    * batch 2 (t1, t2] scores against that table + its own first-writers;
    * then [[noveltyKnownMerge]] folds batch 2's novel grams into the
    * known table (delta-sized — see its scaladoc) and batch 3 (> t2)
    * scores against the merged table. Because ids are monotone across
    * batches, the 3-batch union equals the ONE-SHOT novelty query
    * bit-for-bit — which is the oracle (the replay-equals-batch
    * discipline). NOTE: the gate re-emits batches 1-2's scores because
    * the oracle must see every document; a deployment persists
    * yesterday's scores and pays only batch 3's scoring plus the delta
    * merge per day. */
  def txtNoveltyRolling(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    def g = noveltyGrams(s, dir, k)
    val cuts = noveltyCuts(s, dir, k)
    val known1 = graft.sources.TableIO.readStatic(s, rollingKnownPath(s, dir, k))
    def b2(df: DataFrame) = noveltyBatch(df, cuts)(
      col("doc_id") > col("t1") && col("doc_id") <= col("t2"))
    def b3(df: DataFrame) = noveltyBatch(df, cuts)(col("doc_id") > col("t2"))
    val out1 = noveltyScoreSelf(
      noveltyBatch(g, cuts)(col("doc_id") <= col("t1")), known1)
    val first2 = noveltyFirstWriters(b2(g))
    val out2 = noveltyScoreDelta(b2(g), known1, first2)
    // the end-of-day merge, fed the SAME first2 frame out2 scored with —
    // declared once in this plan, not rebuilt per consumer
    val known2 = noveltyKnownMergeFrom(known1, first2)
    val out3 = noveltyScoreDelta(b3(g), known2, noveltyFirstWriters(b3(g)))
    out1.unionByName(out2).unionByName(out3)
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  private val bpeMerges = 8
  private val bpeSep = "\u0001" // control char - never occurs in corpus text

  /** q_txt_bpe_train: distributed BPE merge learning — the tokenizer-
    * TRAINING half of the token-counting story (Sennrich et al. 2016):
    * start from characters, repeatedly find the most frequent adjacent
    * symbol pair (weighted by word frequency, ties broken by pair order)
    * and fuse it, emitting the first `nMerges` learned merges with their
    * frequencies.
    *
    * Scale shape — the reason BPE training is feasible at 100 TB at all:
    * training operates on the WORD-FREQUENCY DICTIONARY, not the corpus.
    * The corpus contributes exactly one map-side-combined groupBy (word →
    * count), eagerly localCheckpointed (bounded: the vocabulary), and
    * every merge round is a vocabulary-scale pair aggregation + a 1-row
    * TakeOrdered argmax (the only driver traffic: one (pair, freq) row
    * per round). A production 32k-merge train keeps the same one-corpus-
    * pass IO shape but pays one Spark job pair of SCHEDULER latency per
    * round — the standard finish is [[txtBpeTrainDriver]]'s driver-side
    * loop over the collected dictionary (see SCALE.md for the crossover).
    *
    * Symbols are kept as a control-char-delimited string with DOUBLE
    * `` boundaries, and a merge is ONE literal `replace` per
    * round with the pattern `␁l␁␁r␁ → ␁lr␁`: each match consumes only
    * the INNER delimiters of its two boundaries, so the next scan
    * position still starts with the following symbol's full left
    * boundary and left-to-right non-overlapping replace merges runs of a
    * repeated pair exactly like canonical greedy BPE ('aaaa' + (a,a) →
    * [aa,aa]). A single-delimiter encoding consumes the SHARED boundary
    * and under-merges every other occurrence in a run ([aa,a,a]) — both
    * engines would still agree, but frequencies and token counts would
    * deviate from a reference (Sennrich/HF) tokenizer on repeated-symbol
    * runs; `BpeCanonicalSpec` pins the canonical behavior against a
    * plain list-based merge-and-skip re-derivation. The DuckDB oracle
    * (the same rounds unrolled as CTE blocks, the argmax row cross-joined
    * back) replays the training bit-for-bit. */
  def txtBpeTrain(s: SparkSession, dir: String,
                  nMerges: Int = bpeMerges): DataFrame = {
    val d = bpeSep
    // Word-frequency dictionary: the single corpus-scale pass.
    val words0 = table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(concat(lit(d + d),
        regexp_replace(col("word"), "(.)", "$1" + d + d)).as("w"), col("freq"))
      .localCheckpoint(true) // bounded (vocabulary), read 8x below
    var words = words0
    val merges = (1 to nMerges).map { rank =>
      val pairs = words
        .select(org.apache.spark.sql.functions.filter(
            split(col("w"), java.util.regex.Pattern.quote(d)),
            x => x =!= "").as("syms"),
          col("freq"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i - 1] AS l, syms[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("f"))
      // 1-row argmax per round — the only collect, bounded by design.
      val top = pairs.orderBy(col("f").desc, col("l").asc, col("r").asc)
        .limit(1).collect()(0)
      val (l, r, f) = (top.getString(0), top.getString(1), top.getLong(2))
      words = words.withColumn("w",
        org.apache.spark.sql.functions.replace(col("w"),
          lit(d + l + d + d + r + d), lit(d + l + r + d)))
      (rank, l, r, f)
    }
    import s.implicits._
    merges.toDF("merge_rank", "left_sym", "right_sym", "pair_freq")
      .select(col("merge_rank").cast(IntegerType), col("left_sym"),
        col("right_sym"), col("pair_freq"))
  }

  /** Canonical greedy application of ONE merge rule to a symbol sequence:
    * left-to-right, merge-and-skip. Exactly one pass suffices — a merged
    * token `l+r` can never re-form the same rule with its neighbors
    * (`l+r ≠ l` and `l+r ≠ r` since both are non-empty), which is also
    * why [[txtBpeTrain]]'s double-delimited literal `replace` computes
    * the identical result (BpeCanonicalSpec pins the equivalence). */
  private[graft] def mergePairOnce(syms: Array[String], l: String,
                            r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** q_txt_bpe_train_driver: the PRODUCTION finish of the same train.
    * [[txtBpeTrain]]'s vocab-resident loop has the right IO shape (one
    * corpus pass) but pays a Spark job pair of scheduler latency PER
    * MERGE ROUND — at a production 32k-merge train that is ~64k
    * scheduler round-trips of pure latency on a vocabulary-sized
    * problem. The standard shape (what single-machine BPE trainers do
    * after the count pass) is: ONE corpus-scale map-side-combined
    * word-frequency groupBy, collect the dictionary — bounded by the
    * VOCABULARY, not the corpus; this is the one deliberate driver-sized
    * collect, same contract as the IVF codebook — then run the classic
    * merge loop driver-side at memory speed. Bit-identical to the
    * distributed loop by construction (same argmax tie-break, canonical
    * merge application on both paths — [[mergePairOnce]] vs the
    * double-delimited replace); the gate pins that with the SAME DuckDB
    * oracle as q_txt_bpe_train, and BpeCanonicalSpec asserts frame
    * equality directly. SCALE.md records which shape wins where: driver
    * finish for real merge counts, vocab-resident rounds only when the
    * dictionary itself cannot sit on one machine. */
  def txtBpeTrainDriver(s: SparkSession, dir: String,
                        nMerges: Int = bpeMerges): DataFrame = {
    // CODE-POINT symbols (a plain per-char map would split supplementary
    // characters into surrogate halves — the regex `(.)` both engine legs
    // use matches whole code points), and UTF-8 BINARY tie-break order (=
    // code-point order, what Spark's UTF8String and DuckDB both sort by;
    // Java String compareTo is UTF-16 code-unit order, which ranks
    // supplementary chars below U+E000 and would pick different tie
    // winners on a non-BMP corpus).
    def codePoints(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    def utf8Cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dict: Array[(Array[String], Long)] = table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .collect() // vocabulary-bounded — the documented driver finish
      .map(r => (codePoints(r.getString(0)), r.getLong(1)))
    var words = dict
    val merges = (1 to nMerges).map { rank =>
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      val utf8Ord: Ordering[String] = (a, b) => utf8Cmp(a, b)
      val ((l, r), f) = counts.minBy { case ((l, r), f) => (-f, l, r) }(
        Ordering.Tuple3(Ordering.Long, utf8Ord, utf8Ord))
      words = words.map { case (syms, fr) => (mergePairOnce(syms, l, r), fr) }
      (rank, l, r, f)
    }
    import s.implicits._
    merges.toDF("merge_rank", "left_sym", "right_sym", "pair_freq")
      .select(col("merge_rank").cast(IntegerType), col("left_sym"),
        col("right_sym"), col("pair_freq"))
  }

  /** q_txt_bpe_apply: the OTHER half of the tokenizer lifecycle — apply
    * the learned merge table to the corpus and report each document's
    * BPE token count next to its whitespace count (the compression-ratio
    * view that decides whether a tokenizer fits a corpus). Train runs
    * once ([[txtBpeTrain]]'s vocab-resident loop) and the k merges
    * arrive as LITERALS in a pure scan-side projection — per word:
    * delimit characters, k chained literal `replace`s in rank order
    * (greedy left-to-right = BPE application), count surviving symbols.
    * Zero joins, zero extra shuffles beyond the per-doc aggregation; at
    * 100 TB this is exactly how a trained tokenizer deploys (the merge
    * table ships with the job, the corpus is one pass). */
  /** The trained k-row merge table per (sf dir, nMerges) — a trained
    * ARTIFACT, persisted as parquet through
    * [[graft.sources.ScratchDirs.memoized]] so the memoization is
    * AUDITABLE: `requestedMemoNames` (the bench-honesty observable)
    * records `bpe_merges_fix` on every apply invocation, where the
    * previous bare in-JVM map hid the cache from the guard entirely.
    * [[txtBpeApply]] deploys a tokenizer, it does not re-train one, so
    * invoking apply twice (spec suites, bench passes) must not re-run the
    * 8-round training loop and its second corpus word-frequency shuffle.
    * The TRAIN gates stay unmemoized — q_txt_bpe_train times a live
    * train on every invocation (`BenchHonestySpec` pins that with a
    * per-round job-count assert; only the apply-side artifact is
    * cached). */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, String)]]()
  private def trainedMerges(s: SparkSession, dir: String,
                            nMerges: Int): Array[(String, String)] = {
    // memoized() runs on EVERY invocation (a map hit after the first), so
    // the artifact name stays visible per-invocation to the audit.
    val root = graft.sources.ScratchDirs.memoized("bpe_merges_fix",
      s"$dir#$nMerges") { r =>
      txtBpeTrain(s, dir, nMerges).orderBy("merge_rank")
        .write.parquet(s"$r/merges") // k rows — the trained artifact
    }
    bpeMergeCache.computeIfAbsent(root, _ =>
      graft.sources.TableIO.readStatic(s, s"$root/merges").orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))))
  }

  def txtBpeApply(s: SparkSession, dir: String,
                  nMerges: Int = bpeMerges): DataFrame = {
    val d = bpeSep
    val merges = trainedMerges(s, dir, nMerges)
    val delimited = concat(lit(d + d),
      regexp_replace(col("word"), "(.)", "$1" + d + d))
    val applied = merges.foldLeft(delimited) { case (c, (l, r)) =>
      org.apache.spark.sql.functions.replace(c,
        lit(d + l + d + d + r + d), lit(d + l + r + d))
    }
    // symbols = delimiters/2 - 1 (double boundaries, incl. both ends)
    val nSyms = shiftright(length(applied) -
      length(org.apache.spark.sql.functions.replace(applied, lit(d))), 1) - 1
    table(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), nSyms.as("n_syms"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
      .withColumn("compression",
        col("n_bpe_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
  }

  /** Shared CTE body replaying [[txtBpeTrain]]'s rounds: `w0` word freqs,
    * `d0` delimited symbols, and per round k the pair counts `p\$k`, the
    * argmax `m\$k`, and the post-merge dictionary `d\$k`. */
  private def bpeTrainCtes: String = {
    val rounds = (1 to bpeMerges).map { k =>
      val prev = s"d${k - 1}"
      s"""s$k AS (SELECT list_filter(string_split(w, chr(1)), x -> x <> '') AS syms,
         |    freq FROM $prev),
         |e$k AS (SELECT syms, freq, unnest(range(1, len(syms))) AS i
         |  FROM s$k WHERE len(syms) >= 2),
         |p$k AS (SELECT syms[CAST(i AS INTEGER)] AS l,
         |    syms[CAST(i AS INTEGER) + 1] AS r,
         |    CAST(SUM(freq) AS BIGINT) AS f
         |  FROM e$k GROUP BY 1, 2),
         |m$k AS (SELECT l, r, f FROM p$k ORDER BY f DESC, l ASC, r ASC LIMIT 1),
         |d$k AS (SELECT replace(w,
         |    chr(1) || m$k.l || chr(1) || chr(1) || m$k.r || chr(1),
         |    chr(1) || m$k.l || m$k.r || chr(1)) AS w, freq
         |  FROM $prev, m$k)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |d0 AS (SELECT chr(1) || chr(1) ||
       |    regexp_replace(word, '(.)', '\\1' || chr(1) || chr(1), 'g') AS w,
       |    freq FROM w0),
       |$rounds""".stripMargin
  }

  /** DuckDB twin of [[txtBpeTrain]]: the merge rounds unrolled as CTE
    * blocks; each round's argmax row cross-joins back into the next
    * round's `replace`. */
  private def bpeOracle: String = {
    val out = (1 to bpeMerges).map(k =>
      s"SELECT $k AS merge_rank, l AS left_sym, r AS right_sym, " +
        s"f AS pair_freq FROM m$k").mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |SELECT CAST(merge_rank AS INTEGER) AS merge_rank, left_sym,
       |  right_sym, pair_freq FROM ($out)""".stripMargin
  }

  /** DuckDB twin of [[txtBpeApply]]: replay the train rounds, then apply
    * each round's argmax merge to the per-document word stream and count
    * surviving symbols via delimiter arithmetic. */
  private def bpeApplyOracle: String = {
    val applyRounds = (1 to bpeMerges).map { k =>
      val prev = s"a${k - 1}"
      s"""a$k AS (SELECT doc_id,
         |    replace(w, chr(1) || m$k.l || chr(1) || chr(1) || m$k.r || chr(1),
         |      chr(1) || m$k.l || m$k.r || chr(1)) AS w
         |  FROM $prev, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |a0 AS (SELECT doc_id,
       |    chr(1) || chr(1) ||
       |      regexp_replace(word, '(.)', '\\1' || chr(1) || chr(1), 'g') AS w
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE word <> ''),
       |$applyRounds,
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM((length(w) - length(replace(w, chr(1), ''))) // 2 - 1)
       |      AS BIGINT) AS n_bpe_tokens
       |  FROM a$bpeMerges GROUP BY doc_id)
       |SELECT doc_id, n_words, n_bpe_tokens,
       |  CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS compression
       |FROM agg""".stripMargin
  }

  /** q_txt_classifier: hashed-feature LINEAR quality classifier — the
    * fastText-shaped "model-based filter" stage of a curation pipeline
    * (CCNet / Gopher-style), expressed as what it is at 100 TB: a pure
    * scan-side projection. Each token is featurized by the hashing trick
    * (hash → one of 4096 buckets), the bucket's weight comes from a fixed
    * deterministic table (an LCG of the bucket id — the zero-IO twin of
    * [[txtClassifierTrained]], which scores REAL trained weights from a
    * 4096-entry literal array), and the document's score is the sum
    * of its token weights. `aggregate` over the token array makes it one
    * scan-side pass: NO shuffle, NO UDF, no vocabulary join — the
    * physical plan is Scan → Project, so model scoring at corpus scale is
    * embarrassingly parallel. (Higher-order functions sit outside
    * whole-stage codegen in Spark 4 — the HOF Project runs as an
    * interpreted expression over the columnar scan; still a single pass,
    * and the per-row cost is md5-dominated either way.) md5 is the portable
    * gate hash (the DuckDB oracle replays it bit-for-bit); production
    * would swap in xxhash64 for ~10× cheaper featurization with the
    * identical plan. */
  def txtClassifier(s: SparkSession, dir: String): DataFrame = {
    val score =
      "aggregate(toks, 0L, (acc, t) -> acc + " +
        "((CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 4096) " +
        "* 1103515245L + 12345L) % 1001L - 500L)"
    withTokens(table(s, dir, "documents"))
      .select(col("doc_id"), expr(score).as("score"))
      .withColumn("label", when(col("score") >= 0, lit("keep")).otherwise(lit("drop")))
  }

  /** Trained-model artifact for [[txtClassifierTrained]]: line 1 the
    * decision threshold, then 4096 integer weights in bucket order —
    * produced OFFLINE by tools/train_classifier.py (a perceptron on the
    * stopword-density quality rule keep = stop_fraction ≤ 0.06, linearly
    * realizable over token counts, converged to ZERO training errors on
    * the sf0.01 corpus; integer scaling keeps document scores exact sums,
    * bit-portable across engines). This is the production delivery shape
    * for any fastText-style filter: weights arrive as a literal array
    * (IVF-codebook style), scoring stays a pure scan-side projection. */
  private lazy val classifierModel: (Long, Array[Long]) = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/quality_weights_4096.tsv"))
    try {
      val lines = src.getLines().toArray
      (lines.head.trim.toLong, lines.tail.map(_.trim.toLong))
    } finally src.close()
  }
  private[operators] def classifierThreshold: Long = classifierModel._1
  private[operators] def classifierWeights: Array[Long] = classifierModel._2

  /** q_txt_classifier_trained: the REAL-WEIGHTS path of the model-based
    * filter — same hashing-trick featurization and Scan→Project plan as
    * [[txtClassifier]], but the per-bucket weight comes from the trained
    * artifact above via `element_at` on a single 4096-long array literal
    * (no vocabulary join, no shuffle, no UDF), and keep/drop is the
    * trained decision `score >= threshold`. The DuckDB oracle embeds the
    * same weights as a list literal and replays the scoring exactly;
    * `TrainedClassifierSpec` checks the labels against the known
    * stopword-density ground truth on held-out docs. */
  def txtClassifierTrained(s: SparkSession, dir: String): DataFrame = {
    val w = typedlit(classifierWeights.toSeq)
    val bucketOf = (t: Column) =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast(LongType) % 4096)
        .cast(IntegerType)
    val score = aggregate(col("toks"), lit(0L),
      (acc: Column, t: Column) => acc + element_at(w, bucketOf(t) + 1))
    withTokens(table(s, dir, "documents"))
      .select(col("doc_id"), score.as("score"))
      .withColumn("label",
        when(col("score") >= classifierThreshold, lit("keep"))
          .otherwise(lit("drop")))
  }

  /** q_txt_classifier_eval: calibration report for the trained filter —
    * the confusion matrix of [[txtClassifierTrained]]'s keep/drop decision
    * against the stopword-density ground-truth rule the artifact was
    * trained on, with per-cell score extremes (the margin view: how close
    * the worst-classified documents sit to the threshold). The truth
    * predicate is evaluated as an exact INTEGER cross-multiplication
    * (100·stop_cnt ≤ 6·n_tokens ⟺ stop_fraction ≤ 0.06) so neither
    * engine divides. A model-eval pass any production filter deployment
    * runs before flipping thresholds; everything aggregates to 4 rows in
    * one map-side-combined groupBy over the same Scan→Project scoring
    * plan, so the report costs one corpus scan at any scale. */
  def txtClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val truth = withTokens(table(s, dir, "documents"))
      .select(col("doc_id"),
        (expr("size(filter(toks, x -> x IN ('the','a','of','to','and','in')))")
          * 100 <= size(col("toks")) * 6).as("truth_keep"))
    txtClassifierTrained(s, dir).join(truth, "doc_id")
      .groupBy(col("label"), col("truth_keep"))
      .agg(count(lit(1)).as("n_docs"),
        min("score").as("min_score"), max("score").as("max_score"))
      .orderBy(col("label"), col("truth_keep"))
  }

  /** q_txt_lm_familiarity: corpus-LM familiarity scoring — the CCNet-style
    * "does this document look like the rest of the corpus" signal, without
    * a transcendental perplexity (bit-unportable across libms; see the
    * verify notes): per document, the fraction of its token BIGRAMS whose
    * corpus frequency is ≥ 2. Gibberish and OCR noise score near 0 —
    * their bigrams occur nowhere else; templated/natural text scores
    * high. The ratio is ONE IEEE division of two exact integers, so the
    * oracle replays it exactly.
    *
    * Scale shape: bigram explode is scan-side; corpus frequencies are one
    * map-side-combined groupBy (bigram vocabulary ≪ corpus); the join
    * back keys on the bigram, then one per-doc aggregation. At 100 TB
    * both shuffle legs key on xxhash64(bigram) and drop the string —
    * `hashKeys = true`, gated as q_txt_lm_familiarity_hashed against the
    * SAME string-keyed oracle (collision-free on the fixture corpus, so
    * the scores must match bit-for-bit); the default keys on the bigram
    * itself so the oracle replay is collision-free at any scale. */
  def txtLmFamiliarity(s: SparkSession, dir: String,
                       hashKeys: Boolean = false): DataFrame = {
    val grams0 = withTokens(table(s, dir, "documents"))
      .filter(size(col("toks")) >= 2) // sequence(1, 0) would DESCEND
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> array_join(slice(toks, i, 2), ' '))")).as("gram"))
    val grams = if (hashKeys)
      grams0.select(col("doc_id"), xxhash64(col("gram")).as("gram"))
    else grams0
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("n_occ"))
    grams.join(freq, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("familiarity",
        col("n_shared").cast("double") / col("n_bigrams").cast("double"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_txt_classifier" -> (txtClassifier _),
    "q_txt_classifier_trained" -> (txtClassifierTrained _),
    "q_txt_classifier_eval" -> (txtClassifierEval _),
    "q_txt_novelty" -> ((s: SparkSession, d: String) => txtNovelty(s, d)),
    "q_txt_novelty_incremental" ->
      ((s: SparkSession, d: String) => txtNoveltyIncremental(s, d)),
    "q_txt_novelty_rolling" ->
      ((s: SparkSession, d: String) => txtNoveltyRolling(s, d)),
    "q_txt_bpe_train" -> ((s: SparkSession, d: String) => txtBpeTrain(s, d)),
    "q_txt_bpe_train_driver" ->
      ((s: SparkSession, d: String) => txtBpeTrainDriver(s, d)),
    "q_txt_bpe_apply" -> ((s: SparkSession, d: String) => txtBpeApply(s, d)),
    "q_txt_lm_familiarity" -> ((s: SparkSession, d: String) => txtLmFamiliarity(s, d)),
    "q_txt_lm_familiarity_hashed" ->
      ((s: SparkSession, d: String) => txtLmFamiliarity(s, d, hashKeys = true)),
    "q_dedup_substring" -> ((s: SparkSession, d: String) => dedupSubstringSpans(s, d)),
    "q_dedup_substring_hashed" ->
      ((s: SparkSession, d: String) => dedupSubstringSpans(s, d, hashKeys = true)),
    "q_dedup_incremental" -> ((s: SparkSession, d: String) => dedupIncremental(s, d)),
    "q_txt_boilerplate" -> ((s: SparkSession, d: String) => txtBoilerplate(s, d)),
    "q_txt_tokens" -> (txtTokens _),
    "q_txt_quality" -> (txtQuality _),
    "q_txt_langid" -> (txtLangId _),
    "q_txt_fingerprint" -> (txtFingerprint _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_jaccard" -> ((s: SparkSession, d: String) => dedupJaccardShingle(s, d)),
    "q_dedup_containment" -> ((s: SparkSession, d: String) => dedupContainment(s, d)),
    "q_txt_quantiles" -> (txtLengthQuantiles _),
    "q_txt_tfidf" -> ((s: SparkSession, d: String) => txtTfIdf(s, d)),
    "q_txt_redact" -> (txtRedact _),
    "q_txt_repetition" -> (txtRepetition _),
    "q_txt_confusion" -> (txtConfusion _))

  private val redactOracle: String = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    s"""WITH pii AS (
       |  SELECT doc_id,
       |    text || ' Contact user' || CAST(doc_id AS STRING) || '@example.com or 214-555-'
       |      || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || ' SSN 123-45-'
       |      || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || '.' AS text
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'), '$ssn', '<SSN>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$ssn')) AS INTEGER) AS n_ssns,
       |  CAST(len(regexp_extract_all(
       |    regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |      '$ssn', '<SSN>', 'g'), '$phone')) AS INTEGER) AS n_phones
       |FROM pii""".stripMargin
  }

  /** Shared DuckDB CTE chain ending in `q(doc_id, n_tokens BIGINT,
    * quality_score)` — the relational twin of [[txtQuality]]'s score,
    * interpolated by every oracle that ranks or aggregates on document
    * quality (q_select_budget, q_emb_label_quality) so the heuristic has
    * ONE SQL definition to keep in sync with the Scala one. */
  private[operators] val qualityScoreCtesSql: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_types,
      |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','to','and','in')))
      |      AS INTEGER) AS stop_cnt
      |  FROM t),
      |q AS (SELECT doc_id, n_tokens,
      |    (CASE WHEN n_tokens >= 30 THEN 2 ELSE 1 END
      |     + CASE WHEN CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.4
      |            THEN 1 ELSE 0 END
      |     + CASE WHEN CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.2
      |            THEN 1 ELSE 0 END) AS quality_score
      |  FROM c)""".stripMargin

  private val noveltyOracle: String =
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p
          |  FROM t WHERE len(toks) >= 5),
          |g AS (SELECT doc_id, array_to_string(
          |    toks[CAST(p AS INTEGER):CAST(p + 4 AS INTEGER)], ' ') AS gram
          |  FROM g0),
          |fw AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
          |j AS (SELECT g.doc_id,
          |    CASE WHEN g.doc_id = fw.first_doc THEN 1 ELSE 0 END AS novel
          |  FROM g JOIN fw USING (gram))
          |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          |  CAST(SUM(novel) AS BIGINT) AS n_novel,
          |  CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
          |FROM j GROUP BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_txt_classifier" ->
      """WITH s AS (SELECT doc_id,
        |    list_sum(list_transform(string_split(text, ' '), t ->
        |      ((('0x' || substr(md5(t), 1, 8))::BIGINT % 4096)
        |        * 1103515245::BIGINT + 12345) % 1001 - 500)) AS score
        |  FROM documents)
        |SELECT doc_id, CAST(COALESCE(score, 0) AS BIGINT) AS score,
        |  CASE WHEN COALESCE(score, 0) >= 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM s""".stripMargin,
    "q_txt_lm_familiarity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS p FROM t),
        |g AS (SELECT doc_id, array_to_string(
        |    toks[CAST(p AS INTEGER):CAST(p + 1 AS INTEGER)], ' ') AS gram
        |  FROM g0),
        |f AS (SELECT gram, COUNT(*) AS n_occ FROM g GROUP BY gram),
        |j AS (SELECT g.doc_id,
        |    CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END AS known
        |  FROM g JOIN f USING (gram))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(known) AS BIGINT) AS n_shared,
        |  CAST(SUM(known) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS familiarity
        |FROM j GROUP BY doc_id""".stripMargin,
    "q_dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS p FROM t),
        |g AS (SELECT doc_id, CAST(p AS INTEGER) AS pos,
        |    array_to_string(toks[CAST(p AS INTEGER):CAST(p + 4 AS INTEGER)], ' ') AS gram
        |  FROM g0),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |d AS (SELECT g.doc_id, g.pos, g.pos + 4 AS end_pos
        |  FROM g JOIN dup USING (gram)),
        |m AS (SELECT doc_id, pos, end_pos,
        |    MAX(end_pos) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM d),
        |i AS (SELECT doc_id, pos, end_pos,
        |    SUM(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end + 1
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM m)
        |SELECT doc_id,
        |  CAST(MIN(pos) AS INTEGER) AS span_start,
        |  CAST(MAX(end_pos) AS INTEGER) AS span_end,
        |  CAST(MAX(end_pos) - MIN(pos) + 1 AS INTEGER) AS span_tokens
        |FROM i GROUP BY doc_id, span_id""".stripMargin,
    "q_dedup_incremental" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks)
        |SELECT a.doc_id AS doc_new, b.doc_id AS doc_existing,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    >= 0.5""".stripMargin,
    "q_txt_boilerplate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram FROM toks),
        |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  count(*) FILTER (WHERE df.df >= 5) AS n_boiler,
        |  CAST(count(*) FILTER (WHERE df.df >= 5) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS boiler_frac
        |FROM g JOIN df ON g.gram = df.gram
        |GROUP BY g.doc_id""".stripMargin,
    "q_txt_redact" -> redactOracle,
    "q_txt_confusion" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','in'))) AS INTEGER) AS en_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en'))) AS INTEGER) AS es_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('le','les','de','et','un'))) AS INTEGER) AS fr_hits
        |FROM t),
        |p AS (SELECT lang,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS predicted_lang
        |FROM h)
        |SELECT lang, predicted_lang, COUNT(*) AS n_docs
        |FROM p GROUP BY lang, predicted_lang""".stripMargin,
    "q_txt_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_types,
        |  list_transform(range(1, len(toks) - 1), i ->
        |    ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
        |     1, 15))::BIGINT) AS tris
        |FROM t)
        |SELECT doc_id, n_tokens, n_types,
        |  CAST(len(tris) AS INTEGER) AS n_tri,
        |  CAST(len(list_distinct(tris)) AS INTEGER) AS n_tri_distinct,
        |  CAST(n_tokens - n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS dup_tok_frac,
        |  CASE WHEN len(tris) > 0 THEN
        |    CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) /
        |      CAST(len(tris) AS DOUBLE) END AS dup_tri_frac
        |FROM c""".stripMargin,
    "q_txt_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS n_word_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |  CAST(length(text) AS INTEGER) AS n_chars_text,
        |  n_chars
        |FROM documents""".stripMargin,
    "q_txt_quality" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, n_chars,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_types,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','to','and','in'))) AS INTEGER) AS stop_cnt
        |FROM t)
        |SELECT doc_id, n_tokens, n_types, stop_cnt,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_word_len,
        |  (CASE WHEN n_tokens >= 30 THEN 2 ELSE 1 END
        |   + CASE WHEN CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.4 THEN 1 ELSE 0 END
        |   + CASE WHEN CAST(stop_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.2 THEN 1 ELSE 0 END)
        |  AS quality_score
        |FROM c""".stripMargin,
    "q_txt_langid" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |h AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','in'))) AS INTEGER) AS en_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en'))) AS INTEGER) AS es_hits,
        |  CAST(len(list_filter(toks, x -> x IN ('le','les','de','et','un'))) AS INTEGER) AS fr_hits
        |FROM t)
        |SELECT doc_id, en_hits, es_hits, fr_hits,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS predicted_lang,
        |  (CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |        WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END) = lang AS label_agrees
        |FROM h""".stripMargin,
    "q_txt_fingerprint" ->
      """SELECT doc_id, md5(text) AS exact_fp,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp
        |FROM documents""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q_txt_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents),
        |tagged AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN 'p50'
        |         WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN 'p90'
        |         WHEN rn = cnt THEN 'max' END AS q
        |  FROM ranked)
        |SELECT lang,
        |  MAX(CASE WHEN q = 'p50' THEN n_chars END) AS p50_chars,
        |  MAX(CASE WHEN q = 'p90' THEN n_chars END) AS p90_chars,
        |  MAX(CASE WHEN q = 'max' THEN n_chars END) AS max_chars
        |FROM tagged WHERE q IS NOT NULL GROUP BY lang""".stripMargin,
    "q_txt_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    CAST(tf.tf AS DOUBLE) *
        |      ln(CAST(n.n + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "q_dedup_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks)
        |SELECT doc_a, doc_b, containment FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(least(len(a.s), len(b.s)) AS DOUBLE) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE containment >= 0.8""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin)
    // The production-keyed twins are pinned by the SAME string-keyed SQL:
    // xxhash64 is collision-free on the fixture corpus (and, at 2⁻⁶⁴ per
    // pair, effectively so at any sf), so identical spans/scores are the
    // correctness claim — the 8-byte shuffle key is a plan property,
    // asserted separately in HashedKeysSpec.
    .pipe(o => o
      + ("q_dedup_substring_hashed" -> o("q_dedup_substring"))
      + ("q_txt_lm_familiarity_hashed" -> o("q_txt_lm_familiarity"))
      // The trained-weights twin: the SAME artifact the Spark plan embeds
      // is emitted as a DuckDB list literal, so the oracle replays the
      // real model's exact integer scoring.
      + ("q_txt_classifier_trained" -> {
        val wl = classifierWeights.mkString("[", ",", "]")
        s"""WITH w AS (SELECT $wl AS wl),
           |s AS (SELECT doc_id,
           |    list_sum(list_transform(string_split(text, ' '), t ->
           |      wl[CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 4096
           |           AS INTEGER) + 1])) AS score
           |  FROM documents, w)
           |SELECT doc_id, CAST(score AS BIGINT) AS score,
           |  CASE WHEN score >= $classifierThreshold THEN 'keep'
           |       ELSE 'drop' END AS label
           |FROM s""".stripMargin
      })
      + ("q_txt_bpe_train" -> bpeOracle)
      + ("q_txt_bpe_train_driver" -> bpeOracle)
      + ("q_txt_bpe_apply" -> bpeApplyOracle)
      + ("q_txt_novelty" -> noveltyOracle)
      // the incremental gate's CONTRACT is replay-equals-one-shot: same oracle
      + ("q_txt_novelty_incremental" -> noveltyOracle)
      // ...and the 3-batch rolling replay shares the same contract
      + ("q_txt_novelty_rolling" -> noveltyOracle)
      + ("q_txt_classifier_eval" -> {
        val wl = classifierWeights.mkString("[", ",", "]")
        s"""WITH w AS (SELECT $wl AS wl),
           |s AS (SELECT doc_id, string_split(text, ' ') AS toks,
           |    list_sum(list_transform(string_split(text, ' '), t ->
           |      wl[CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % 4096
           |           AS INTEGER) + 1])) AS score
           |  FROM documents, w),
           |j AS (SELECT doc_id, CAST(score AS BIGINT) AS score,
           |    CASE WHEN score >= $classifierThreshold THEN 'keep'
           |         ELSE 'drop' END AS label,
           |    (100 * len(list_filter(toks,
           |        x -> x IN ('the','a','of','to','and','in')))
           |      <= 6 * len(toks)) AS truth_keep
           |  FROM s)
           |SELECT label, truth_keep, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  MIN(score) AS min_score, MAX(score) AS max_score
           |FROM j GROUP BY label, truth_keep""".stripMargin
      }))
}
