package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (MinHash/SimHash/Jaccard output) into dedup DECISIONS: documents
  * A-B and B-C are the same cluster even though (A,C) never surfaced as a
  * candidate pair, so keeping "one doc per pair" under-deletes. A real
  * corpus dedup keeps one representative per component (the reference
  * pipeline has no graph step — this is part of the 100 TB extension
  * surface alongside the sketch dedups).
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014 — the
  * algorithm behind GraphFrames/Dataproc CC). Large-star points every
  * neighbor LARGER than a node at the minimum of the node's closed
  * neighborhood; small-star does the same for the smaller neighbors.
  * Each operation strictly lowers edge targets, alternation provably
  * converges in O(log² n) rounds (empirically ~log n) to a FIXED edge
  * set that is exactly one star per component rooted at the component
  * minimum — INDEPENDENT of how ids are laid out along the graph.
  * Earlier forms here were id-layout-sensitive: label propagation with
  * pointer jumping degraded to Θ(diameter/2) on zig-zag id layouts (13
  * rounds on a diameter-25 component of the incremental-curation delta
  * graph), and plain min-contraction degrades to Θ(n) on monotone-id
  * paths — both make `maxIter` a structure bound rather than a size
  * bound; star alternation is the form whose bound is honest.
  *
  * Convergence is detected EXACTLY: same edge count AND an empty
  * one-sided set difference against the previous round (both sides are
  * checkpoints, so the anti-join is one cheap job) — no checksum
  * early-stop that could corrupt a hash-exact gate. Labels read
  * directly off the fixed point (star edges = node → component min); a
  * final left join restores nodes that only ever had self-edges.
  *
  * Scale posture: every round is two groupBy-shaped shuffles over the
  * current edge set plus a distinct; edge rows only shrink (targets
  * strictly decrease, stars dedupe); each round's edge set is
  * checkpointed so plans stay constant-size, and the PREVIOUS round's
  * checkpoint blocks are explicitly released once the new round is
  * materialized and compared (so a long session running many closures
  * holds at most two rounds of edge blocks, not `rounds` of them);
  * nothing collects to the driver. `maxIter` = 40 is sized for the
  * EMPIRICAL ~log₂ n regime (a 10⁴-node chain takes 15 rounds;
  * adversarial zig-zag layouts the same — GraphCCSpec pins both) with
  * ~2.6× headroom over that band — star alternation converging in
  * ~log₂(diameter) rounds means 40 covers components of diameter ~2⁴⁰
  * before the loud exhaustion error, far past any 100 TB corpus; the
  * PROVABLE guarantee is O(log² n), so the completion log's round count
  * is the early signal if a hostile layout ever drifts toward the
  * bound (the failure is an exception, never a wrong answer).
  */
object GraphCC {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.GraphCC")

  /** Round count of the most recent [[connectedComponents]] run in this
    * JVM — the observable the no-silent-caps discipline asks for on the
    * iteration axis (a pathological component should show up as a round
    * count drifting toward `maxIter` long before the exhaustion error).
    * Diagnostic only: concurrent runs last-write-win. */
  private val lastRoundsA = new java.util.concurrent.atomic.AtomicInteger(-1)
  private[graft] def lastRunRounds: Int = lastRoundsA.get()

  /** Loop shuffle-partition count for a MATERIALIZED (localCheckpoint'd)
    * edge set: measured block-manager bytes over the session's AQE
    * advisory partition size (a 100 TB edge set gets bytes/advisory
    * partitions, a contracted delta graph gets 1). When the storage-info
    * lookup MISSES (non-LogicalRDD plan, evicted/unregistered blocks),
    * the fallback is the SESSION's shuffle-partition count, never 1 — a
    * miss on a large edge set would otherwise silently run every loop
    * shuffle in one partition, a scale-killer with no error. Each path
    * logs which sizing fired. */
  private[graft] def loopPartitions(sym0: DataFrame): String = {
    val spark = sym0.sparkSession
    val measured: Option[Long] = sym0.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.flatMap(id => spark.sparkContext.getRDDStorageInfo.find(_.id == id))
      .map(s => s.memSize + s.diskSize)
    measured match {
      case Some(bytes) =>
        val advisory = spark.conf
          .get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        val advisoryBytes = org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(advisory)
        val parts = math.max(1L, (bytes + advisoryBytes - 1) / advisoryBytes)
        log.info(s"loop sizing: measured ${bytes}B -> $parts partitions")
        parts.toString
      case None =>
        val fallback = spark.conf.get("spark.sql.shuffle.partitions")
        log.warn("loop sizing: storage-info lookup missed for the round-0 " +
          s"edge set; falling back to session shuffle partitions=$fallback")
        fallback
    }
  }

  /** Components of the undirected graph given by `edges` (two long-typed
    * columns `aCol`, `bCol`; duplicate and self edges are fine). Returns
    * (`node`, `component`) for every node incident to ≥1 edge, where
    * `component` is the smallest node id reachable — deterministic, so
    * hash-exact oracles can replay it.
    *
    * `inputDistinctPairs` skips the round-0 `distinct` (one exchange):
    * pass true when each UNDIRECTED edge of `edges` appears exactly once
    * in exactly one orientation (every persisted `*_prs`/`*pairs` table
    * here — distinct normalized pair sets), whose symmetrized union then
    * cannot contain duplicates either. The flag is a pure shuffle-count
    * optimization: a caller passing true on a duplicated input still
    * converges to the same labels (small-star's distinct re-establishes
    * the exact edge set from round 1 on), it just carries the duplicate
    * rows through round 0 — so never pass it for contracted/derived edge
    * lists where collisions are expected. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 40,
                          inputDistinctPairs: Boolean = false): DataFrame = {
    val a = col(aCol).as("src"); val b = col(bCol).as("dst")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))

    // min of the closed neighborhood, riding the per-node window
    def withMin(e: DataFrame): DataFrame =
      e.withColumn("m", least(min(col("dst")).over(w), col("src")))

    // large-star: for every node, point each LARGER neighbor at the
    // neighborhood min. Input symmetric; output oriented (node > target).
    // No distinct — duplicates cannot change small-star's min and the
    // exact edge set is re-established by small-star's distinct; skipping
    // it saves one exchange per round.
    def largeStar(sym: DataFrame): DataFrame =
      withMin(sym)
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))

    // small-star: for every node, point itself and each SMALLER neighbor
    // at the min of that closed down-neighborhood. Input/output oriented.
    def smallStar(ori: DataFrame): DataFrame =
      withMin(ori)
        .select(explode(array(
            struct(col("src").as("n"), col("m")),
            struct(col("dst").as("n"), col("m")))).as("x"))
        .select(col("x.n").as("src"), col("x.m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()

    // Node universe up front (restores self-edge-only nodes at the end;
    // derived lazily from the checkpointed symmetric set — consumed once,
    // so sym0's blocks drain only after the final join materializes).
    val sym0raw = edges.select(a, b)
      .unionByName(edges.select(b.as("src"), a.as("dst")))
    val sym0 = (if (inputDistinctPairs) sym0raw else sym0raw.distinct())
      .repartition(col("src"))
      .localCheckpoint()
    val nodes = sym0.select(col("src").as("node")).distinct()

    // The loop's shuffles are sized from the MEASURED byte size of the
    // materialized edge set (block-manager size of the round-0
    // checkpoint), targeting the session's AQE advisory partition size —
    // the scale-adaptive form of "fewer, larger reduce partitions"
    // (optimization guide §2.2): a 100 TB edge set gets bytes/advisory
    // partitions, a contracted delta graph gets 1. With partitions sized
    // up front, AQE has nothing left to do inside the loop (rounds have
    // no joins to replan and window skew is outside AQE's reach), so it
    // is disabled for the loop's scope: each round then runs without
    // per-stage replan barriers. (This subsumes the round-18 AQE-off
    // experiment, which kept the session's 32 shuffle partitions and
    // measured 2.5x slower — the win was never AQE-vs-not, it was
    // partition count; measured in OPTIMIZATION_r19.md.)
    val spark = sym0.sparkSession
    val loopParts = loopPartitions(sym0)
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevParts = spark.conf.get(partsKey)
    val prevAqe = spark.conf.get(aqeKey)

    var cur = sym0.filter(col("src") =!= col("dst")) // oriented by lgStar
    var prevCp: Option[DataFrame] = None // checkpoint backing `cur`
    var curCount = -1L
    var rounds = 0
    var converged = false
    val out = try {
      spark.conf.set(partsKey, loopParts)
      spark.conf.set(aqeKey, "false")
      // First large-star consumes the symmetric set; later rounds
      // re-symmetrize the oriented star edges (cheap union — the star
      // orientation loses the upward edges large-star needs).
      while (!converged && rounds < maxIter) {
        val sym =
          if (rounds == 0) cur
          else cur.unionByName(cur.select(col("dst").as("src"),
            col("src").as("dst")))
        // lazy checkpoint + count: the count() action materializes the
        // checkpoint blocks, so each round pays ONE job for
        // materialization-plus-size instead of two (eager checkpoint runs
        // its own internal count).
        val next = smallStar(largeStar(sym))
          .localCheckpoint(eager = false)
        val nextCount = next.count()
        converged = nextCount == curCount &&
          next.exceptAll(cur).isEmpty
        log.debug(s"[cc] round=${rounds + 1} edges=$nextCount")
        // The previous round's blocks are dead once the comparison above
        // has run — drain them now instead of waiting for ContextCleaner
        // GC (the old pointer-jumping core's drain discipline).
        prevCp.foreach(CheckpointBridge.release)
        prevCp = Some(next)
        cur = next
        curCount = nextCount
        rounds += 1
      }
      lastRoundsA.set(rounds)
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds - " +
            "component size exceeds the star-alternation bound; raise maxIter")
      // Fixed point = one star per component rooted at its minimum.
      nodes
        .join(cur.select(col("src").as("node"), col("dst").as("rep")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("rep"), col("node")).as("component"))
        .localCheckpoint()
    } finally {
      spark.conf.set(partsKey, prevParts)
      spark.conf.set(aqeKey, prevAqe)
    }
    // `out` is materialized: the symmetric set and the last round's star
    // edges have no remaining consumer.
    CheckpointBridge.release(sym0)
    prevCp.foreach(CheckpointBridge.release)
    log.info(s"connectedComponents converged: rounds=$rounds " +
      s"starEdges=$curCount")
    out
  }

  /** q_dedup_cc: exact shingle-Jaccard near-dup pairs (the PPJoin path,
    * q_dedup_jaccard) → connected components → cluster id (min doc_id),
    * cluster size, and the canonical-keep flag. This is the full scale
    * path of corpus dedup: candidate pairs → verified pairs → components
    * → keep one representative per cluster. Feeding the EXACT pair set
    * (not the MinHash candidates) keeps this gate's correctness
    * independent of sketch recall — the oracle recomputes the same exact
    * pairs by brute force. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = TextQueries.dedupJaccardShingle(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val cc = connectedComponents(pairs, "doc_a", "doc_b",
      inputDistinctPairs = true) // PPJoin emits distinct a<b pairs
    cc.select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_canonical",
        when(col("doc_id") === col("cluster_id"), 1).otherwise(0))
  }

  /** PERSISTED text near-dup PAIR table (doc_a, doc_b): the exact PPJoin
    * pair set written once per sf dir. Pairs are the artifact every
    * incremental consumer keys on — the cluster table below closes over
    * them, and a BASE-corpus replay (the incremental curation fixture)
    * is a pure id filter of them, because a Jaccard pair depends only on
    * its two endpoint documents. q_dedup_jaccard stays the live leg. */
  private[operators] def pairTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("txt_prs_fix", dir)(
      TextQueries.dedupJaccardShingle(s, dir).select(col("doc_a"), col("doc_b")))

  /** PERSISTED text-cluster table: [[dedupClusters]]' labels written
    * once per sf dir — the decode-once/persisted-artifact discipline
    * (the mm_clippairs_fix precedent) applied to the text axis: cluster
    * labels are a multi-consumer curation artifact (leakage-safe splits,
    * the multimodal manifest), and each consumer should pay a FileScan,
    * not a re-run of the PPJoin + CC pipeline. Built off the persisted
    * pair table (one PPJoin total across both fixtures). q_dedup_cc
    * stays the LIVE leg — it times (and certifies) the cluster
    * computation itself; so does q_curation_e2e, the text pipeline's own
    * composed gate. */
  private[graft] def clusterTablePath(s: SparkSession, dir: String): String =
    graft.sources.ScratchDirs.persistedParquet("txt_cc_fix", dir) {
      val cc = connectedComponents(
        graft.sources.TableIO.readStatic(s, pairTablePath(s, dir)), "doc_a", "doc_b",
        inputDistinctPairs = true)
      cc.select(col("node").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("n_docs",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .withColumn("is_canonical",
          when(col("doc_id") === col("cluster_id"), 1).otherwise(0))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_cc" -> (dedupClusters _))

  /** The oracle recomputes components by transitive closure (recursive CTE)
    * over the exact all-pairs Jaccard pairs — the same exact pair set the
    * Spark side now verifies via PPJoin, so the gate carries no
    * sketch-recall assumption. */
  val oracles: Map[String, String] = Map(
    "q_dedup_cc" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s FROM toks),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |  WHERE jaccard >= 0.5),
        |edges AS (
        |  SELECT doc_a AS s, doc_b AS d FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.node),
        |cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
        |SELECT node AS doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS n_docs,
        |  CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS INTEGER)
        |    AS is_canonical
        |FROM cc""".stripMargin)
}
