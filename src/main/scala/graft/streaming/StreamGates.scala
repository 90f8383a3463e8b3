package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableIO.table

/** Oracle-gated STREAMING twins — deterministic micro-batch replays of the
  * streaming operators, run as real Structured Streaming queries whose
  * final sink frame the DuckDB oracle recomputes relationally. This puts
  * the streaming surface under the same hash bar as every batch operator
  * (previously it was spec-tested only).
  *
  * Replay design: the delta lands as a fixed number of parquet files and a
  * file-source stream with `maxFilesPerTrigger=1` makes each file one
  * micro-batch — a deterministic batch schedule with no driver-side data
  * collection (the MemoryStream harness the specs use would pull every
  * delta row through the driver; a file replay keeps the data distributed,
  * which is the shape that still works when the delta is a day of ingest).
  * The emitted SET is batch-boundary-invariant by construction: each delta
  * doc belongs to exactly one file, the stream-static join is stateless,
  * and pairs are per-doc independent — so the appended frames union to the
  * relational delta × corpus screen no matter how the files are cut.
  */
object StreamGates {

  private val runSeq = new AtomicInteger(0)

  /** Replay-harness parallelism scope. `spark.sql.shuffle.partitions` is
    * read at STREAM START and frozen into the checkpoint as the state-store
    * partition count; at the session default of 32 every checkpointed
    * restart then rewrites 32 partitions' worth of snapshot/delta/checksum
    * files for a replay slice of a few thousand rows — pure file-system
    * churn that dominates the gate's wall time and its run-to-run variance.
    * Each replay creates a FRESH checkpoint, so the count is a per-gate
    * harness parameter, not an operator property: the operators under test
    * inherit the session setting unchanged in production, where the same
    * knob is sized to the cluster. Pinned here to 8 for the replay only and
    * restored in finally. */
  private def withReplayParallelism[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    // 3, not 1: keys still hash across multiple state partitions, so the
    // cross-partition state routing the gates exist to exercise stays on;
    // every extra partition multiplies the per-restart snapshot/delta/crc
    // file churn that dominates replay wall time (state is a few thousand
    // rows — compute is noise next to the checkpoint file ops).
    s.conf.set(key, "3")
    // The state store is the session's provider (SPARK_GRAFT_SQL_CONF can
    // set `spark.sql.streaming.stateStore.providerClass` per run). Measured
    // on the five stateful replay gates at sf0.1, quiet window:
    // RocksDBStateStoreProvider 14.6 s vs default HDFS-backed 13.4 s — the
    // per-restart native-instance setup outweighs any lookup win at
    // replay-sized state (a few thousand rows), so the default stays. At
    // production state sizes (GBs per partition, long-lived queries) the
    // same conf flips to RocksDB without touching gate code.
    try body finally {
      s.conf.set(key, prev)
      // Replay checkpoints are dead after the gate returns, but their
      // state-store providers stay registered in the JVM singleton and
      // the background maintenance thread keeps visiting them (file
      // listings on discarded checkpoint dirs) — across a 9-gate suite
      // that accumulated cost degrades later gates. Unload eagerly.
      org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
    }
  }

  /** q_stream_neardup: the CorpusStream near-dup intake screen
    * (stream-static PPJoin against the corpus prefix index,
    * CorpusStream.nearDupScreen) replayed over the same delta/corpus split
    * as q_dedup_incremental: doc_id % 10 == 0 arrives on the stream, the
    * rest is the static corpus. Append mode, checkpointed, 4 micro-batches;
    * returns the memory sink's final frame. */
  def streamNearDup(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    // Delta files and the corpus prefix index are pure functions of the
    // documents table — a per-sf-dir fixture, built once per JVM. The
    // index is persisted per replay because a stream-static join
    // re-evaluates the static plan EVERY micro-batch (caching the static
    // side is the standard production shape — the corpus is fixed for the
    // life of the stream). The fixture stores the COMPACT per-doc index
    // (arrays once per doc) and the replay explodes it at stream start,
    // so warm passes pay a columnar read + codegen explode, not the
    // tokenize/shingle/sort rebuild.
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val fixt = graft.sources.ScratchDirs.memoized("stream_neardup_fix", dir) {
      r =>
        docs.filter(col("doc_id") % 10 === 0)
          .repartition(4)
          .write.parquet(s"$r/delta")
        CorpusStream.corpusPrefixCompact(docs.filter(col("doc_id") % 10 =!= 0))
          .write.parquet(s"$r/index")
    }
    val root = graft.sources.ScratchDirs.fresh("stream_neardup")
    val index = CorpusStream.explodePrefixIndex(
      graft.sources.TableIO.readStatic(s, s"$fixt/index")).persist()
    try {
      val incoming = s.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$fixt/delta")
      val sink = s"graft_stream_neardup_${runSeq.incrementAndGet()}"
      val q = CorpusStream.nearDupScreen(incoming, index)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    } finally index.unpersist(blocking = false)
  }



  /** q_stream_emb_neardup: the EMBEDDING intake screen — the streaming
    * twin of q_dedup_embedding_lsh, mirroring q_stream_neardup's shape:
    * vec_id % 10 == 0 arrives on the stream, the rest is the static
    * banded index (cached — fixed for the stream's life). Stream-static
    * join on (band, bucket) with the stateless min-matching-band pair
    * dedup, exact-cosine verified; append mode, checkpointed, 4
    * micro-batches. The oracle recomputes signatures, DISTINCT candidate
    * pairs, and the verify relationally — set-identical to the
    * min-band-survivor rows by construction. */
  def streamEmbNearDup(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    // Same fixture shape as q_stream_neardup: delta files + the banded
    // static index are pure functions of the embeddings table, memoized
    // per sf dir; the index is re-persisted per replay (stream-static
    // joins re-evaluate the static side every micro-batch).
    val vecs = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val fixt = graft.sources.ScratchDirs.memoized("stream_emb_neardup_fix", dir) {
      r =>
        vecs.filter(col("vec_id") % 10 === 0)
          .repartition(4)
          .write.parquet(s"$r/delta")
        CorpusStream.embBandCompact(vecs.filter(col("vec_id") % 10 =!= 0))
          .write.parquet(s"$r/index")
    }
    val root = graft.sources.ScratchDirs.fresh("stream_emb_neardup")
    val index = CorpusStream.explodeBandIndex(
      graft.sources.TableIO.readStatic(s, s"$fixt/index")).persist()
    try {
      val incoming = s.readStream
        .schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$fixt/delta")
      val sink = s"graft_stream_emb_neardup_${runSeq.incrementAndGet()}"
      val q = CorpusStream.embNearDupScreen(incoming, index)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    } finally index.unpersist(blocking = false)
  }

  /** q_stream_hourly: the STATEFUL streaming twin — EventStream.hourlyCounts
    * (watermarked tumbling-hour aggregation, append mode) replayed
    * deterministically across THREE restarts of the same checkpointed query:
    *
    *  1. events are cut into 3 time-CONTIGUOUS slices (equal spans of
    *     [min ts, max ts], computed with a scalar-aggregate crossJoin, no
    *     global window);
    *  2. slice k lands as parquet in the source dir, then one
    *     Trigger.AvailableNow run processes it as a single micro-batch and
    *     terminates — writes never race file discovery, and the checkpoint
    *     carries the watermark into the next run (the restart-resume
    *     contract, previously spec-only, now under the hash bar);
    *  3. contiguity makes the replay late-data-free BY CONSTRUCTION: slice
    *     k+1's earliest event is ≥ slice k's max, which sits 1 hour AHEAD
    *     of the post-k watermark, so no row is ever dropped and the final
    *     emitted set is exactly the windows the final watermark closed —
    *     windows with end ≤ max(event ms) − 1 h, which the oracle
    *     recomputes relationally (open windows near the stream head are
    *     deliberately absent: append mode emits only finalized windows).
    *
    * The sink is the exactly-once parquet file sink (its commit log, like
    * the source offsets, lives in the checkpoint), read back as the gate
    * frame. */
  def streamHourly(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    replaySlices(s, eventsNarrow(s, dir), nSlices = 3, "stream_hourly", dir) {
      incoming =>
        EventStream.hourlyCounts(
            incoming.withColumn("ts", timestamp_micros(col("ts_us"))))
          .select(unix_timestamp(col("hour_start")).as("hour_epoch"),
            col("event_type"), col("n_events"), col("sum_value"))
    }
  }

  /** The narrow events frame every replay slices: ts kept as epoch µs
    * (schema-adaptive via `TableIO.withEpochMicros` — matches the oracles'
    * `epoch_us(ts)`). */
  private def eventsNarrow(s: SparkSession, dir: String): DataFrame =
    graft.sources.TableIO.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))

  /** Shared restart-replay harness: cut the frame into `nSlices`
    * time-CONTIGUOUS slices (equal spans of [min ts_us, max ts_us],
    * computed with a scalar-aggregate crossJoin — the cut is a pure
    * function of ts, so equal-ts events always share a slice), then per
    * slice: land it as parquet in the file-source dir and run ONE
    * checkpointed `Trigger.AvailableNow` pass of the query `transform`
    * builds over the stream — writes never race file discovery, and the
    * checkpoint carries watermark AND state store into the next run.
    * Returns the exactly-once parquet sink's final frame. Data stays
    * distributed throughout (no driver-side feeding). */
  private def replaySlices(s: SparkSession, ev: DataFrame, nSlices: Int,
      name: String, memoKey: String, sliceName: String = "",
      startSlice: Int = 0)(
      transform: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val slicesRoot =
      sliceFixtureRoot(s, ev, nSlices, name, memoKey, sliceName)
    val root = graft.sources.ScratchDirs.fresh(name)
    val inDir = Paths.get(s"$root/in")
    Files.createDirectories(inDir)
    val out = s"$root/agg"
    // startSlice > 0: earlier slices were consumed by a BATCH leg (the
    // initial-state bootstrap gate) — only the remainder streams.
    (startSlice until nSlices).foreach { k =>
      linkParquet(s"$slicesRoot/slices/_slice=$k", inDir, s"s${k}_")
      val q = transform(s.readStream.schema(ev.schema).parquet(s"$root/in"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(out)
  }

  /** The slice FIXTURE: one pass writes every slice (partitioned by
    * _slice); each restart then just hard-links slice k's files into the
    * source dir. The slice cut is a pure function of ts over a
    * deterministic input frame, so the landed files are a per-(gate,
    * sf-dir) fixture: built once per JVM (ScratchDirs.memoized) and
    * linked into each replay's fresh source dir — re-cutting identical
    * slices every bench pass re-times fixture synthesis, not the restart
    * semantics under test. A gate replaying the SAME frame and cut as
    * another (the TWS twins, the initial-state bootstrap's batch leg)
    * passes that gate's `sliceName` and shares its slice fixture — the
    * cut is a pure function of (frame, nSlices), so a second memo would
    * be a bit-identical duplicate on disk. */
  private def sliceFixtureRoot(s: SparkSession, ev: DataFrame, nSlices: Int,
      name: String, memoKey: String, sliceName: String = ""): String = {
    val sliceFix = if (sliceName.isEmpty) name else sliceName
    // nSlices is part of the memo identity: two gates sharing a sliceName
    // but cutting a different slice count must never consume each other's
    // fixture (the cut IS the batch/stream boundary under test).
    graft.sources.ScratchDirs.memoized(
        s"${sliceFix}_slices_$nSlices", memoKey) { r =>
      val bounds =
        ev.agg(min(col("ts_us")).as("_mn"), max(col("ts_us")).as("_mx"))
      val sliced = ev.crossJoin(bounds).withColumn("_slice",
        least(lit(nSlices - 1),
          floor((col("ts_us") - col("_mn")).cast("double") * nSlices /
            (col("_mx") - col("_mn") + 1).cast("double")).cast("int")))
      // The per-user processors (sessionize, attribute, the TWS triad)
      // order events only WITHIN each replay batch by (ts_us, event_id);
      // their batch-window equality contract therefore rests on equal-ts
      // events never splitting across slices (two equal-ts events of one
      // user+type arriving in event_id-inverted order across slices would
      // diverge from the oracle's global (ts, event_id) window). The cut
      // above guarantees that — _slice is a pure function of ts_us — and
      // this build-time assert makes the contract EXPLICIT against any
      // future cut that keys on anything finer than the timestamp. Runs
      // once per (gate, sf dir) at fixture build, never per replay.
      val crossSliceTs = sliced.groupBy(col("ts_us"))
        .agg(countDistinct(col("_slice")).as("_ns"))
        .filter(col("_ns") > 1).count()
      require(crossSliceTs == 0L,
        s"slice cut split $crossSliceTs equal-ts groups across slices — " +
          "the per-user processors' (ts_us, event_id) ordering contract " +
          "only holds when the cut is a pure function of ts_us")
      sliced.drop("_mn", "_mx")
        .write.partitionBy("_slice").parquet(s"$r/slices")
    }
  }

  /** Hard-link every parquet part under `srcDir` (if it exists) into
    * `dstDir` under `prefix` — the zero-copy way to land an existing
    * fixture delta in a file-stream source dir. Links, not moves, so a
    * memoized fixture survives for the next replay; `prefix` keeps
    * successive versions' part names from colliding. */
  private def linkParquet(srcDir: String, dstDir: java.nio.file.Path,
                          prefix: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val src = Paths.get(srcDir)
    if (Files.exists(src)) {
      Files.createDirectories(dstDir)
      val files = Files.list(src)
      try files.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.createLink(dstDir.resolve(prefix + p.getFileName), p))
      finally files.close()
    }
  }

  /** q_stream_attribution: the custom-state streaming twin —
    * EventStream.attribute (flatMapGroupsWithState, per-user running-max
    * view time) replayed across TWO checkpointed AvailableNow restarts on
    * time-contiguous slices, so a view in batch 1 attributes a purchase in
    * batch 2 THROUGH THE STATE STORE (the carry this gate exists to hash).
    * The eviction horizon is set beyond the data span, so no state times
    * out and the emitted set equals the batch as-of attribution exactly —
    * including ties, because equal-ts events always share a slice (the cut
    * is a pure function of ts) and the operator sorts each batch by
    * (ts_us, event_id), the batch window's exact order. Bounded-horizon
    * eviction drift stays covered by EventStreamSpec; this gate pins the
    * no-eviction contract to the relational oracle. */
  def streamAttribution(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    import s.implicits._
    implicit val sp: SparkSession = s
    replaySlices(s, eventsNarrow(s, dir), nSlices = 2, "stream_attr", dir) {
      incoming =>
        EventStream.attribute(incoming.as[EventStream.Event],
            horizonMinutes = 20L * 366 * 24 * 60)
          .withColumn("gap_us", col("purchase_us") - col("last_view_us"))
    }
  }

  /** q_stream_sessionize: the SESSION-state streaming twin —
    * EventStream.sessionize (flatMapGroupsWithState, per-user gap
    * sessioning with event-time timeout eviction) replayed across THREE
    * checkpointed AvailableNow restarts on time-contiguous slices. A
    * session that straddles a slice boundary continues THROUGH THE STATE
    * STORE (last event time + running session number carry in state), so
    * the final emitted set must equal the batch window sessionization
    * exactly — session numbers and all. The watermark horizon is set
    * beyond the data span: no event is late, no session state is evicted
    * mid-replay, and the emitted set is the full table (the bounded-
    * horizon eviction contract stays covered by EventStreamSpec). */
  def streamSessionize(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    implicit val sp: SparkSession = s
    import s.implicits._
    replaySlices(s, eventsNarrow(s, dir), nSlices = 3, "stream_sess", dir) {
      incoming =>
        EventStream.sessionize(incoming.as[EventStream.Event],
          gapMinutes = 30, horizon = "175200 hours").toDF()
    }
  }

  /** Scope with the RocksDB state-store provider set (transformWithState
    * requires it) and the previous provider restored after — shared by
    * every TWS gate. SEQUENTIAL-ONLY: the provider conf is session-global
    * mutable state, so two gates racing on one SparkSession could restore
    * out of order and run a non-TWS replay on the wrong provider. Fine
    * under the current one-gate-at-a-time Verify/Bench drivers; if gate
    * concurrency is ever introduced, move the provider to a per-query
    * `writeStream` option (or give TWS gates their own session). */
  private def withRocksDBProvider[T](s: SparkSession)(body: => T): T = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => s.conf.set(provKey, v)
      case None => s.conf.unset(provKey)
    }
  }

  /** q_stream_sessionize_tws: the SAME 3-restart sessionize replay driven
    * through Spark 4's `transformWithState`
    * ([[EventStream.sessionizeTws]]) instead of flatMapGroupsWithState —
    * the A/B that certifies the new-API port carries identical semantics
    * through the state store (explicit ValueState + event-time timers vs
    * GroupState + timeout). Same slices, same horizon, same oracle as
    * q_stream_sessionize: the emitted set must hash-match the batch
    * sessionization exactly. transformWithState requires the RocksDB
    * state-store provider; it is set for the replay and restored after
    * (the other replays keep exercising the default HDFS-map provider —
    * SCALE.md's A/B records both). */
  def streamSessionizeTws(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    implicit val sp: SparkSession = s
    import s.implicits._
    withRocksDBProvider(s) {
      replaySlices(s, eventsNarrow(s, dir), nSlices = 3, "stream_sess_tws", dir,
          sliceName = "stream_sess") {
        incoming =>
          EventStream.sessionizeTws(incoming.as[EventStream.Event],
            gapMinutes = 30, horizon = "175200 hours").toDF()
      }
    }
  }

  /** q_stream_recent_tws: ONLINE FEATURES over bounded per-user history —
    * `transformWithState` ListState holding each user's trailing 5
    * events ([[EventStream.recentFeaturesTws]]), replayed across the
    * same 3 checkpointed restarts (and the same slice fixture) as the
    * sessionize gates. Features computed for an event in batch 3 over
    * events from batches 1-2 flow THROUGH THE LIST STATE — the carry
    * this gate hashes. The oracle is the batch window
    * `ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING` over (ts_us, event_id)
    * order: the replay must equal it exactly, which certifies the
    * trim-to-n state discipline loses nothing the window sees. */
  def streamRecentTws(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    implicit val sp: SparkSession = s
    import s.implicits._
    withRocksDBProvider(s) {
      replaySlices(s, eventsNarrow(s, dir), nSlices = 3, "stream_recent_tws", dir,
          sliceName = "stream_sess") {
        incoming =>
          EventStream.recentFeaturesTws(incoming.as[EventStream.Event],
            n = 5, horizon = "175200 hours").toDF()
      }
    }
  }

  /** q_stream_typecounts_tws: per-(user, type) ONLINE frequency counts —
    * `transformWithState` MapState ([[EventStream.typeCountsTws]]),
    * completing the typed-state triad the two sibling TWS gates started
    * (ValueState: sessionize; ListState: recent features; MapState:
    * keyed counts). Replayed across the same 3 checkpointed restarts and
    * slice fixture; a count for an event in batch 3 includes its user's
    * batch-1/2 events of that type THROUGH THE MAP STATE — the carry
    * this gate hashes. Oracle: the batch running-count window over
    * (ts_us, event_id) order. */
  def streamTypeCountsTws(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    implicit val sp: SparkSession = s
    import s.implicits._
    withRocksDBProvider(s) {
      replaySlices(s, eventsNarrow(s, dir), nSlices = 3,
          "stream_typecounts_tws", dir, sliceName = "stream_sess") {
        incoming =>
          EventStream.typeCountsTws(incoming.as[EventStream.Event],
            horizon = "175200 hours").toDF()
      }
    }
  }

  /** q_stream_typecounts_init: BATCH-BOOTSTRAPPED state — the
    * `StatefulProcessorWithInitialState` migration path the triad's
    * cold-start gates leave unexercised: production moves a historical
    * backfill INTO online state instead of replaying history through
    * the state store. Slice 0 is consumed by a BATCH leg (its output
    * rows from the batch running-count window; one per-user seed row of
    * per-type counts from a groupBy), the streaming query starts from
    * that seeded state and replays slices 1-2 across a checkpointed
    * restart (initial state applies on first start only; the restart
    * resumes from the store — both paths exercised). The batch rows ∪
    * streamed rows must hash-equal the SAME full batch window oracle as
    * q_stream_typecounts_tws: a seed that loaded wrong counts, or a
    * restart that re-applied the initial state, shifts every
    * n_prev_same_type after the cut and breaks the hash. */
  def streamTypeCountsInit(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    implicit val sp: SparkSession = s
    import s.implicits._
    withRocksDBProvider(s) {
      val ev = eventsNarrow(s, dir)
      val slicesRoot = sliceFixtureRoot(s, ev, nSlices = 3, "stream_sess", dir)
      val slice0 = graft.sources.TableIO.readStatic(s, s"$slicesRoot/slices/_slice=0")
      // batch leg: the historical table's own output rows...
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val batchRows = slice0.select(col("user_id"), col("event_id"),
        col("event_type"), count(lit(1)).over(w).as("n_prev_same_type"))
      // ...and the per-user seed the online query boots from
      val seeds = slice0.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(collect_list(struct(col("event_type"), col("n"))).as("ts"))
        .select(col("user_id"), col("ts.event_type").as("types"),
          col("ts.n").as("counts"))
        .as[EventStream.TypeSeed]
      val streamed = replaySlices(s, ev, nSlices = 3,
          "stream_typecounts_init", dir, sliceName = "stream_sess",
          startSlice = 1) {
        incoming =>
          EventStream.typeCountsTwsWithInit(incoming.as[EventStream.Event],
            seeds, horizon = "175200 hours").toDF()
      }
      batchRows.unionByName(streamed.select(col("user_id"), col("event_id"),
        col("event_type"), col("n_prev_same_type")))
    }
  }

  /** q_stream_join: the STREAM-STREAM twin — EventStream.viewPurchaseJoin
    * (watermarked interval self-join of the event feed split into view and
    * purchase streams) replayed across TWO checkpointed AvailableNow
    * restarts on time-contiguous slices, so a view in batch 1 joins a
    * purchase in batch 2 THROUGH THE JOIN STATE STORE — the cross-batch
    * carry this gate hashes. The watermark horizon sits beyond the data
    * span: no join state is evicted mid-replay, so the emitted set equals
    * the exact relational interval join (pairs emit on second-side
    * arrival and are per-pair independent — batch-cut-invariant). The
    * bounded-horizon eviction trade stays documented on the operator. */
  def streamJoin(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    replaySlices(s, eventsNarrow(s, dir), nSlices = 2, "stream_join", dir) {
      incoming =>
        EventStream.viewPurchaseJoin(incoming, horizon = "175200 hours")
    }
  }

  /** q_stream_dedup: the streaming EXACT-DEDUP twin —
    * EventStream.streamingDedup (`dropDuplicatesWithinWatermark` on the
    * md5 fingerprint) replayed across THREE checkpointed AvailableNow
    * restarts, with a synthetic event time (doc_id µs) driving the slices.
    * A duplicate payload arriving in a LATER batch than its first copy is
    * suppressed THROUGH THE STATE STORE — the carry this gate hashes. The
    * horizon sits beyond the data span (no fingerprint state expires), so
    * the emitted set is exactly one row per distinct payload; the gate
    * emits the fingerprint alone because WHICH copy survives is
    * arrival-order-dependent — the deduplicated SET is the deterministic
    * contract (eviction-horizon drift stays covered by CorpusStreamSpec). */
  def streamDedup(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    // day-one offset: a doc at epoch 0 would tie the INITIAL watermark
    // (also 0) and be dropped as late before any state exists
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        ((col("doc_id") + lit(86400L)) * lit(1000000L)).as("ts_us"))
    replaySlices(s, docs, nSlices = 3, "stream_dedup", dir) { incoming =>
      EventStream.streamingDedup(
          incoming.withColumn("ts", timestamp_micros(col("ts_us"))),
          "doc_id", "text", "ts", horizon = "175200 hours")
        .select(col("fingerprint"))
    }
  }

  /** q_stream_cdc_replica: CDC REPLICATION — the consumer side of the
    * change feed. A source-of-truth versioned table runs two feed-recording
    * merges (insert-everything, then update-when-newer/delete-when-stale);
    * a file-source stream over the feeds applies each micro-batch to an
    * independent REPLICA table via a foreachBatch merge whose clauses
    * interpret the `_action` tag (delete removes, insert/update upsert the
    * post-image). Feeds land version-by-version with a checkpointed
    * AvailableNow pass each — the exactly-once contract (source offsets in
    * the checkpoint) means pass 2 applies only v2. The gate returns the
    * REPLICA, and the oracle is the source-of-truth state — replication
    * through delta-sized feeds must land exactly where the table itself
    * landed. Within one version each key carries one action, so the apply
    * is batch-cut-invariant. At 100 TB the consumer reads delta-sized
    * feeds, never snapshots — this is the scale story the feed exists for. */
  def streamCdcReplica(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    import graft.operators.Merge
    import graft.sources.{ManagedTable, MergeClauses, ScratchDirs}
    // The source-of-truth history is the shared deterministic fixture
    // (memoized per sf dir — see LifecycleQueries.feedHistoryShared);
    // feeds land in the stream-source dir by hard link, not a copy job.
    val tableRoot = graft.operators.LifecycleQueries.feedHistoryShared(s, dir)
    val root = ScratchDirs.fresh("stream_cdc")
    val feed1 = s.read.parquet(s"$tableRoot/_changes/v1")
    val replica = s"$root/replica"
    ManagedTable.createEmpty(s, replica, feed1.drop(Merge.ActionCol))
    val applySpec = MergeClauses.Spec(
      updateWhen = Some(col(s"s.${Merge.ActionCol}") =!= lit("delete")),
      deleteWhen = Some(lit(true)),
      insertWhen = Some(col(s"s.${Merge.ActionCol}") =!= lit("delete")))
    (1 to 2).foreach { v =>
      linkParquet(s"$tableRoot/_changes/v$v",
        java.nio.file.Paths.get(s"$root/in"), s"v${v}_")
      val q = s.readStream.schema(feed1.schema).parquet(s"$root/in")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          ManagedTable.merge(s, replica, batch, Seq("cust"), applySpec)
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ManagedTable.read(s, replica)
  }

  /** q_stream_cdc_bucketed: the BUCKET-ROUTED replica — same change feeds
    * as q_stream_cdc_replica, but the replica is a [[BucketedTable]], so
    * each foreachBatch apply rewrites ONLY the buckets containing the
    * batch's keys. This is the full 100 TB CDC path end-to-end: the
    * producer records delta-sized feeds, the consumer applies them at
    * bucket-delta cost — neither side ever rewrites or rescans a
    * snapshot. The oracle is the source-of-truth state, shared with the
    * managed-table replica gate. */
  def streamCdcBucketed(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    import graft.operators.Merge
    import graft.sources.{BucketedTable, MergeClauses, ScratchDirs}
    // Shared memoized source fixture + hard-linked feeds, as in
    // streamCdcReplica — this gate times the BUCKET-ROUTED apply.
    val tableRoot = graft.operators.LifecycleQueries.feedHistoryShared(s, dir)
    val root = ScratchDirs.fresh("stream_cdc_bkt")
    val feed1 = s.read.parquet(s"$tableRoot/_changes/v1")
    val replica = s"$root/replica"
    BucketedTable.create(replica, feed1.drop(Merge.ActionCol).limit(0),
      Seq("cust"), nBuckets = 8)
    val applySpec = MergeClauses.Spec(
      updateWhen = Some(col(s"s.${Merge.ActionCol}") =!= lit("delete")),
      deleteWhen = Some(lit(true)),
      insertWhen = Some(col(s"s.${Merge.ActionCol}") =!= lit("delete")))
    (1 to 2).foreach { v =>
      linkParquet(s"$tableRoot/_changes/v$v",
        java.nio.file.Paths.get(s"$root/in"), s"v${v}_")
      val q = s.readStream.schema(feed1.schema).parquet(s"$root/in")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          BucketedTable.merge(s, replica, batch, applySpec)
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    BucketedTable.read(s, replica)
  }

  /** q_stream_view: STREAMING INCREMENTAL-VIEW MAINTENANCE — the
    * materialized per-customer aggregate advanced purely from a STREAM of
    * pre-image change feeds, never re-aggregating the fact. The fact
    * table runs two hostile merges (an upsert that also MOVES rows
    * between groups, then a conditional update/delete), each recording a
    * pre-image feed; a file-source stream applies feed v1 then v2 to the
    * view through checkpointed AvailableNow passes (exactly-once source
    * offsets → each version applied exactly once, in order), with the
    * view itself a versioned table (read v, write v+1 — immutable
    * versions make the read-modify-write safe). The oracle recomputes
    * both merges and the aggregate from scratch: a missed retraction, a
    * double-applied feed, or an out-of-order apply breaks the hash. At
    * 100 TB this is the CDC-to-serving path end-to-end — delta-sized
    * feeds in, delta-cost view updates out. */
  def streamView(s: SparkSession, dir: String): DataFrame =
      withReplayParallelism(s) {
    import graft.operators.IncrementalView
    import graft.sources.{ManagedTable, MergeClauses, ScratchDirs}
    val spec = IncrementalView.Spec(Seq("cust"), Seq("total"))
    // The fact table, its two pre-image feeds, and the initial view state
    // are a deterministic per-sf-dir fixture (two hostile merges over
    // orders) — built once per JVM; each replay then times what the gate
    // is about: applying delta-sized feeds to the view exactly once, in
    // order, through the checkpointed stream.
    val fixt = ScratchDirs.memoized("stream_view_fix", dir) { r =>
      val factRoot = s"$r/fact"
      def orders0 = table(s, dir, "orders")
      def shaped(f: org.apache.spark.sql.Column,
                 custCol: org.apache.spark.sql.Column, bump: Int): DataFrame =
        orders0.filter(f).select(col("o_orderkey").as("k"), custCol.as("cust"),
          (col("o_totalprice").cast("decimal(18,2)") +
            lit(bump).cast("decimal(18,2)")).cast("decimal(18,2)").as("total"),
          col("o_orderstatus").as("st"))
      val base = shaped(col("o_orderdate") <= lit("1995-12-31"), col("o_custkey"), 0)
      ManagedTable.overwrite(factRoot, base)                         // v0
      ManagedTable.merge(s, factRoot,
        shaped(col("o_orderdate").between(lit("1995-07-01"), lit("1996-06-30")),
          col("o_custkey") % lit(500), 100),
        Seq("k"), changeFeed = true, preImageFeed = true)            // v1
      ManagedTable.merge(s, factRoot,
        shaped(col("o_orderdate").between(lit("1996-07-01"), lit("1997-06-30")),
          col("o_custkey"), 0),
        Seq("k"),
        MergeClauses.Spec(updateWhen = Some(col("s.st") =!= lit("F")),
          deleteWhen = Some(lit(true))),
        changeFeed = true, preImageFeed = true)                      // v2
      IncrementalView.initialize(base, spec).write.parquet(s"$r/init_view")
    }
    val root = ScratchDirs.fresh("stream_view")
    val viewRoot = s"$root/view"
    ManagedTable.overwrite(viewRoot, graft.sources.TableIO.readStatic(s, s"$fixt/init_view"))
    val feedSchema = graft.sources.TableIO.readStatic(s, s"$fixt/fact/_changes/v1").schema
    (1 to 2).foreach { v =>
      linkParquet(s"$fixt/fact/_changes/v$v",
        java.nio.file.Paths.get(s"$root/in"), s"v${v}_")
      val q = s.readStream.schema(feedSchema).parquet(s"$root/in")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          ManagedTable.overwrite(viewRoot,
            IncrementalView.applyChanges(
              ManagedTable.read(s, viewRoot), batch, spec))
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ManagedTable.read(s, viewRoot)
      .select(col("cust"), col("n"),
        col("sum_total").cast("double").as("total_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_neardup" -> (streamNearDup _),
    "q_stream_emb_neardup" -> (streamEmbNearDup _),
    "q_stream_hourly" -> (streamHourly _),
    "q_stream_attribution" -> (streamAttribution _),
    "q_stream_sessionize" -> (streamSessionize _),
    "q_stream_sessionize_tws" -> (streamSessionizeTws _),
    "q_stream_recent_tws" -> (streamRecentTws _),
    "q_stream_typecounts_tws" -> (streamTypeCountsTws _),
    "q_stream_typecounts_init" -> (streamTypeCountsInit _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_cdc_replica" -> (streamCdcReplica _),
    "q_stream_cdc_bucketed" -> (streamCdcBucketed _),
    "q_stream_view" -> (streamView _))

  /** q_stream_neardup: same relational definition as q_dedup_incremental —
    * the streaming replay must land exactly where the batch operator lands.
    * q_stream_hourly: the batch hourly rollup restricted to watermark-closed
    * windows — watermark ms = floor(max event µs / 1000) − 3 600 000, and a
    * window [s, s+1h) is emitted iff its end ≤ that. */
  val oracles: Map[String, String] = Map(
    // The streaming replay must land EXACTLY where the batch operator
    // lands, so the gate shares the batch oracle by reference — an edit
    // to one bar is an edit to both.
    "q_stream_attribution" ->
      graft.operators.EventQueries.oracles("q_events_attribution"),
    // Sessionization must land exactly where the batch gap-window lands —
    // session numbers carried through the state store and all.
    "q_stream_sessionize" ->
      graft.operators.EventQueries.oracles("q_events_sessionize"),
    // same contract, new state API: replay must equal batch sessionize
    "q_stream_sessionize_tws" ->
      graft.operators.EventQueries.oracles("q_events_sessionize"),
    // the trailing-5 ListState replay must equal the batch window
    "q_stream_recent_tws" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |w AS (SELECT user_id, event_id,
        |    CAST(COUNT(*) OVER win AS INTEGER) AS n_prev,
        |    MAX(value) OVER win AS max_prev_value,
        |    ts_us - LAG(ts_us, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, n_prev, max_prev_value, gap_us
        |FROM w""".stripMargin,
    // the MapState running counts must equal the batch window
    "q_stream_typecounts_tws" ->
      """SELECT user_id, event_id, event_type,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
        |    AS n_prev_same_type
        |FROM events""".stripMargin,
    // Batch-bootstrapped state must land exactly where the cold-start
    // replay lands: SAME full batch window oracle (an initial-state load
    // that shifted any count diverges immediately).
    "q_stream_typecounts_init" ->
      """SELECT user_id, event_id, event_type,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
        |    AS n_prev_same_type
        |FROM events""".stripMargin,
    // Replication must land exactly where the source-of-truth table
    // landed, so the replica gate shares the lifecycle state oracle.
    "q_stream_cdc_replica" ->
      graft.operators.LifecycleQueries.oracles("q_lifecycle_table"),
    // Bucket-routed replication must land exactly where the source table
    // landed too — same state oracle.
    "q_stream_cdc_bucketed" ->
      graft.operators.LifecycleQueries.oracles("q_lifecycle_table"),
    "q_stream_dedup" ->
      "SELECT DISTINCT md5(text) AS fingerprint FROM documents",
    "q_stream_emb_neardup" -> embNearDupOracle(threshold = 0.35,
      nBands = 16, rowsPerBand = 4),
    "q_stream_view" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 0 AS DECIMAL(18,2)) AS total,
        |    o_orderstatus AS st
        |  FROM orders WHERE o_orderdate <= DATE '1995-12-31'),
        |d1 AS (
        |  SELECT o_orderkey AS k, o_custkey % 500 AS cust,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DECIMAL(18,2)) AS total,
        |    o_orderstatus AS st
        |  FROM orders
        |  WHERE o_orderdate BETWEEN DATE '1995-07-01' AND DATE '1996-06-30'),
        |m1 AS (
        |  SELECT * FROM d1
        |  UNION ALL
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.k = b.k)),
        |d2 AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 0 AS DECIMAL(18,2)) AS total,
        |    o_orderstatus AS st
        |  FROM orders
        |  WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1997-06-30'),
        |m2 AS (
        |  SELECT d2.* FROM d2 JOIN m1 ON m1.k = d2.k WHERE d2.st <> 'F'
        |  UNION ALL
        |  SELECT m1.* FROM m1
        |  WHERE NOT EXISTS (SELECT 1 FROM d2 WHERE d2.k = m1.k)
        |  UNION ALL
        |  SELECT d2.* FROM d2
        |  WHERE NOT EXISTS (SELECT 1 FROM m1 WHERE m1.k = d2.k))
        |SELECT cust, COUNT(*) AS n, CAST(SUM(total) AS DOUBLE) AS total_sum
        |FROM m2 GROUP BY cust""".stripMargin,
    "q_stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('view', 'purchase'))
        |SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  p.us - v.us AS gap_us
        |FROM e v JOIN e p
        |  ON v.event_type = 'view' AND p.event_type = 'purchase'
        | AND v.user_id = p.user_id
        | AND p.us >= v.us AND p.us - v.us <= 3600000000""".stripMargin,
    "q_stream_hourly" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |         event_type, value
        |  FROM events),
        |wm AS (SELECT (max(us) // 1000) - 3600000 AS wm_ms FROM e)
        |SELECT hour_epoch, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM e CROSS JOIN wm
        |GROUP BY hour_epoch, event_type, wm_ms
        |HAVING (hour_epoch + 3600) * 1000 <= wm_ms""".stripMargin,
    "q_stream_neardup" ->
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
        |    >= 0.5""".stripMargin)

  /** DuckDB replay of the streaming embedding screen: same seeded banded
    * signatures (shared CTE builder with the batch LSH-dedup oracle),
    * DISTINCT delta×corpus candidate pairs over shared (band, bucket),
    * exact cosine verify — set-identical to the stream's
    * min-matching-band survivors by construction. */
  private def embNearDupOracle(threshold: Double, nBands: Int,
                               rowsPerBand: Int): String = {
    val (bucketCols, unioned) =
      graft.operators.SimilarityQueries.lshBandSigSql(nBands, rowsPerBand)
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
       |  SELECT DISTINCT d.vec_id AS vec_new, x.vec_id AS vec_existing
       |  FROM e d JOIN e x ON d.band = x.band AND d.bucket = x.bucket
       |    AND d.vec_id % 10 = 0 AND x.vec_id % 10 <> 0)
       |SELECT cand.vec_new, cand.vec_existing,
       |  list_sum(list_transform(range(1, 65),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.norm * b.norm) AS cos_sim
       |FROM cand
       |JOIN c a ON a.vec_id = cand.vec_new
       |JOIN c b ON b.vec_id = cand.vec_existing
       |WHERE list_sum(list_transform(range(1, 65),
       |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (a.norm * b.norm) >= $threshold""".stripMargin
  }
}
