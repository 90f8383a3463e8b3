package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Hash-bucketed managed table — the 100 TB upgrade of [[ManagedTable]]'s
  * whole-snapshot MERGE. The table is split into `nBuckets` key-hash
  * buckets; each version directory materializes ONLY the buckets the merge
  * touched, and a manifest maps every bucket to the newest version that
  * holds it (a miniature LSM/Iceberg-style metadata layer, built from
  * public designs):
  *
  * {{{
  *   <root>/v0/b00000/ ... b00031/      initial full write
  *   <root>/v1/b00007/                  merge that touched bucket 7 only
  *   <root>/v1/_manifest                bucket -> "v0" | "v1" (one line each)
  *   <root>/_latest                     live version pointer (atomic swap)
  * }}}
  *
  * MERGE cost is therefore proportional to the DELTA: the source is
  * bucketed, only manifest entries for source buckets are read and
  * rewritten, and untouched buckets are carried forward by reference.
  * At 100 TB with a daily delta touching 1% of buckets, the rewrite is
  * ~1 TB instead of 100 TB — and the merge join only shuffles the touched
  * buckets' rows. Readers always see one consistent manifest (immutable
  * version dirs + atomic pointer swap, same protocol as ManagedTable).
  */
object BucketedTable extends VersionedLayout {

  /** `schema` is the table's LOGICAL schema, versioned with the manifest
    * (`_schema.json`, the Delta/Iceberg schema-in-the-log design): after a
    * schema-evolving merge, untouched buckets still hold files WITHOUT the
    * new columns — reading through the recorded schema fills them with
    * nulls (the parquet reader's missing-column behavior), so evolution
    * never rewrites a bucket it didn't touch. `None` only for tables
    * created before schemas were recorded (reads fall back to
    * file-inferred schema). */
  final case class Meta(version: Int, nBuckets: Int, keys: Seq[String],
                        manifest: Map[Int, String],
                        schema: Option[org.apache.spark.sql.types.StructType])

  private def bucketCol(keys: Seq[String], nBuckets: Int) =
    pmod(hash(keys.map(col): _*), lit(nBuckets))

  private def readMeta(root: String): Meta =
    readMetaAt(root, currentVersion(root))

  private def readMetaAt(root: String, v: Int): Meta = {
    val lines = Files.readAllLines(Paths.get(root, s"v$v", "_manifest")).asScala
    val header = lines.head.split(",") // nBuckets,key1;key2
    val schemaFile = Paths.get(root, s"v$v", "_schema.json")
    val schema =
      if (Files.exists(schemaFile))
        Some(org.apache.spark.sql.types.DataType
          .fromJson(Files.readString(schemaFile))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else None
    Meta(v, header(0).toInt, header(1).split(";").toIndexedSeq,
      lines.tail.map { l =>
        val Array(b, ver) = l.split(",", 2); b.toInt -> ver
      }.toMap, schema)
  }

  private def writeVersion(root: String, version: Int, nBuckets: Int,
                           keys: Seq[String], manifest: Map[Int, String],
                           schema: Option[org.apache.spark.sql.types.StructType])
      : Unit = {
    val dir = Paths.get(root, s"v$version")
    Files.createDirectories(dir)
    schema.foreach(s0 => Files.writeString(dir.resolve("_schema.json"), s0.json))
    val body = (s"$nBuckets,${keys.mkString(";")}" +:
      manifest.toSeq.sortBy(_._1).map { case (b, v) => s"$b,$v" }).mkString("\n")
    Files.writeString(dir.resolve("_manifest"), body)
    swapPointer(root, version)
  }

  /** A reader pinned to the meta's recorded schema when one exists —
    * bucket files predating a schema evolution lack the new columns and
    * must read as null-filled, not fail or drop them. */
  private def readerFor(spark: SparkSession, meta: Meta) =
    meta.schema.fold(spark.read)(s0 => spark.read.schema(s0))

  /** A manifest entry is either a local version name ("v3") or — after a
    * [[shallowClone]] — an ABSOLUTE version-dir path into another table's
    * root ("/…/src/v3"): the clone's untouched buckets resolve straight
    * into the source table's immutable files, zero bytes copied. */
  private def bucketDir(root: String, ver: String, b: Int): String =
    if (ver.startsWith("/")) f"$ver/b$b%05d" else f"$root/$ver/b$b%05d"

  private def hasParquet(dir: String): Boolean =
    listDir(Paths.get(dir))(_.exists(_.getFileName.toString.endsWith(".parquet")))

  /** Publish the version after `meta`'s with `rows` as the contents of
    * the `touched` buckets: one write partitioned by bucket stages them
    * under `v<next>/_data`, each bucket's dir moves out of it (an empty one
    * where the write left none — a bucket emptied by deletes, or all-empty
    * files compacted away), and the manifest points those buckets at
    * `v<next>` and carries the rest by reference. */
  private def publishBuckets(root: String, meta: Meta, touched: Iterable[Int],
                             rows: DataFrame,
                             schema: Option[org.apache.spark.sql.types.StructType])
      : Unit = {
    val next = meta.version + 1
    rows.withColumn("_bucket", bucketCol(meta.keys, meta.nBuckets))
      .write.mode("overwrite").partitionBy("_bucket")
      .parquet(s"$root/v$next/_data")
    touched.foreach { b =>
      val src = Paths.get(s"$root/v$next/_data/_bucket=$b")
      val dst = Paths.get(bucketDir(root, s"v$next", b))
      if (Files.exists(src)) Files.move(src, dst)
      else Files.createDirectories(dst)
    }
    ScratchDirs.deleteRecursively(Paths.get(s"$root/v$next/_data"))
    val touchedSet = touched.toSet
    writeVersion(root, next, meta.nBuckets, meta.keys,
      meta.manifest.map { case (b, ver) =>
        b -> (if (touchedSet(b)) s"v$next" else ver)
      }, schema)
  }

  /** Initial full write: every bucket lands in v0, published over a table
    * with no version yet. */
  def create(root: String, df: DataFrame, keys: Seq[String], nBuckets: Int): Unit = {
    val all = 0 until nBuckets
    publishBuckets(root, Meta(-1, nBuckets, keys, all.map(_ -> "").toMap, None),
      all, guard(root, df), Some(df.schema))
  }

  /** Read the live table (all buckets via the manifest). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val meta = readMeta(root)
    readAt(spark, root, meta)
  }

  /** Time travel (Delta `versionAsOf` on the bucketed layout): resolve a
    * HISTORICAL manifest and read through it. Version dirs are immutable
    * and untouched buckets are carried by reference, so the old manifest
    * still addresses exactly the files that were live then — unless
    * vacuum's reachability sweep has reclaimed them, which fails here
    * with a clear error instead of a silent partial read. */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame = {
    val live = currentVersion(root)
    // Same guard as ManagedTable.readVersion: a dir above the published
    // pointer is an in-flight publish or crash orphan, never served.
    require(version <= live,
      s"version $version of $root is not published yet (live is v$live)")
    require(Files.exists(Paths.get(root, s"v$version", "_manifest")),
      s"version $version of $root is not on disk (vacuumed or never " +
        s"published); live is v$live")
    val meta = readMetaAt(root, version)
    meta.manifest.foreach { case (b, ver) =>
      require(Files.exists(Paths.get(bucketDir(root, ver, b))),
        s"bucket $b of version $version ($ver) was vacuumed away")
    }
    readAt(spark, root, meta)
  }

  private def readAt(spark: SparkSession, root: String, meta: Meta): DataFrame = {
    val paths = meta.manifest.toSeq.sortBy(_._1)
      .map { case (b, ver) => bucketDir(root, ver, b) }
      .filter(hasParquet)
    readerFor(spark, meta).parquet(paths: _*)
  }

  /** RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF` on the bucketed
    * layout): republish a historical version's MANIFEST as the new head —
    * a metadata-only rollback (zero data bytes move; bucket dirs are
    * immutable and simply become referenced again). History stays linear:
    * the rollback is itself a version, so it can be time-traveled past or
    * restored again, and vacuum's reachability sweep protects every
    * bucket the restored manifest references. */
  def restore(spark: SparkSession, root: String, version: Int): Unit = {
    val meta = readMetaAt(root, version)
    meta.manifest.foreach { case (b, ver) =>
      require(Files.exists(Paths.get(bucketDir(root, ver, b))),
        s"cannot restore to v$version: bucket $b ($ver) was vacuumed away")
    }
    val live = currentVersion(root)
    // The restored head carries the restored version's SCHEMA too — a
    // rollback past a schema evolution narrows the table back.
    writeVersion(root, live + 1, meta.nBuckets, meta.keys, meta.manifest,
      meta.schema)
  }

  /** Point lookup — the 100 TB "read one key" path: the key hashes to
    * exactly one bucket, the live manifest names the one version dir
    * holding that bucket, and the scan opens ONLY those dirs —
    * 1/nBuckets of the table per looked-up key, however large the table.
    * Values must match the key column's stored type exactly (Murmur3 of
    * an int and a long differ). Single-column keys; composite-keyed
    * tables filter through [[read]]. The bucket ids are computed by one
    * length-bounded local job so driver and executors share one hash
    * implementation. */
  def lookup(spark: SparkSession, root: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "lookup needs at least one key value")
    val meta = readMeta(root)
    require(meta.keys.size == 1,
      s"point lookup supports single-column keys; table has ${meta.keys}")
    val bucketCols = values.map(v => pmod(hash(lit(v)), lit(meta.nBuckets)))
    val row = spark.range(1).select(bucketCols: _*).head()
    val buckets = values.indices.map(row.getInt).distinct.sorted
    val paths = buckets.map(b => bucketDir(root, meta.manifest(b), b))
      .filter(hasParquet)
    val key = meta.keys.head
    if (paths.isEmpty) readAt(spark, root, meta).limit(0)
    else readerFor(spark, meta).parquet(paths: _*)
      .filter(col(key).isin(values: _*))
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): publish a
    * new table at `cloneRoot` whose v0 manifest references the SOURCE
    * table's live bucket dirs by absolute path — a metadata-only
    * operation: zero data bytes move, cost is O(nBuckets) manifest lines.
    * Subsequent merges into the clone are copy-on-write: touched buckets
    * materialize under the clone's own root while untouched ones keep
    * resolving into the source's immutable version dirs. At 100 TB this
    * branches a table for a dev/test/backfill experiment in milliseconds
    * and pays storage only for what diverges; the source is never written.
    *
    * Caveat (Delta shallow clones share it): VACUUM on the SOURCE sweeps
    * only the source's own retained manifests, so it can reclaim dirs a
    * clone still references — retain enough source versions for the
    * clone's lifetime. The clone's own vacuum walks only `cloneRoot` and
    * can never delete source files. */
  def shallowClone(sourceRoot: String, cloneRoot: String): Unit = {
    require(!exists(cloneRoot), s"clone target $cloneRoot already exists")
    val meta = readMeta(sourceRoot)
    val srcAbs = Paths.get(sourceRoot).toAbsolutePath.toString
    writeVersion(cloneRoot, 0, meta.nBuckets, meta.keys,
      meta.manifest.map { case (b, ver) =>
        b -> (if (ver.startsWith("/")) ver else s"$srcAbs/$ver")
      }, meta.schema)
  }

  /** Snapshot DIFF driven by the manifests (no recorded change feed
    * needed): insert/update/delete rows between two published versions,
    * tagged in `_action` ([[graft.operators.SnapshotDiff]] semantics —
    * deletes carry the pre-image, updates the post-image, identical rows
    * dropped). Buckets whose manifest entries are IDENTICAL in both
    * versions are provably unchanged (version dirs are immutable) and are
    * never opened: diffing two adjacent daily versions of a 100 TB table
    * reads only the buckets the day's merges touched, on BOTH sides. */
  def diff(spark: SparkSession, root: String,
           fromVersion: Int, toVersion: Int): DataFrame = {
    Seq(fromVersion, toVersion).foreach { v =>
      require(Files.exists(Paths.get(root, s"v$v", "_manifest")),
        s"version $v of $root is not on disk (vacuumed or never published)")
    }
    val mA = readMetaAt(root, fromVersion)
    val mB = readMetaAt(root, toVersion)
    require(mA.nBuckets == mB.nBuckets && mA.keys == mB.keys,
      s"diff across re-bucketing: v$fromVersion is (${mA.nBuckets}, " +
        s"${mA.keys.mkString(",")}), v$toVersion is (${mB.nBuckets}, " +
        s"${mB.keys.mkString(",")})")
    val changedBuckets = mA.manifest.keys.toSeq.sorted
      .filter(b => mA.manifest(b) != mB.manifest(b))
    def paths(meta: Meta): Seq[String] =
      changedBuckets.map(b => bucketDir(root, meta.manifest(b), b))
        .filter(hasParquet)
    val (pA, pB) = (paths(mA), paths(mB))
    // A side can be file-less (a version published before any data landed,
    // or a merge that emptied its buckets) — borrow the schema from
    // whichever side has files. Both sides empty → nothing ever differed.
    // Each side reads through its OWN version's recorded schema, so a
    // diff across a schema evolution sees pre-evolution rows null-filled.
    lazy val schemaOnly: DataFrame =
      spark.read.parquet((pA ++ pB).head).limit(0)
    def side(meta: Meta, p: Seq[String]): DataFrame =
      if (p.nonEmpty) readerFor(spark, meta).parquet(p: _*) else schemaOnly
    if (pA.isEmpty && pB.isEmpty)
      // no bucket of either version holds a row the other could lack;
      // an all-empty table has no schema on disk to type a frame with
      return spark.emptyDataFrame
        .withColumn(graft.operators.Merge.ActionCol, lit(""))
    graft.operators.SnapshotDiff.diffFrames(side(mA, pA), side(mB, pB), mB.keys)
  }

  /** Keyed MERGE touching only the buckets that contain source keys.
    * With `changeFeed`, the merge also records its row-level changes as
    * the next version's change feed BEFORE the pointer swap — and because
    * a merge can only insert/update/delete inside buckets containing
    * source keys, the delta-proportional feed equals the feed a
    * whole-table merge would produce: CDC cost scales with the delta,
    * never the table. An evolving merge widens the recorded schema;
    * untouched buckets keep their narrow files and read null-filled
    * through it. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            clauses: MergeClauses.Spec = MergeClauses.Spec(),
            changeFeed: Boolean = false,
            preImageFeed: Boolean = false,
            schemaEvolution: Boolean = false): Unit = {
    val meta = readMeta(root)
    val src = source.persist()
    // try/finally: an aborted merge (e.g. a CHECK-constraint violation in
    // the write) must not leave the source cache pinned in a session that
    // catches the failure.
    try {
      val touched = bucketsOf(meta, src)
      rewriteBuckets(spark, root, meta, touched, evolving = true)(
        mergeStep(_, src, meta.keys, clauses, nullSafeKeys = true,
          schemaEvolution, changeFeed, preImageFeed))
    } finally src.unpersist()
  }

  /** OPTIMISTIC-CONCURRENCY merge — [[ManagedTable.commit]]'s multi-writer
    * contract on the bucketed layout. The caller names the version its
    * source derived from; the CAS check runs FIRST, under the shared
    * per-root monitor + cross-process file lock, and the delta-sized
    * merge + publish then complete while the lock is held — so a stale
    * writer fails fast ([[ManagedTable.ConcurrentWriteException]] carries
    * the new live version: re-read, re-derive, retry) before writing any
    * bucket, and racing writers can never interleave into one version
    * dir. Holding the lock through the (delta-proportional) merge is the
    * deliberate trade vs the managed table's stage-then-swap: bucket
    * writes land directly in `v<next>`, so there is no staged dir to
    * CAS-move, and a bucketed merge's cost is bounded by the touched
    * buckets, not the table. Single-writer tables keep using [[merge]];
    * mixing the two on one table forfeits the guarantee. */
  def commitMerge(spark: SparkSession, root: String, expectedVersion: Int,
                  source: DataFrame,
                  clauses: MergeClauses.Spec = MergeClauses.Spec()): Unit =
    withCommitLock(root) {
      val live = currentVersion(root)
      if (live != expectedVersion)
        throw new ManagedTable.ConcurrentWriteException(
          root, expectedVersion, live)
      merge(spark, root, source, clauses)
    }

  /** DELETE at bucket-delta cost: one pass finds the buckets that hold
    * matching rows, and ONLY those buckets are rewritten without the
    * matches — untouched buckets carry forward by manifest reference,
    * the same delta-proportional contract as [[merge]]. A predicate on
    * the bucket key touches only the keys' buckets; a broad predicate
    * degrades gracefully toward a full rewrite (never past it). Same row
    * semantics as [[ManagedTable.delete]]. No-op (no version published)
    * when nothing matches. */
  def delete(spark: SparkSession, root: String, where: Column,
             changeFeed: Boolean = false): Unit = {
    val meta = readMeta(root)
    val touched = hitBuckets(meta, readAt(spark, root, meta), where)
    if (touched.nonEmpty)
      rewriteBuckets(spark, root, meta, touched)(
        deleteStep(_, where, changeFeed))
  }

  /** UPDATE at bucket-delta cost: one pass finds the buckets holding rows
    * satisfying `where`, only those rewrite, and untouched buckets carry
    * by manifest reference. Same row semantics as [[ManagedTable.update]];
    * a SET may not name a bucket key (a key change moves the row across
    * buckets) nor a column the table lacks. Both are refused before the
    * hit buckets are looked for, whether or not any row matches, as
    * [[ManagedTable.update]] refuses them. No-op when nothing matches. */
  def update(spark: SparkSession, root: String, set: Map[String, Column],
             where: Column = lit(true), changeFeed: Boolean = false): Unit = {
    val meta = readMeta(root)
    val live = readAt(spark, root, meta)
    require((set.keySet & meta.keys.toSet).isEmpty,
      s"UPDATE SET must not touch bucket key(s) ${meta.keys.mkString(", ")} " +
        "— a key change moves the row across buckets; use merge")
    requireSettable(live.columns.toIndexedSeq, set)
    val touched = hitBuckets(meta, live, where)
    if (touched.nonEmpty)
      rewriteBuckets(spark, root, meta, touched)(
        updateStep(_, set, where, changeFeed))
  }

  /** OVERWRITE WHERE at bucket-delta cost (Delta `replaceWhere`, same row
    * semantics as [[ManagedTable.overwriteWhere]]), rewriting ONLY the
    * buckets that hold matching rows or receive replacement rows; every
    * other bucket carries by manifest reference. The replacement's
    * insertion contract is asserted while the touched-bucket set is
    * computed, so a violating row aborts before any file is written. The
    * replacement is lazily checkpointed there and the rewrite reads those
    * blocks, so it is computed once. At 100 TB replacing one source's
    * slice rewrites the handful of buckets its keys hash into, not the
    * table. */
  def overwriteWhere(spark: SparkSession, root: String, df: DataFrame,
                     where: Column): Unit = {
    val meta = readMeta(root)
    val live = readAt(spark, root, meta)
    val repl = replacement(live.columns.toIndexedSeq, df, where)
      .localCheckpoint(eager = false)
    try {
      val touched =
        (hitBuckets(meta, live, where) ++ bucketsOf(meta, repl)).distinct.sorted
      if (touched.nonEmpty)
        rewriteBuckets(spark, root, meta, touched)(
          overwriteWhereStep(_, repl, where, changeFeed = false))
    } finally CheckpointBridge.release(repl)
  }

  /** The buckets `rows` fall in (bounded: <= nBuckets ids). */
  private def bucketsOf(meta: Meta, rows: DataFrame): Seq[Int] =
    rows.select(bucketCol(meta.keys, meta.nBuckets)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** The buckets holding the `live` rows `where` hits. */
  private def hitBuckets(meta: Meta, live: DataFrame, where: Column): Seq[Int] =
    bucketsOf(meta, live.filter(hitBy(where)))

  /** Copy-on-write DML on the `touched` buckets: `step` maps their rows
    * (read through the recorded schema — they may predate an evolution)
    * to the rows that replace them, whose feed lands first; the rows are
    * guarded, written partitioned by bucket and published with the rest
    * of the manifest carried. An `evolving` step records its output
    * schema; the others keep the table's. */
  private def rewriteBuckets(spark: SparkSession, root: String, meta: Meta,
                             touched: Seq[Int], evolving: Boolean = false)(
      step: DataFrame => DmlStep): Unit = {
    val paths = touched.map(b => bucketDir(root, meta.manifest(b), b))
      .filter(hasParquet)
    val rows =
      if (paths.nonEmpty) readerFor(spark, meta).parquet(paths: _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        meta.schema.getOrElse(readAt(spark, root, meta).schema))
    commitStep(root, meta.version + 1, step(rows)) { next =>
      val guarded = guard(root, next)
      publishBuckets(root, meta, touched, guarded,
        if (evolving) Some(guarded.schema) else meta.schema)
    }
  }

  /** OPTIMIZE for the bucketed layout: every merge leaves its touched
    * buckets as fresh single-write dirs, but a bucket that keeps catching
    * deltas accumulates one rewrite per merge only — the real
    * fragmentation at 100 TB comes from high-frequency SMALL merges
    * writing many small files per touched bucket. `compact` rewrites ONLY
    * buckets fragmented past `maxFilesPerBucket` into one file each,
    * published as a new version whose manifest carries every healthy
    * bucket forward by reference — the same delta-proportional contract
    * as the merge itself: rewrite cost scales with the FRAGMENTED bytes,
    * never the table. Content is untouched (a layout-only version, like
    * [[ManagedTable.optimize]]); readers of prior versions are
    * unaffected, and vacuum's reachability sweep reclaims the fragmented
    * dirs once no retained manifest references them. */
  def compact(spark: SparkSession, root: String,
              maxFilesPerBucket: Int = 4): Unit = {
    val meta = readMeta(root)
    def nFiles(b: Int): Int = {
      val dir = Paths.get(bucketDir(root, meta.manifest(b), b))
      if (!Files.exists(dir)) 0
      else listDir(dir)(_.count(_.getFileName.toString.endsWith(".parquet")))
    }
    val fragmented = meta.manifest.keys.toSeq.sorted
      .filter(nFiles(_) > maxFilesPerBucket)
    if (fragmented.isEmpty) return
    val paths = fragmented.map(b => bucketDir(root, meta.manifest(b), b))
    // One partition per fragmented bucket: rows hash-route by the bucket
    // id itself, so each partitionBy dir receives exactly one file.
    publishBuckets(root, meta, fragmented, readerFor(spark, meta)
      .parquet(paths: _*)
      .repartition(fragmented.size, bucketCol(meta.keys, meta.nBuckets)),
      meta.schema)
  }

  /** Retention for the bucketed layout ([[VersionedLayout.vacuum]] applies
    * the policy). Unlike [[ManagedTable]]'s snapshots, old version dirs
    * cannot simply be dropped by age: the live manifest carries untouched
    * buckets forward BY REFERENCE, so an old dir may still host live data.
    * Retention is therefore manifest-reachability — a retained version is
    * one whose manifest is on disk, every bucket dir some retained
    * manifest references is kept, and the rest goes (unreferenced bucket
    * dirs, then version dirs left with nothing). */
  protected def isPublished(root: String, v: Int): Boolean =
    Files.exists(Paths.get(root, s"v$v", "_manifest"))

  protected def sweepUnreachable(root: String, retained: Seq[Int]): Unit = {
    val referenced: Set[(Int, String)] = retained.flatMap { v =>
      readMetaAt(root, v).manifest.toSeq.map { case (b, ver) => (b, ver) }
    }.toSet
    versionDirs(Paths.get(root)).foreach { vdir =>
      val vname = vdir.getFileName.toString
      listDir(vdir)(_.filter(_.getFileName.toString.matches("b\\d{5}")).toList)
        .foreach { bdir =>
          val b = bdir.getFileName.toString.drop(1).toInt
          if (!referenced((b, vname))) ScratchDirs.deleteRecursively(bdir)
        }
      if (!retained.contains(versionOf(vdir))) {
        val hostsLiveBuckets = listDir(vdir)(
          _.exists(_.getFileName.toString.matches("b\\d{5}")))
        if (!hostsLiveBuckets) ScratchDirs.deleteRecursively(vdir)
      }
    }
  }
}
