package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import graft.operators.Merge
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Protocol shared by the two versioned table layouts ([[ManagedTable]]'s
  * whole-snapshot dirs, [[BucketedTable]]'s manifest-routed buckets):
  *
  *  - the `_latest` pointer file — readers resolve it, writers publish a
  *    new immutable version dir and then atomically swap the pointer, the
  *    same tip-swap discipline Delta/Iceberg put on their log head (a
  *    conditional-put on object storage);
  *  - CHECK constraints ([[Constraints]] storage + enforcement contract)
  *    and the write [[guard]] that enforces them with generated columns;
  *  - the row semantics of copy-on-write DELETE, UPDATE, OVERWRITE WHERE
  *    and MERGE ([[DmlStep]]): what replaces the rows in scope, their
  *    change feed and its tags, and the feed-before-swap commit;
  *  - the change feed: the `_changes/v<N>` dir a writer records before its
  *    pointer swap, its reads and its in-place redaction;
  *  - retention: [[vacuum]] by count and by commit age, one policy over
  *    two layout hooks ([[isPublished]], [[sweepUnreachable]]), with the
  *    feeds pruned to the retained versions;
  *  - scoped directory listing ([[listDir]], [[versionDirs]]).
  *
  * Keeping this in one place stops the two layouts drifting apart on the
  * pieces whose semantics MUST agree (a reader of either layout sees the
  * same pointer/constraint/CDF/retention behavior); everything
  * layout-specific — snapshot shape, time travel resolution, what a
  * retained version keeps reachable, which rows a DML op has in scope —
  * stays in the concrete objects.
  */
private[sources] trait VersionedLayout {

  /** Read the live version of the table at `root`. */
  def read(spark: SparkSession, root: String): DataFrame

  /** Time travel — read a pinned published version. */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame

  /** Time travel by TIMESTAMP (Delta `timestampAsOf`): read the version
    * that was live at `timestampMs`, resolved through the commit log. */
  final def readAsOf(spark: SparkSession, root: String,
                     timestampMs: Long): DataFrame =
    readVersion(spark, root, versionAsOfTimestamp(root, timestampMs))

  // ---- pointer protocol -------------------------------------------------

  protected final def latestFile(root: String): Path = Paths.get(root, "_latest")

  /** Serialize a commit's CAS section against EVERY writer of `root`:
    * same-JVM threads on a per-root monitor (a `FileChannel.lock()` from
    * two threads of one JVM throws OverlappingFileLockException instead of
    * waiting), other processes on the `_commitlock` file lock — the
    * filesystem stand-in for the conditional-put a lakehouse log tip uses
    * on object storage. Shared by both layouts so their multi-writer
    * semantics cannot drift. */
  protected final def withCommitLock[A](root: String)(body: => A): A = {
    val monitor = VersionedLayout.commitMonitors.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      Files.createDirectories(Paths.get(root))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(root, "_commitlock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  final def exists(root: String): Boolean = Files.exists(latestFile(root))

  /** The live published version number. */
  final def currentVersion(root: String): Int =
    Files.readString(latestFile(root)).trim.toInt

  /** Atomically publish `version` as the live pointer. The version dir
    * must already be fully materialized — after this move, any reader may
    * resolve it. The commit-history line (version, commit millis) lands
    * BEFORE the swap: a readable version always has its commit time. */
  protected final def swapPointer(root: String, version: Int): Unit = {
    Files.createDirectories(Paths.get(root))
    // Optional third field: user-supplied commit metadata (Delta's
    // `userMetadata`, stamped by the reference on every curated write —
    // mls_listings_curated.py:325). URL-encoded to stay TSV-safe.
    val meta = VersionedLayout.userMetadata
      .map(m => "\t" + java.net.URLEncoder.encode(m, "UTF-8"))
      .getOrElse("")
    Files.write(Paths.get(root, "_history"),
      s"$version\t${VersionedLayout.commitClock()}$meta\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    val tmp = Paths.get(root, s"_latest.tmp$version")
    Files.writeString(tmp, version.toString)
    Files.move(tmp, latestFile(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The commit log: (version, commit millis) in publish order —
    * Delta's DESCRIBE HISTORY spine. Empty for tables created before
    * histories were recorded. */
  final def commitHistory(root: String): Seq[(Int, Long)] = {
    val f = Paths.get(root, "_history")
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).linesIterator.filter(_.nonEmpty).map { line =>
      val fields = line.split("\t", 3)
      fields(0).toInt -> fields(1).toLong
    }.toSeq
  }

  /** The commit log WITH each commit's user metadata (Delta's DESCRIBE
    * HISTORY `userMetadata` column): (version, commit millis, metadata).
    * Metadata is None for commits made without [[VersionedLayout
    * .userMetadata]] set. */
  final def commitHistoryWithMetadata(root: String)
      : Seq[(Int, Long, Option[String])] = {
    val f = Paths.get(root, "_history")
    if (!Files.exists(f)) Seq.empty
    else Files.readString(f).linesIterator.filter(_.nonEmpty).map { line =>
      line.split("\t", 3) match {
        case Array(v, ts, m) =>
          (v.toInt, ts.toLong, Some(java.net.URLDecoder.decode(m, "UTF-8")))
        case Array(v, ts) => (v.toInt, ts.toLong, None)
        case other => sys.error(s"bad history line '$line' in $root")
      }
    }.toSeq
  }

  /** The newest version committed at or before `timestampMs` — Delta's
    * `timestampAsOf` resolution. Fails clearly when the timestamp
    * precedes the first commit or no history was recorded. */
  final def versionAsOfTimestamp(root: String, timestampMs: Long): Int = {
    val h = commitHistory(root)
    require(h.nonEmpty, s"no commit history recorded for $root")
    val at = h.filter(_._2 <= timestampMs)
    require(at.nonEmpty,
      s"timestamp $timestampMs precedes the first commit (${h.head._2}) of $root")
    at.map(_._1).max
  }

  // ---- CHECK constraints ------------------------------------------------

  /** CHECK constraints currently attached to the table (empty when none
    * were ever added). Enforcement rides every publish — a violating row
    * aborts the write before the pointer swaps, so readers can never
    * observe a constraint-breaking version. */
  final def constraintsOf(root: String): Seq[Constraints.Check] =
    Constraints.load(root)

  /** ALTER TABLE ADD CONSTRAINT (Delta CheckConstraint semantics): the
    * expression must hold on every EXISTING row — one validation scan now
    * buys write-time-only enforcement forever after. A row violates only
    * when the expression is exactly FALSE — null passes, like ANSI CHECK. */
  final def addConstraint(spark: SparkSession, root: String, name: String,
                          sqlExpr: String): Unit =
    Constraints.add(root, read(spark, root), name, sqlExpr)

  /** ALTER TABLE DROP CONSTRAINT. */
  final def dropConstraint(root: String, name: String): Unit =
    Constraints.drop(root, name)

  /** `df` with the table's generated columns computed or validated and its
    * CHECK constraints enforced inside the plan: a violating row aborts
    * the write that materializes it, before any pointer swap. */
  protected final def guard(root: String, df: DataFrame): DataFrame =
    Constraints.enforce(GeneratedColumns(df, GeneratedColumns.load(root)),
      constraintsOf(root))

  // ---- DML row semantics ------------------------------------------------
  // Each op maps the rows in its scope (the whole live table, or the
  // touched buckets) to the rows that replace them; the layouts differ
  // only in that scope and in how they publish.

  /** Whether a row is hit by a DML predicate: a null predicate hits
    * nothing (SQL DELETE/UPDATE semantics, not filter semantics). */
  protected final def hitBy(where: Column): Column = coalesce(where, lit(false))

  /** Change-feed rows tagged with the action that produced them. */
  protected final def deletes(rows: DataFrame): DataFrame =
    rows.withColumn(Merge.ActionCol, lit("delete"))
  protected final def updates(rows: DataFrame): DataFrame =
    rows.withColumn(Merge.ActionCol, lit("update"))
  protected final def inserts(rows: DataFrame): DataFrame =
    rows.withColumn(Merge.ActionCol, lit("insert"))

  /** UPDATE SET may only name columns the table has. */
  protected final def requireSettable(cols: Seq[String],
                                      set: Map[String, Column]): Unit = {
    val bad = set.keySet -- cols.toSet
    require(bad.isEmpty, s"UPDATE SET references missing column(s): " +
      bad.mkString(", "))
  }

  /** An OVERWRITE WHERE replacement shaped to the table's columns (fails
    * fast on a missing one) under Delta's replaceWhere insertion contract:
    * materializing a row that does NOT satisfy `where` raises with the
    * row's JSON — no separate validation scan (same assert_true-in-filter
    * idiom as [[Constraints.enforce]]). */
  protected final def replacement(cols: Seq[String], df: DataFrame,
                                  where: Column): DataFrame = {
    val shaped = df.select(cols.map(col): _*)
    shaped.filter(coalesce(
      assert_true(hitBy(where), concat(
        lit("replaceWhere: replacement row does not satisfy the " +
          "predicate: "),
        to_json(struct(cols.map(col): _*))))
        .cast("boolean"),
      lit(true)))
  }

  /** DELETE: rows hit by `where` go; the feed is their pre-images. */
  protected final def deleteStep(rows: DataFrame, where: Column,
                                 changeFeed: Boolean): DmlStep =
    DmlStep(rows.filter(!hitBy(where)),
      Option.when(changeFeed)(deletes(rows.filter(hitBy(where)))))

  /** UPDATE: hit rows get each `set` column re-evaluated on the PRE-update
    * row; the feed is their post-images. The hit flag is evaluated once
    * and carried through the projection — re-evaluating `where` on
    * post-images would misfeed self-referential updates (e.g. WHERE
    * total < 100 SET total += 1000). */
  protected final def updateStep(rows: DataFrame, set: Map[String, Column],
                                 where: Column, changeFeed: Boolean): DmlStep = {
    val cols = rows.columns.toIndexedSeq
    requireSettable(cols, set)
    val updated = rows.withColumn("__hit", hitBy(where)).select(cols.map(c =>
      when(col("__hit"), set.getOrElse(c, col(c))).otherwise(col(c)).as(c)) :+
      col("__hit"): _*)
    DmlStep(updated.drop("__hit"), Option.when(changeFeed)(
      updates(updated.filter(col("__hit")).drop("__hit"))))
  }

  /** OVERWRITE WHERE: the rows hit by `where` are replaced by `df` (any
    * cardinality, under the [[replacement]] contract); predicate-null rows
    * are kept. The feed is the replaced rows plus the inserted ones. */
  protected final def overwriteWhereStep(rows: DataFrame, df: DataFrame,
                                         where: Column,
                                         changeFeed: Boolean): DmlStep = {
    val repl = replacement(rows.columns.toIndexedSeq, df, where)
    DmlStep(rows.filter(!hitBy(where)).unionByName(repl),
      Option.when(changeFeed)(
        deletes(rows.filter(hitBy(where))).unionByName(inserts(repl))))
  }

  /** MERGE: one tagged merge join resolves the next rows and, with a
    * feed, the non-keep rows as well — a lazy localCheckpoint materializes
    * the resolution on the feed write and the rows write reuses its blocks
    * instead of re-joining. Without a feed the plain plan is left as is. */
  protected final def mergeStep(target: DataFrame, source: DataFrame,
                                keys: Seq[String], clauses: MergeClauses.Spec,
                                nullSafeKeys: Boolean, schemaEvolution: Boolean,
                                changeFeed: Boolean,
                                preImageFeed: Boolean): DmlStep = {
    val resolved = Merge.mergeFramesTagged(target, source, keys, clauses,
      nullSafeKeys, schemaEvolution,
      preImage = if (changeFeed && preImageFeed) target.columns.toSeq else Nil)
    val tagged =
      if (changeFeed) resolved.localCheckpoint(eager = false) else resolved
    val act = col(Merge.ActionCol)
    DmlStep(tagged.filter(act =!= lit("delete")).drop(Merge.ActionCol, Merge.PreCol),
      Option.when(changeFeed)(tagged.filter(act =!= lit("keep"))),
      Option.when(changeFeed)(tagged))
  }

  /** Commit a DML step as version `next`: its feed lands first (a published
    * version either has its complete feed or was not published at all),
    * then `publish` writes the next rows and swaps the pointer; the step's
    * checkpoint is released however the write ends. */
  protected final def commitStep(root: String, next: Int, step: DmlStep)(
      publish: DataFrame => Unit): Unit =
    try {
      step.feed.foreach(writeChanges(root, next, _))
      publish(step.next)
    } finally step.release.foreach(CheckpointBridge.release)

  // ---- change feed ------------------------------------------------------

  private def changesDir(root: String, version: Int): Path =
    Paths.get(root, "_changes", s"v$version")

  /** Record `feed` as the change feed of `version`. Writers call it before
    * the version's pointer swap: a published version either has its
    * complete feed or was not published at all. */
  protected final def writeChanges(root: String, version: Int,
                                   feed: DataFrame): Unit =
    feed.write.mode("overwrite").parquet(changesDir(root, version).toString)

  /** Replace the recorded feed of `version` by `f` of it. The rewrite
    * stages next to the feed and swaps in by rename, the same
    * publish-then-swap discipline as a version. */
  protected final def rewriteChanges(spark: SparkSession, root: String,
                                     version: Int)(
      f: DataFrame => DataFrame): Unit = {
    val feedDir = changesDir(root, version)
    require(Files.exists(feedDir),
      s"no change feed for version $version of $root")
    val rewritten = f(spark.read.parquet(feedDir.toString))
    val stage = Paths.get(root, "_changes", s".v$version.redact")
    ScratchDirs.deleteRecursively(stage)
    rewritten.write.parquet(stage.toString)
    val old = Paths.get(root, "_changes", s".v$version.old")
    ScratchDirs.deleteRecursively(old)
    Files.move(feedDir, old)
    Files.move(stage, feedDir)
    ScratchDirs.deleteRecursively(old)
  }

  /** Read the change feed a `merge(..., changeFeed = true)` recorded when
    * it published `version` — delta-sized rows tagged insert / update
    * (post-image) / delete (pre-image with `preImageFeed`). Delta's
    * `table_changes()` on these layouts. */
  final def changes(spark: SparkSession, root: String, version: Int): DataFrame = {
    val dir = changesDir(root, version)
    require(Files.exists(dir),
      s"no change feed for version $version of $root (merge ran without " +
        "changeFeed, feed vacuumed, or not a merge-published version)")
    spark.read.parquet(dir.toString)
  }

  /** Change feeds across a CLOSED version range, each row stamped with its
    * `_version` — Delta's `table_changes(from, to)`. Every version in the
    * range must have a recorded feed (a silent gap would silently corrupt
    * any downstream replica). */
  final def changes(spark: SparkSession, root: String,
                    fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"empty version range [$fromVersion, $toVersion]")
    (fromVersion to toVersion)
      .map(v => changes(spark, root, v).withColumn("_version", lit(v)))
      .reduce(_ unionByName _)
  }

  // ---- retention --------------------------------------------------------

  /** Whether version `v` of `root` is published on disk (a version dir,
    * or a version's manifest). */
  protected def isPublished(root: String, v: Int): Boolean

  /** Delete every data file and version dir that none of the `retained`
    * versions reads (a version may read files that older versions
    * wrote). */
  protected def sweepUnreachable(root: String, retained: Seq[Int]): Unit

  /** VACUUM (reference semantics: DeltaTable.vacuum,
    * mls_listings_curated.py:366-368): retain the newest `keep` published
    * versions, delete every file none of them reads, and drop the change
    * feeds of the versions not retained. Deletion cost is proportional to
    * the garbage, never the table. */
  final def vacuum(root: String, keep: Int = 1): Unit = {
    val live = currentVersion(root)
    vacuumRetaining(root,
      (math.max(0, live - keep + 1) to live).filter(isPublished(root, _)))
  }

  /** Retention-DURATION vacuum — the reference's policy knob
    * (mls_listings_curated.py:366-368: `delta_table.vacuum(hours)`,
    * default 168 h). Retains the published versions whose COMMIT TIME
    * (from the `_history` log [[commitHistory]] records at every pointer
    * swap) is within `retainHours` of now; the live version is always
    * kept regardless of age, and versions with no recorded history line
    * (pre-history tables) are conservatively kept. Reachability is the
    * same as the count-based [[vacuum]]: every file a retained version
    * reads survives regardless of its own age. */
  final def vacuum(root: String, retainHours: Double): Unit = {
    require(retainHours >= 0, s"vacuum: retainHours=$retainHours")
    val live = currentVersion(root)
    val cutoff =
      VersionedLayout.commitClock() - (retainHours * 3600 * 1000).toLong
    val commitTimes: Map[Int, Long] = commitHistory(root).toMap
    val onDisk = versionDirs(Paths.get(root)).map(versionOf).sorted
      .filter(isPublished(root, _))
    vacuumRetaining(root, onDisk.filter(v =>
      v == live || commitTimes.get(v).forall(_ >= cutoff)))
  }

  private def vacuumRetaining(root: String, retained: Seq[Int]): Unit = {
    sweepUnreachable(root, retained)
    // A feed is never read through a later version, so age alone decides.
    deleteVersionsBut(Paths.get(root, "_changes"), retained.toSet)
  }

  /** Delete the `v<N>` entries of `dir` whose N is not in `keep`. */
  protected final def deleteVersionsBut(dir: Path, keep: Set[Int]): Unit =
    versionDirs(dir).filterNot(p => keep(versionOf(p)))
      .foreach(ScratchDirs.deleteRecursively)

  // ---- listing ----------------------------------------------------------

  /** Scoped directory listing — `Files.list` holds an OS directory handle
    * until closed; consume the iterator inside `f` only. */
  protected final def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val st = Files.list(dir)
    try f(st.iterator().asScala) finally st.close()
  }

  /** The `v<N>` entries directly inside `dir` (none when it is absent). */
  protected final def versionDirs(dir: Path): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    else listDir(dir)(_.filter(_.getFileName.toString.matches("v\\d+")).toVector)

  /** N of a `v<N>` entry. */
  protected final def versionOf(p: Path): Int =
    p.getFileName.toString.drop(1).toInt
}

/** One DML op applied to the rows in scope: the rows that replace them,
  * the change feed to record (when asked for), and a lazily checkpointed
  * frame to release once the write ends. */
private[sources] final case class DmlStep(next: DataFrame,
                                          feed: Option[DataFrame] = None,
                                          release: Option[DataFrame] = None)

object VersionedLayout {
  /** Per-canonical-root intra-JVM commit monitors (see [[VersionedLayout
    * .withCommitLock]]). */
  private[sources] val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Wall-clock source for commit timestamps — injectable so tests and
    * oracle gates can pin a deterministic history (the gate queries must
    * be bit-reproducible; wall time is not). Production callers never
    * touch it. */
  @volatile private[graft] var commitClock: () => Long =
    () => System.currentTimeMillis()

  /** User-supplied metadata stamped on commits published from WITHIN a
    * [[withUserMetadata]] scope — Delta's per-write
    * `.option("userMetadata", ...)` (the reference sets it per curated
    * write, mls_listings_curated.py:325). Read back via
    * [[VersionedLayout.commitHistoryWithMetadata]].
    *
    * Thread-scoped (a plain ThreadLocal, not a process global or an
    * inheritable one): the layouts support same-JVM concurrent writers,
    * and a commit from ANY other thread — pre-existing or spawned inside
    * the scope — must NOT be stamped with this scope's provenance.
    * Pointer swaps run on the publishing caller's thread, so the
    * thread-local scope is exactly the per-write scope. */
  private val userMetadataVar = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  /** The metadata in scope on the CURRENT thread (what [[swapPointer]]
    * stamps); None outside any [[withUserMetadata]] scope. */
  def userMetadata: Option[String] = userMetadataVar.get()

  /** Run `body` with `userMetadata` set for publishes on THIS thread —
    * nested scopes restore the outer value; writers on other threads are
    * unaffected. */
  def withUserMetadata[A](meta: String)(body: => A): A = {
    val prior = userMetadataVar.get()
    userMetadataVar.set(Some(meta))
    try body finally userMetadataVar.set(prior)
  }
}
