package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Native versioned-table layer replacing the reference's Delta Lake surface
  * (SURVEY §2.1 S3-S6: delta scan / init / MERGE / VACUUM — reference:
  * mls_listings_curated.py:124,321-368; mls_listings_hist_curated.py:171-223;
  * mls_listings_curated_propid_backfill.py:75-234). No Delta jars exist in
  * this environment, so the table is a directory of immutable parquet version
  * dirs plus an atomically-swapped pointer file:
  *
  * {{{
  *   <root>/v0/ v1/ ...   immutable parquet snapshots
  *   <root>/_latest       text file holding the live version number
  * }}}
  *
  * Readers resolve `_latest` then scan one immutable snapshot — writers never
  * mutate a published dir, so concurrent readers are safe. The pointer swap is
  * a filesystem atomic-move; on object storage this would be a conditional-put
  * on the pointer object (same protocol Delta/Iceberg use for their log tip).
  *
  * Scale notes (100 TB): `merge` is one shuffle of each side on the merge key
  * — the cost floor for a generic keyed upsert — and rewrites the full
  * snapshot. `mergeVectorized` (the nightly Job-1 publish) joins only the
  * target rows whose key is in the batch (a left-semi join against the
  * broadcast distinct batch keys), so no table-sized shuffle runs, and it
  * writes only the batch: tombstones for the matched rows plus their
  * post-images and the inserts. Earlier versions' appended files are
  * served by reference, never rewritten, so its shuffle and its write
  * follow the daily delta, not the table, and so do the number and size
  * of a night's delta files. Its scan still pays base + appended rows; the
  * fold rule in [[publishMor]] compacts the head once the appended bytes
  * reach the base's, which bounds every live read by twice the base. The
  * MERGE semantics below are independent of the layout choice.
  *
  * The pointer, constraints, the copy-on-write DML row semantics, change
  * feeds, retention and directory listing are the protocol this layout
  * shares with [[BucketedTable]]; they live once in [[VersionedLayout]].
  */
object MergeClauses {
  /** Delta-MERGE-equivalent clause set. Conditions see the matched pair as
    * aliases `t` (target) and `s` (source), e.g.
    * `col("t.x") <=> col("s.x")`. Precedence on a matched row:
    * update-condition first, then delete-condition, then keep-target —
    * mirroring the clause order of the reference's MERGE statements
    * (mls_listings_hist_curated.py:184-210: update when changed, delete when
    * no driving change, insert when not matched and changed). */
  final case class Spec(
      updateWhen: Option[Column] = None,   // None = unconditional update-set-*
      deleteWhen: Option[Column] = None,   // None = no delete clause
      insertWhen: Option[Column] = None)   // None = unconditional insert-*
}

object ManagedTable extends VersionedLayout {

  /** Read the live snapshot. Reference: delta scan at mls_listings_curated.py:124. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, currentVersion(root))

  /** Time travel — read a specific published version (Delta's
    * `versionAsOf`). Versions are immutable, so this is just a scan of
    * the pinned snapshot dir (minus the version's deletion vector when it
    * was published by [[deleteVectorized]]); it fails clearly when the
    * version was vacuumed away or never published. */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame = {
    val live = currentVersion(root)
    // Never serve beyond the published pointer: a dir above `live` is an
    // in-flight publish or crash orphan, not a committed version — time
    // travel must not resolve it.
    require(version <= live,
      s"version $version of $root is not published yet (live is v$live)")
    require(Files.exists(Paths.get(root, s"v$version")),
      s"version $version of $root is not on disk (vacuumed or never published); " +
        s"live is v$live")
    readAt(spark, root, version)
  }

  /** The rows of `version`. Of its base dir (its own dir when it is a full
    * version) the scan opens every parquet file, or with `pruned` only the
    * files the set does not name. A full version applies its column
    * mapping; a merge-on-read version adds the appended rows it serves and
    * subtracts its tombstones. A DV version can never carry a mapping
    * (vectorized ops refuse mapped bases). */
  private def readAt(spark: SparkSession, root: String, version: Int,
                     pruned: Option[scala.collection.Set[String]] = None)
      : DataFrame = {
    val dvBase = dvBaseOf(root, version)
    val dir = s"$root/v${dvBase.getOrElse(version)}"
    val scan = pruned.fold(TableIO.readStatic(spark, dir)) { out =>
      val keep = parquetFiles(Paths.get(dir)).map(_.getFileName.toString)
        .filterNot(out).sorted
      // Even with every base file pruned, appended rows can still match.
      if (keep.isEmpty) TableIO.readStatic(spark, dir).where(lit(false))
      else spark.read.parquet(keep.map(f => s"$dir/$f"): _*)
    }
    dvBase.fold(applyColmap(scan, colmapOf(root, version)))(_ =>
      morLive(spark, root, version, scan).drop(DvFileCol, DvPosCol))
  }

  // ---- deletion vectors -------------------------------------------------

  /** Column names for a row's stable physical address: the leaf file name
    * (files are immutable once published) and the row's index within it
    * (the parquet reader's `_metadata.row_index`). */
  private val DvFileCol = "_dv_file"
  private val DvPosCol = "_dv_pos"

  /** A DV version's (file, pos) tombstones. The read names the `_dv`
    * dir's parquet files, not the dir: Spark takes a `_`-prefixed root as
    * hidden and warns "All paths were ignored" on every read, then reads
    * it anyway. Every write leaves at least one (possibly empty) file, and
    * the schema is fixed, so nothing is inferred. */
  private def readDv(spark: SparkSession, root: String, version: Int): DataFrame =
    spark.read.schema(StructType(Seq(StructField(DvFileCol, StringType),
        StructField(DvPosCol, LongType))))
      .parquet(parquetFiles(Paths.get(root, s"v$version", "_dv"))
        .map(_.toString): _*)

  /** The parquet files directly inside `dir` (none when it is absent). */
  private def parquetFiles(dir: Path): Vector[Path] =
    if (!Files.exists(dir)) Vector.empty
    else listDir(dir)(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toVector)

  private def parquetBytes(dir: Path): Long =
    parquetFiles(dir).map(Files.size).sum

  /** Hard-link `src` to `dst`, or copy it where the filesystem refuses
    * links. */
  private def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException => Files.copy(src, dst) }

  /** Refuse `op` on a merge-on-read `version`: `op` works on a full
    * version's own files. */
  private def requireFull(root: String, version: Int, op: String): Unit =
    require(dvBaseOf(root, version).isEmpty,
      s"$op: v$version of $root is a merge-on-read version — OPTIMIZE " +
        "first to fold it into a full snapshot")

  /** The FULL version whose files a DV version shares, or None when
    * `version` is itself a full snapshot. */
  private def dvBaseOf(root: String, version: Int): Option[Int] = {
    val f = Paths.get(root, s"v$version", "_dv_base")
    if (Files.exists(f)) Some(Files.readString(f).trim.toInt) else None
  }

  /** The versions whose `_append` dirs merge-on-read `version` serves, as
    * its `_append_versions` file lists them (its own dir alone when the
    * file is absent). The list is flat: each version copies its
    * predecessor's list and adds itself, so a read never walks a chain. */
  private def appendVersionsOf(root: String, version: Int): Seq[Int] = {
    val f = Paths.get(root, s"v$version", "_append_versions")
    if (!Files.exists(f)) Seq(version)
    else Files.readString(f).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .map(_.toInt)
  }

  private def appendBytes(root: String, version: Int): Long =
    appendVersionsOf(root, version)
      .map(v => parquetBytes(Paths.get(root, s"v$v", "_append"))).sum

  /** `df` (a scan of parquet files) with each row's (file, pos) address. */
  private def withAddress(df: DataFrame): DataFrame =
    df.withColumn(DvFileCol,
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn(DvPosCol, col("_metadata.row_index"))

  /** The live rows of merge-on-read `version`, addressed: `baseScan` (its
    * base's files, possibly pruned) plus every appended file it serves,
    * minus its tombstones. Appended files are read like [[readDv]] reads:
    * by file name, with the base's schema, which every vectorized write
    * requires appended rows to match type for type. Reading the dirs
    * would log the false "All paths were ignored" WARN and cache one
    * inferred schema per published version. */
  private def morLive(spark: SparkSession, root: String, version: Int,
                      baseScan: DataFrame): DataFrame = {
    val files = appendVersionsOf(root, version).toVector
      .flatMap(v => parquetFiles(Paths.get(root, s"v$v", "_append")))
      .map(_.toString)
    val base = withAddress(baseScan)
    val rows =
      if (files.isEmpty) base
      else base.unionByName(withAddress(
        spark.read.schema(baseScan.schema).parquet(files: _*)))
    rows.join(readDv(spark, root, version), Seq(DvFileCol, DvPosCol),
      "left_anti")
  }

  // ---- column mapping (metadata-only RENAME COLUMN) ---------------------

  /** The physical→logical column-name mapping of `version` (empty when the
    * version was not produced by [[renameColumn]] — i.e., physical names
    * ARE the logical names). Delta's column-mapping `name` mode on this
    * layout: parquet files keep their original column names forever; a
    * rename publishes only a mapping. */
  def colmapOf(root: String, version: Int): Map[String, String] = {
    val f = Paths.get(root, s"v$version", "_colmap")
    if (!Files.exists(f)) Map.empty
    else Files.readString(f).linesIterator.filter(_.nonEmpty).map { line =>
      val Array(p, lg) = line.split("\t", 2)
      p -> lg
    }.toMap
  }

  private def applyColmap(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns
      .map(c => col(c).as(m.getOrElse(c, c))).toIndexedSeq: _*)

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY (Delta column mapping):
    * publishes a new version whose data files are hard links to the live
    * snapshot's (zero bytes rewritten) plus a `_colmap` translating the
    * files' immutable physical names to the new logical names; reads
    * apply the mapping as a projection. Time travel stays exact —
    * pre-rename versions carry no mapping and read under their original
    * names. The mapping lives only until the next full rewrite
    * (overwrite/merge/OPTIMIZE publish logical-named files and drop it).
    * Skipping manifests are translated in place so logical-name pruning
    * keeps working. Renaming a column referenced by a CHECK constraint or
    * generated column is refused — their expressions are stored by name. */
  def renameColumn(spark: SparkSession, root: String, oldName: String,
                   newName: String): Unit = withCommitLock(root) {
    // The whole derive-and-publish runs under the commit lock: the hard
    // links and manifest translations are derived FROM v<live>, so a
    // concurrent commit moving the tip mid-rename would have this publish
    // a version linking stale files (or collide with the commit's own
    // v<next> move). Holding the lock pins `live` for the duration — the
    // body is metadata-sized (footer read + hard links), never a data scan.
    val live = currentVersion(root)
    requireFull(root, live, "renameColumn")
    val m0 = colmapOf(root, live)
    val phys = TableIO.readStatic(spark, s"$root/v$live").schema.fieldNames.toSeq
    val logical = phys.map(p => m0.getOrElse(p, p))
    require(logical.contains(oldName),
      s"renameColumn: no column '$oldName' in ${logical.mkString(",")}")
    require(!logical.contains(newName),
      s"renameColumn: column '$newName' already exists")
    val referenced = constraintsOf(root).map(_.sqlExpr) ++
      GeneratedColumns.load(root).map(_.sqlExpr)
    require(!referenced.exists(_.contains(oldName)),
      s"renameColumn: '$oldName' is referenced by a constraint or " +
        "generated column — drop/re-add it around the rename")
    val m1: Seq[(String, String)] = phys.map { p =>
      val lg = m0.getOrElse(p, p)
      p -> (if (lg == oldName) newName else lg)
    }.filter { case (p, lg) => p != lg }
    val dir = Paths.get(root, s"v$live")
    val next = live + 1
    val nextDir = Paths.get(root, s"v$next")
    Files.createDirectories(nextDir)
    parquetFiles(dir).foreach(p => linkOrCopy(p, nextDir.resolve(p.getFileName)))
    // translate the skipping manifests' column field old→new logical name
    Seq("_stats.tsv", "_bloom.tsv").foreach { mf =>
      val src = dir.resolve(mf)
      if (Files.exists(src)) {
        val translated = Files.readString(src).linesIterator
          .filter(_.nonEmpty).map { line =>
            val parts = line.split('\t')
            if (parts(1) == oldName) parts.updated(1, newName).mkString("\t")
            else line
          }.mkString("", "\n", "\n")
        Files.writeString(nextDir.resolve(mf), translated)
      }
    }
    Files.writeString(nextDir.resolve("_colmap"),
      m1.map { case (p, lg) => s"$p\t$lg" }.mkString("", "\n", "\n"))
    swapPointer(root, next)
  }

  /** DELETE at delta cost — the deletion-vector form of [[delete]]
    * (Delta deletion vectors / Iceberg v3 position deletes, from the
    * public designs): instead of rewriting the snapshot without the
    * matching rows, publish a version that SHARES the base snapshot's
    * files and records only the deleted rows' (file, position) addresses:
    *
    * {{{
    *   <root>/v3/              full snapshot (immutable files)
    *   <root>/v4/_dv_base      "3" — v4 serves v3's files ...
    *   <root>/v4/_dv/          ... minus these (file, pos) tombstones
    * }}}
    *
    * Write cost is one scan emitting the MATCHED rows' addresses (delta-
    * sized output; at 100 TB deleting 0.1% writes ~GBs of tombstones, not
    * a 100 TB rewrite). Reads anti-join the tombstones — delta-sized, so
    * AQE broadcasts them (the engine-level stand-in for Delta's per-file
    * roaring bitmaps). Tombstones are CUMULATIVE relative to the base:
    * stacked deletes union their addresses, so any version resolves with
    * exactly one base + one tombstone set — no recursive chain. They
    * address appended rows too: a row that an earlier merge-on-read
    * version appended is deleted by its (file, pos) in that version's
    * `_append` dir, which stays as written. The underscore dir keeps
    * tombstone files invisible to plain snapshot scans (Spark's FileIndex
    * skips `_`-prefixed paths).
    *
    * Rows where `where` is null are KEPT — SQL DELETE semantics, like
    * [[delete]]. A later [[optimize]] (or any full rewrite) purges the
    * vectors back into a plain snapshot; [[vacuum]] keeps a DV version's
    * base, and the versions whose appended files it serves, alive for as
    * long as the DV version is retained. */
  def deleteVectorized(spark: SparkSession, root: String, where: Column,
                       changeFeed: Boolean = false): Unit =
    writeMor(spark, root) { rows =>
      val hit = rows.filter(hitBy(where))
      MorDelta(addresses(hit), feed = _ => Option.when(changeFeed)(
        deletes(hit.drop(DvFileCol, DvPosCol))))
    }

  /** UPDATE at delta cost — the merge-on-read form of [[update]] (Delta
    * DV-update / Iceberg merge-on-read, from the public designs): matched
    * rows are tombstoned by address and their updated copies land in the
    * version's `_append` dir. No data file is rewritten, neither the
    * base's nor an earlier version's appended one — write cost scales
    * with the matched rows. Reads resolve base ∪ appended − tombstones. `set` expressions see the
    * PRE-update row, null-predicate rows are untouched (SQL UPDATE, like
    * [[update]]); CHECK constraints and generated-column validation ride
    * the appended write, so a violating update aborts before the pointer
    * swaps. */
  def updateVectorized(spark: SparkSession, root: String,
                       set: Map[String, Column], where: Column = lit(true),
                       changeFeed: Boolean = false): Unit =
    writeMor(spark, root) { rows =>
      val hit = rows.filter(hitBy(where))
      val cols = rows.drop(DvFileCol, DvPosCol).columns.toIndexedSeq
      requireSettable(cols, set)
      MorDelta(addresses(hit),
        Some(hit.select(cols.map(c => set.getOrElse(c, col(c)).as(c)): _*)),
        "UPDATE SET changes column type(s): ",
        _.filter(_ => changeFeed).map(updates))
    }

  /** OVERWRITE WHERE at delta cost — the merge-on-read form of
    * [[overwriteWhere]]: the replaced slice's rows (base or earlier
    * appended ones) are tombstoned by (file, position) address and the
    * replacement lands in the version's `_append` dir. No data file is
    * rewritten — write cost scales with |replaced addresses| +
    * |replacement|, so at 100 TB replacing one day of a fact table writes
    * GBs of tombstones and fresh data instead of rewriting the snapshot.
    * Same insertion contract as [[overwriteWhere]]: every replacement row
    * must satisfy `where` (asserted inside the write — a violating row
    * aborts before the pointer swaps), predicate-null rows are KEPT, and
    * the replacement may have any cardinality. CHECK constraints and generated columns
    * ride the appended write, whose schema must match the base exactly
    * (appended files union with base files on read). */
  def overwriteWhereVectorized(spark: SparkSession, root: String,
                               df: DataFrame, where: Column): Unit =
    writeMor(spark, root) { rows =>
      MorDelta(addresses(rows.filter(hitBy(where))),
        Some(replacement(rows.drop(DvFileCol, DvPosCol).columns.toIndexedSeq,
          df, where)),
        "replacement schema diverges from the table: ")
    }

  /** MERGE at delta cost — the merge-on-read form of [[merge]] (Delta
    * merge-on-read / Iceberg v2 MERGE with position deletes, from the
    * public designs). Same clause semantics as [[merge]], but the
    * full-outer key join reads only the target rows whose key is in the
    * source: the live rows are left-semi-joined against the broadcast
    * distinct source keys first, with the merge's own key equality. That
    * is exact because [[MergeClauses]] has no not-matched-by-source
    * clause: a target row whose key is not in the source can only be a
    * keep, and keeps are never written. Instead of rewriting the snapshot
    * the published version SHARES the base files and the earlier
    * versions' appended files and records only the delta: matched rows
    * are tombstoned by (file, position) address, and their post-images
    * plus the not-matched inserts land in `_append`. The join output is
    * filtered to touched rows BEFORE materialization, so the shuffle, the
    * write, the lazy-checkpoint footprint and the night's delta files
    * (their number and size) follow the source, not the table. The source
    * is read twice (its keys and its rows), so it is lazily checkpointed
    * and computed once. At 100 TB a daily-delta upsert shuffles and
    * writes GBs where [[merge]] shuffles and rewrites the snapshot (and
    * [[BucketedTable.merge]] rewrites touched buckets); the fold rule in
    * [[publishMor]] runs [[optimize]] once the accumulated deltas reach
    * the base's size. Job 1's nightly publish
    * ([[graft.pipeline.mls.MlsJobsMain.runJob1]]) runs through here.
    *
    * Schema evolution is NOT offered here: appended files must match the
    * base schema or the union on read breaks — an evolving merge is a
    * rewrite by nature, use `merge(schemaEvolution = true)`. CHECK
    * constraints and generated columns ride the newly-written rows, as in
    * [[updateVectorized]]. With `changeFeed`, non-keep rows land as the
    * next version's change feed (post-images, tagged; `preImageFeed` adds
    * the pre-update struct) before the pointer swap. */
  def mergeVectorized(spark: SparkSession, root: String, source: DataFrame,
                      keys: Seq[String],
                      clauses: MergeClauses.Spec = MergeClauses.Spec(),
                      nullSafeKeys: Boolean = true,
                      changeFeed: Boolean = false,
                      preImageFeed: Boolean = false): Unit =
    writeMor(spark, root) { rows =>
      import graft.operators.Merge
      val cols = rows.drop(DvFileCol, DvPosCol).columns.toIndexedSeq
      val missing = cols.filterNot(source.columns.contains)
      require(missing.isEmpty, "merge-on-read MERGE source lacks target " +
        s"column(s) ${missing.mkString(", ")}; appended files must match " +
        "the base schema — an evolving merge is a rewrite, use " +
        "merge(schemaEvolution = true)")
      // The source is read twice, for its keys and for its rows, so it is
      // checkpointed once: Job 1's source carries the property-id lookup.
      val srcRows = source.localCheckpoint(eager = false)
      // No clause acts on a target row whose key is not in the source, so
      // such a row can only be a keep, and keeps are never written: the
      // join reads only the target rows keyed in the batch.
      val batchKeys = srcRows.select(keys.map(col): _*).distinct()
        .toDF(keys.map("_k_" + _): _*)
      val inBatch = rows.join(broadcast(batchKeys), keys.map(k =>
        Merge.keyEq(nullSafeKeys)(col(k), col("_k_" + k))).reduce(_ && _),
        "left_semi")
      // Addresses ride the merge as ordinary target columns; every
      // update/insert post-image takes the source side's null.
      val src = srcRows
        .withColumn(DvFileCol, lit(null).cast("string"))
        .withColumn(DvPosCol, lit(null).cast("bigint"))
      val act = col(Merge.ActionCol)
      // Keeps are filtered out INSIDE the join pipeline so the lazy
      // checkpoint materializes only delta-sized rows. An update's
      // pre-image carries only its address unless the feed asks for it.
      // Under AQE the checkpoint call already runs its shuffle stages,
      // which read the source: a failure there comes before writeMor's
      // finally can release the source checkpoint.
      val touched =
        try Merge.mergeFramesTagged(inBatch, src, keys, clauses,
            nullSafeKeys, schemaEvolution = false,
            preImage = if (preImageFeed) rows.columns.toSeq
                       else Seq(DvFileCol, DvPosCol))
          .filter(act =!= lit("keep"))
          .localCheckpoint(eager = false)
        catch { case e: Throwable => CheckpointBridge.release(srcRows); throw e }
      // an update's address rides its pre-image (its own columns are the
      // source's); a delete keeps the target's
      MorDelta(
        touched.filter(act.isin("update", "delete")).select(
          coalesce(col(Merge.PreCol)(DvFileCol), col(DvFileCol)).as(DvFileCol),
          coalesce(col(Merge.PreCol)(DvPosCol), col(DvPosCol)).as(DvPosCol)),
        Some(touched.filter(act.isin("update", "insert"))
          .drop(DvFileCol, DvPosCol, Merge.ActionCol, Merge.PreCol)),
        "merge-on-read MERGE changes column type(s): ",
        _ => Option.when(changeFeed) {
          val feedBase = touched.drop(DvFileCol, DvPosCol)
          if (!preImageFeed) feedBase.drop(Merge.PreCol)
          else feedBase.withColumn(Merge.PreCol,
            when(col(Merge.PreCol).isNotNull,
              struct(cols.map(c => col(Merge.PreCol)(c).as(c)): _*)))
        },
        cached = Seq(touched, srcRows))
    }

  /** The (file, pos) addresses of `rows`. */
  private def addresses(rows: DataFrame): DataFrame =
    rows.select(col(DvFileCol), col(DvPosCol))

  /** What one merge-on-read write adds to its head: the addresses it
    * tombstones, the rows it appends (their column types must be the
    * base's, or the write fails with `typeError` and the differing
    * columns), its change feed given the guarded appended rows, and the
    * frames cached for the write, released when the write ends. */
  private final case class MorDelta(
      tombstones: DataFrame,
      appended: Option[DataFrame] = None,
      typeError: String = "",
      feed: Option[DataFrame] => Option[DataFrame] = _ => None,
      cached: Seq[DataFrame] = Nil)

  /** The one merge-on-read write. It refuses a column-mapped head, hands
    * `delta` the head's live rows (addressed, tombstones already
    * subtracted), checks the appended rows' types and guards them with the
    * table's generated columns and constraints, records the feed, and
    * publishes the head's tombstones plus the new ones through
    * [[publishMor]], on the head's FULL base version. */
  private def writeMor(spark: SparkSession, root: String)(
      delta: DataFrame => MorDelta): Unit = {
    val live = currentVersion(root)
    val dvBase = dvBaseOf(root, live)
    val base = dvBase.getOrElse(live)
    require(colmapOf(root, base).isEmpty,
      "vectorized DML on a RENAMEd (column-mapped) version is not " +
        "supported — publish a physical rewrite (overwrite/merge/OPTIMIZE) " +
        "first to materialize the logical names")
    val scan = TableIO.readStatic(spark, s"$root/v$base")
    val rows =
      if (dvBase.isEmpty) withAddress(scan) else morLive(spark, root, live, scan)
    val d = delta(rows)
    try {
      // A type-changing write would make appended files diverge from the
      // base schema and break the union on read — reject it up front
      // (Delta likewise refuses type-changing updates without explicit
      // evolution).
      val appended = d.appended.map { a =>
        val baseTypes = rows.drop(DvFileCol, DvPosCol).schema
          .map(f => f.name -> f.dataType)
        val types = a.schema.map(f => f.name -> f.dataType)
        require(types == baseTypes, d.typeError +
          types.zip(baseTypes).collect {
            case ((n, t), (_, bt)) if t != bt => s"$n: $bt -> $t"
          }.mkString(", "))
        guard(root, a)
      }
      d.feed(appended).foreach(writeChanges(root, live + 1, _))
      val (tombstones, served) =
        if (dvBase.isEmpty) (d.tombstones, Nil)
        else (readDv(spark, root, live).unionByName(d.tombstones),
          appendVersionsOf(root, live))
      publishMor(spark, root, live + 1, base, tombstones, appended, served)
    } finally d.cached.foreach(CheckpointBridge.release)
  }

  /** Publish a merge-on-read version: tombstones, the rows this version
    * appends (if any), the list of versions whose appended files it
    * serves (`served`, the predecessor's, plus itself when it appended),
    * then the base marker — all before the pointer swap, so a readable
    * version is always complete. Earlier appended files are referenced,
    * not rewritten: a version writes its own rows and the (cumulative,
    * address-only) tombstones.
    *
    * Then the fold rule, fixed and without a knob: when the appended bytes
    * the new head serves are at least its base's data bytes, [[optimize]]
    * folds it into a full snapshot at once. A merge-on-read read scans
    * base + appended rows, so this keeps every live read within twice its
    * base. The first merge into a [[createEmpty]] table (an empty base)
    * therefore always ends on a full version. Like any OPTIMIZE, the fold
    * version changes no rows and records no change feed. */
  private def publishMor(spark: SparkSession, root: String, next: Int,
                         base: Int, tombstones: DataFrame,
                         appended: Option[DataFrame], served: Seq[Int]): Unit = {
    tombstones.write.mode("overwrite").parquet(s"$root/v$next/_dv")
    appended.foreach(_.write.mode("overwrite")
      .parquet(s"$root/v$next/_append"))
    val withNext = served ++ Option.when(appended.isDefined)(next)
    Files.writeString(Paths.get(root, s"v$next", "_append_versions"),
      withNext.mkString(","))
    Files.writeString(Paths.get(root, s"v$next", "_dv_base"), base.toString)
    swapPointer(root, next)
    if (appendBytes(root, next) >= parquetBytes(Paths.get(root, s"v$base")))
      optimize(spark, root)
  }

  /** Snapshot DIFF between two published versions — CDC reconstruction
    * when the merges ran WITHOUT `changeFeed`: one full-outer key join of
    * the two immutable snapshots, rows tagged insert / update (post-image)
    * / delete (pre-image), identical rows dropped
    * ([[graft.operators.SnapshotDiff]]). Unlike [[changes]], this needs no
    * recorded feed and can span any version range in one join. */
  def diff(spark: SparkSession, root: String, fromVersion: Int,
           toVersion: Int, keys: Seq[String]): DataFrame =
    graft.operators.SnapshotDiff.diffFrames(
      readVersion(spark, root, fromVersion),
      readVersion(spark, root, toVersion), keys)

  /** Create an empty table carrying only the schema, like the reference's
    * `limit(0).write.format("delta")` init (mls_listings_curated.py:325). */
  def createEmpty(spark: SparkSession, root: String, like: DataFrame): Unit =
    overwrite(root, like.limit(0))

  /** Publish `df` as the next immutable version, then swap the pointer.
    * Attached CHECK constraints are enforced inside the write itself —
    * a violating row aborts the publish before the pointer ever swaps,
    * so readers can never observe a constraint-breaking version. */
  def overwrite(root: String, df: DataFrame): Unit = {
    val next = if (exists(root)) currentVersion(root) + 1 else 0
    guard(root, df).write.mode("overwrite").parquet(s"$root/v$next")
    swapPointer(root, next)
  }

  // ---- bloom file index -------------------------------------------------

  private def xxh(c: Column, seed: Long): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)), seed))

  /** 1L << shift for shift in [0, 64) — the functions-API shiftleft only
    * takes a literal shift amount. */
  private def shl1(shift: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.catalyst.expressions.Literal(1L),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          shift.cast("int"))))

  /** Per-file BLOOM-FILTER index for point-lookup file pruning (the Delta
    * bloom-filter-index / parquet split-block-bloom idea, from the public
    * designs). [[analyze]] min/max spans answer RANGE predicates but are
    * blind to equality probes on a hash-distributed key: every file spans
    * nearly the full key range, so min/max prunes nothing while the value
    * itself lives in ONE file. This records an m-bit filter per
    * (file, column), m = nWords·64, built in ONE grouped aggregation over
    * the snapshot: each filter word is a `bit_or` aggregate, with each
    * value setting `k` bit positions via the Kirsch-Mitzenmacher double
    * hash g_i = (h1 + i·(2·h2+1)) mod m (two seeded xxhash64 passes,
    * reduced mod m BEFORE the arithmetic so nothing overflows under ANSI).
    * Driver state is one manifest row per (file, column) — nWords longs
    * each, the same O(files) bound as the min/max manifest.
    *
    * Sizing: FPP ≈ (1 − e^(−k·n/m))^k for n distinct values per file —
    * the default 64 words / k=3 holds ~2-3% at n≈500; at 100 TB file
    * sizes you raise nWords with the per-file row count (the word count
    * is also the aggregate-column count, the plan-size lever) or index
    * after OPTIMIZE when files carry bounded row groups. False positives
    * cost a wasted file read, never a wrong result; negatives are exact. */
  def analyzeBloom(spark: SparkSession, root: String, statsCols: Seq[String],
                   nWords: Int = 64, k: Int = 3): Unit = {
    val live = currentVersion(root)
    requireFull(root, live, "analyzeBloom")
    require(nWords > 0 && k > 0, s"analyzeBloom: nWords=$nWords k=$k")
    val snap = applyColmap(TableIO.readStatic(spark, s"$root/v$live"),
      colmapOf(root, live))
    val m = nWords * 64L
    statsCols.foreach(c => require(snap.columns.contains(c),
      s"analyzeBloom: no column '$c' in ${snap.columns.mkString(",")}"))
    val tmp = Paths.get(root, s"v$live", "_bloom.tmp")
    val sb = Files.newBufferedWriter(tmp)
    try statsCols.foreach { c =>
      val g1 = pmod(xxh(col(c), 42L), lit(m))
      val g2 = pmod(xxh(col(c), 9001L), lit(m)) * lit(2L) + lit(1L)
      val words = (0 until nWords).map { w =>
        val mask = (0 until k).map { i =>
          val pos = pmod(g1 + lit(i.toLong) * g2, lit(m))
          when((pos / lit(64L)).cast("int") === lit(w),
            shl1(pos % lit(64L))).otherwise(lit(0L))
        }.reduce(_ bitwiseOR _)
        bit_or(mask).as(s"_w$w")
      }
      // Streamed, not collected: toLocalIterator holds ONE shuffle
      // partition of manifest rows on the driver at a time, so a
      // 10^5-10^6-file table (100 TB) cannot OOM the driver here — the
      // manifest is written through, never materialized whole.
      val rows = snap.filter(col(c).isNotNull)
        .withColumn("_file", input_file_name())
        .groupBy("_file").agg(words.head, words.tail: _*)
        .toLocalIterator()
      rows.asScala.foreach { r =>
        val leaf = r.getString(0).split('/').last
        val ws = (0 until nWords)
          .map(i => java.lang.Long.toHexString(r.getLong(1 + i)))
          .mkString(",")
        sb.write(s"$leaf\t$c\t$m\t$k\t$ws\n")
      }
    } finally sb.close()
    Files.move(tmp, Paths.get(root, s"v$live", "_bloom.tsv"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Point lookup through the bloom index: open only the files whose
    * filter claims `value` (files unknown to the manifest stay — safety
    * over pruning), subtract live tombstones, union appended rows, apply
    * the exact equality. Falls back to a plain filtered read when no
    * index exists. The probe is hashed by the SAME Spark expressions the
    * index was built with, evaluated on a 1-row frame — bit-identical by
    * construction, no reimplementation drift. */
  def readPoint(spark: SparkSession, root: String, c: String,
                value: Any): DataFrame = {
    require(value != null,
      "readPoint: null probe — SQL equality never matches null, use read()")
    val live = currentVersion(root)
    val base = dvBaseOf(root, live).getOrElse(live)
    val dir = s"$root/v$base"
    // logical -> physical for footer-schema lookups; the bloom manifest
    // itself was translated to logical names at rename time
    val physC = colmapOf(root, base).find(_._2 == c).map(_._1).getOrElse(c)
    val eq = col(c) === lit(value)
    val bloomPath = Paths.get(dir, "_bloom.tsv")
    if (!Files.exists(bloomPath)) return readAt(spark, root, live).where(eq)
    val dt = TableIO.readStatic(spark, dir).schema(physC).dataType
    val hr = spark.range(1).select(xxh(lit(value).cast(dt), 42L).as("h1"),
      xxh(lit(value).cast(dt), 9001L).as("h2")).head()
    val (h1, h2) = (hr.getLong(0), hr.getLong(1))
    // Streamed probe: each indexed file's filter words are parsed,
    // probed, and discarded line-by-line — the driver retains only the
    // names of files the index disproves, never the index itself (nWords
    // longs × 10^5-10^6 files at 100 TB would be GBs as a Map). Files
    // without a line for `c` (all-null or unindexed) conservatively stay.
    val prunedOut = scala.collection.mutable.HashSet.empty[String]
    var indexedAny = false
    val lineStream = Files.lines(bloomPath)
    try lineStream.iterator().asScala.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array(f, cc, mm, kk, wsHex) if cc == c =>
          indexedAny = true
          val m = mm.toLong
          val ws = wsHex.split(',').map(java.lang.Long.parseUnsignedLong(_, 16))
          val g1 = Math.floorMod(h1, m)
          val g2 = Math.floorMod(h2, m) * 2L + 1L
          val claims = (0 until kk.toInt).forall { i =>
            val pos = Math.floorMod(g1 + i.toLong * g2, m)
            ((ws((pos >> 6).toInt) >>> (pos & 63L).toInt) & 1L) == 1L
          }
          if (!claims) prunedOut += f
        case _ => ()
      }
    } finally lineStream.close()
    if (!indexedAny) return readAt(spark, root, live).where(eq)
    readAt(spark, root, live, Some(prunedOut)).where(eq)
  }

  /** WRITE-AUDIT-PUBLISH (the Iceberg WAP / Netflix audit pattern, from
    * the public descriptions): stage `df` as the next version dir WITHOUT
    * swapping the pointer, run the [[graft.operators.DataQuality]] audit
    * rules against the STAGED FILES (not the input frame — so write-path
    * corruption is caught too, and the audit scan is the same columnar
    * read production readers will do), then publish the pointer only if
    * every rule passes; a failing audit removes the staged dir and leaves
    * the live version untouched. Readers can never observe an unaudited
    * version — the pointer swap IS the publish.
    *
    * Returns the audit report frame (rule, n_violations, passed) — already
    * materialized, since the publish decision consumed it. The only
    * driver-side data is the per-rule report (bounded by the rule count).
    * CHECK constraints and generated columns still ride the staged write,
    * as in [[overwrite]]: WAP layers batch-level statistical gates (row
    * counts, uniqueness, distribution checks) on top of the row-level
    * constraint surface. */
  def writeAuditPublish(spark: SparkSession, root: String, df: DataFrame,
                        rules: Seq[graft.operators.DataQuality.Rule])
      : DataFrame = {
    // Stage under _staging, NOT at v<next>: an in-flight (or crashed)
    // audit must never leave a dir that version resolution could serve —
    // the move into v<next> happens only after every rule passes, so
    // "readers can never observe an unaudited version" holds even
    // mid-audit and across crashes (orphans land in _staging, which no
    // reader resolves).
    val stage = Paths.get(root, "_staging", s"a${System.nanoTime()}")
    try {
      guard(root, df).write.mode("overwrite").parquet(stage.toString)
      val report = graft.operators.DataQuality
        .check(spark.read.parquet(stage.toString), rules)
        .localCheckpoint() // one audit scan; the report is rule-count-sized
      val ok = report.agg(min(col("passed"))).head().getBoolean(0)
      if (ok) {
        // Publish under the commit lock: `next` is re-derived and the
        // staged dir moved while no other writer can move the tip, so a
        // WAP publish racing a commit/commitMerge can neither target the
        // same v<next> nor observe a half-published version.
        withCommitLock(root) {
          val next = if (exists(root)) currentVersion(root) + 1 else 0
          Files.move(stage, Paths.get(root, s"v$next"))
          swapPointer(root, next)
        }
      }
      report
    } finally {
      if (Files.exists(stage)) ScratchDirs.deleteRecursively(stage)
    }
  }

  /** Raised by [[commit]] when the table advanced between the writer's
    * snapshot read and its publish — the Delta
    * ConcurrentModificationException contract: the caller re-reads the
    * new live snapshot, re-derives its write, and retries. */
  final class ConcurrentWriteException(root: String, expected: Int, live: Int)
    extends RuntimeException(
      s"concurrent write to $root: expected live v$expected but found " +
        s"v$live — re-read the snapshot and retry the commit")

  /** OPTIMISTIC-CONCURRENCY overwrite — the transactional form of
    * [[overwrite]] for tables with multiple writers. The caller names the
    * version its write derived from (`expectedVersion`, read at
    * transaction start); the staged snapshot publishes only if that is
    * STILL the live version at swap time, checked and swapped atomically
    * under an exclusive lock on `_commitlock` (the filesystem stand-in
    * for the conditional-put every lakehouse log tip uses on object
    * storage). On conflict the staged dir is removed and
    * [[ConcurrentWriteException]] carries the new live version — readers
    * never observe the loser, and the winner's version is untouched
    * (first-writer-wins, no lost update). Plain [[overwrite]] keeps its
    * single-writer last-wins behavior; mixing the two on one table
    * forfeits the guarantee, so a multi-writer table should route every
    * publish through here. */
  def commit(spark: SparkSession, root: String, expectedVersion: Int,
             df: DataFrame): Unit = {
    // Stage under a UNIQUE path: two racing writers must never share a
    // dir (staging straight to v<next> would let the loser clobber the
    // winner's published files). The rename into place is same-filesystem
    // and happens only after the CAS check passes, under the shared
    // per-root monitor + cross-process file lock (withCommitLock — a raw
    // FileChannel.lock from two threads of one JVM would throw
    // OverlappingFileLockException instead of arbitrating).
    val stage = Paths.get(root, "_staging", s"c${System.nanoTime()}")
    try {
      guard(root, df).write.mode("overwrite").parquet(stage.toString)
      withCommitLock(root) {
        val live = currentVersion(root)
        if (live != expectedVersion)
          throw new ConcurrentWriteException(root, expectedVersion, live)
        Files.move(stage, Paths.get(root, s"v${expectedVersion + 1}"))
        swapPointer(root, expectedVersion + 1)
      }
    } finally {
      // A losing CAS, a lock failure, or a failed write must never leak
      // the staged dir; on success the move already emptied this path.
      if (Files.exists(stage)) ScratchDirs.deleteRecursively(stage)
    }
  }

  /** ALTER TABLE ADD COLUMN ... GENERATED ALWAYS AS (expr) — register a
    * generated column ([[GeneratedColumns]] semantics: omitted on write →
    * computed; supplied → validated). On a non-empty table that lacks the
    * column, a BACKFILL version is published computing it for every
    * existing row; a table that already carries the column has every
    * existing value validated first. */
  def addGeneratedColumn(spark: SparkSession, root: String, name: String,
                         sqlExpr: String): Unit = {
    val g = GeneratedColumns.Gen(name, sqlExpr)
    val gens = GeneratedColumns.load(root)
    require(!gens.exists(_.name == name),
      s"generated column '$name' already defined on $root")
    if (exists(root) && read(spark, root).columns.contains(name)) {
      val nBad = read(spark, root)
        .filter(!(col(name) <=> expr(sqlExpr))).count()
      require(nBad == 0,
        s"cannot add generated column '$name' ($sqlExpr): " +
          s"$nBad existing row(s) mismatch it")
    }
    GeneratedColumns.store(root, gens :+ g)
    if (exists(root) && !read(spark, root).columns.contains(name))
      overwrite(root, read(spark, root)) // backfill through the write hook
  }

  /** ALTER TABLE ... DROP the generated-column DEFINITION (data columns
    * already written stay in place, like dropping a Delta generation
    * expression). */
  def dropGeneratedColumn(root: String, name: String): Unit = {
    val gens = GeneratedColumns.load(root)
    require(gens.exists(_.name == name),
      s"no generated column '$name' on $root")
    GeneratedColumns.store(root, gens.filterNot(_.name == name))
  }

  /** Keyed MERGE (upsert with optional conditions and matched-delete),
    * replacing the reference's `spark.sql("merge into ...")`
    * (mls_listings_curated.py:329-353). Implemented as ONE full-outer
    * shuffle join on the key plus a single projected select — no driver-side
    * row handling, fully whole-stage-codegen.
    *
    * Target and source must share the target's column set; key columns are
    * assumed non-null (true in the reference: merge keys are the table PK).
    * With `changeFeed`, the non-keep rows land as the next version's change
    * feed before the pointer swap (`preImageFeed` adds the pre-update
    * struct), resolved by the same join.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            keys: Seq[String],
            clauses: MergeClauses.Spec = MergeClauses.Spec(),
            nullSafeKeys: Boolean = true,
            changeFeed: Boolean = false,
            schemaEvolution: Boolean = false,
            preImageFeed: Boolean = false): Unit =
    rewrite(spark, root)(mergeStep(_, source, keys, clauses, nullSafeKeys,
      schemaEvolution, changeFeed, preImageFeed))

  /** DELETE command (Delta `DELETE FROM ... WHERE`): publish a new version
    * without the rows satisfying `where`. Rows where the predicate
    * evaluates to null are KEPT — SQL DELETE semantics, not filter
    * semantics. With `changeFeed`, the deleted pre-images land as the next
    * version's change feed before the pointer swap. */
  def delete(spark: SparkSession, root: String, where: Column,
             changeFeed: Boolean = false): Unit =
    rewrite(spark, root)(deleteStep(_, where, changeFeed))

  /** UPDATE command (Delta `UPDATE ... SET ... WHERE`): rows satisfying
    * `where` get each column in `set` re-evaluated (expressions see the
    * pre-update row); all other rows and columns pass through. Null
    * predicate rows are untouched, like SQL UPDATE. With `changeFeed`,
    * post-image rows land as the next version's change feed before the
    * swap. */
  def update(spark: SparkSession, root: String, set: Map[String, Column],
             where: Column = lit(true), changeFeed: Boolean = false): Unit =
    rewrite(spark, root)(updateStep(_, set, where, changeFeed))

  /** OVERWRITE WHERE (Delta `.option("replaceWhere", ...)` overwrite):
    * atomically replace EXACTLY the rows satisfying `where` with `df` in
    * one published version — the idiomatic lake-table way to re-land a
    * partition-shaped slice (one day of a fact table, one source's
    * listings) without touching the rest. Unlike MERGE the replacement is
    * not keyed: `df` may have any cardinality, including dropping or
    * aggregating the slice. Delta's insertion contract is enforced inside
    * the write itself — every replacement row must satisfy `where`, and a
    * violating row aborts the publish before the pointer swaps (writing a
    * row outside the declared slice would silently duplicate data the
    * keep-side still carries). Predicate-null rows are KEPT, like
    * [[delete]]. This is the copy-on-write form (full next snapshot);
    * [[overwriteWhereVectorized]] publishes the same result at delta cost. */
  def overwriteWhere(spark: SparkSession, root: String, df: DataFrame,
                     where: Column, changeFeed: Boolean = false): Unit =
    rewrite(spark, root)(overwriteWhereStep(_, df, where, changeFeed))

  /** Copy-on-write DML on the whole live snapshot: `step` maps its rows to
    * the next version's, whose feed lands first; [[overwrite]] publishes. */
  private def rewrite(spark: SparkSession, root: String)(
      step: DataFrame => DmlStep): Unit =
    commitStep(root, currentVersion(root) + 1, step(read(spark, root)))(
      overwrite(root, _))

  /** RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF`): republish an
    * old version's CONTENT as the new head, preserving linear history —
    * the rollback is itself a versioned event, so it can be time-traveled
    * past or restored again. */
  def restore(spark: SparkSession, root: String, version: Int): Unit =
    overwrite(root, readVersion(spark, root, version))

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src` on the
    * dir layout): publish a clone table whose v0 HARD-LINKS the source's
    * live data files — metadata-plus-links only, zero data bytes copied
    * (the object-storage form is manifest reference, which
    * [[BucketedTable.shallowClone]] implements). The clone starts its own
    * independent version history: writes into the clone publish fresh
    * version dirs and never touch the source's immutable files (links
    * share bytes, and both sides only ever REPLACE whole versions, never
    * mutate files in place). CHECK constraints, generated-column
    * definitions and the live skipping manifest copy over; falls back to
    * byte copies where the filesystem refuses links. Cloning a
    * merge-on-read head materializes it is NOT done here — clone the
    * base or OPTIMIZE first (clear error, like [[compactSmall]]). */
  def shallowClone(spark: SparkSession, sourceRoot: String,
                   cloneRoot: String): Unit = {
    require(!exists(cloneRoot), s"clone target $cloneRoot already exists")
    val live = currentVersion(sourceRoot)
    requireFull(sourceRoot, live, "shallowClone")
    val srcDir = Paths.get(sourceRoot, s"v$live")
    val dstDir = Paths.get(cloneRoot, "v0")
    Files.createDirectories(dstDir)
    parquetFiles(srcDir).foreach(p => linkOrCopy(p, dstDir.resolve(p.getFileName)))
    Seq("_stats.tsv", "_bloom.tsv", "_colmap").foreach { mf =>
      val f = srcDir.resolve(mf)
      if (Files.exists(f)) Files.copy(f, dstDir.resolve(mf))
    }
    Seq("_constraints", "_generated").foreach { f =>
      val src = Paths.get(sourceRoot, f)
      if (Files.exists(src)) Files.copy(src, Paths.get(cloneRoot, f))
    }
    swapPointer(cloneRoot, 0)
  }

  /** Incremental OPTIMIZE — the compaction that scales: [[optimize]]
    * rewrites the whole snapshot, but real fragmentation accumulates as a
    * SMALL-FILE TAIL (every small merge/append leaves a few KB-files
    * while the bulk of the table sits in healthy large files). This
    * rewrites ONLY files under `targetFileBytes / 2`, bin-packed to the
    * target, and carries every healthy file into the new version as a
    * HARD LINK — a metadata-only carry on a real filesystem (the object-
    * storage production form of the same idea is manifest reference,
    * which [[BucketedTable]] implements; Delta/Iceberg OPTIMIZE likewise
    * rewrites only the bin-packing candidates and carries the rest in the
    * log). Rewrite cost is proportional to the FRAGMENTED bytes, never
    * the table. Content is untouched; carried files keep their names, so
    * their per-file rows in the data-skipping manifest stay valid and are
    * carried with them. Falls back to a byte copy where the filesystem
    * refuses links. No-op (no new version) when fewer than two small
    * files exist. */
  def compactSmall(spark: SparkSession, root: String,
                   targetFileBytes: Long = 128L << 20): Unit = {
    val live = currentVersion(root)
    requireFull(root, live, "compactSmall")
    val dir = Paths.get(root, s"v$live")
    val all = parquetFiles(dir).map(p => p.getFileName.toString -> Files.size(p))
    val (small, big) = all.partition(_._2 < targetFileBytes / 2)
    if (small.size <= 1) return
    val next = live + 1
    val nextDir = Paths.get(root, s"v$next")
    val smallBytes = small.map(_._2).sum
    val nPacked = math.max(1, math.ceil(
      smallBytes.toDouble / targetFileBytes).toInt)
    // Packed writes land in a staging subdir, then move up: spark part-
    // file names carry a fresh UUID, so they can never collide with the
    // carried names.
    val stage = nextDir.resolve("_compact_stage")
    spark.read.parquet(small.map(f => s"$dir/${f._1}"): _*)
      .repartition(nPacked)
      .write.mode("overwrite").parquet(stage.toString)
    parquetFiles(stage).foreach(p => Files.move(p, nextDir.resolve(p.getFileName)))
    ScratchDirs.deleteRecursively(stage)
    big.foreach { case (name, _) =>
      linkOrCopy(dir.resolve(name), nextDir.resolve(name))
    }
    // Carry the manifest rows of the files that carried (their stats are
    // still exact); packed files read conservatively until re-analyzed.
    val statsPath = dir.resolve("_stats.tsv")
    if (Files.exists(statsPath)) {
      val carried = big.map(_._1).toSet
      val kept = Files.readString(statsPath).linesIterator
        .filter(l => l.nonEmpty && carried(l.split('\t').head))
        .mkString("\n")
      if (kept.nonEmpty)
        Files.writeString(nextDir.resolve("_stats.tsv"), kept)
    }
    // carried files keep their physical names, so the mapping (if any)
    // must ride along or the compaction would silently undo a rename
    val cm = dir.resolve("_colmap")
    if (Files.exists(cm)) Files.copy(cm, nextDir.resolve("_colmap"))
    swapPointer(root, next)
  }

  /** OPTIMIZE — bin-packing compaction with optional z-order layout,
    * published as a new immutable version (content-identical; only the
    * file layout changes). The reference ecosystem gets this from Delta's
    * `OPTIMIZE [ZORDER BY]`; at 100 TB it is the difference between a
    * merge-heavy table degrading into millions of KB-files (every scan
    * pays per-file open/footer costs) and scans that read large
    * contiguous row groups with data-skipping locality.
    *
    *  - Compaction: the live snapshot's byte size divided by
    *    `targetFileBytes` sets the output file count — a plain
    *    round-robin `repartition` when no layout columns are given.
    *  - Z-order: each layout column is quantized to an equal-width
    *    8-bit bucket (scalar min/max aggregate crossJoined — no
    *    driver-side stats pass), the buckets' bits are interleaved into
    *    one z-value, and the data is range-partitioned + sorted by it.
    *    Files then own pairwise-disjoint z-ranges, so every layout
    *    column's per-file min/max spans shrink together — parquet
    *    row-group stats skip multi-dimensionally on read.
    *
    * The rewrite is one shuffle of the snapshot (range exchange on the
    * z-value) — same cost class as the merge it cleans up after. */
  def optimize(spark: SparkSession, root: String,
               targetFileBytes: Long = 128L << 20,
               zorderBy: Seq[String] = Nil): Unit = {
    val live = currentVersion(root)
    // A DV version holds no data files of its own — size its base
    // snapshot plus its appended rows (an upper bound; the rewrite purges
    // the tombstones).
    val snapBytes = dvBaseOf(root, live).fold(
      parquetBytes(Paths.get(root, s"v$live")))(b =>
      parquetBytes(Paths.get(root, s"v$b")) + appendBytes(root, live))
    val nFiles = math.max(1, math.ceil(snapBytes.toDouble / targetFileBytes).toInt)
    val cur = read(spark, root)
    var zorderCuts: Map[String, Seq[Double]] = Map.empty
    val laid =
      if (zorderBy.isEmpty) cur.repartition(nFiles)
      else {
        // Quantization surrogate per layout column: numerics cast to
        // double; STRINGS map monotonically to a number via their
        // NUL-padded 8-char byte prefix (56 bits of it — lexicographic
        // order on the prefix is preserved; ties past the prefix just
        // share a bucket). The surrogate only decides WHERE rows land —
        // content is untouched, and the auto-analyze below records true
        // (lexicographic for strings) min/max for the skipping manifest.
        val zExpr: Map[String, Column] = zorderBy.map { c =>
          val e = cur.schema(c).dataType match {
            case org.apache.spark.sql.types.StringType =>
              conv(substring(hex(
                rpad(coalesce(col(c), lit("")), 8, "\u0000").cast("binary")),
                1, 14), 16, 10).cast("double")
            case _ => col(c).cast("double")
          }
          c -> e
        }.toMap
        // EQUAL-FREQUENCY 8-bit buckets via approxQuantile cut points
        // (Delta's OPTIMIZE ZORDER quantizes by interleaved range-
        // partition ids, i.e. quantiles — the same public design). Equal-
        // width quantization fails whenever the discriminating variation
        // lives in a narrow or low-order band of the value range (skewed
        // numerics; date strings whose year dominates the byte prefix) —
        // quantiles adapt to the distribution. Driver state is bounded:
        // at most 255 doubles per layout column.
        // 6-bit buckets (64 per dimension): the per-row bucket lookup is
        // a linear pass over the cut array, so cut count is per-row work —
        // and 64 buckets per dimension already far exceeds any realistic
        // output file count, so finer quantization buys no extra skipping.
        val cutArrays = cur
          .select(zorderBy.map(c => zExpr(c).as(s"_s_$c")): _*)
          .stat.approxQuantile(zorderBy.map(c => s"_s_$c").toArray,
            (1 to 63).map(_ / 64.0).toArray, 0.005) // ONE pass, all columns
        val cuts: Map[String, Seq[Double]] = zorderBy.zip(cutArrays)
          .map { case (c, arr) => c -> arr.toSeq.distinct.sorted }.toMap
        zorderCuts = cuts
        // bucket = number of cut points <= value (0..255); a null value
        // sorts lowest (null comparisons drop in filter -> bucket 0)
        val buckets = zorderBy.map { c =>
          size(filter(typedLit(cuts(c)), x => x <= zExpr(c)))
        }
        cur.withColumn("_z", interleaveBits(buckets, bitsPer = 6))
          .repartitionByRange(nFiles, col("_z"))
          .sortWithinPartitions("_z")
          .drop("_z")
      }
    overwrite(root, laid)
    // Record the layout recipe with the version it produced (clustering
    // metadata, like Delta's log entries): the quantile cut points let
    // any later reader or test recompute the EXACT z each row was laid
    // out by — approxQuantile re-runs are not bit-reproducible.
    if (zorderCuts.nonEmpty) {
      val rec = zorderBy.map(c =>
        s"$c\t${zorderCuts(c).mkString(",")}").mkString("\n")
      Files.writeString(
        Paths.get(root, s"v${currentVersion(root)}", "_zorder.tsv"), rec)
    }
    // A z-ordered layout without file stats cannot be skipped against —
    // record the manifest for the layout columns as part of OPTIMIZE.
    // (The z-quantization itself is numeric-only, but string layout
    // columns still get lexicographic min/max stats for readWhere.)
    val statable = {
      val fields = read(spark, root).schema.fields
        .map(f => f.name -> f.dataType.typeName).toMap
      zorderBy.filter(c => fields.get(c).exists(t =>
        Set("byte", "short", "integer", "long", "float", "double",
          "date", "string").contains(t) || t.startsWith("decimal")))
    }
    if (statable.nonEmpty) analyze(spark, root, statable)
  }

  /** The quantile cut points a z-order OPTIMIZE recorded when it
    * published `version` (empty when the version was not produced by a
    * z-order rewrite) — column -> ascending cut values over the layout
    * surrogate. */
  def zorderCutsOf(root: String, version: Int): Map[String, Seq[Double]] = {
    val f = Paths.get(root, s"v$version", "_zorder.tsv")
    if (!Files.exists(f)) Map.empty
    else Files.readString(f).linesIterator.filter(_.nonEmpty).map { line =>
      val Array(c, cs) = line.split("\t", 2) // limit 2: keep empty cuts field
      c -> (if (cs.isEmpty) Seq.empty[Double]
            else cs.split(',').toSeq.map(_.toDouble))
    }.toMap
  }

  /** Morton interleave: bit i of layout column c lands at position
    * i·nCols + (nCols−1−c), so all columns contribute equally to every
    * z-value prefix. Pure integer shifts — whole-stage codegen. Shifts
    * run on LONG: with int operands a 4-column interleave puts a bit at
    * position 31 (sign) and ≥33 total bits wrap mod 32 and collide. */
  private[graft] def interleaveBits(buckets: Seq[Column],
                                    bitsPer: Int = 8): Column = {
    val n = buckets.size
    require(n * bitsPer <= 63,
      s"z-value needs $n*$bitsPer bits; at most 63 fit a signed long")
    val terms = for {
      (b, c) <- buckets.zipWithIndex
      i <- 0 until bitsPer
    } yield shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + (n - 1 - c))
    terms.reduce(_ + _)
  }

  /** ANALYZE — record a per-file min/max manifest for `statsCols` inside
    * the live snapshot dir (`_stats.tsv`; the `_` prefix keeps it
    * invisible to the parquet reader, like `_SUCCESS`). This is the
    * read-side half of z-order: OPTIMIZE makes per-file column spans
    * tight, the manifest makes them visible WITHOUT opening footers, and
    * [[readWhere]] turns them into file-level skipping — the Delta/
    * Iceberg data-skipping protocol on the same immutable-snapshot
    * layout. Versions are immutable, so a manifest can never go stale;
    * vacuum removes it with its snapshot.
    *
    * Cost: one column-pruned scan of only `statsCols` (columnar read —
    * a small fraction of the table) aggregated per file; one manifest
    * row per (file, column), driver-held only as that bounded artifact.
    * At 100 TB the production refinement is reading parquet footer
    * stats instead of re-scanning (same manifest, ~KB per file of IO);
    * the scan keeps this implementation engine-pure.
    *
    * Numeric stats are stored as doubles — exact for integral values
    * < 2^53; string columns keep their min/max verbatim (URL-encoded
    * for TSV safety) and prune by lexicographic order — the reference's
    * hottest filter is a string `load_date BETWEEN`
    * (mls_listings_curated.py:73), which zero-pads its dates so
    * lexicographic == chronological. */
  def analyze(spark: SparkSession, root: String, statsCols: Seq[String]): Unit = {
    val live = currentVersion(root)
    requireFull(root, live, "analyze")
    // read through the column mapping: stats record LOGICAL names, the
    // names readWhere's range predicates are written in
    val snap = applyColmap(TableIO.readStatic(spark, s"$root/v$live"),
      colmapOf(root, live))
    val numericTypes = Set("byte", "short", "int", "integer", "long",
      "float", "double", "date") // date: days-since-epoch ordering
    val kinds: Map[String, String] = statsCols.map { c =>
      val f = snap.schema.fields.find(_.name == c).getOrElse(
        sys.error(s"analyze: no column '$c' in ${snap.columns.mkString(",")}"))
      val tn = f.dataType.typeName
      val kind =
        if (numericTypes.exists(tn.startsWith) || tn.startsWith("decimal")) "num"
        else if (tn == "string") "str"
        else sys.error(s"analyze: column '$c' is $tn, not numeric or string")
      c -> kind
    }.toMap
    val aggs = statsCols.flatMap { c =>
      val v = if (kinds(c) == "num") col(c).cast("double") else col(c)
      Seq(min(v).as(s"_mn_$c"), max(v).as(s"_mx_$c"))
    }
    // Streamed, not collected: one shuffle partition of manifest rows on
    // the driver at a time (toLocalIterator), written through to the tsv —
    // a 10^5-10^6-file snapshot (100 TB) never materializes its manifest
    // in driver memory.
    val rows = snap.withColumn("_file", input_file_name())
      .groupBy("_file").agg(aggs.head, aggs.tail: _*)
      .toLocalIterator()
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val tmp = Paths.get(root, s"v$live", s"_stats.tmp")
    val sb = Files.newBufferedWriter(tmp)
    try rows.asScala.foreach { r =>
      val leaf = r.getString(0).split('/').last
      statsCols.zipWithIndex.foreach { case (c, i) =>
        def cell(k: Int) =
          if (r.isNullAt(k)) "null"
          else if (kinds(c) == "num") r.getDouble(k).toString
          else enc(r.getString(k))
        sb.write(s"$leaf\t$c\t${kinds(c)}\t${cell(1 + 2 * i)}\t${cell(2 + 2 * i)}\n")
      }
    } finally sb.close()
    Files.move(tmp, Paths.get(root, s"v$live", "_stats.tsv"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Manifest size past which [[readWhere]] computes prune verdicts as a
    * distributed plan instead of a driver stream. Tunable per session
    * (`spark.graft.skipping.distributedPruneBytes`); default 8 MiB — a
    * gate-scale manifest stays on the cheap driver path, a 100 TB
    * table's multi-GB manifest never bottlenecks one thread. */
  private def distributedPruneBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.skipping.distributedPruneBytes")
      .map(_.toLong).getOrElse(8L * 1024 * 1024)

  /** The skipping-manifest prune as a DISTRIBUTED plan: parse the
    * `_stats.tsv` lines across the cluster, evaluate every range's span
    * verdict as Catalyst expressions, and aggregate to one row per
    * provably-prunable file — `scan → project(verdict) → aggregate`,
    * fully whole-stage-codegen, no driver-side iteration. Semantics are
    * identical to the streamed path (see [[readWhere]]'s contract);
    * `SkippingPruneSpec` pins both the plan shape and the
    * verdict-for-verdict agreement. */
  private[sources] def pruneVerdicts(spark: SparkSession, statsPath: String,
                                     ranges: Seq[(String, Any, Any)]): DataFrame = {
    // Lazy numeric view of a range endpoint — the streamed path only
    // parses endpoints when a "num" manifest line is in hand, so a
    // string-typed range must not eagerly throw here; a non-numeric
    // endpoint simply cannot prune "num"-kind lines (conservative stay).
    def toD(a: Any): Option[Double] = a match {
      case n: Number => Some(n.doubleValue())
      case other => other.toString.toDoubleOption
    }
    val p = split(col("value"), "\t")
    val parsed = spark.read.text(statsPath)
      .where(col("value") =!= "")
      .select(
        element_at(p, 1).as("f"),
        element_at(p, 2).as("c"),
        when(size(p) >= 5, element_at(p, 3)).otherwise(lit("num")).as("kind"),
        when(size(p) >= 5, element_at(p, 4)).otherwise(element_at(p, 3)).as("mn"),
        when(size(p) >= 5, element_at(p, 5)).otherwise(element_at(p, 4)).as("mx"))
    val allNull = col("mn") === "null" && col("mx") === "null"
    val bothPresent = col("mn") =!= "null" && col("mx") =!= "null"
    val lineVerdict = ranges.map { case (c, lo, hi) =>
      val numPrune = (toD(lo), toD(hi)) match {
        case (Some(loD), Some(hiD)) =>
          col("kind") === "num" &&
            !(col("mn").cast("double") <= lit(hiD) &&
              col("mx").cast("double") >= lit(loD))
        case _ => lit(false)
      }
      val strPrune = col("kind") === "str" &&
        !(url_decode(col("mn")) <= lit(hi.toString) &&
          url_decode(col("mx")) >= lit(lo.toString))
      (col("c") === c) && (allNull || (bothPresent && (numPrune || strPrune)))
    }.reduce(_ || _)
    parsed.groupBy(col("f"))
      .agg(max(lineVerdict.cast("int")).as("_pruned"))
      .where(col("_pruned") === 1)
      .select(col("f"))
  }

  /** Data-skipping read: rows of the live snapshot satisfying ALL the
    * closed-interval `ranges` (`col between lo and hi`, null fails) —
    * but files whose manifest span cannot intersect a range are never
    * opened, so a selective read of a z-ordered table touches a handful
    * of files instead of the whole snapshot. Files without manifest
    * rows (or with no manifest at all) are conservatively read; an
    * all-null file for a range column is skipped (no null satisfies a
    * range predicate). Bounds keep their native type in the row-level
    * predicate so parquet row-group pushdown survives inside the files
    * that ARE read. */
  def readWhere(spark: SparkSession, root: String,
                ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "readWhere: empty ranges — use read()")
    val live = currentVersion(root)
    // A merge-on-read version serves its base's files: prune against
    // the BASE's listing+manifest (spans are conservative upper bounds —
    // deleted rows can only shrink true spans). Its (unpruned,
    // delta-sized) appended rows pass through the same row-level
    // predicate below.
    val dir = s"$root/v${dvBaseOf(root, live).getOrElse(live)}"
    val pred = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
    val statsPath = Paths.get(dir, "_stats.tsv")
    if (!Files.exists(statsPath)) return readAt(spark, root, live).where(pred)
    // Manifest pruning, two execution strategies with ONE semantics:
    // a file is pruned when ANY range column's recorded span cannot
    // intersect ("null\tnull" = the file is all-null for that column —
    // no row can match a range); kind "num" spans compare as doubles,
    // "str" spans lexicographically on the URL-decoded value; legacy
    // 4-field lines (pre-string manifests) are numeric by construction;
    // unknown files/columns conservatively stay.
    //
    // Small manifests stream through the driver (one pass, nothing
    // materialized). Past the size threshold the verdicts run as a
    // DISTRIBUTED plan ([[pruneVerdicts]]): a 10^6-file table's manifest
    // (files × stats columns of lines) parses and aggregates across the
    // cluster, and only the provably-prunable FILE NAMES — the minimum a
    // file-list scan needs — ever reach the driver, never the manifest
    // rows themselves.
    val pruned: scala.collection.Set[String] =
      if (Files.size(statsPath) >= distributedPruneBytes(spark)) {
        // `_`-prefixed files are invisible to Spark's file sources
        // (hidden-file filter — exactly why the manifest lives at
        // `_stats.tsv` inside the snapshot dir). Hard-link it to a
        // non-hidden scratch name for the distributed scan: zero bytes
        // copied, removed after the verdicts are collected.
        val scratch = Files.createTempDirectory("graft_prune")
        val link = scratch.resolve("stats.tsv")
        try {
          linkOrCopy(statsPath, link)
          pruneVerdicts(spark, link.toString, ranges)
            .collect().map(_.getString(0)).toSet
        } finally ScratchDirs.deleteRecursively(scratch)
      }
      else {
        def toD(a: Any): Double = a match {
          case n: Number => n.doubleValue()
          case other => other.toString.toDouble
        }
        def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
        val acc = scala.collection.mutable.HashSet.empty[String]
        val lineStream = Files.lines(statsPath)
        try lineStream.iterator().asScala.filter(_.nonEmpty).foreach { line =>
          val (f, c, kind, mn, mx) = line.split('\t') match {
            case Array(f0, c0, k0, mn0, mx0) => (f0, c0, k0, mn0, mx0)
            case Array(f0, c0, mn0, mx0) => (f0, c0, "num", mn0, mx0)
            case other => sys.error(s"readWhere: bad manifest line '$line'")
          }
          ranges.filter(_._1 == c).foreach { case (_, lo, hi) =>
            val prune =
              if (mn == "null" && mx == "null") true // all-null file
              else if (mn == "null" || mx == "null") false // partial stats: stay
              else if (kind == "num")
                !(mn.toDouble <= toD(hi) && mx.toDouble >= toD(lo))
              else if (kind == "str")
                !(dec(mn) <= hi.toString && dec(mx) >= lo.toString)
              else false // unknown kind: stay safe
            if (prune) acc += f
          }
        } finally lineStream.close()
        acc
      }
    readAt(spark, root, live, Some(pruned)).where(pred)
  }

  /** Right-to-forget COMPLETION for a retained change feed: a retraction
    * merge's feed carries the retracted rows' PRE-IMAGES (the audit
    * record a downstream consumer replays), so even after [[vacuum]]
    * drops the pre-retraction snapshots, the deleted BYTES survive in the
    * change feed of `version` for as long as that feed is retained. This
    * rewrites the feed in place, reducing every row matching `where`
    * (typically `_action = 'delete'`) to a key + action TOMBSTONE —
    * payload columns nulled, schema unchanged, so feed consumers still
    * see which keys left at which version (the replication contract)
    * without the data itself. Non-matching rows (update/insert
    * post-images — surviving documents) pass through untouched. The
    * rewrite stages next to the feed and swaps via rename, same
    * publish-then-swap discipline as everything else in the layout. */
  def redactChangeFeed(spark: SparkSession, root: String, version: Int,
                       keyCols: Seq[String],
                       where: org.apache.spark.sql.Column): Unit =
    rewriteChanges(spark, root, version) { feed =>
      val keep = (keyCols :+ graft.operators.Merge.ActionCol).toSet
      feed.select(feed.schema.fields.map { f =>
        if (keep(f.name)) col(f.name)
        else when(where, lit(null).cast(f.dataType)).otherwise(col(f.name))
          .as(f.name)
      }.toIndexedSeq: _*)
    }

  /** Retention for the snapshot layout ([[VersionedLayout.vacuum]] applies
    * the policy): every version dir is a published version, and a retained
    * deletion-vector version keeps its FULL base version alive — it serves
    * the base's files even when the base itself has aged out — together
    * with the versions whose appended files it serves. */
  protected def isPublished(root: String, v: Int): Boolean =
    Files.exists(Paths.get(root, s"v$v"))

  protected def sweepUnreachable(root: String, retained: Seq[Int]): Unit =
    deleteVersionsBut(Paths.get(root), (retained ++ retained.flatMap(v =>
      dvBaseOf(root, v).toSeq.flatMap(_ +: appendVersionsOf(root, v)))).toSet)
}
