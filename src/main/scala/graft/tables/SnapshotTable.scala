package graft.tables

import java.nio.file.{Files, Path, Paths, FileAlreadyExistsException}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.{StructField, StructType}

/** Thrown when a concurrent writer committed the version this writer
  * was targeting; the loser's data files are cleaned up and the caller
  * may re-read and retry (optimistic concurrency, Delta/Iceberg style).
  */
final class CommitConflictException(version: Long)
  extends RuntimeException(s"version $version was committed concurrently")

/** Minimal versioned-snapshot table: distributed parquet data files +
  * a metadata-sized manifest per version + an ATOMIC commit point.
  *
  * This is the missing piece between "MERGE as a query shape"
  * (ops/Advanced q_merge_upsert, ops/Analytics q_cdc_apply/q_ivm —
  * they COMPUTE the post-merge relation) and "MERGE as a table
  * operation": here the result is durably committed as version v+1
  * and any reader — concurrent or future — sees exactly one committed
  * version, never a torn mixture. The reference's own upsert
  * (task.ts:228-271) merges into a remote API that owns atomicity;
  * a lakehouse engine must own it itself.
  *
  * Layout under `root/`:
  * {{{
  *   data/v<version>-<uuid>/part-*.parquet   one snapshot dir per commit
  *   _manifests/v<version>.manifest          line 1: version
  *                                           line 2: schema (Spark JSON)
  *                                           lines 3+: data file paths (relative)
  *   _manifests/.tmp-<uuid>                  in-flight manifests (ignored by readers)
  * }}}
  *
  * Commit protocol (per [[commit]]):
  *  1. write the DataFrame to a fresh `data/` snapshot dir (distributed
  *     parquet write — the only data-sized step);
  *  2. write the COMPLETE manifest to `_manifests/.tmp-<uuid>`;
  *  3. `Files.createLink(v<N>.manifest, .tmp-<uuid>)` — the commit
  *     point. Hard-link creation is a single atomic filesystem op that
  *     (a) makes the fully-written content appear under the final name
  *     atomically (no reader can observe a half-written manifest) and
  *     (b) fails with FileAlreadyExistsException if version N was
  *     already committed — the optimistic-concurrency CAS. A loser
  *     deletes its orphan data dir and throws [[CommitConflictException]].
  *
  * Readers derive the current version by LISTING `_manifests/` and
  * taking the max committed version — the listing is the source of
  * truth (manifest count = commit count, metadata-sized), so there is
  * no secondary pointer file that could lag or tear. A crash anywhere
  * before step 3 leaves only invisible garbage (orphan data dir, stray
  * `.tmp-`), which [[vacuum]] reclaims; a crash after step 3 is a
  * completed commit. Readers therefore NEVER see a torn version —
  * proven by SnapshotTableSpec's crash-mid-write cases.
  *
  * Scale posture: data reads/writes are ordinary distributed parquet
  * jobs; commits touch O(1) metadata-sized files. On HDFS the atomic
  * primitive is rename-without-overwrite; on object stores it is a
  * conditional PUT (If-None-Match) — the protocol is the same, only
  * the CAS primitive changes. The full-snapshot-per-version model
  * (vs delta logs) keeps reads single-manifest; for 100 TB tables the
  * natural extension is manifest-level file reuse (carry forward
  * unchanged files' paths into the v+1 manifest), which this layout
  * already permits since manifests list arbitrary data paths.
  */
final class SnapshotTable(private[graft] val spark: SparkSession, val root: String) {
  private val rootPath: Path = Paths.get(root)
  private val manifestsDir: Path = rootPath.resolve("_manifests")
  private val dataDir: Path = rootPath.resolve("data")

  Files.createDirectories(manifestsDir)
  Files.createDirectories(dataDir)

  private def listCommitted(): Seq[Long] =
    SnapshotTable.listCommittedAt(manifestsDir)

  /** Highest committed version, or 0 if the table is empty. */
  def currentVersion: Long = listCommitted().foldLeft(0L)(math.max)

  private def manifestPath(version: Long): Path =
    manifestsDir.resolve(s"v$version.manifest")

  /** Manifest body lines starting with '#' are metadata (currently
    * the bucket spec), everything else a relative data-file path. */
  private def manifestLines(version: Long): Vector[String] =
    SnapshotTable.manifestLinesAt(rootPath, version)

  private def manifestFiles(lines: Vector[String]): Vector[String] =
    SnapshotTable.manifestFilesOf(lines)

  private val BucketMeta = SnapshotTable.BucketMeta

  // stat-line regexes live on the companion (private[tables]) so the
  // DSv2 batch scan's manifest pruning shares ONE format definition
  // with the instance read paths — aliased here for pattern matching
  private val RangeMeta = SnapshotTable.RangeMeta
  private val RowsMeta = SnapshotTable.RowsMeta
  private val BloomFMeta = SnapshotTable.BloomFMeta
  private val ClusterMeta = SnapshotTable.ClusterMeta
  private val BloomKMeta = SnapshotTable.BloomKMeta
  private val DvMeta = SnapshotTable.DvMeta

  private def manifestBuckets(lines: Vector[String]): Option[(Int, String)] =
    lines.drop(2).collectFirst { case BucketMeta(n, k) => (n.toInt, k) }

  /** Read committed version `version` (time travel). */
  def read(version: Long): DataFrame = {
    val lines = manifestLines(version)
    scanWithDv(lines, manifestFiles(lines))
  }

  private def schemaOf(lines: Vector[String]): StructType =
    org.apache.spark.sql.types.DataType.fromJson(lines(1))
      .asInstanceOf[StructType]

  // ---- deletion vectors ----------------------------------------------

  /** DV sidecar files (`#dv=` manifest lines): parquet datasets of
    * (file name, row index) addresses of DELETED rows — the manifest's
    * cumulative deletion vector. */
  private def manifestDvFiles(lines: Vector[String]): Vector[String] =
    lines.drop(2).collect { case DvMeta(rel) => rel }

  /** The raw `#dv=` lines, for carry-forward by non-rewriting writers
    * (appends). Rewriting writers (commit/merge/applyChanges/compact)
    * materialize from [[read]] — DVs fold into the rewrite — and so
    * deliberately do NOT carry these. */
  private def manifestDvLines(lines: Vector[String]): Vector[String] =
    lines.drop(2).filter(_.startsWith("#dv="))

  private def dvScan(dvRels: Seq[String]): DataFrame =
    spark.read.schema(SnapshotTable.DvSchema)
      .parquet(dvRels.map(rel => rootPath.resolve(rel).toString): _*)

  /** A data file's DV ADDRESS: its last two path segments
    * (`parentDir/fileName`). The file name alone is NOT unique — a
    * dynamic-partition (bucketed) write task reuses its part number
    * across the `__bdir=` dirs it writes — but the parent dir
    * disambiguates those, and across snapshots the per-job UUID in
    * the part name disambiguates same-parent names. Unlike the full
    * path, the address survives table relocation. Uniqueness is
    * re-CHECKED (not assumed) at [[delete]] time. */
  private[tables] def dvAddressOf(rel: String): String =
    rel.split('/').takeRight(2).mkString("/")

  /** Scan of `relFiles` under the manifest's schema with the row
    * ADDRESS columns retained (`__graft_dv_f` = the file's
    * [[dvAddressOf]], `__graft_dv_p` = row index within the file —
    * from Spark's parquet `_metadata` columns) and the manifest's
    * deletion vectors already applied: [[delete]]'s working relation.
    * The DV anti-join builds on the DV side, which is O(deleted
    * rows) — AQE broadcasts it in the common small-delete case. */
  private def scanAddressed(lines: Vector[String], relFiles: Seq[String]): DataFrame = {
    val schema = schemaOf(lines)
    val reserved = Seq("__graft_dv_f", "__graft_dv_p",
      SnapshotTable.DvFileCol, SnapshotTable.DvPosCol)
    require(!schema.fieldNames.exists(reserved.contains),
      s"table schema at $root collides with reserved DV column names")
    val segs = split(col("_metadata.file_path"), "/")
    // address columns attach on the RAW scan (metadata columns are
    // only resolvable there), logical renames project after
    val raw = spark.read.schema(SnapshotTable.physSchemaOf(schema))
      .parquet(relFiles.map(rel => rootPath.resolve(rel).toString): _*)
      .withColumn("__graft_dv_f",
        concat_ws("/", element_at(segs, -2), element_at(segs, -1)))
      .withColumn("__graft_dv_p", col("_metadata.row_index"))
    val base =
      if (!SnapshotTable.hasMapping(schema)) raw
      else raw.select(schema.fields.map(f =>
        col(SnapshotTable.physNameOf(f)).as(f.name)).toIndexedSeq ++
        Seq(col("__graft_dv_f"), col("__graft_dv_p")): _*)
    val dvRels = manifestDvFiles(lines)
    if (dvRels.isEmpty) base
    else base.join(dvScan(dvRels),
      col("__graft_dv_f") === col(SnapshotTable.DvFileCol) &&
        col("__graft_dv_p") === col(SnapshotTable.DvPosCol), "left_anti")
  }

  /** Parquet scan of `relFiles` with the manifest's deletion vectors
    * applied — the ONE read primitive every read path shares
    * ([[read]], [[readWhere]], [[readWhereN]], [[mergeBucketed]]'s
    * touched-bucket read), so row-level deletes are invisible
    * everywhere. DV-free manifests take the plain-scan fast path (no
    * metadata columns, no join in the plan). */
  private[tables] def scanWithDv(lines: Vector[String], relFiles: Seq[String]): DataFrame = {
    val schema = schemaOf(lines)
    if (relFiles.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else if (manifestDvFiles(lines).isEmpty)
      physRead(schema, relFiles)
    else scanAddressed(lines, relFiles)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Parquet scan of `relFiles` surfacing LOGICAL column names: files
    * are read under the schema's PHYSICAL names (what renames left in
    * the data) and renamed back — a no-op Project when the mapping is
    * identity (the common case adds nothing to the plan). */
  private def physRead(schema: StructType, relFiles: Seq[String]): DataFrame = {
    val paths = relFiles.map(rel => rootPath.resolve(rel).toString)
    if (!SnapshotTable.hasMapping(schema))
      spark.read.schema(schema).parquet(paths: _*)
    else spark.read.schema(SnapshotTable.physSchemaOf(schema)).parquet(paths: _*)
      .toDF(schema.fieldNames.toIndexedSeq: _*)
  }

  /** `df`'s columns renamed to their PHYSICAL names in `schema`
    * order, for writers that stage data under a mapped schema —
    * identity (no projection) when the mapping is. */
  private def toPhysDf(df: DataFrame, schema: StructType): DataFrame =
    if (!SnapshotTable.hasMapping(schema)) df
    else df.select(schema.fields.map(f =>
      col(f.name).as(SnapshotTable.physNameOf(f))).toIndexedSeq: _*)

  /** Row-level DELETE via DELETION VECTORS: rows matching `cond`
    * (SQL filter semantics — null does not match) are tombstoned by
    * ADDRESS (file name, row index) in a parquet DV sidecar committed
    * as v+1; no data file is rewritten. At 100 TB this is the
    * difference between a delete costing O(deleted rows + one scan)
    * and a table rewrite — the lakehouse DV design (Delta deletion
    * vectors / Iceberg position deletes). Mechanics:
    *
    *  - every read path applies the cumulative DV set via an
    *    anti-join on the address columns ([[scanWithDv]]); deletes
    *    STACK (each commit's sidecar adds addresses);
    *  - a file whose rows are ALL deleted is dropped from the
    *    manifest entirely (its stat lines too) — file-level deletes
    *    degrade to pure metadata;
    *  - the deleted rows are recorded as `delete` pre-images in the
    *    row-level change feed ([[rowChangesBetween]] works through
    *    deletes);
    *  - layout metadata survives: clustered/z-order min-max stats
    *    stay valid (conservative) and bucket specs still hold, so
    *    data skipping and bucketed merges keep working on the
    *    undeleted remainder;
    *  - rewriting writers ([[compact]], [[merge]], [[applyChanges]])
    *    materialize through [[read]] and so FOLD the DVs in — their
    *    commits carry no `#dv=` lines; appends carry them forward.
    *
    * The manifest rules (dead files, inert sidecars, stat re-mints)
    * are the one DV tombstone commit [[update]] and the SQL DML share:
    * [[commitTombstones]].
    *
    * Addresses use the file NAME (unique per manifest, enforced
    * here), so manifests stay relocation-safe. Returns the committed
    * version (the base version unchanged if the table has no data
    * files). Throws [[CommitConflictException]] on a publish race,
    * like every other writer. */
  def delete(cond: org.apache.spark.sql.Column): Long =
    tombstoneMatching(_.filter(cond))

  /** DV DELETE driven by a KEY RELATION instead of a per-row
    * predicate — `MERGE ... WHEN MATCHED THEN DELETE`. Rows whose
    * `keyCol` appears in `keys` are tombstoned; cost is O(matching
    * rows + the join), no file rewritten. The shape a 100 TB dedup or
    * GDPR-erasure pipeline needs: the doomed set is computed AS A
    * DATAFRAME (a dedup-loser ranking, an erasure list) and never
    * collects to the driver. AQE broadcasts small key sets. */
  def deleteKeys(keys: DataFrame, keyCol: String): Long = {
    val k = keys.select(col(keyCol)).distinct()
    tombstoneMatching(_.join(k, Seq(keyCol), "left_semi"))
  }

  /** Live row counts for the files in `touchedAddrs` — the dead-file
    * check of DELETE/UPDATE. When the manifest carries `#rows=`
    * lines (clustered commits) and no prior DVs have falsified them,
    * the answer is pure metadata (ZERO files opened); otherwise only
    * the TOUCHED files are scanned — O(matching files), never the
    * O(table) metadata-column sweep a naive survivors-count costs. */
  private def livePerFile(lines: Vector[String], files: Vector[String],
      touchedAddrs: Set[String]): Map[String, Long] = {
    if (touchedAddrs.isEmpty) return Map.empty
    val rowsByAddr: Map[String, Long] = lines.drop(2).collect {
      case RowsMeta(rel, n) => dvAddressOf(rel) -> n.toLong
    }.toMap
    // prior tombstones subtract from the committed counts — every
    // DV-minting writer records its per-file #dvrows, so a manifest
    // with DVs but NO counts (a stats-dropping writer intervened) is
    // the only case that still pays the scan
    val dvRows = SnapshotTable.dvRowsOf(lines)
    val countsTrusted = manifestDvFiles(lines).isEmpty || dvRows.nonEmpty
    if (countsTrusted && touchedAddrs.forall(rowsByAddr.contains))
      rowsByAddr.collect { case (a, n) if touchedAddrs(a) =>
        a -> (n - dvRows.getOrElse(a, 0L))
      }
    else {
      val touchedFiles = files.filter(rel => touchedAddrs(dvAddressOf(rel)))
      scanAddressed(lines, touchedFiles).groupBy("__graft_dv_f").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** [[delete]], [[deleteKeys]] and, with `assignments`, [[update]]:
    * tombstone the live rows `matchOf` picks and commit through
    * [[commitTombstones]]. The matched rows are cached once; their
    * per-file counts, the sidecar, the re-mint's exclusion join, the
    * post-images and the change feed all read that cache. */
  private def tombstoneMatching(matchOf: DataFrame => DataFrame,
      assignments: Option[Map[String, org.apache.spark.sql.Column]] = None): Long = {
    val op = if (assignments.isDefined) "UPDATE" else "DELETE"
    val baseVersion = currentVersion
    require(baseVersion > 0, s"table at $root has no committed version")
    val lines = manifestLines(baseVersion)
    val files = manifestFiles(lines)
    if (files.isEmpty) return baseVersion
    val schema = schemaOf(lines)
    assignments.foreach(_.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"update assigns unknown column $k at $root")))
    val addrs = files.map(dvAddressOf)
    require(addrs.distinct.size == addrs.size,
      s"${op.toLowerCase} needs manifest-unique data file addresses at $root")
    val version = baseVersion + 1
    val matched = matchOf(scanAddressed(lines, files)).persist()
    val dvDir = dataDir.resolve(s"v$version-dv-${UUID.randomUUID()}")
    try {
      // per-file match counts — ≤ nFiles rows; this job fills the cache
      val perFile: Map[String, Long] = matched.groupBy("__graft_dv_f").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tombs = matched.select(col("__graft_dv_f").as(SnapshotTable.DvFileCol),
        col("__graft_dv_p").as(SnapshotTable.DvPosCol))
      // range-cluster the sidecar by (file, pos): the DSv2 scan loads
      // each file's tombstones executor-side with a file==addr parquet
      // record filter, and clustered row groups let its stats skip
      // every group belonging to other files
      def stageSidecar(): Seq[String] = {
        tombs.repartitionByRange(col(SnapshotTable.DvFileCol), col(SnapshotTable.DvPosCol))
          .sortWithinPartitions(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol)
          .write.parquet(dvDir.toString)
        listParquetRec(dvDir).map(p => rootPath.relativize(p).toString)
      }
      val pre = matched.select(schema.fieldNames.map(col).toSeq :+
        lit(if (assignments.isDefined) "update_preimage" else "delete")
          .as(SnapshotTable.ChangeTypeCol): _*)
      val (postSnap, postRels, cdc) = assignments match {
        case None => (None, Vector.empty[String], pre)
        case Some(as) =>
          // post-images: assignments over the pre-image, schema pinned;
          // CHECK constraints guard the new values inline
          val post = guarded(matched.select(schema.fields.map(f =>
            as.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name))
              .as(f.name)).toSeq: _*))
          val (snap, rels) =
            if (perFile.isEmpty) (None, Vector.empty[String])
            else {
              // the carried schema may be column-mapped — post-images
              // land under the same PHYSICAL names the live files use
              val (s, parts, _) = writeData(toPhysDf(post, schema), version)
              (Some(s), parts.toVector)
            }
          (snap, rels, pre.unionAll(post.withColumn(SnapshotTable.ChangeTypeCol,
            lit("update_postimage"))))
      }
      commitTombstones(lines, version, op, perFile, tombs, stageSidecar(),
        postRels, None, cdc, dvDir +: postSnap.toSeq)
    } finally matched.unpersist()
  }

  /** The one DV tombstone commit behind [[delete]], [[deleteKeys]],
    * [[update]] and the SQL row-level DML ([[commitDelta]]): publishes
    * `version` over the base manifest `lines` with fresh tombstones
    * and freshly staged data files. Its rules:
    *
    *  - DEAD FILES: a file whose live rows are all tombstoned leaves
    *    the manifest with its stat lines ([[livePerFile]] — metadata
    *    whenever the `#rows` counts are trusted);
    *  - INERT SIDECARS: a sidecar whose every addressed file left the
    *    manifest tombstones nothing a reader can still resolve —
    *    keeping it would only push metaCount and the aggregate
    *    pushdown off their metadata-only fast paths (a `#dv=` line
    *    with an empty #dvrows ledger is indistinguishable from counts
    *    LOST to an intervening append, which must refuse). The fresh
    *    sidecar is staged only when some kept file is addressed;
    *    carried sidecars are inert when the carried #dvrows ledger
    *    (complete-by-invariant whenever present: every DV-minting
    *    writer regenerates the FULL merged map, appends drop it
    *    entirely) addresses only dead files;
    *  - `#rows` SURVIVES tombstones: the merged `#dvrows` counts keep
    *    `live = rows - dvrows` answerable from metadata alone;
    *  - ZERO-IO STATS THROUGH DML: on a clustered table whose bounds
    *    are still exact (no prior DVs, or the `#dvminmax` marker), the
    *    touched kept files' `#range`/`#sum` RE-MINT over their live
    *    remainder — one O(touched files) job on data the statement
    *    already addressed, excluding `tombs` — and the staged data
    *    files mint write-time stats ([[mintStagedStats]]), so the
    *    marker and the full `#cluster=` claim survive and
    *    COUNT/MIN/MAX/SUM keep answering with zero data IO. Stacked
    *    deletes stay exact because each re-mint scans with all prior
    *    DVs applied. Prior DVs WITHOUT the marker (a pre-feature
    *    commit) forfeit the path: bounds may already be
    *    stale-conservative, so no marker is minted over them, touched
    *    `#range` lines stay (pruning-safe), touched `#sum` lines —
    *    falsified by the tombstones — drop, and a claim over staged
    *    stat-less files weakens to `#clusterpart` (a full claim would
    *    answer MIN/MAX silently wrong);
    *  - `#buckets=` drops when data files join: they are not
    *    bucket-addressed, so the next mergeBucketed refuses loudly
    *    instead of mis-routing.
    *
    * `perFile` counts the fresh tombstones per file address and
    * `tombs` is their (file, pos) address frame; `sidecar` stages
    * them and yields the sidecar files (root-relative) — evaluated
    * only when the sidecar is not inert. `dataRels` are the staged
    * data files, `stagedRows` their writers' row counts when known,
    * `cdc` the commit's change rows. `staged` dirs are removed when
    * the publish loses its race; SQL DML publishes its file list
    * sorted (`sortFiles`). */
  private def commitTombstones(lines: Vector[String], version: Long, op: String,
      perFile: Map[String, Long], tombs: => DataFrame, sidecar: => Seq[String],
      dataRels: Seq[String], stagedRows: Option[Map[String, Long]],
      cdc: DataFrame, staged: Seq[Path], sortFiles: Boolean = false): Long = {
    val files = manifestFiles(lines)
    val schema = schemaOf(lines)
    // untouched files keep without a count; a missing count keeps
    // conservatively
    val totalPerFile = livePerFile(lines, files, perFile.keySet)
    val keptFiles = files.filter { rel =>
      val a = dvAddressOf(rel)
      val d = perFile.getOrElse(a, 0L)
      d == 0L || d < totalPerFile.getOrElse(a, Long.MaxValue)
    }
    val keptSet = keptFiles.toSet
    val keptAddrs = keptFiles.map(dvAddressOf).toSet
    val newDvLines =
      if (!perFile.keys.exists(keptAddrs)) Vector.empty[String]
      else sidecar.map(rel => s"#dv=$rel").toVector.sorted
    val priorDvRows = SnapshotTable.dvRowsOf(lines)
    val priorDvInert = priorDvRows.nonEmpty &&
      priorDvRows.keys.forall(a => !keptAddrs(a))
    val mergedDvRows = (priorDvRows.toSeq ++ perFile.toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter { case (a, _) => keptAddrs(a) }
    val clusterKeyPhys = lines.drop(2).collectFirst { case ClusterMeta(k) => k }
    val statsAlive = clusterKeyPhys.isDefined && (manifestDvFiles(lines).isEmpty ||
      lines.drop(2).contains(SnapshotTable.DvMinMax))
    val touchedKept = keptFiles.filter(rel => perFile.contains(dvAddressOf(rel)))
    val touchedKeptSet = touchedKept.toSet
    val remintAttempted = statsAlive && touchedKept.nonEmpty
    // #sum stats exist only on integral-keyed clustered commits —
    // re-mint them in the SAME job as the #range bounds
    val priorSums = lines.drop(2).exists {
      case SnapshotTable.SumMeta(_, _, _) => true; case _ => false
    }
    val remintRows: Array[Row] =
      if (!remintAttempted) Array.empty
      else {
        val keyCol = SnapshotTable.logicalNameFor(lines, clusterKeyPhys.get)
        val enc = statLongExpr(schema(keyCol).dataType, keyCol)
        scanAddressed(lines, touchedKept)
          .join(tombs,
            col("__graft_dv_f") === col(SnapshotTable.DvFileCol) &&
              col("__graft_dv_p") === col(SnapshotTable.DvPosCol), "left_anti")
          .groupBy("__graft_dv_f").agg(min(enc).as("lo"), max(enc).as("hi"),
            try_sum(enc).as("s"), count(enc).as("nn"))
          .collect() // ≤ touched files rows — bounded driver metadata
      }
    val remint: Map[String, (Long, Long)] = remintRows
      .filterNot(r => r.isNullAt(1) || r.isNullAt(2))
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // all-null-survivors record 0|0 (SUM ignores nulls) — unlike
    // #range, which drops so pruning stays conservative; a try_sum
    // overflow (null with nn > 0) mints no line → coverage refusal
    val remintSums: Map[String, (Long, Long)] = remintRows.flatMap { r =>
      val nn = r.getLong(4)
      if (r.isNullAt(3) && nn > 0L) None
      else Some(r.getString(0) ->
        (if (r.isNullAt(3)) 0L else r.getLong(3), nn))
    }.toMap
    val remintLines = touchedKept.flatMap { rel =>
      remint.get(dvAddressOf(rel)).map { case (lo, hi) => s"#range=$rel|$lo|$hi" }
    } ++ (if (!priorSums) Vector.empty[String] else touchedKept.flatMap { rel =>
      remintSums.get(dvAddressOf(rel)).map { case (sm, nn) => s"#sum=$rel|$sm|$nn" }
    })
    // write-time stats for the staged data files — the second half of
    // the coverage claim (their counts ride the same pass)
    val stagedStats: Option[(Seq[String], Seq[String], Seq[String])] =
      if (!statsAlive) None
      else clusterKeyPhys.map { k =>
        mintStagedStats(dataRels, k,
          schema(SnapshotTable.logicalNameFor(lines, k)).dataType)
      }
    val willHaveDvs = newDvLines.nonEmpty ||
      (manifestDvFiles(lines).nonEmpty && !priorDvInert)
    val minMaxMarker =
      if (statsAlive && willHaveDvs) Vector(SnapshotTable.DvMinMax)
      else Vector.empty[String]
    val carriedMeta = lines.drop(2).filter(_.startsWith("#")).filter {
      case l if SnapshotTable.isPerCommitLine(l) ||
        l == SnapshotTable.DvMinMax => false // re-minted above when valid
      case SnapshotTable.DvRowsMeta(_, _) => false // regenerated merged
      case DvMeta(_) => !priorDvInert // inert carried sidecars drop
      case BucketMeta(_, _) => dataRels.isEmpty
      // a touched file's commit-era bounds are STALE after a re-mint
      // (an extreme may have been tombstoned) — replaced by the fresh
      // lines, or dropped entirely when only null keys survive
      case RangeMeta(rel, _, _) =>
        keptSet(rel) && !(remintAttempted && touchedKeptSet(rel))
      case SnapshotTable.SumMeta(rel, _, _) =>
        keptSet(rel) && !touchedKeptSet(rel)
      case SnapshotTable.FileStat(rel) => keptSet(rel)
      case _ => true
    }.map {
      case ClusterMeta(k) if !statsAlive && dataRels.nonEmpty => s"#clusterpart=$k"
      case l => l
    }
    val (cdcSnap, cdcLines) = writeCdcData(cdc, version)
    // rows: the cluster-claim mint already counted them; otherwise the
    // writers' commit messages carry per-file counts (zero extra IO);
    // a footer pass is the last resort
    val messageRowsLines: Option[Seq[String]] =
      stagedRows.filter(m => dataRels.forall(m.contains))
        .map(m => dataRels.map(rel => s"#rows=$rel|${m(rel)}"))
    val stagedRowsLines = stagedStats.map(_._3)
      .orElse(messageRowsLines).getOrElse(footerRowsLines(dataRels))
    val stagedStatLines = stagedStats.map(m => m._1 ++ m._2).getOrElse(Seq.empty)
    val allFiles = keptFiles ++ dataRels
    val tmp = writeTmpManifest(version, schema,
      (SnapshotTable.CdcTracked +: (minMaxMarker ++ carriedMeta ++ remintLines ++
        stagedStatLines ++ stagedRowsLines ++ SnapshotTable.dvRowsLines(mergedDvRows) ++
        cdcLines ++ newDvLines)) ++ (if (sortFiles) allFiles.sorted else allFiles),
      op = op)
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      (staged :+ cdcSnap).foreach(deleteRecursively); throw e
    }
    version
  }

  /** Row-level UPDATE via DELETION VECTORS: rows matching `cond` are
    * tombstoned at their current address (no data file rewritten —
    * the same DV mechanics as [[delete]]) and their UPDATED images
    * are appended as fresh data files, all in ONE atomic commit
    * through the shared [[commitTombstones]].
    * Cost is O(matching rows), not O(table): the copy-on-write
    * granularity is the row, not the file (Delta's DV-backed UPDATE).
    * `assignments` maps column name → replacement expression
    * (evaluated over the pre-image row); unassigned columns carry
    * over, and every assignment is cast back to the column's
    * committed type so the table schema never drifts. The commit
    * records update_preimage/update_postimage rows in the row-level
    * change feed. Files whose rows ALL matched degrade to pure
    * metadata drops, like [[delete]]. */
  def update(cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    require(assignments.nonEmpty, "update needs at least one assignment")
    tombstoneMatching(_.filter(cond), Some(assignments))
  }

  /** Read the latest committed version. */
  def read(): DataFrame = {
    val v = currentVersion
    require(v > 0, s"table at $root has no committed version")
    read(v)
  }

  // -- commit steps, individually visible to the crash-injection spec --

  /** Step 1: the distributed data write. Returns (snapshot dir,
    * relative part-file paths, schema). Crash after this step leaves
    * an orphan data dir that no manifest references — invisible. */
  private[tables] def writeData(df: DataFrame, version: Long): (Path, Seq[String], StructType) = {
    val snap = dataDir.resolve(s"v$version-${UUID.randomUUID()}")
    df.write.parquet(snap.toString)
    val s = Files.list(snap)
    val parts =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
        .toVector.sorted
      finally s.close()
    (snap, parts.map(p => rootPath.relativize(snap.resolve(p)).toString), df.schema)
  }

  /** `#rows=` lines for freshly staged files, counted from their
    * parquet footers (metadata-sized reads). Every writer mints these
    * for its new files so [[metaCount]] — and the DSv2 COUNT(*)
    * pushdown — keep answering with zero data IO through commits,
    * appends, updates and SQL DML alike.
    *
    * This footer pass is the FALLBACK, not the norm: the DSv2
    * batch/streaming/delta writers ship per-file counts in their
    * write-task COMMIT MESSAGES (zero extra IO anywhere), and every
    * clustered-table write collects counts inside the same executor
    * stats pass that mints `#range`/`#sum` ([[mintStagedStats]]).
    * What remains here are the instance-verb conveniences on
    * UNCLUSTERED tables (commit/appendOnce/update post-images through
    * [[writeData]], whose `df.write.parquet` surfaces no per-task
    * metadata). Since r15 a WIDE write's footer reads run ON
    * EXECUTORS — one small RDD job over the staged rels — so the
    * cluster-scale profile (hundreds-thousands of staged files) never
    * funnels per-file IO through the driver; only a NARROW write
    * (≤32 files, one local write's task count) keeps the in-process
    * parallel footer loop, because an RDD job costs ~50ms of
    * scheduling — measured r15 — which dwarfs a handful of
    * metadata-sized reads and would tax every commit in a multi-commit
    * query. Driver-side IO is therefore capped at 32 footer reads
    * (KBs each) per commit, never O(table); anything wider
    * distributes and the driver receives ≤|staged files| strings. */
  private def footerRowsLines(rels: Seq[String]): Seq[String] = {
    if (rels.isEmpty) return Seq.empty
    if (rels.lengthCompare(32) <= 0) {
      import scala.jdk.CollectionConverters._
      rels.asJava.parallelStream().map[String] { rel =>
        s"#rows=$rel|${SnapshotTable.parquetRowCount(rootPath.resolve(rel))}"
      }.collect(java.util.stream.Collectors.toList[String]).asScala.toSeq
    } else {
      val rootStr = root // closure must not capture `this` (holds the session)
      spark.sparkContext
        .parallelize(rels, math.min(rels.size, 32))
        .map(rel => s"#rows=$rel|${SnapshotTable.parquetRowCount(
          java.nio.file.Paths.get(rootStr).resolve(rel))}")
        .collect().toSeq // ≤ |staged files| strings — bounded metadata
    }
  }

  /** Write-time per-file stats for FRESHLY STAGED files under an
    * existing cluster claim: `#range=` bounds (+ `#sum=` key sums for
    * integral keys) and exact `#rows=` counts, collected in ONE
    * distributed pass over only the staged rels ([[perFileStats]]) —
    * the one O(new data) stats collection every clustered write
    * mints through: [[commitClustered]] at creation, [[compact]], and
    * the LATER write paths (append, SQL INSERT, MERGE inserts/post-
    * images, partial OPTIMIZE output). Per-file
    * stat COVERAGE — not range disjointness — is what [[metaAgg]]/
    * [[metaSum]] and the DSv2 aggregate pushdown need for
    * correctness, so a manifest whose every file keeps a stat line
    * keeps the FULL `#cluster=` claim across these writes instead of
    * weakening to `#clusterpart` and forfeiting zero-IO MIN/MAX/SUM
    * forever after the first append. Range pruning also tightens:
    * fresh files get real bounds instead of "conservatively kept".
    * All-null-key files mint no `#range` (the invariant the
    * metadata aggregates already tolerate); an overflowing per-file
    * try_sum mints no `#sum`, so [[metaSum]] refuses on coverage
    * rather than answering wrapped. Row counts ride the same
    * executor pass — these paths pay NO driver-side footer reads.
    * Staged files carry commit-era PHYSICAL column names, exactly
    * the namespace the `#cluster=` line lives in, so the raw read
    * aggregates on `keyPhys` directly.
    * Returns (#range lines, #sum lines, #rows lines). */
  private[tables] def mintStagedStats(rels: Seq[String], keyPhys: String,
      dt: org.apache.spark.sql.types.DataType)
      : (Seq[String], Seq[String], Seq[String]) = {
    if (rels.isEmpty) return (Seq.empty, Seq.empty, Seq.empty)
    import org.apache.spark.sql.types._
    val keyStat = statLongExpr(dt, keyPhys)
    val integralKey = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // SUM stats only for integral keys — an epoch-micros sum both
    // means nothing and overflows under ANSI; try_sum keeps an
    // integral-key overflow from failing the commit
    val sumAgg = if (integralKey) try_sum(keyStat) else lit(null).cast("long")
    val stats = perFileStats(rels, Seq(min(keyStat), max(keyStat),
      count(lit(1)), sumAgg, count(col(keyPhys))))
    // an all-null-key file (nulls pool into the first range partition)
    // has null min/max — it mints no #range and is kept by every read
    val rangeLines = rels.flatMap { rel =>
      stats.get(dvAddressOf(rel)).filterNot(r => r.isNullAt(1) || r.isNullAt(2))
        .map(r => s"#range=$rel|${r.getLong(1)}|${r.getLong(2)}")
    }
    // Σ key + non-null count; an all-null-key file records 0|0 (the
    // count keeps the all-null answer NULL, not 0), and a file whose
    // try_sum overflowed (null sum, non-null keys) mints no line
    val sumLines =
      if (!integralKey) Seq.empty[String]
      else rels.flatMap { rel =>
        stats.get(dvAddressOf(rel)) match {
          case Some(r) if r.isNullAt(4) =>
            if (r.getLong(5) == 0L) Some(s"#sum=$rel|0|0") else None
          case Some(r) => Some(s"#sum=$rel|${r.getLong(4)}|${r.getLong(5)}")
          case None => Some(s"#sum=$rel|0|0")
        }
      }
    // a file the stats scan attributed no rows to is empty — record 0
    val rowLines = rels.map { rel =>
      s"#rows=$rel|${stats.get(dvAddressOf(rel)).fold(0L)(_.getLong(3))}"
    }
    (rangeLines, sumLines, rowLines)
  }

  /** The one per-file stats pass over freshly staged files: `aggs`
    * evaluated per file in a single distributed job, each result row
    * (aggregates from index 1) keyed by its file's [[dvAddressOf]]
    * address. Not by the bare basename: a commitDelta's rels span
    * insert and update-post-image directories, and the parent segment
    * keeps a basename collision from cross-assigning one file's stats
    * to both. Returns ≤ |rels| rows — bounded driver metadata. */
  private def perFileStats(rels: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column]): Map[String, Row] =
    spark.read
      .parquet(rels.map(rel => rootPath.resolve(rel).toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => dvAddressOf(r.getString(0)) -> r).toMap

  /** The PER-FILE stat lines an APPEND carries forward for the files
    * it keeps: counts/ranges/sums/bloom sidecars stay valid per file
    * (every consumer keeps stat-less new files conservatively), and
    * tombstone ledgers are untouched by an append. Whole-table layout
    * claims (#clusters/#zclustern/#buckets) are NOT carried — a
    * min/max/sum answered from stats that do not cover the new files
    * would be silently wrong, so those consumers must refuse. The
    * Long-domain `#cluster=` claim is the exception WHEN the caller
    * minted write-time stats for its new files ([[mintStagedStats]],
    * `newFilesCovered` = true): per-file coverage is then complete,
    * so the full claim — and zero-IO MIN/MAX/SUM with it — survives
    * the append; otherwise it weakens to `#clusterpart` as before. */
  private def appendStatCarry(prev: Vector[String],
      carriedSet: Set[String], newFilesCovered: Boolean = false): Vector[String] = {
    val kept = prev.drop(2).filter {
      case SnapshotTable.FileStat(rel) => carriedSet(rel)
      case SnapshotTable.DvRowsMeta(_, _) => true // no new tombstones
      case l if l == SnapshotTable.DvMinMax => true // claim unchanged
      case BloomKMeta(_, _) => true // sidecar-less files kept conservatively
      case _ => false
    }
    // full #cluster claim: survives when the new files minted their
    // own stats (coverage complete); weakens to #clusterpart when
    // they did not — carried ranges still describe this key, so range
    // READS keep pruning (uncovered new files conservatively kept),
    // while min/max/sum metadata consumers see no full claim and
    // refuse. A prior partial claim can never re-strengthen: its
    // coverage gap is permanent until a re-cluster.
    val part = prev.drop(2).collectFirst {
      case l @ ClusterMeta(_) if newFilesCovered => l
      case ClusterMeta(k) => s"#clusterpart=$k"
      case SnapshotTable.ClusterPartMeta(k) => s"#clusterpart=$k"
    }
    kept ++ part.toVector
  }

  /** Commit wall clock, injectable so specs can pin deterministic
    * history/timestampAsOf sequences. */
  private[tables] var nowMs: () => Long = () => System.currentTimeMillis()


  /** Step 2: write the complete manifest under a reader-invisible tmp
    * name. Crash after this step leaves a stray `.tmp-` — invisible.
    * Every manifest self-describes with an `#op=<verb> ts=<millis>`
    * head line — the commit-history record behind [[history]] and
    * timestamp time travel ([[versionAt]]).
    *
    * MANIFEST SEGMENTATION (the Iceberg manifest-list idea): past
    * [[SnapshotTable.SegmentThreshold]] per-file lines, the file list
    * (data paths + their per-file stat lines) spills into immutable
    * CONTENT-ADDRESSED segment files (`_manifests/seg-<sha1>.txt`)
    * referenced by `#seg=` lines. Chunk boundaries are content-
    * defined (a rolling per-line hash), so an append or delete
    * perturbs only the chunks its lines land in — every other chunk
    * re-hashes to an EXISTING segment file and is carried by
    * reference, never rewritten. Per-commit metadata cost drops from
    * O(files) bytes to O(delta + files/chunk) stub lines; at a
    * million files a commit writes a ~16k-line stub plus the touched
    * chunks instead of a ~100 MB flat list. Readers expand
    * transparently ([[SnapshotTable.manifestLinesAt]]); [[vacuum]]
    * reclaims unreferenced segments. */
  private[tables] def writeTmpManifest(version: Long, schema: StructType,
      files: Seq[String], op: String = "WRITE",
      carryConstraints: Boolean = true): Path = {
    require(!op.contains(' ') && !op.contains('\n'), s"bad op tag '$op'")
    val tmp = manifestsDir.resolve(s".tmp-${UUID.randomUUID()}")
    val head = s"#op=$op ts=${nowMs()}"
    // TABLE-LEVEL metadata survives every commit by default:
    // `#constraint=` lines are auto-carried from the previous version
    // at this single choke point, so no write verb can silently shed
    // the table's CHECK constraints. [[dropConstraint]] and
    // [[restore]] manage the lines explicitly and opt out.
    val withConstraints: Seq[String] =
      if (!carryConstraints || version <= 1) files
      else {
        // raw stub read — constraint lines are never segmented
        val prevCs = rawStubConstraintLines(version - 1)
        if (prevCs.isEmpty) files
        else files ++ prevCs.filterNot(files.toSet)
      }
    val (segmentable, inline) = withConstraints.partition(SnapshotTable.isSegmentable)
    val body =
      if (segmentable.size <= SnapshotTable.SegmentThreshold) withConstraints
      else inline ++ SnapshotTable.chunkLines(segmentable.sorted.toVector).map { c =>
        s"#seg=${writeSegmentIfAbsent(c)}"
      }
    val content = (version.toString +: schema.json +: head +: body).mkString("\n")
    Files.write(tmp, content.getBytes("UTF-8"))
    tmp
  }

  /** Persist one segment chunk under its content hash; a chunk whose
    * content already exists (the common carried-forward case) writes
    * NOTHING. Crash-safe: tmp write + atomic move; a lost race to the
    * same name is a win (identical content). */
  private def writeSegmentIfAbsent(chunk: Vector[String]): String = {
    val bytes = chunk.mkString("\n").getBytes("UTF-8")
    val sha = java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map("%02x".format(_)).mkString
    val name = s"seg-$sha.txt"
    val dest = manifestsDir.resolve(name)
    if (!Files.exists(dest)) {
      val tmp = manifestsDir.resolve(s".tmp-seg-${UUID.randomUUID()}")
      Files.write(tmp, bytes)
      try Files.move(tmp, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case e: java.nio.file.FileSystemException =>
        try Files.deleteIfExists(tmp) catch { case _: Throwable => () }
        // only a lost RACE (identical content already at dest) is
        // benign; a genuine move failure would otherwise publish a
        // manifest referencing a segment that was never created,
        // permanently corrupting the committed version
        if (!Files.exists(dest)) throw e
      }
    } else {
      // reusing an ORPHANED segment (e.g. restore re-creating an
      // expired chunk): refresh its mtime so vacuum's age-retention
      // guard shields it between this exists() check and publish
      try Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () }
    }
    name
  }

  /** Step 3: the commit point — atomic create-exclusive link of the
    * finished manifest under its final name. */
  private[tables] def publish(version: Long, tmp: Path): Unit = {
    try Files.createLink(manifestPath(version), tmp)
    catch { case _: FileAlreadyExistsException =>
      throw new CommitConflictException(version)
    } finally {
      try Files.deleteIfExists(tmp) catch { case _: Throwable => () }
    }
  }

  /** Commit `df` as the next version and return its version number. */
  def commit(df: DataFrame): Long = {
    val version = currentVersion + 1
    val (snap, files, schema) = writeData(guarded(df), version)
    val tmp = writeTmpManifest(version, schema, footerRowsLines(files) ++ files)
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap) // loser cleans its own orphan data
      throw e
    }
    version
  }

  /** Commit a DELTA of row-level changes produced by the SQL DML
    * surface (`DELETE FROM` / `UPDATE` / `MERGE INTO` through DSv2
    * [[GraftRowLevelOperation]]): `dvRels` are freshly staged DV
    * sidecar parquet files (tombstones addressed against
    * `baseVersion`'s files) and `dataRels` freshly staged data files
    * (MERGE inserts / UPDATE post-images). One atomic manifest commit
    * carries everything of the current version forward plus the
    * delta — O(changed rows) data cost, O(1) commit cost.
    *
    * Conflict rule: tombstone addresses are only meaningful against
    * the file set the command SCANNED. If the current version still
    * has the same data files, DV lines and schema (only metadata/
    * append-free maintenance landed in between — or nothing), the
    * commit rebases forward; otherwise a [[CommitConflictException]]
    * asks the caller to re-run the statement (Delta's serializable
    * write-conflict behavior).
    *
    * The manifest itself is the one DV tombstone commit the instance
    * verbs share ([[commitTombstones]]: dead files, inert sidecars,
    * stat re-mints, `#buckets=` and cluster-claim rules).
    *
    * CDC PARITY: the delta protocol hands the writer addresses, not
    * pre-images — so the commit MINTS the row-level changelog itself,
    * exactly as the instance verbs do. Inserts and update post-images
    * arrive as separate staged parts (`insRels` / `updRels` — the
    * executor writers split them); delete/update pre-images are
    * looked up by address: one scan of only the TOUCHED files of the
    * pinned snapshot, inner-joined with the freshly staged sidecars
    * (whose [[SnapshotTable.DvUpdCol]] distinguishes the two change
    * types). Cost is O(touched files + changed rows) — the same
    * class as Delta's Change Data Feed on DML — and the resulting
    * `#cdc=` lines make [[rowChangesBetween]] / `readChangeFeed`
    * work straight through `MERGE INTO`/`UPDATE`/`DELETE FROM`. */
  private[tables] def commitDelta(baseVersion: Long, dvRels: Seq[String],
      insRels: Seq[String], updRels: Seq[String], op: String,
      stagedRows: Option[Map[String, Long]] = None): Long = {
    val cur = currentVersion
    require(cur > 0, s"table at $root has no committed version")
    val lines = manifestLines(cur)
    val baseLines = if (cur == baseVersion) lines else manifestLines(baseVersion)
    if (cur != baseVersion) {
      val unchanged = manifestFiles(lines) == manifestFiles(baseLines) &&
        manifestDvLines(lines).toSet == manifestDvLines(baseLines).toSet &&
        lines(1) == baseLines(1)
      if (!unchanged) throw new CommitConflictException(cur + 1)
    }
    val dataRels = insRels ++ updRels
    val schema = schemaOf(lines)
    // CHECK constraints on the SQL row-level DML path: MERGE inserts
    // and UPDATE post-images were staged by the delta writers under
    // physical names — validate them in one O(changed rows) scan
    // before the commit publishes (the caller cleans staged files up
    // on throw)
    validateStagedConstraints(dataRels, schema)
    // per-file tombstone counts from the freshly staged sidecars (one
    // tiny driver job)
    val newPerFile: Map[String, Long] =
      if (dvRels.isEmpty) Map.empty
      else dvScan(dvRels).groupBy(SnapshotTable.DvFileCol).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the caller removes the staged parts if the commit throws; an
    // inert staged sidecar is left for vacuum
    commitTombstones(lines, cur + 1, op, newPerFile, dvScan(dvRels), dvRels,
      dataRels, stagedRows, deltaCdc(baseLines, dvRels, insRels, updRels, schema),
      staged = Seq.empty, sortFiles = true)
  }

  /** The SQL-DML change set as Delta-CDF-style rows: `insert` rows
    * from the staged insert parts, `update_postimage` from the staged
    * post-image parts, and `delete` / `update_preimage` by reading
    * the pinned snapshot's TOUCHED files back through their addresses
    * (inner join with the staged sidecars — the pre-image lookup the
    * delta protocol itself cannot provide). */
  private def deltaCdc(baseLines: Vector[String], dvRels: Seq[String],
      insRels: Seq[String], updRels: Seq[String],
      schema: StructType): DataFrame = {
    val outCols = schema.fieldNames.map(col).toSeq
    def tagged(rels: Seq[String], typ: String): DataFrame =
      physRead(schema, rels)
        .select(outCols :+ lit(typ).as(SnapshotTable.ChangeTypeCol): _*)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      schema.add(SnapshotTable.ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false))
    val pre: DataFrame = if (dvRels.isEmpty) empty else {
      val dv = spark.read.schema(SnapshotTable.DvCdcSchema)
        .parquet(dvRels.map(rel => rootPath.resolve(rel).toString): _*)
      // touched-file set: ≤ one address per sidecar'd file, tiny
      val touchedAddrs = dv.select(SnapshotTable.DvFileCol).distinct()
        .collect().map(_.getString(0)).toSet
      val touchedFiles = manifestFiles(baseLines)
        .filter(rel => touchedAddrs(dvAddressOf(rel)))
      scanAddressed(baseLines, touchedFiles)
        .join(dv, col("__graft_dv_f") === col(SnapshotTable.DvFileCol) &&
          col("__graft_dv_p") === col(SnapshotTable.DvPosCol), "inner")
        .select(outCols :+ when(col(SnapshotTable.DvUpdCol),
          lit("update_preimage")).otherwise(lit("delete"))
          .as(SnapshotTable.ChangeTypeCol): _*)
    }
    val ins = if (insRels.isEmpty) empty else tagged(insRels, "insert")
    val upd = if (updRels.isEmpty) empty else tagged(updRels, "update_postimage")
    pre.unionAll(ins).unionAll(upd)
  }

  // ---- commit-time expectations (quality gates) ----------------------

  private val QuarantineMeta = """#quarantine=(.+)""".r

  /** Commit with EXPECTATIONS (DLT-style quality gates): every row
    * must satisfy ALL `constraints` (named boolean expressions; NULL
    * counts as a violation — only TRUE passes) to enter the table.
    * Violating rows are NOT lost: they land in a per-commit
    * QUARANTINE side output under the table root, tagged with the
    * first failed constraint (first by sorted name — deterministic),
    * read back via [[quarantine]] and pinned against [[vacuum]] by
    * `#quarantine=` manifest lines that publish atomically WITH the
    * commit. One pass over the input splits it, so at 100 TB the
    * gate costs the write you were doing anyway, not a second scan.
    * This lifts the reference's quarantine side output for failed
    * upserts (reference task.ts:267-271) from the sink into the
    * commit protocol itself. */
  def commitExpect(df: DataFrame,
      constraints: Map[String, org.apache.spark.sql.Column]): Long = {
    require(constraints.nonEmpty, "commitExpect needs at least one constraint")
    val names = constraints.keys.toSeq.sorted
    names.foreach(n => require(!n.contains('\n') && !n.contains('|'),
      s"constraint name '$n' must be single-line without '|'"))
    require(!df.schema.fieldNames.contains(SnapshotTable.ViolatedCol),
      s"input schema collides with reserved column ${SnapshotTable.ViolatedCol}")
    def pass(n: String) = coalesce(constraints(n).cast("boolean"), lit(false))
    val allPass = names.map(pass).reduce(_ && _)
    val violated = names.tail.foldLeft(
      when(!pass(names.head), lit(names.head))) {
      (acc, n) => acc.when(!pass(n), lit(n))
    }
    val version = currentVersion + 1
    val qDir = dataDir.resolve(s"v$version-quarantine-${UUID.randomUUID()}")
    // pin the input before splitting it two ways: a nondeterministic
    // source re-evaluated per side could land a row in both or
    // neither output, breaking the nothing-lost/nothing-doubled
    // contract (same discipline as delete()'s persisted `doomed`)
    val pinned = df.persist()
    try {
      pinned.filter(!allPass)
        .withColumn(SnapshotTable.ViolatedCol, violated)
        .write.parquet(qDir.toString)
      val qLines: Seq[String] = listParquetRec(qDir)
        .map(p => s"#quarantine=${rootPath.relativize(p)}").sorted
      // table CHECK constraints are HARD gates on top of the soft
      // expectations: a kept row violating one aborts the commit
      val (snap, files, schema) = writeData(guarded(pinned.filter(allPass)), version)
      val tmp = writeTmpManifest(version, schema,
        (qLines ++ footerRowsLines(files)) ++ files)
      try publish(version, tmp)
      catch { case e: CommitConflictException =>
        deleteRecursively(snap); deleteRecursively(qDir); throw e
      }
      version
    } finally pinned.unpersist()
  }

  /** The quarantine side output of `version`'s [[commitExpect]]: the
    * rejected rows plus [[SnapshotTable.ViolatedCol]] naming the
    * first failed constraint. Empty (table schema + the tag column)
    * when the commit had no gate or no violations. */
  def quarantine(version: Long): DataFrame = {
    val lines = manifestLines(version)
    val rels = lines.drop(2).collect { case QuarantineMeta(rel) => rel }
    if (rels.isEmpty) {
      val schema = schemaOf(lines).add(SnapshotTable.ViolatedCol,
        org.apache.spark.sql.types.StringType, nullable = true)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else spark.read.parquet(rels.map(rel => rootPath.resolve(rel).toString): _*)
  }

  // ---- persistent CHECK constraints (table-level, write-enforced) ------

  /** Named CHECK constraints of the current version: name → SQL
    * boolean expression over LOGICAL column names. Durable table
    * metadata (`#constraint=` manifest lines, auto-carried across
    * every commit); enforced inside every write job until
    * [[dropConstraint]]. Empty on an empty table. */
  def constraints: Map[String, String] = {
    val v = currentVersion
    if (v == 0) Map.empty
    else SnapshotTable.constraintsOf(manifestLines(v)).toMap
  }

  /** Raw STUB lines of a committed manifest — `#seg=` references NOT
    * expanded. Constraint lines are never segmented (isSegmentable),
    * so constraint lookups on every write path skip the segment IO a
    * million-file manifest would otherwise pay. */
  private def rawStubConstraintLines(version: Long): Vector[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(manifestPath(version)).asScala.toVector
      .filter(SnapshotTable.ConstraintMeta.matches)
  }

  private def currentConstraintPairs(): Seq[(String, String)] = {
    val v = currentVersion
    if (v == 0) Seq.empty
    else rawStubConstraintLines(v).collect {
      case SnapshotTable.ConstraintMeta(n, e) => (n, e)
    }.sortBy(_._1)
  }

  /** Column names a stored constraint expression references (parsed,
    * unresolved — lowercase for Spark's case-insensitive matching). */
  private def constraintRefs(exprSql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    }.toSet

  /** SQL CHECK semantics: a row passes unless the expression is
    * literally FALSE (NULL passes — Delta's CHECK behavior, unlike
    * [[commitExpect]]'s strict gates where NULL violates). */
  private def constraintPass(exprSql: String): org.apache.spark.sql.Column =
    coalesce(expr(exprSql).cast("boolean"), lit(true))

  /** Wrap `df` so the WRITE JOB ITSELF aborts on the first row that
    * violates a CHECK constraint — an inline codegen'd predicate on
    * rows already flowing to the writer (zero extra passes at any
    * scale; the orphaned staged snapshot is vacuum garbage). The
    * pass-through filter keeps the assertion in the plan: its
    * predicate is always true, but `assert_true` raises before it
    * can say so on a violating row. */
  private def guardConstraints(df: DataFrame,
      cs: Seq[(String, String)]): DataFrame =
    cs.foldLeft(df) { case (d, (n, sql)) =>
      d.filter(coalesce(assert_true(constraintPass(sql),
        lit(s"graft CHECK constraint violated: $n ($sql) at $root")),
        lit(true)))
    }

  /** `df` guarded by the CURRENT version's constraints (no-op when
    * the table has none — the common case adds nothing). */
  private def guarded(df: DataFrame): DataFrame = {
    val cs = currentConstraintPairs()
    if (cs.isEmpty) df else guardConstraints(df, cs)
  }

  /** Validate ALREADY-STAGED part files against the current CHECK
    * constraints — the SQL INSERT / row-level-DML paths, whose rows
    * ran through Spark's own DSv2 writers rather than a DataFrame
    * this layer could wrap inline. One scan of ONLY the staged rels
    * (O(changed data), never the table), all constraints evaluated
    * in a single aggregate pass; throws naming the first violated
    * constraint (sorted-name order — deterministic). */
  private[tables] def validateStagedConstraints(rels: Seq[String],
      schema: StructType): Unit = {
    val cs = currentConstraintPairs()
    if (cs.isEmpty || rels.isEmpty) return
    val counts = physRead(schema, rels).select(
      cs.map { case (n, sql) =>
        sum(when(!constraintPass(sql), 1L).otherwise(0L)).as(n)
      }: _*).collect().head
    cs.zipWithIndex.foreach { case ((n, sql), i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0L) throw new IllegalStateException(
        s"graft CHECK constraint violated: $n ($sql) by $bad staged rows at $root")
    }
  }

  /** ADD a persistent CHECK constraint (Delta's `ALTER TABLE ... ADD
    * CONSTRAINT ... CHECK`): resolves the expression against the
    * current schema, verifies EVERY existing live row satisfies it
    * (one scan — exactly Delta's add-time validation), then publishes
    * a METADATA-ONLY commit carrying the `#constraint=` line. The
    * commit tracks zero row-level changes (CdcTracked), so change
    * feeds and incremental view refresh pass straight through it.
    * Every subsequent write on any path — instance verbs, SQL
    * INSERT/DML, streaming appends — enforces the constraint inside
    * its own write job and aborts the commit on violation. */
  def addConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty && !name.contains('|') && !name.contains('\n') &&
      !name.contains(' '), s"bad constraint name '$name'")
    require(!exprSql.contains('\n'),
      "constraint expression must be single-line")
    val cur = currentVersion
    require(cur > 0, s"table at $root has no committed version")
    val lines = manifestLines(cur)
    require(!SnapshotTable.constraintsOf(lines).exists(_._1 == name),
      s"constraint '$name' already exists at $root")
    val violations = read(cur).filter(!constraintPass(exprSql)).limit(1).count()
    require(violations == 0L,
      s"cannot add CHECK constraint $name ($exprSql): existing rows violate it at $root")
    val body = (SnapshotTable.CdcTracked +:
      lines.drop(2).filterNot(SnapshotTable.isPerCommitLine)) :+
      s"#constraint=$name|$exprSql"
    val version = cur + 1
    publish(version, writeTmpManifest(version, schemaOf(lines), body, op = "ALTER"))
    version
  }

  /** Column-level NOT NULL (Delta's `ALTER COLUMN ... SET NOT NULL`),
    * riding the `#constraint=` machinery under the reserved name
    * `__notnull_<col>`: the guarded expression `<col> IS NOT NULL`
    * needs no special-casing of CHECK's NULL-passes rule, because IS
    * NOT NULL never evaluates to SQL NULL — a null value is literally
    * FALSE and aborts the write. Everything CHECK already has comes
    * free: add-time validation of existing rows (one scan),
    * enforcement inside every write job (instance verbs, SQL
    * INSERT/OVERWRITE/DML, streaming epochs), auto-carry across every
    * commit at the manifest choke point, CAS-retry re-validation, and
    * the rename/drop refusal while the column is referenced. The
    * committed schema keeps `nullable = true` — a conservative READER
    * contract (decode paths stay unchanged); the WRITE contract is
    * the constraint, exactly where enforcement lives. */
  def setNotNull(colName: String): Long =
    alterAtomic(Seq.empty, Seq(colName -> true))

  /** Drop a [[setNotNull]] marker — `ALTER COLUMN ... DROP NOT NULL`.
    * A column with no `__notnull_` marker (already nullable) is a
    * NO-OP returning the current version, Delta/Spark's semantics —
    * not a 'no constraint' refusal. */
  def dropNotNull(colName: String): Long =
    alterAtomic(Seq.empty, Seq(colName -> false))

  /** DROP a CHECK constraint: metadata-only commit without the line
    * (opting out of the auto-carry that would resurrect it). */
  def dropConstraint(name: String): Long = {
    val cur = currentVersion
    require(cur > 0, s"table at $root has no committed version")
    val lines = manifestLines(cur)
    require(SnapshotTable.constraintsOf(lines).exists(_._1 == name),
      s"no constraint '$name' at $root")
    val body = SnapshotTable.CdcTracked +: lines.drop(2).filterNot {
      case SnapshotTable.ConstraintMeta(n, _) if n == name => true
      case l => SnapshotTable.isPerCommitLine(l)
    }
    val version = cur + 1
    publish(version, writeTmpManifest(version, schemaOf(lines), body,
      op = "ALTER", carryConstraints = false))
    version
  }

  /** The SCD1 merge relation: source rows win on key match (update),
    * unmatched source rows append (insert), unmatched target rows
    * carry over. ONE full outer join on the key — identical to what a
    * Delta/Iceberg MERGE shuffles. */
  private def scd1(target: DataFrame, source: DataFrame, keyCol: String): DataFrame =
    scd1WithCdc(target, source, keyCol)._1

  /** SCD1 merge AND its row-level change classification from the SAME
    * full-outer join: (merged relation, CDC rows). CDC rows carry the
    * table's columns plus [[SnapshotTable.ChangeTypeCol]] — Delta-CDF
    * style `insert` / `update_preimage` / `update_postimage` rows
    * (value-identical matches record NOTHING: the feed is row-exact,
    * same contract as [[diff]]). Callers that consume both outputs
    * should persist the merged/CDC inputs' common ancestor themselves
    * if re-execution matters; the join is lazily shared here. */
  private def scd1WithCdc(target: DataFrame, source: DataFrame,
      keyCol: String): (DataFrame, DataFrame) = {
    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"merge source columns ${source.columns.mkString(",")} != target ${target.columns.mkString(",")}")
    val dataCols = target.columns.filterNot(_ == keyCol).toSeq
    val t = target.withColumn("__t", lit(true)).alias("t")
    val sAl = source.withColumn("__s", lit(true)).alias("s")
    val joined = t.join(sAl, col(s"t.$keyCol") === col(s"s.$keyCol"), "full_outer")
    val merged = joined.select(
      coalesce(col(s"s.$keyCol"), col(s"t.$keyCol")).as(keyCol) +:
      dataCols.map(c =>
        when(col("s.__s").isNotNull, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
    val changed = dataCols
      .map(c => !(col(s"t.$c") <=> col(s"s.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def side(which: String, typ: String) = struct(
      col(s"$which.$keyCol").as(keyCol) +: dataCols.map(c => col(s"$which.$c").as(c)) :+
        lit(typ).as(SnapshotTable.ChangeTypeCol): _*)
    // ONE pass over the join: each row explodes into its 0-2 CDC rows.
    // A per-type union would re-execute the full-outer join once per
    // branch — on a merge that is 3 extra joins for nothing.
    val isInsert = col("t.__t").isNull
    val isUpd = col("t.__t").isNotNull && col("s.__s").isNotNull && changed
    val cdc = joined.select(explode(filter(array(
        when(isInsert, side("s", "insert")),
        when(isUpd, side("t", "update_preimage")),
        when(isUpd, side("s", "update_postimage"))),
      r => r.isNotNull)).as("__r"))
      .select(col("__r.*"))
    (merged, cdc)
  }

  /** SCD1 MERGE committed as v+1 (full-snapshot rewrite — see
    * [[mergeBucketed]] for the O(changed) path). Records the
    * row-level change feed ([[rowChangesBetween]]). */
  def merge(source: DataFrame, keyCol: String): Long = {
    // every NEW row of the merged relation comes verbatim from the
    // source side — guarding source is complete and O(source)
    val (merged, cdc) = scd1WithCdc(read(), guarded(source), keyCol)
    val version = currentVersion + 1
    val (snap, files, schema) = writeData(merged, version)
    val (cdcSnap, cdcLines) = writeCdcData(cdc, version)
    val tmp = writeTmpManifest(version, schema,
      (SnapshotTable.CdcTracked +: (cdcLines ++ footerRowsLines(files))) ++ files,
      op = "MERGE")
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); deleteRecursively(cdcSnap); throw e
    }
    version
  }

  /** Deterministic bucket of a key: pmod(key, n) — engine-portable
    * (DuckDB: ((k % n) + n) % n), so oracle SQL can reproduce the
    * layout. */
  private def bucketOf(keyCol: String, n: Int) =
    pmod(col(keyCol), lit(n.toLong))

  /** Bucketing (pmod) and clustered stats (Long min/max) both need an
    * INTEGRAL key: pmod on a non-numeric key yields null buckets (rows
    * silently land in __HIVE_DEFAULT_PARTITION__ and later merges
    * crash on bucketOfPath), and Long-cast stats on fractional keys
    * truncate toward zero (pruning would silently drop in-range rows).
    * Reject rather than corrupt. */
  private def requireIntegralKey(schema: StructType, keyCol: String, op: String): Unit =
    schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$op requires an integral key column; $keyCol is $other")
    }

  /** Initial BUCKETED snapshot: rows are hash-partitioned on
    * pmod(key, n) into one directory per bucket (`__bdir=<i>/`), and
    * the manifest records the bucket spec. The point is [[mergeBucketed]]:
    * with the key space striped across n buckets, a merge touching k
    * buckets rewrites k directories and CARRIES FORWARD the other
    * n−k files' paths into the v+1 manifest — the write cost becomes
    * O(changed data), not O(table), which at 100 TB is the difference
    * between a MERGE and a table rewrite. */
  def commitBucketed(df: DataFrame, keyCol: String, nBuckets: Int): Long = {
    requireIntegralKey(df.schema, keyCol, "commitBucketed")
    val version = currentVersion + 1
    val (snap, files) = writeBucketedData(guarded(df), version, keyCol, nBuckets)
    val meta = s"#buckets=$nBuckets key=$keyCol"
    val tmp = writeTmpManifest(version, df.schema,
      (meta +: footerRowsLines(files)) ++ files)
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); throw e
    }
    version
  }

  private[tables] def writeBucketedData(df: DataFrame, version: Long,
      keyCol: String, nBuckets: Int): (Path, Seq[String]) = {
    val snap = dataDir.resolve(s"v$version-${UUID.randomUUID()}")
    df.withColumn("__bdir", bucketOf(keyCol, nBuckets))
      .repartition(col("__bdir"))
      .write.partitionBy("__bdir").parquet(snap.toString)
    (snap, listParquetRec(snap).map(p => rootPath.relativize(p).toString).sorted)
  }

  private def listParquetRec(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector.flatMap { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) listParquetRec(p)
      else if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")) Vector(p)
      else Vector.empty
    } finally s.close()
  }

  /** Step 1b (CDC-tracking writers): the row-level changelog write.
    * Lives in its own `v<N>-cdc-` dir under data/, referenced from the
    * manifest via `#cdc=` lines, so vacuum keeps it alive exactly as
    * long as the manifest. */
  private[tables] def writeCdcData(cdc: DataFrame, version: Long): (Path, Seq[String]) = {
    val dir = dataDir.resolve(s"v$version-cdc-${UUID.randomUUID()}")
    cdc.write.parquet(dir.toString)
    (dir, listParquetRec(dir).map(p =>
      s"#cdc=${rootPath.relativize(p)}").sorted)
  }

  private def manifestCdcFiles(lines: Vector[String]): Vector[String] =
    SnapshotTable.manifestCdcFilesOf(lines)

  private def cdcTracked(lines: Vector[String]): Boolean =
    SnapshotTable.cdcTrackedOf(lines)

  private val BucketDir = """__bdir=(\d+)""".r

  private def bucketOfPath(rel: String): Int =
    BucketDir.findFirstMatchIn(rel).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"non-bucketed data file $rel in bucketed manifest"))

  /** Incremental MERGE on a bucketed table: only the buckets the
    * source's keys land in are re-read, merged and rewritten; every
    * other bucket's files are carried forward into the v+1 manifest
    * BY PATH — untouched data is never read, never rewritten, and
    * stays byte-identical (asserted in SnapshotTableSpec). The
    * touched-bucket list is a ≤n-row driver aggregate; the merge
    * itself is the same one-full-outer-join shape as [[merge]], but
    * over only the touched buckets' rows. */
  def mergeBucketed(source: DataFrame, keyCol: String): Long =
    mergeBucketedInternal(source, keyCol, () => ())

  /** [[mergeBucketed]] with a test-injection point between the data
    * write and the publish attempt — how the OCC spec interleaves a
    * concurrent writer DETERMINISTICALLY (same pattern as the
    * crash-injection specs' use of the step APIs). */
  private[tables] def mergeBucketedInternal(source: DataFrame, keyCol: String,
      beforePublish: () => Unit): Long = {
    requireIntegralKey(source.schema, keyCol, "mergeBucketed")
    var recomputes = 0
    while (true) {
      val baseVersion = currentVersion
      val lines = manifestLines(baseVersion)
      val (n, key) = manifestBuckets(lines).getOrElse(
        throw new IllegalStateException(s"version $baseVersion is not bucketed"))
      require(key == keyCol, s"table is bucketed on $key, merge key is $keyCol")
      val schema = org.apache.spark.sql.types.DataType.fromJson(lines(1))
        .asInstanceOf[StructType]
      val byBucket = manifestFiles(lines).groupBy(bucketOfPath)
      // ≤n bucket ids — the only driver-side state in the merge
      val touched = source.select(bucketOf(keyCol, n).as("__b")).distinct()
        .collect().map(_.getLong(0).toInt).toSet
      val touchedFiles = byBucket.view.filterKeys(touched).values.flatten.toVector
      // DV-aware touched-bucket read: deleted rows must not resurrect
      // through the merge; carried buckets keep their deletes via the
      // carried-forward `#dv=` lines (entries addressing the rewritten
      // touched files go inert — those names leave the manifest)
      val targetTouched = scanWithDv(lines, touchedFiles)
      // new rows come verbatim from source — CHECK constraints guard it
      val (merged, cdc) = scd1WithCdc(targetTouched,
        guardConstraints(source, SnapshotTable.constraintsOf(lines)), keyCol)
      val version = baseVersion + 1
      val (snap, newFiles) = writeBucketedData(merged, version, keyCol, n)
      // carried buckets are by definition unchanged, so the touched-
      // bucket classification IS the whole table's row-level change set
      val (cdcSnap, cdcLines) = writeCdcData(cdc, version)
      val meta = s"#buckets=$n key=$keyCol"
      beforePublish()
      // OPTIMISTIC-CONCURRENCY publish loop: losing the CAS to a
      // writer whose commit left our touched buckets' files and the
      // deletion vectors untouched (e.g. a merge on DISJOINT buckets)
      // only changes which files we CARRY — rebase the manifest onto
      // the new current version and re-publish, never re-reading or
      // re-writing data (Delta-style logical conflict resolution). A
      // SEMANTIC conflict (our touched data or its DVs changed
      // underneath us) discards this attempt's files and recomputes
      // the whole merge against the new snapshot — serializable
      // either way.
      var base = lines
      var publishVersion = version
      var outcome: Option[Long] = None
      var rebases = 0
      val newRowsLines = footerRowsLines(newFiles)
      while (outcome.isEmpty) {
        val carried = manifestFiles(base).groupBy(bucketOfPath)
          .view.filterKeys(b => !touched(b)).values.flatten.toVector
        val carriedSet = carried.toSet
        // carried buckets keep their exact counts and tombstone
        // ledgers (rewritten buckets' DV addresses go inert — their
        // ledger entries must go too, or metaCount over-subtracts);
        // rewritten buckets mint fresh footer counts — metaCount
        // stays answerable across bucketed merges
        val carriedAddrs = carried.map(dvAddressOf).toSet
        val carriedRows = base.drop(2).filter {
          case RowsMeta(rel, _) => carriedSet(rel)
          case SnapshotTable.DvRowsMeta(addr, _) => carriedAddrs(addr)
          case _ => false
        }
        val tmp = writeTmpManifest(publishVersion, schema,
          (meta +: SnapshotTable.CdcTracked +: (manifestDvLines(base) ++
            carriedRows ++ newRowsLines ++ cdcLines)) ++
            (carried ++ newFiles).sorted, op = "MERGE")
        try { publish(publishVersion, tmp); outcome = Some(publishVersion) }
        catch { case e: CommitConflictException =>
          val curV = currentVersion
          val cur = manifestLines(curV)
          val sameBuckets = manifestBuckets(cur).contains((n, keyCol))
          val sameSchema = cur(1) == base(1)
          val sameTouched = sameBuckets && {
            val curTouched = manifestFiles(cur).groupBy(bucketOfPath)
              .view.filterKeys(touched).values.flatten.toSet
            curTouched == touchedFiles.toSet
          }
          val sameDv = manifestDvLines(cur).toSet == manifestDvLines(base).toSet
          if (sameBuckets && sameSchema && sameTouched && sameDv) {
            // bounded like commitFilesOnce's CAS loop: a sustained
            // stream of disjoint-bucket committers must fail loudly,
            // not spin this writer forever
            rebases += 1
            if (rebases > 100) throw new IllegalStateException(
              s"mergeBucketed: lost the publish CAS $rebases times at $root", e)
            base = cur; publishVersion = curV + 1 // rebase, keep our data
          } else {
            // our inputs changed — recompute against the new snapshot
            deleteRecursively(snap); deleteRecursively(cdcSnap)
            recomputes += 1
            if (recomputes > 20) throw new IllegalStateException(
              s"mergeBucketed: $recomputes semantic conflicts at $root", e)
            outcome = Some(-1L)
          }
        }
      }
      if (outcome.get >= 0L) return outcome.get
    }
    -1L // unreachable
  }

  /** CDC apply: `changes` carries the target's columns plus `opCol`
    * with "u" (upsert) or "d" (delete). Deletes drop matched target
    * keys; upserts follow MERGE semantics. Commits v+1 and records
    * the row-level change feed (deletes carry the pre-image). */
  def applyChanges(changes: DataFrame, keyCol: String, opCol: String): Long = {
    val target = read()
    val dels = changes.filter(col(opCol) === "d").select(col(keyCol).as("__delk")).distinct()
    // new/updated rows come verbatim from the upsert side — guard it
    val ups = guarded(changes.filter(col(opCol) === "u").drop(opCol))
    val kept = target.join(dels, target(keyCol) === dels("__delk"), "left_anti")
    // column order must match scd1WithCdc's CDC output (unionAll is
    // positional): key first, then data cols, then the change type
    val delDataCols = target.columns.filterNot(_ == keyCol).toSeq
    val deleted = target.join(dels, target(keyCol) === dels("__delk"), "left_semi")
      .select(col(keyCol) +: delDataCols.map(col) :+
        lit("delete").as(SnapshotTable.ChangeTypeCol): _*)
    val (merged, upsertCdc) = scd1WithCdc(kept, ups, keyCol)
    val cdc = deleted.unionAll(upsertCdc)
    val version = currentVersion + 1
    val (snap, files, schema) = writeData(merged, version)
    val (cdcSnap, cdcLines) = writeCdcData(cdc, version)
    val tmp = writeTmpManifest(version, schema,
      (SnapshotTable.CdcTracked +: (cdcLines ++ footerRowsLines(files))) ++ files,
      op = "CDC")
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); deleteRecursively(cdcSnap); throw e
    }
    version
  }

  private val BatchMeta = """#batchId=(-?\d+)""".r
  private val WriterMeta = """#writer=(.+)""".r

  // incremental batchId cache: (versions scanned so far, (writer tag,
  // id) pairs seen) — guarded by `this`. Without it every append
  // re-parses EVERY manifest, turning a V-version append chain into
  // O(V²) metadata reads; with it each call parses only manifests
  // committed since the last call (other writers' commits included).
  // The writer tag scopes the ledger per streaming QUERY (the DSv2
  // sink passes its queryId): two queries appending to one table both
  // start at epoch 0 and must not dedup each other. appendOnce uses
  // the empty tag (single-writer foreachBatch contract, unchanged).
  private var batchIdScan: (Set[Long], Set[(String, Long)]) = (Set.empty, Set.empty)

  private def committedBatchIdsTagged: Set[(String, Long)] = synchronized {
    val (scanned, ids) = batchIdScan
    val fresh = listCommitted().filterNot(scanned).toSet
    val freshIds = fresh.flatMap { v =>
      val meta = manifestLines(v).drop(2)
      meta.collectFirst { case BatchMeta(b) => b.toLong }.map { b =>
        (meta.collectFirst { case WriterMeta(w) => w }.getOrElse(""), b)
      }
    }
    batchIdScan = (scanned ++ fresh, ids ++ freshIds)
    batchIdScan._2
  }

  /** Batch ids already committed by the default ([[appendOnce]])
    * writer (streaming idempotence ledger — the ledger IS the
    * manifest log, so it is atomic with the commit). */
  def committedBatchIds: Set[Long] =
    committedBatchIdsTagged.collect { case ("", b) => b }

  /** Streaming append: commit `df`'s rows as version v+1 whose
    * manifest carries FORWARD every file of v plus the new batch's
    * files — an append is a metadata commit plus only the new data's
    * write. Idempotent per `batchId`: the id is recorded as manifest
    * metadata, so a foreachBatch replay of an already-committed batch
    * (the at-least-once window Structured Streaming leaves between
    * the sink returning and the engine's commit-log write) is a
    * no-op — the table gains no duplicate version and no duplicate
    * rows. Returns the new version, or None if the batch was already
    * committed. Unlike a side-car marker ledger, the dedup record is
    * atomic with the data commit itself: either the version published
    * with its batchId or nothing did. */
  def appendOnce(df: DataFrame, batchId: Long): Option[Long] =
    appendInternal(df, batchId, evolve = false)

  /** [[appendOnce]] with SCHEMA EVOLUTION: `df` may carry columns the
    * table doesn't have yet. New columns are appended to the schema
    * tail (forced nullable); every EXISTING column must be present
    * with its committed type (widening/renames are rejected — loud
    * beats lossy). The commit is metadata + new data only: no old
    * file is touched, and reads of any file lacking an evolved column
    * surface NULL for it (parquet by-name resolution against the
    * manifest schema). Time travel keeps each version's own schema —
    * the evolved column simply doesn't exist at older versions. */
  def appendEvolved(df: DataFrame, batchId: Long): Option[Long] =
    appendInternal(df, batchId, evolve = true)

  private def appendInternal(df: DataFrame, batchId: Long,
      evolve: Boolean): Option[Long] = {
    if (committedBatchIds.contains(batchId)) return None
    val version = currentVersion + 1
    val prev: Vector[String] =
      if (version == 1) Vector.empty else manifestLines(version - 1)
    val schemaOut: StructType =
      if (version == 1) df.schema
      else if (!evolve) {
        val table = schemaOf(prev)
        if (SnapshotTable.hasMapping(table)) {
          // a column-mapped schema must survive the append verbatim —
          // df.schema would wipe the phys metadata and break every
          // read of the pre-rename files
          require(df.schema.fieldNames.sorted.sameElements(table.fieldNames.sorted),
            s"append columns ${df.schema.fieldNames.mkString(",")} != " +
              s"mapped table ${table.fieldNames.mkString(",")}")
          table
        } else if (df.schema.fieldNames.sameElements(table.fieldNames)) {
          // same columns: the COMMITTED types win. A batch narrower
          // than a widened column decodes up at read time; anything
          // else would silently re-type the table — reject loudly
          // (explicit widening goes through widenColumn).
          table.fields.zip(df.schema.fields).foreach { case (t, g) =>
            require(t.dataType == g.dataType ||
              SnapshotTable.widensTo(g.dataType, t.dataType),
              s"appendOnce cannot change ${t.name}: ${t.dataType} -> " +
                s"${g.dataType} at $root (use widenColumn / appendEvolved)")
          }
          table
        } else df.schema
      } else {
        val table = schemaOf(prev)
        table.fields.foreach { f =>
          val got = df.schema.fields.find(_.name == f.name).getOrElse(
            throw new IllegalArgumentException(
              s"appendEvolved batch is missing table column ${f.name}"))
          require(got.dataType == f.dataType,
            s"appendEvolved cannot change ${f.name}: ${f.dataType} -> ${got.dataType}")
        }
        // a re-added name may never RESURRECT dropped/renamed-away
        // data: if it was ever a physical name (retired) it gets a
        // fresh physical identity, so old files stop resolving it
        val retired = SnapshotTable.retiredOf(prev)
        val usedPhys = table.fields.map(SnapshotTable.physNameOf).toSet
        val added = df.schema.fields.filterNot(f => table.fieldNames.contains(f.name))
          .map { f =>
            val g = f.copy(nullable = true)
            if (!retired.contains(f.name) && !usedPhys.contains(f.name)) g
            else g.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(g.metadata).putString(SnapshotTable.PhysKey,
                s"${f.name}_g${UUID.randomUUID().toString.take(8)}").build())
          }
        StructType(table.fields ++ added)
      }
    val appendCs =
      if (version == 1) Seq.empty else SnapshotTable.constraintsOf(prev)
    val guardedDf =
      if (appendCs.isEmpty) df else guardConstraints(df, appendCs)
    val (snap, files, _) = writeData(toPhysDf(guardedDf, schemaOut), version)
    // WRITE-TIME STATS: under a full cluster claim the append mints
    // per-file #range/#sum/#rows for its fresh files in one O(new
    // data) executor pass ([[mintStagedStats]]) — per-file COVERAGE
    // is what zero-IO MIN/MAX/SUM need, so the full claim SURVIVES
    // the append instead of weakening to #clusterpart, and these
    // appends pay no driver-side footer reads (the counts ride the
    // same pass). Without a claim, fresh files mint footer counts
    // only; carried files keep their per-file stat lines either way,
    // and the other whole-table layout claims (#clusters/#zclustern/
    // #buckets) still die — their stats would not cover the new files.
    val mintKeyPhys: Option[String] =
      if (version == 1) None
      else prev.drop(2).collectFirst { case ClusterMeta(k) => k }
    val minted: Option[(Seq[String], Seq[String], Seq[String])] =
      mintKeyPhys.map { k =>
        mintStagedStats(files, k,
          schemaOf(prev)(SnapshotTable.logicalNameFor(prev, k)).dataType)
      }
    val newRowsLines = minted.map(_._3).getOrElse(footerRowsLines(files))
    // OPTIMISTIC publish with REBASE: blind appends commute with any
    // interleaving that leaves the schema and constraint set alone —
    // a lost CAS re-reads the new current version, re-carries its
    // files/DV/stat lines and re-publishes the SAME staged data, no
    // rewrite (concurrent streaming writers stop failing each other).
    // A schema or constraint change underneath rethrows: the staged
    // files were written under the old mapping/guards.
    val baseSchemaJson = if (version == 1) schemaOut.json else prev(1)
    val baseCs = appendCs
    var curPrev = prev
    var curVersion = version
    var rebases = 0
    while (true) {
      val carriedFiles: Seq[String] =
        if (curVersion == 1) Seq.empty else manifestFiles(curPrev)
      val retiredLines = curPrev.drop(2).filter(_.startsWith("#retired="))
      // the minted ranges/sums describe the key they were computed
      // over — on a rebase they ride along only while the (possibly
      // new) current version still claims the SAME key; otherwise
      // they drop and the claim weakens (row counts are key-free and
      // always valid)
      val curClaim: Option[String] =
        if (curVersion == 1) None
        else curPrev.drop(2).collectFirst { case ClusterMeta(k) => k }
      val mintValid = minted.isDefined && curClaim == mintKeyPhys
      val statCarry =
        if (curVersion == 1) Vector.empty[String]
        else appendStatCarry(curPrev, carriedFiles.toSet,
          newFilesCovered = mintValid)
      val mintedLines: Seq[String] =
        if (mintValid) minted.get._1 ++ minted.get._2 else Seq.empty
      val tmp = writeTmpManifest(curVersion, schemaOut,
        (s"#batchId=$batchId" +: (manifestDvLines(curPrev) ++ retiredLines ++
          statCarry ++ mintedLines ++ newRowsLines)) ++ (carriedFiles ++ files),
        op = "APPEND")
      // same deterministic-crash injection point as the DSv2 commit
      // path: a hook that throws simulates dying between the data
      // write and visibility (torn-ingest specs)
      SnapshotTable.beforePublishHook()
      try { publish(curVersion, tmp); return Some(curVersion) }
      catch { case e: CommitConflictException =>
        rebases += 1
        if (rebases > 100) { deleteRecursively(snap); throw e }
        if (committedBatchIds.contains(batchId)) { // raced replay
          deleteRecursively(snap); return None
        }
        val newCur = currentVersion
        val newPrev = manifestLines(newCur)
        val sameSchema = newPrev(1) == baseSchemaJson
        val sameCs = SnapshotTable.constraintsOf(newPrev) == baseCs
        if (!sameSchema || !sameCs) { deleteRecursively(snap); throw e }
        curPrev = newPrev; curVersion = newCur + 1
      }
    }
    None // unreachable
  }

  /** True iff every commit in (vA, vB] is a streaming APPEND — the
    * precondition for additive incremental maintenance (the change
    * feed is pure inserts; [[changesBetween]] is exactly the new
    * rows). Metadata-only check. */
  def isAppendOnly(vA: Long, vB: Long): Boolean =
    ((vA + 1) to vB).forall(v =>
      SnapshotTable.isAppendCommitOf(manifestLines(v)))

  /** True iff [[rowChangesBetween]] can serve (vA, vB] exactly: every
    * commit either records its row-level changes (merge/applyChanges/
    * delete/update/SQL DML/compact) or is an append (inserts derived
    * from the file diff). The precondition for RETRACTION-based
    * incremental view maintenance. Metadata-only check. */
  def isRowTracked(vA: Long, vB: Long): Boolean =
    ((vA + 1) to vB).forall { v =>
      val lines = manifestLines(v)
      cdcTracked(lines) || SnapshotTable.isAppendCommitOf(lines)
    }

  /** Manifest-level twin of [[appendOnce]] for writers whose DATA is
    * already on disk (the streaming sink's executors wrote their part
    * files directly): append `relPaths` to the current version's file
    * list as v+1, idempotent per `batchId`, RETRYING on commit
    * conflict (a concurrent writer only changes which files are
    * carried — the new files are disjoint by construction, so the
    * append composes with any interleaving). Metadata-only on the
    * driver. */
  private[tables] def appendFilesOnce(relPaths: Seq[String], schema: StructType,
      batchId: Long, writerId: String,
      stagedRows: Option[Map[String, Long]] = None): Option[Long] =
    commitFilesOnce(relPaths, schema, batchId, writerId, carry = true,
      stagedRows = stagedRows)

  /** [[appendFilesOnce]] generalized with a `carry` switch:
    * carry=true appends (the prior version's files and DV lines ride
    * along), carry=false REPLACES (the new manifest lists only
    * `relPaths` — INSERT OVERWRITE / truncate semantics, still one
    * atomic metadata commit with every old version time-travelable). */
  private[tables] def commitFilesOnce(relPaths: Seq[String], schema: StructType,
      batchId: Long, writerId: String, carry: Boolean,
      stagedRows: Option[Map[String, Long]] = None): Option[Long] = {
    require(!writerId.contains('\n'), "writerId must be single-line")
    var attempts = 0
    // the CONSTRAINT SET the staged rels were validated against — a
    // CAS retry under a concurrently added constraint must
    // RE-validate (the new constraint's own add-time scan could not
    // have seen these staged rows), so the guard is the set itself,
    // not a boolean: same-set retries republish without re-scanning,
    // a changed set re-runs the validation
    var validatedCs: Option[Seq[(String, String)]] = None
    // staged-file stats are retry-invariant per claim key — cached
    // across CAS retries so a rebase never re-scans the staged data
    var mintCache: Option[(String, (Seq[String], Seq[String], Seq[String]))] = None
    // per-file counts: write-task commit messages (zero extra IO)
    // beat the driver-side footer pass, which stays as the fallback
    // for callers without messages; a cluster-claim mint beats both
    // (the counts ride its executor pass)
    lazy val fallbackRowsLines = footerRowsLines(relPaths)
    val messageRowsLines: Option[Seq[String]] =
      stagedRows.filter(m => relPaths.forall(m.contains))
        .map(m => relPaths.map(rel => s"#rows=$rel|${m(rel)}"))
    while (true) {
      if (committedBatchIdsTagged.contains((writerId, batchId))) return None
      val version = currentVersion + 1
      val prev: Vector[String] =
        if (version == 1 || !carry) Vector.empty else manifestLines(version - 1)
      val carried: Seq[String] =
        if (version == 1 || !carry) Seq.empty else manifestFiles(prev)
      val writerLine = if (writerId.isEmpty) Seq.empty else Seq(s"#writer=$writerId")
      val dvLines = if (carry && version > 1) manifestDvLines(prev) else Vector.empty
      val retiredLines = prev.drop(2).filter(_.startsWith("#retired="))
      // carrying: keep the COMMITTED table schema — the caller's is
      // the query's plain output schema, whose nullability reflects
      // the inserted expressions (an `INSERT ... VALUES (4, 4.0)`
      // carries non-nullable literals), and publishing it would DRIFT
      // the table's nullability with every insert (later writes then
      // trip Spark's AssertNotNull instead of this layer's checks);
      // on a column-mapped table it would also wipe the phys metadata
      // old files need. An append may not change the column set.
      val schemaOut: StructType =
        if (version == 1 || !carry) schema
        else {
          val table = schemaOf(prev)
          require(schema.fieldNames.sorted.sameElements(table.fieldNames.sorted),
            s"append columns ${schema.fieldNames.mkString(",")} != " +
              s"table ${table.fieldNames.mkString(",")}")
          table
        }
      // CHECK constraints on the SQL INSERT / streaming-sink path: the
      // rows were staged by Spark's own DSv2 writers, so validate the
      // staged rels (one O(new data) scan, only when constraints
      // exist) before anything is published. A CAS retry re-publishes
      // the same validated files WITHOUT re-scanning — unless the
      // constraint set changed underneath (a concurrent addConstraint
      // landed between validation and publish), in which case the
      // staged rows must pass the NEW set too before they may commit.
      val curCs = currentConstraintPairs()
      if (!validatedCs.contains(curCs)) {
        validateStagedConstraints(relPaths, schemaOut)
        validatedCs = Some(curCs)
      }
      // spec interposition point: lets GraftConstraintSpec land a
      // concurrent addConstraint between validation and publish
      // deterministically (the race the validated-set guard closes);
      // static because the SQL write path constructs its own instance
      SnapshotTable.beforePublishHook()
      // a replacing commit is a REWRITING writer: the marker keeps the
      // change feed from misreading its #batchId as an append
      val replaceLine = if (carry) Seq.empty else Seq(SnapshotTable.ReplaceMarker)
      // INSERT OVERWRITE change feed (Delta's overwrite CDF shape):
      // the replaced snapshot's live rows mint `delete` pre-images and
      // the staged files mint `insert` rows — O(old + new), the same
      // cost class as the overwrite itself — so readChangeFeed and
      // retraction-based IVM stay exact straight through a periodic
      // replace instead of refusing / de-incrementalizing. Minted only
      // when the schema is UNCHANGED (or the table was empty): a
      // schema-changing overwrite has no single feed schema, and the
      // bare #replace marker keeps the downstream refusal loud there.
      val replacedLines: Option[Vector[String]] =
        if (carry || version == 1) None else Some(manifestLines(version - 1))
      val overwriteCdcMintable = !carry && (version == 1 ||
        replacedLines.exists(pl => schemaOf(pl).fields
          .map(f => (f.name, f.dataType))
          .sameElements(schema.fields.map(f => (f.name, f.dataType)))))
      val overwriteCdc: Option[(Path, Seq[String])] =
        if (!overwriteCdcMintable) None
        else {
          val outCols = schema.fieldNames.map(col).toSeq
          val cdcSchema = StructType(schema.fields.map(_.copy(nullable = true)))
            .add(SnapshotTable.ChangeTypeCol,
              org.apache.spark.sql.types.StringType, nullable = false)
          def emptyCdc = spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], cdcSchema)
          val pre = replacedLines
            .filter(pl => manifestFiles(pl).nonEmpty)
            .map(pl => scanWithDv(pl, manifestFiles(pl)).select(
              outCols :+ lit("delete").as(SnapshotTable.ChangeTypeCol): _*))
            .getOrElse(emptyCdc)
          val ins =
            if (relPaths.isEmpty) emptyCdc
            else spark.read
              .schema(StructType(schema.fields.map(_.copy(nullable = true))))
              .parquet(relPaths.map(rel => rootPath.resolve(rel).toString): _*)
              .select(outCols :+ lit("insert").as(SnapshotTable.ChangeTypeCol): _*)
          Some(writeCdcData(pre.unionAll(ins), version))
        }
      val cdcHead = overwriteCdc
        .map { case (_, cdcLines) => SnapshotTable.CdcTracked +: cdcLines }
        .getOrElse(Seq.empty)
      // same stat discipline as appendInternal: under a full cluster
      // claim the staged files mint write-time #range/#sum/#rows in
      // one executor pass and the claim SURVIVES; otherwise fresh
      // files record counts (from the writers' commit messages when
      // available, a footer pass when not) and the claim weakens.
      // An overwrite carries nothing — its fresh counts alone give
      // metaCount full coverage.
      val claimKey: Option[String] =
        if (!carry || version == 1) None
        else prev.drop(2).collectFirst { case ClusterMeta(k) => k }
      val minted: Option[(Seq[String], Seq[String], Seq[String])] =
        claimKey.map { k =>
          mintCache match {
            case Some((ck, m)) if ck == k => m
            case _ =>
              val m = mintStagedStats(relPaths, k,
                schemaOf(prev)(SnapshotTable.logicalNameFor(prev, k)).dataType)
              mintCache = Some(k -> m)
              m
          }
        }
      val statCarry =
        if (!carry || version == 1) Vector.empty[String]
        else appendStatCarry(prev, carried.toSet,
          newFilesCovered = minted.isDefined)
      val mintedLines: Seq[String] =
        minted.map(m => m._1 ++ m._2).getOrElse(Seq.empty)
      val stagedRowsLines = minted.map(_._3)
        .orElse(messageRowsLines).getOrElse(fallbackRowsLines)
      val tmp = writeTmpManifest(version, schemaOut,
        (s"#batchId=$batchId" +: (replaceLine ++ cdcHead ++ writerLine ++
          dvLines ++ retiredLines ++ statCarry ++ mintedLines ++
          stagedRowsLines)) ++ (carried ++ relPaths),
        op = if (carry) "APPEND" else "OVERWRITE")
      try { publish(version, tmp); return Some(version) }
      catch { case _: CommitConflictException =>
        // the overwrite CDC was minted against THIS attempt's replaced
        // version — recompute against the new current on retry
        overwriteCdc.foreach { case (snap, _) => deleteRecursively(snap) }
        attempts += 1
        if (attempts > 100) throw new IllegalStateException(
          s"commitFilesOnce: lost the publish race $attempts times at $root")
      }
    }
    None // unreachable
  }

  /** Data files listed by `vB`'s manifest but not `vA`'s — the
    * metadata-only change feed. For an APPEND chain this is exactly
    * the rows added in (vA, vB]; for rewriting writers (merge,
    * compact) it is file-granular (a rewritten bucket's carried-over
    * rows appear too — use [[diff]] for row-level semantics there),
    * the same contract as a lakehouse change feed without deletion
    * vectors. */
  def addedFiles(vA: Long, vB: Long): Seq[String] = {
    // vA = 0 is the pre-first-commit state: everything in vB is new
    val before =
      if (vA == 0L) Set.empty[String]
      else manifestFiles(manifestLines(vA)).toSet
    manifestFiles(manifestLines(vB)).filterNot(before)
  }

  /** Read only the files added between two versions — O(new data),
    * never re-reading vA's files. The streaming-read primitive: a
    * consumer holding a version cursor reads each commit's additions
    * exactly once. */
  def changesBetween(vA: Long, vB: Long): DataFrame = {
    val lines = manifestLines(vB)
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines(1))
      .asInstanceOf[StructType]
    val files = addedFiles(vA, vB)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else physRead(schema, files)
  }

  /** Row-level diff between two committed versions, keyed on
    * `keyCol`: one full outer join classifying every key as
    * insert / delete / update (value columns differ) — unchanged rows
    * are excluded. Works for ANY write pattern (merge, compact,
    * CDC) at the cost of reading both versions; append-only chains
    * should prefer [[changesBetween]]. */
  def diff(vA: Long, vB: Long, keyCol: String): DataFrame = {
    val a = read(vA)
    val dataCols = a.columns.filterNot(_ == keyCol).toSeq
    val aAl = a.alias("a")
    val bAl = read(vB).alias("b")
    val changed = dataCols
      .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val outCols =
      when(col(s"a.$keyCol").isNull, lit("insert"))
        .when(col(s"b.$keyCol").isNull, lit("delete"))
        .when(changed, lit("update"))
        .otherwise(lit("unchanged")).as("change") +:
      coalesce(col(s"b.$keyCol"), col(s"a.$keyCol")).as(keyCol) +:
      dataCols.flatMap(c => Seq(col(s"a.$c").as(s"${c}_before"),
        col(s"b.$c").as(s"${c}_after")))
    aAl.join(bAl, col(s"a.$keyCol") === col(s"b.$keyCol"), "full_outer")
      .select(outCols: _*)
      .filter(col("change") =!= "unchanged")
  }

  /** Encode a clusterable key to the Long stats domain, EXACTLY:
    * integral keys as-is, timestamps as epoch micros, dates as epoch
    * days — no truncation anywhere, so manifest-stats pruning is
    * lossless. Fractional keys stay rejected (Long-cast stats would
    * truncate toward zero and silently drop in-range rows). */
  private def statLongExpr(dt: org.apache.spark.sql.types.DataType, keyCol: String) = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => col(keyCol).cast("long")
      case TimestampType => unix_micros(col(keyCol))
      case DateType => datediff(col(keyCol), to_date(lit("1970-01-01"))).cast("long")
      case other => throw new IllegalArgumentException(
        s"clustered stats require an integral, timestamp or date key; $keyCol is $other")
    }
  }

  /** CLUSTERED snapshot commit: rows range-partitioned and sorted on
    * a (numeric) key into `nFiles` contiguous-key-range files, with
    * per-file [min, max] key stats recorded in the manifest — the
    * data-skipping layout. A key-range read ([[readWhere]]) prunes
    * files by manifest stats BEFORE any scan: a point/range lookup on
    * a 100 TB table opens the few files whose range intersects, not
    * the table. Stats are collected in one distributed pass over the
    * freshly written files (O(new data), standard write-time stats
    * collection); hash-bucketed layouts ([[commitBucketed]]) get no
    * skipping — striping spreads every key range across all buckets,
    * which is exactly the layout trade: bucketing buys co-located
    * merges, clustering buys range pruning. */
  def commitClustered(df: DataFrame, keyCol: String, nFiles: Int): Long = {
    val dt = df.schema(keyCol).dataType
    statLongExpr(dt, keyCol) // validates the key type before any write
    val version = currentVersion + 1
    val (snap, files, _) = writeData(
      guarded(df).repartitionByRange(nFiles, col(keyCol)).sortWithinPartitions(keyCol),
      version)
    val (ranges, sums, rows) = mintStagedStats(files, keyCol, dt)
    val tmp = writeTmpManifest(version, df.schema,
      (s"#cluster=$keyCol" +: (ranges ++ rows ++ sums)) ++ files)
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); throw e
    }
    version
  }

  /** Files of `version` whose manifest key range intersects [lo, hi];
    * files without stats are conservatively kept, and so is every
    * file of a version with no range-cluster claim. Exposed so specs
    * and ops can assert the pruning itself, not just the result. */
  def prunedFiles(version: Long, lo: Long, hi: Long): Seq[String] =
    prunedOnClaim(version, SnapshotTable.RangeClaim)(between(_, lo, hi))

  /** Key-range read with manifest-stats file skipping: scans only the
    * files [[prunedFiles]] keeps, then applies the residual row
    * filter. `lo`/`hi` live in the key's ENCODED Long domain — the
    * key's own value for integral keys, epoch micros for timestamps,
    * epoch days for dates. The weakened post-append claim
    * (#clusterpart) is enough for a range READ: carried ranges prune
    * and stat-less files are kept. */
  def readWhere(version: Long, keyCol: String, lo: Long, hi: Long): DataFrame =
    prunedRead(version, between(keyCol, lo, hi),
      lines => require(claimedKey(lines, SnapshotTable.RangeClaim).contains(keyCol),
        s"version $version is not clustered on $keyCol")) { schema =>
      val enc = statLongExpr(schema(keyCol).dataType, keyCol)
      enc >= lo && enc <= hi
    }

  /** Closed range [lo, hi] on `key` as the source filters
    * [[ManifestPruning]] reads. */
  private def between(key: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(key, lo), LessThanOrEqual(key, hi))

  /** The logical name of the key the layout claim `claim` matches in
    * `lines` (claims carry commit-era physical names). */
  private def claimedKey(lines: Vector[String],
      claim: PartialFunction[String, String]): Option[String] =
    lines.drop(2).collectFirst(claim).map(SnapshotTable.logicalNameFor(lines, _))

  /** Files of `version` that [[ManifestPruning]] keeps under the
    * filters `onKey` builds on the key `claim` names. A version without
    * the claim keeps every file, as the DSv2 scan does: leftover stat
    * lines do not say which column they describe. */
  private def prunedOnClaim(version: Long, claim: PartialFunction[String, String])
      (onKey: String => Seq[Filter]): Vector[String] = {
    val lines = manifestLines(version)
    claimedKey(lines, claim).fold(manifestFiles(lines))(k =>
      ManifestPruning.prunedFiles(rootPath, lines, onKey(k)))
  }

  /** The skipping reads' one body: read the manifest once, let `check`
    * refuse a layout that cannot serve the read, scan (DVs applied)
    * only the files [[ManifestPruning]] keeps under `filters`, then
    * apply the exact row filter `residual` — stats prune at file
    * granularity, the predicate still holds row-exactly. */
  private def prunedRead(version: Long, filters: Seq[Filter],
      check: Vector[String] => Unit)
      (residual: StructType => org.apache.spark.sql.Column): DataFrame = {
    val lines = manifestLines(version)
    check(lines)
    scanWithDv(lines, ManifestPruning.prunedFiles(rootPath, lines, filters))
      .filter(residual(schemaOf(lines)))
  }

  /** METADATA-ONLY aggregate: COUNT(*) plus the clustered key's
    * MIN/MAX answered purely from manifest stats — zero data files
    * opened (SnapshotTableSpec proves it by deleting the data dir
    * and asking again). The lakehouse "metadata-only query" fast
    * path: at 100 TB, a manifest read instead of a table scan.
    * Preconditions, each checked loudly rather than answered wrong:
    * the version was written by [[commitClustered]] (under which a
    * stat-less file can only be an all-null-key file, which MIN/MAX
    * ignores anyway), every data file carries a `#rows=` count, and
    * deletion vectors are either ABSENT or the manifest carries BOTH
    * the `#dvrows` tombstone counts (COUNT stays live = rows − dvrows)
    * AND the [[SnapshotTable.DvMinMax]] marker proving every `#range`
    * bound was re-minted over live rows (DV deletes on clustered
    * tables maintain both; SQL-DML tombstones forfeit the path).
    * MIN/MAX come back in the key's encoded Long domain (the value
    * itself for integral keys, epoch micros/days for timestamp/date),
    * None when every key is NULL. */
  def metaAgg(version: Long): (Long, Option[Long], Option[Long]) = {
    val lines = manifestLines(version)
    require(lines.drop(2).exists { case ClusterMeta(_) => true; case _ => false },
      s"metaAgg needs a clustered version; v$version at $root is not")
    val dvRows = SnapshotTable.dvRowsOf(lines)
    require(manifestDvFiles(lines).isEmpty ||
      (dvRows.nonEmpty && lines.drop(2).contains(SnapshotTable.DvMinMax)),
      s"metaAgg cannot answer over deletion vectors at $root v$version " +
        "(tombstone counts or re-minted #range bounds missing)")
    val rows: Map[String, Long] = lines.drop(2).collect {
      case RowsMeta(rel, n) => rel -> n.toLong
    }.toMap
    val files = manifestFiles(lines)
    files.foreach(rel => require(rows.contains(rel),
      s"metaAgg: file $rel has no #rows stat at $root v$version"))
    val ranges = lines.drop(2).collect {
      case RangeMeta(_, a, b) => (a.toLong, b.toLong)
    }
    val lo = if (ranges.isEmpty) None else Some(ranges.map(_._1).min)
    val hi = if (ranges.isEmpty) None else Some(ranges.map(_._2).max)
    (files.map(rel => rows(rel) - dvRows.getOrElse(dvAddressOf(rel), 0L)).sum,
      lo, hi)
  }

  /** Metadata-only SUM over the cluster key — (Σ key, non-null key
    * count), answered purely from `#sum=` manifest lines the same way
    * [[metaAgg]] answers MIN/MAX from `#range=`: zero data files
    * opened. Minted by [[commitClustered]] for INTEGRAL keys (the
    * encoded Long domain is the value itself); DV deletes re-mint the
    * touched files' sums over their live remainder inside the delete
    * commit. Sum is None when every key is NULL. Preconditions
    * checked loudly: a clustered version, every file carrying a
    * `#sum=` stat (date/timestamp keys, rewriting maintenance and
    * post-image appends have none — refused, never answered wrong),
    * and deletion vectors either absent or proven re-minted (the
    * [[SnapshotTable.DvMinMax]] marker — minted by the same job that
    * re-mints sums). The second leg of the zero-IO aggregate story:
    * COUNT/MIN/MAX/SUM — and therefore AVG — without touching data.
    * Overflow: a per-file try_sum overflow mints no line (coverage
    * refusal here), and the driver-side Σ adds exactly — overflow
    * refuses loudly, mirroring ANSI sum's failure instead of
    * answering a wrapped value. */
  def metaSum(version: Long): (Option[Long], Long) = {
    val lines = manifestLines(version)
    require(lines.drop(2).exists { case ClusterMeta(_) => true; case _ => false },
      s"metaSum needs a clustered version; v$version at $root is not")
    val dvRows = SnapshotTable.dvRowsOf(lines)
    require(manifestDvFiles(lines).isEmpty ||
      (dvRows.nonEmpty && lines.drop(2).contains(SnapshotTable.DvMinMax)),
      s"metaSum cannot answer over deletion vectors at $root v$version " +
        "(tombstone counts or re-minted stats missing)")
    val sums: Map[String, (Long, Long)] = lines.drop(2).collect {
      case SnapshotTable.SumMeta(rel, sm, nn) => rel -> (sm.toLong, nn.toLong)
    }.toMap
    val files = manifestFiles(lines)
    files.foreach(rel => require(sums.contains(rel),
      s"metaSum: file $rel has no #sum stat at $root v$version"))
    val nn = files.map(rel => sums(rel)._2).sum
    if (nn == 0L) (None, 0L)
    else {
      val total =
        try files.map(rel => sums(rel)._1).foldLeft(0L)(Math.addExact)
        catch { case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"metaSum: global key sum overflows Long at $root v$version")
        }
      (Some(total), nn)
    }
  }

  /** Metadata-only COUNT(*) that, unlike [[metaAgg]], SURVIVES
    * deletion vectors: live = Σ`#rows` − Σ`#dvrows`, both manifest
    * lines (every DV-minting commit records its per-file tombstone
    * counts). Zero data files opened. Preconditions checked loudly:
    * every file carries a `#rows` count, and a DV'd manifest must
    * carry its tombstone counts (a stats-dropping writer in between
    * forfeits the fast path). */
  def metaCount(version: Long): Long = {
    val lines = manifestLines(version)
    val dvRows = SnapshotTable.dvRowsOf(lines)
    require(manifestDvFiles(lines).isEmpty || dvRows.nonEmpty,
      s"metaCount: deletion vectors without #dvrows counts at $root v$version")
    val rows: Map[String, Long] = lines.drop(2).collect {
      case RowsMeta(rel, n) => rel -> n.toLong
    }.toMap
    val files = manifestFiles(lines)
    files.foreach(rel => require(rows.contains(rel),
      s"metaCount: file $rel has no #rows stat at $root v$version"))
    files.map(rel => rows(rel) - dvRows.getOrElse(dvAddressOf(rel), 0L)).sum
  }

  // ---- per-file Bloom filters: point-lookup file skipping ---------------

  /** Canonical key bytes of the bloom BUILD (executor SQL
    * expression): integral keys as 8-byte big-endian two's complement,
    * strings as UTF-8 — the encoding the driver-side PROBE
    * ([[ManifestPruning.bloomKeyBytes]]) reproduces. */
  private def keyBytesExpr(dt: org.apache.spark.sql.types.DataType, keyCol: String) = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        unhex(lpad(hex(col(keyCol).cast("long")), 16, "0"))
      case StringType => encode(col(keyCol), "UTF-8")
      case other => throw new IllegalArgumentException(
        s"bloom skipping requires an integral or string key; $keyCol is $other")
    }
  }

  private def requireBloomValue(value: Any): Unit =
    if (ManifestPruning.bloomKeyBytes(value).isEmpty) throw new IllegalArgumentException(
      s"bloom lookup value must be integral or string, got $value")

  /** BLOOM-SKIPPING commit: rows hash-partitioned on the key into
    * `nFiles` files (each key lives in exactly ONE file), with a
    * per-file Bloom filter of the key set written as a SIDECAR file
    * (manifest `#bloomf=<data>|<bloom>` lines — the manifest carries
    * paths, not filter bits, so 100 TB tables don't bloat their
    * metadata). The high-cardinality complement of min/max stats: a
    * point lookup ([[readWhereEq]]) probes ≤nFiles tiny sidecars on
    * the driver and opens only files whose filter may contain the
    * value — one file plus fpp·nFiles false positives expected, on a
    * layout with no useful key ordering. Build is one distributed
    * pass: per-partition partial filters (sized from an exact per-file
    * count pre-pass, so partials of a split file merge compatibly)
    * OR-merged per file. Null keys never enter a filter; a file with
    * only null keys records no sidecar and is conservatively kept. */
  def commitBloom(df: DataFrame, keyCol: String, nFiles: Int,
      fpp: Double = 0.01): Long = {
    val kb = keyBytesExpr(df.schema(keyCol).dataType, keyCol) // validates type
    val version = currentVersion + 1
    val (snap, files, _) = writeData(guarded(df).repartition(nFiles, col(keyCol)), version)
    val segs = split(col("_metadata.file_path"), "/")
    val addrCol = concat_ws("/", element_at(segs, -2), element_at(segs, -1))
    val keyed = spark.read.parquet(snap.toString)
      .filter(col(keyCol).isNotNull)
      .select(addrCol.as("a"), kb.as("k"))
    // exact per-file key counts — partial filters created with the
    // same (n, fpp) merge compatibly even when a file spans partitions
    val counts: Map[String, Long] = keyed.groupBy("a").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bCounts = spark.sparkContext.broadcast(counts)
    import spark.implicits._
    val partials: Array[(String, Array[Byte])] =
      keyed.as[(String, Array[Byte])].mapPartitions { it =>
        val local = scala.collection.mutable.HashMap
          .empty[String, org.apache.spark.util.sketch.BloomFilter]
        it.foreach { case (a, k) =>
          local.getOrElseUpdate(a, org.apache.spark.util.sketch.BloomFilter
            .create(bCounts.value(a), fpp)).putBinary(k)
        }
        local.iterator.map { case (a, bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (a, bos.toByteArray)
        }
      }.collect() // ≤ partitions × files-per-partition filters — metadata-sized
    val merged: Map[String, org.apache.spark.util.sketch.BloomFilter] =
      partials.groupBy(_._1).map { case (a, ps) =>
        val bfs = ps.map(p => org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(p._2)))
        a -> bfs.reduce((x, y) => { x.mergeInPlace(y); x })
      }
    val bloomDir = dataDir.resolve(s"v$version-bloom-${UUID.randomUUID()}")
    Files.createDirectories(bloomDir)
    val bloomLines = files.flatMap { rel =>
      merged.get(dvAddressOf(rel)).map { bf =>
        val side = bloomDir.resolve(rel.split('/').last + ".bloom")
        val os = Files.newOutputStream(side)
        try bf.writeTo(os) finally os.close()
        s"#bloomf=$rel|${rootPath.relativize(side)}"
      }
    }
    val tmp = writeTmpManifest(version, df.schema,
      (s"#bloomk=$keyCol fpp=$fpp" +: bloomLines) ++ files)
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); deleteRecursively(bloomDir); throw e
    }
    version
  }

  /** Bloom sidecar files referenced by `lines` (for vacuum pinning). */
  private def manifestBloomFiles(lines: Vector[String]): Vector[String] =
    lines.drop(2).collect { case BloomFMeta(_, bloomRel) => bloomRel }

  /** Files of `version` whose Bloom filter may contain the key bytes;
    * files without a sidecar are conservatively kept, and so is every
    * file of a version with no bloom index. Driver-side probes over
    * metadata-sized sidecars — no data file is opened. */
  def prunedFilesBloom(version: Long, value: Any): Seq[String] = {
    requireBloomValue(value)
    prunedOnClaim(version, SnapshotTable.BloomClaim)(k => Seq(EqualTo(k, value)))
  }

  /** Point lookup with Bloom file skipping, then the exact residual
    * equality filter (and DVs, like every read path). */
  def readWhereEq(version: Long, keyCol: String, value: Any): DataFrame = {
    require(value != null, "readWhereEq: use an IS NULL filter for null lookups")
    requireBloomValue(value)
    prunedRead(version, Seq(EqualTo(keyCol, value)),
      lines => require(claimedKey(lines, SnapshotTable.BloomClaim).contains(keyCol),
        s"version $version has no bloom index on $keyCol"))(_ => col(keyCol) === lit(value))
  }

  // ---- string-key clustered stats --------------------------------------

  /** STRING-key clustered commit: same layout as [[commitClustered]]
    * (range-partitioned, sorted, per-file min/max in the manifest) for
    * a string key, with Delta-style TRUNCATED byte-wise bounds so wide
    * keys cannot bloat the manifest: bounds are capped at
    * [[SnapshotTable.StringStatMaxBytes]] UTF-8 bytes; a truncated
    * lower bound is valid as-is (the prefix sorts <= the value), a
    * truncated upper bound is bumped past every string sharing the
    * prefix (last non-0xFF byte incremented, tail dropped), and a
    * bound with no such successor is recorded as UNBOUNDED above
    * (conservatively kept by every read). Bounds are base64-escaped
    * in the manifest; all comparisons — write-side truncation,
    * driver-side pruning, the read's residual filter — use unsigned
    * byte order, which is exactly Spark's binary UTF8String order, so
    * pruning is lossless. */
  def commitClusteredString(df: DataFrame, keyCol: String, nFiles: Int): Long = {
    require(df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType,
      s"commitClusteredString requires a string key; $keyCol is ${df.schema(keyCol).dataType}")
    val version = currentVersion + 1
    val (snap, files, _) = writeData(
      guarded(df).repartitionByRange(nFiles, col(keyCol)).sortWithinPartitions(keyCol),
      version)
    val stats = perFileStats(files, Seq(min(col(keyCol)), max(col(keyCol))))
    val enc = java.util.Base64.getEncoder
    val statLines = files.flatMap { rel =>
      stats.get(dvAddressOf(rel)).filterNot(r => r.isNullAt(1) || r.isNullAt(2)).map { r =>
        val lo = SnapshotTable.truncatedLower(
          r.getString(1).getBytes("UTF-8"), SnapshotTable.StringStatMaxBytes)
        val hi = SnapshotTable.truncatedUpper(
          r.getString(2).getBytes("UTF-8"), SnapshotTable.StringStatMaxBytes)
        val (hi64, unb) = hi.fold(("", "1"))(b => (enc.encodeToString(b), "0"))
        s"#ranges=$rel|${enc.encodeToString(lo)}|$hi64|$unb"
      }
    }
    val tmp = writeTmpManifest(version, df.schema,
      (s"#clusters=$keyCol" +: statLines) ++ files)
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); throw e
    }
    version
  }

  /** Files of `version` whose truncated string-bound interval
    * intersects [lo, hi] under unsigned byte order; stat-less files
    * (all-null keys) and unbounded-above files are conservatively
    * kept, and so is every file of a version with no string-cluster
    * claim. */
  def prunedFilesString(version: Long, lo: String, hi: String): Seq[String] =
    prunedOnClaim(version, SnapshotTable.StringClaim)(between(_, lo, hi))

  /** String-key range read with manifest-stats file skipping, then
    * the exact residual filter (and DVs, like every read path). */
  def readWhereString(version: Long, keyCol: String, lo: String, hi: String): DataFrame =
    prunedRead(version, between(keyCol, lo, hi),
      lines => require(claimedKey(lines, SnapshotTable.StringClaim).contains(keyCol),
        s"version $version is not string-clustered on $keyCol")) { _ =>
      col(keyCol) >= lo && col(keyCol) <= hi
    }

  /** Z-ORDERED snapshot commit: rows sorted by the Morton interleave
    * of N (encoded) key dimensions and range-partitioned into
    * `nFiles` z-contiguous files. Bit `i` of dimension `j` lands at
    * interleaved position `N·i + j`, and EVERY file records
    * per-dimension [min, max] bounds (`#rangen=` lines) in the
    * manifest, so a box read ([[readWhereN]]) opens only files whose
    * hyper-rectangle intersects the query's. The interleave bounds
    * each file's span in EVERY dimension (the q_zorder tile
    * property) at granularity 2^bits, where one clustered dimension
    * leaves every other dimension's per-file span ~full-width. N = 1
    * is a range sort on the one key; N = 2 is the classic 2-D
    * Z-order. Each dimension is min/max-normalized into `bits`-wide
    * coordinates first (one extra O(data) agg pass at write time);
    * keys may be integral, timestamp or date, encoded exactly as in
    * [[commitClustered]], and `keys.size × bits` must stay under 63
    * (the interleave lives in one Long). */
  def commitZOrderedN(df: DataFrame, keys: Seq[String], nFiles: Int,
      bits: Int = 12): Long =
    // optimizeZOrderedN skips the guard: it rewrites the table's own
    // already-validated rows
    zOrderedNInternal(guarded(df), keys, nFiles, bits, tracked = false)

  /** OPTIMIZE ZORDER BY (k1, …, kN): rewrite the CURRENT version's
    * live rows z-ordered — Delta's `OPTIMIZE ... ZORDER BY`. Reads
    * through [[read]], so deletion vectors FOLD IN and small files
    * coalesce while the layout gains N-dim skipping stats;
    * content-identical, so the commit tracks zero row-level changes
    * (change-feed consumers skip it, like [[compact]]). The
    * maintenance op a 100 TB event table runs nightly: one O(live
    * data) rewrite buys every subsequent box read its file pruning. */
  def optimizeZOrderedN(keys: Seq[String], nFiles: Int, bits: Int = 12): Long =
    zOrderedNInternal(read(), keys, nFiles, bits, tracked = true)

  private def zOrderedNInternal(df: DataFrame, keys: Seq[String],
      nFiles: Int, bits: Int, tracked: Boolean): Long = {
    val n = keys.size
    require(n >= 1, s"z-order needs >= 1 dimension, got $keys")
    require(keys.distinct.size == n, s"z-order keys must be distinct: $keys")
    require(n * bits < 64,
      s"$n dims x $bits bits exceeds the 63-bit interleave budget")
    require(!keys.exists(_.contains('|')), s"z-order key names must not contain '|'")
    val encs = keys.map(k => statLongExpr(df.schema(k).dataType, k))
    val aggExprs = encs.flatMap(e => Seq(min(e), max(e)))
    val statHead = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    // empty (or all-null-key) dims degenerate to trivial bounds: null
    // keys get a null z, pool into the first range partition, and
    // their file records no stats — pruning conservatively keeps
    // stat-less files, mirroring commitClustered's null treatment
    val loHis: Seq[(Long, Long)] = keys.indices.map { j =>
      if (statHead.isNullAt(2 * j) || statHead.isNullAt(2 * j + 1)) (0L, 0L)
      else (statHead.getLong(2 * j), statHead.getLong(2 * j + 1))
    }
    val side = (1L << bits) - 1
    // divide-first scaling: step = range/side keeps every intermediate
    // within Long even for epoch-micros keys (multiply-first would
    // overflow at ~Long.Max/side range width)
    def scaled(enc: org.apache.spark.sql.Column, lo: Long, hi: Long) = {
      val step = math.max(1L, (hi - lo) / side)
      least((enc - lit(lo)) / lit(step), lit(side)).cast("long")
    }
    val z = (0 until bits).flatMap { i =>
      keys.indices.map { j =>
        shiftleft(shiftright(scaled(encs(j), loHis(j)._1, loHis(j)._2), i)
          .bitwiseAND(lit(1L)), n * i + j)
      }
    }.reduce(_ + _)
    val version = currentVersion + 1
    val (snap, files, _) = writeData(df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"), version)
    val stats = perFileStats(files, aggExprs)
    val statLines = files.flatMap { rel =>
      stats.get(dvAddressOf(rel)).filterNot(r => (1 to 2 * n).exists(r.isNullAt))
        .map(r => s"#rangen=$rel|${(1 to 2 * n).map(r.getLong).mkString("|")}")
    }
    val head =
      if (tracked) Vector(SnapshotTable.CdcTracked, s"#zclustern=${keys.mkString("|")}")
      else Vector(s"#zclustern=${keys.mkString("|")}")
    val tmp = writeTmpManifest(version, df.schema,
      (head ++ statLines) ++ files, op = if (tracked) "OPTIMIZE" else "WRITE")
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); throw e
    }
    version
  }

  /** Files of `version` whose N-dim stats hyper-rectangle intersects
    * the query box (per-dimension [lo, hi], aligned with the
    * committed key order); stat-less files conservatively kept. */
  def prunedFilesN(version: Long, box: Seq[(Long, Long)]): Seq[String] = {
    val lines = manifestLines(version)
    SnapshotTable.boxPrunedFiles(lines, manifestFiles(lines),
      box.map { case (lo, hi) => (Some(lo), Some(hi)) })
  }

  /** N-dim box read over an N-z-ordered version: manifest
    * hyper-rectangle pruning, then the exact residual filter on
    * every dimension. `box` maps logical key name → encoded [lo, hi]
    * and must cover the committed dimensions in order. */
  def readWhereN(version: Long, box: Seq[(String, Long, Long)]): DataFrame =
    prunedRead(version, box.flatMap { case (k, lo, hi) => between(k, lo, hi) }, { lines =>
      val keys = lines.drop(2).collectFirst {
        case SnapshotTable.ZClusterNMeta(ks) => ks.split('|').toSeq
      }.getOrElse(throw new IllegalArgumentException(
        s"version $version is not N-dim z-ordered"))
      val logical = keys.map(k => SnapshotTable.logicalNameFor(lines, k))
      require(box.map(_._1) == logical,
        s"box keys ${box.map(_._1)} != z-order dims $logical at $root v$version")
    }) { schema =>
      box.map { case (k, lo, hi) =>
        val e = statLongExpr(schema(k).dataType, k)
        e >= lo && e <= hi
      }.reduce(_ && _)
    }

  /** Compact the current version into `targetFiles` data files and
    * commit the rewrite as v+1 with IDENTICAL content (hash-equality
    * asserted in spec). The operational companion of streaming
    * appends: every appendOnce adds a micro-batch's worth of small
    * files to the manifest, and at 100 TB the read cost of a
    * small-file table is dominated by per-file open/seek overhead —
    * compaction trades one bounded rewrite for every future read.
    * Old versions keep reading their original (uncompacted) files;
    * vacuum reclaims them only when their manifests are gone. */
  def compact(targetFiles: Int = 1): Long = {
    val baseVersion = currentVersion
    val version = baseVersion + 1
    val prev = if (baseVersion > 0) manifestLines(baseVersion) else Vector.empty[String]
    val (snap, files, schema) = writeData(read().coalesce(targetFiles), version)
    // a full rewrite folds every DV in and keeps NO old stat line —
    // but under a cluster claim the fresh files mint their own
    // #range/#sum (exact over live rows by construction), so the
    // claim and the zero-IO aggregates survive the compaction; the
    // coalesced files are not key-ordered, so pruning granularity
    // coarsens to the file count, which is the trade compaction makes
    // compact() rewrites through read(), so the fresh files carry
    // CURRENT LOGICAL names (the published schema resets its column
    // mapping — every old file left the manifest) — the claim line is
    // re-minted in that namespace too
    val keyLogical = prev.drop(2).collectFirst { case ClusterMeta(k) => k }
      .map(k => SnapshotTable.logicalNameFor(prev, k))
    val newStats: Option[(Seq[String], Seq[String], Seq[String])] =
      keyLogical.map(k => mintStagedStats(files, k, schemaOf(prev)(k).dataType))
    val claimAndStats: Seq[String] = (keyLogical, newStats) match {
      case (Some(k), Some((ranges, sums, _))) =>
        s"#cluster=$k" +: (ranges ++ sums)
      case _ => Seq.empty
    }
    val rowsLines = newStats.map(_._3).getOrElse(footerRowsLines(files))
    // content-identical rewrite: the commit TRACKS row-level changes
    // (there are exactly zero), so a change-feed consumer skips it
    // instead of erroring on an untracked rewrite
    val tmp = writeTmpManifest(version, schema,
      (SnapshotTable.CdcTracked +: (claimAndStats ++ rowsLines)) ++ files,
      op = "COMPACT")
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); throw e
    }
    version
  }

  /** PARTIAL OPTIMIZE (Delta's bin-packing OPTIMIZE): rewrite ONLY
    * the data files smaller than `smallBytes` into `targetFiles`
    * coalesced files — their deletion-vector tombstones folding in —
    * while every file at or above the threshold is CARRIED BY PATH.
    * Cost is O(small files), not O(table): the maintenance verb a
    * streaming-ingest table runs continuously, where [[compact]]'s
    * full rewrite would dwarf the ingest itself. Content-identical
    * commit (tracks zero row-level changes — feed consumers skip it).
    * Carried files keep their stat lines and their DV entries
    * (sidecars whose every addressed file was rewritten elide);
    * rewritten files' stat lines drop with them. Refuses on bucketed
    * layouts — the rewrite would break bucket addressing. */
  def compactSmall(smallBytes: Long, targetFiles: Int = 1): Long = {
    val baseVersion = currentVersion
    require(baseVersion > 0, s"table at $root has no committed version")
    val lines = manifestLines(baseVersion)
    require(!lines.drop(2).exists(_.startsWith("#buckets=")),
      s"compactSmall on a bucketed table would break bucket addressing at $root " +
        "(rewrite via commitBucketed)")
    val files = manifestFiles(lines)
    val (small, big) = files.partition(rel =>
      Files.size(rootPath.resolve(rel)) < smallBytes)
    if (small.size <= 1) return baseVersion // nothing worth folding
    val version = baseVersion + 1
    val schema = schemaOf(lines)
    val (snap, newFiles, _) = writeData(
      toPhysDf(scanWithDv(lines, small).coalesce(targetFiles), schema), version)
    val bigSet = big.toSet
    val bigAddrs = big.map(dvAddressOf).toSet
    // DV entries addressing rewritten files go inert (the names leave
    // the manifest); a prior ledger proves whether anything still
    // resolves — if not, the sidecar lines drop entirely
    val priorDvRows = SnapshotTable.dvRowsOf(lines)
    val keptDvRows = priorDvRows.filter { case (a, _) => bigAddrs(a) }
    val priorDvInert = manifestDvFiles(lines).nonEmpty &&
      priorDvRows.nonEmpty && keptDvRows.isEmpty
    val dvLines = if (priorDvInert) Vector.empty[String] else manifestDvLines(lines)
    // WRITE-TIME STATS FOR THE COALESCED OUTPUT: under a full cluster
    // claim the folded files' stat lines die with them, so the fresh
    // files MUST mint their own #range/#sum (one O(small data) pass —
    // the rewrite just read the same bytes) or the carried claim
    // would answer MIN/MAX/SUM from the surviving big files' stats
    // only: wrong extremes whenever a folded file held the min or
    // max, NULL bounds when every file folds. The fresh bounds are
    // exact over live rows by construction (the rewrite applied the
    // tombstones), which is also what keeps the #dvminmax claim
    // honest for the carried files' surviving DVs.
    val clusterKeyPhys = lines.drop(2).collectFirst { case ClusterMeta(k) => k }
    val newStats: Option[(Seq[String], Seq[String], Seq[String])] =
      clusterKeyPhys.map { k =>
        mintStagedStats(newFiles, k,
          schemaOf(lines)(SnapshotTable.logicalNameFor(lines, k)).dataType)
      }
    val carriedMeta = lines.drop(2).filter(_.startsWith("#")).filter {
      case l if SnapshotTable.isPerCommitLine(l) => false
      case SnapshotTable.DvRowsMeta(_, _) => false // regenerated filtered
      case DvMeta(_) => false // re-added above (or elided)
      // the marker's every-#range-re-minted claim only covers files
      // still listed; carried big files keep exact bounds, and the
      // fresh files minted exact ones — keep it only while DVs (and
      // therefore the claim) still exist
      case l if l == SnapshotTable.DvMinMax => dvLines.nonEmpty
      case SnapshotTable.FileStat(rel) => bigSet(rel)
      case _ => true
    }
    val newRowsLines = newStats.map(_._3).getOrElse(footerRowsLines(newFiles))
    val newStatLines = newStats.map(m => m._1 ++ m._2).getOrElse(Seq.empty)
    val tmp = writeTmpManifest(version, schema,
      (SnapshotTable.CdcTracked +: (carriedMeta ++ newStatLines ++ newRowsLines ++
        SnapshotTable.dvRowsLines(keptDvRows) ++ dvLines)) ++
        (big ++ newFiles), op = "COMPACTSMALL")
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(snap); throw e
    }
    version
  }

  /** COMPACT DELETION VECTORS: merge every stacked `#dv=` sidecar set
    * into ONE fresh range-clustered sidecar dataset. Deletes STACK one
    * sidecar set per commit, and every read pays one sidecar-set load
    * per stacked delete; this maintenance verb folds them at
    * O(tombstones) cost — NO data file is read or rewritten (compare
    * [[compact]]/[[optimizeZOrderedN]], which fold DVs by rewriting
    * data). Inert entries addressing files no longer in the manifest
    * are dropped on the way through. Entries are disjoint across
    * stacked sidecars by construction (every delete tombstones LIVE
    * rows), so the merge is a plain union. The commit is
    * content-identical: it tracks zero row-level changes
    * (change-feed consumers skip it), carries every stat line
    * (`#rows`/`#dvrows`/`#range`/`#dvminmax` all stay exact), and
    * returns the current version unchanged when there is ≤1 sidecar
    * file to fold. */
  def compactDvs(): Long = {
    val baseVersion = currentVersion
    require(baseVersion > 0, s"table at $root has no committed version")
    val lines = manifestLines(baseVersion)
    val dvRels = manifestDvFiles(lines)
    if (dvRels.size <= 1) return baseVersion
    val version = baseVersion + 1
    val liveAddrs = manifestFiles(lines).map(dvAddressOf)
    val addrDf = spark.createDataFrame(
      spark.sparkContext.parallelize(liveAddrs.map(Row(_)), 1),
      StructType(Seq(StructField(SnapshotTable.DvFileCol,
        org.apache.spark.sql.types.StringType, nullable = false))))
    val merged = dvScan(dvRels)
      .join(broadcast(addrDf), Seq(SnapshotTable.DvFileCol), "left_semi")
    val dvDir = dataDir.resolve(s"v$version-dv-${UUID.randomUUID()}")
    val newDvLines =
      if (merged.isEmpty) Vector.empty[String]
      else {
        merged.repartitionByRange(col(SnapshotTable.DvFileCol),
            col(SnapshotTable.DvPosCol))
          .sortWithinPartitions(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol)
          .write.parquet(dvDir.toString)
        listParquetRec(dvDir).map(p => s"#dv=${rootPath.relativize(p)}").sorted
      }
    val carried = lines.drop(2).filter(_.startsWith("#")).filterNot(l =>
      SnapshotTable.isPerCommitLine(l) || DvMeta.matches(l))
    val tmp = writeTmpManifest(version, schemaOf(lines),
      (SnapshotTable.CdcTracked +: (carried ++ newDvLines)) ++ manifestFiles(lines),
      op = "COMPACTDV")
    try publish(version, tmp)
    catch { case e: CommitConflictException =>
      deleteRecursively(dvDir); throw e
    }
    version
  }

  /** The shared metadata-only schema-change commit behind
    * [[renameColumn]]/[[dropColumn]]/[[addColumn]]: carries EVERY
    * data file, DV sidecar and layout stat line of the current
    * version untouched (per-commit lineage markers excluded, same
    * rule as [[restore]]) under the NEW schema, plus any newly
    * retired physical names. One manifest write — O(1) whatever the
    * table size. */
  /** RENAME COLUMN, metadata-only (no data file touched): the field's
    * PHYSICAL name is pinned to what the files already say and only
    * the logical name changes — every read path translates through
    * the mapping, old versions keep their own names under time
    * travel, and the old name is RETIRED so a future re-add can never
    * resurrect this column's data. Delta's column-mapping name
    * mode. */
  def renameColumn(oldName: String, newName: String): Long =
    alterSchema(Seq(SnapshotTable.SchemaOp.Rename(oldName, newName)), "RENAME")

  /** DROP COLUMN, metadata-only: the field leaves the schema (reads
    * stop projecting it — the bytes stay in the files until a
    * rewrite), its physical name is retired against resurrection, and
    * every older version still serves the column under time
    * travel. */
  def dropColumn(name: String): Long =
    alterSchema(Seq(SnapshotTable.SchemaOp.Drop(name)), "DROP")

  /** ADD COLUMN, metadata-only (nullable — old files surface NULL for
    * it, the same by-name resolution as [[appendEvolved]]): a
    * re-added retired name gets a FRESH physical identity so dropped
    * data stays dropped. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Long =
    alterSchema(Seq(SnapshotTable.SchemaOp.Add(name, dataType)), "ADDCOL")

  /** TYPE WIDENING, metadata-only (Delta's typeWidening): the column's
    * declared type widens along a LOSSLESS promotion lane
    * (byte→short→int→long, float→double, byte/short/int→double) — no
    * data file is rewritten; readers decode each file's committed
    * physical type and promote up (parquet by-name resolution +
    * Spark's widening vectorized decode). Narrowing and cross-family
    * changes refuse loudly. Per-file `#range=`/`#rows=` stats stay
    * valid: the encoded Long stats domain is unchanged by an integral
    * widen, and float keys were never stat-eligible. */
  def widenColumn(name: String, newType: org.apache.spark.sql.types.DataType): Long =
    alterSchema(Seq(SnapshotTable.SchemaOp.Widen(name, newType)), "WIDEN")

  /** Apply a SEQUENCE of schema changes as ONE metadata-only commit:
    * each op validates against the schema as evolved by its
    * predecessors, and nothing publishes unless EVERY op validates —
    * a multi-action `ALTER TABLE` is atomic (a mid-sequence failure
    * leaves no partial commit, unlike per-op commits). Retired names
    * accumulate WITHIN the sequence too, so `RENAME a TO b` followed
    * by `ADD COLUMN a` in the same statement still mints a fresh
    * physical identity for the re-used name. */
  def alterSchema(ops: Seq[SnapshotTable.SchemaOp], opTag: String = "ALTER"): Long = {
    require(ops.nonEmpty, s"alterSchema at $root needs at least one change")
    alterAtomic(ops, Seq.empty, opTag)
  }

  /** One multi-action `ALTER TABLE`, schema ops AND column-nullability
    * changes together, as ONE commit: everything validates first
    * (pure checks, then the add-time NOT-NULL data scan), and a
    * failure anywhere leaves NOTHING committed — including the
    * nullability half, which per-change [[setNotNull]]/[[dropNotNull]]
    * calls would have published eagerly. `nullOps` is
    * `(column, makeNotNull)`; a DROP NOT NULL on a column with no
    * `__notnull_` marker is a no-op (Delta's semantics). Rename/drop
    * validation sees the constraint set AS EVOLVED by the nullability
    * half, so `DROP NOT NULL a` + `RENAME a TO b` in one statement
    * composes, while `SET NOT NULL a` + `RENAME a TO b` refuses
    * loudly. */
  def alterAtomic(ops: Seq[SnapshotTable.SchemaOp],
      nullOps: Seq[(String, Boolean)], opTag: String = "ALTER"): Long = {
    import SnapshotTable.SchemaOp
    require(ops.nonEmpty || nullOps.nonEmpty,
      s"alterAtomic at $root needs at least one change")
    val cur = currentVersion
    require(cur > 0, s"table at $root has no committed version")
    val lines = manifestLines(cur)
    var schema = schemaOf(lines)
    var retired = SnapshotTable.retiredOf(lines)
    val newlyRetired = Seq.newBuilder[String]
    val csNow = SnapshotTable.constraintsOf(lines)
    // translate the nullability half FIRST (pure metadata checks —
    // the data scan for freshly-set NOT NULLs runs after every pure
    // check below has passed, still before anything publishes)
    val added = Seq.newBuilder[(String, String)]
    val droppedNames = Seq.newBuilder[String]
    nullOps.foreach { case (colName, makeNotNull) =>
      require(schema.fieldNames.contains(colName),
        s"${if (makeNotNull) "setNotNull" else "dropNotNull"}: " +
          s"no column '$colName' at $root")
      val marker = s"__notnull_$colName"
      if (makeNotNull) {
        require(colName.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"setNotNull needs a plain identifier, got '$colName'")
        require(!csNow.exists(_._1 == marker),
          s"constraint '$marker' already exists at $root")
        added += marker -> s"$colName IS NOT NULL"
      } else if (csNow.exists(_._1 == marker)) droppedNames += marker
      // no marker -> already nullable: DROP NOT NULL is a no-op
    }
    val addedCs = added.result()
    val dropped = droppedNames.result().toSet
    // a CHECK constraint stores its expression as SQL text over
    // LOGICAL names — renaming or dropping a referenced column would
    // silently break or falsify it. Refuse (Delta's rule): drop the
    // constraint first. Widening is fine (the expression still
    // resolves; lossless promotion cannot flip its verdict's domain).
    // The set checked is the one AS EVOLVED by this statement's own
    // nullability half.
    val csEffective = csNow.filterNot(c => dropped(c._1)) ++ addedCs
    def requireUnconstrained(colName: String, what: String): Unit =
      csEffective.foreach { case (n, sql) =>
        require(!constraintRefs(sql).contains(
          colName.toLowerCase(java.util.Locale.ROOT)),
          s"cannot $what column $colName: referenced by CHECK constraint " +
            s"$n ($sql) at $root — drop the constraint first")
      }
    ops.foreach {
      case SchemaOp.Rename(oldName, newName) =>
        requireUnconstrained(oldName, "rename")
        require(schema.fieldNames.contains(oldName),
          s"renameColumn: no column $oldName at $root")
        require(!schema.fieldNames.contains(newName),
          s"renameColumn: column $newName already exists at $root")
        schema = StructType(schema.fields.map(f =>
          if (f.name == oldName) SnapshotTable.physPinned(f).copy(name = newName)
          else f))
        newlyRetired += oldName
        retired += oldName
      case SchemaOp.Drop(name) =>
        requireUnconstrained(name, "drop")
        val field = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"dropColumn: no column $name at $root"))
        require(schema.fields.length > 1,
          s"dropColumn: cannot drop the last column of $root")
        val phys = SnapshotTable.physNameOf(field)
        schema = StructType(schema.fields.filterNot(_.name == name))
        newlyRetired += phys
        retired += phys
      case SchemaOp.Add(name, dataType) =>
        require(!schema.fieldNames.contains(name),
          s"addColumn: column $name already exists at $root")
        val usedPhys = schema.fields.map(SnapshotTable.physNameOf).toSet
        val base = StructField(name, dataType, nullable = true)
        val field =
          if (!retired.contains(name) && !usedPhys.contains(name)) base
          else base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(SnapshotTable.PhysKey,
              s"${name}_g${UUID.randomUUID().toString.take(8)}").build())
        schema = StructType(schema.fields :+ field)
      case SchemaOp.Widen(name, newType) =>
        val field = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"widenColumn: no column $name at $root"))
        require(SnapshotTable.widensTo(field.dataType, newType),
          s"widenColumn: ${field.dataType.simpleString} -> ${newType.simpleString} " +
            s"is not a lossless widening for $name at $root")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = newType) else f))
    }
    if (ops.isEmpty && addedCs.isEmpty && dropped.isEmpty)
      return cur // every nullability change was a no-op drop
    // every pure check has passed — now the one data scan add-time
    // NOT NULL validation needs (all freshly-set columns in a single
    // pass; IS NOT NULL never evaluates to SQL NULL, so no
    // constraintPass coalesce subtlety applies)
    if (addedCs.nonEmpty) {
      val anyNull = addedCs.map(c => col(c._1.stripPrefix("__notnull_")).isNull)
        .reduce(_ || _)
      val violations = read(cur).filter(anyNull).limit(1).count()
      require(violations == 0L, s"cannot add CHECK constraint " +
        addedCs.map { case (n, sql) => s"$n ($sql)" }.mkString(", ") +
        s": existing rows violate it at $root")
    }
    if (ops.nonEmpty)
      require(!lines.drop(2).exists(_.startsWith("#buckets=")),
        s"$opTag on a bucketed table requires a rewrite (commitBucketed) at $root")
    // ONE commit carrying both halves: constraint lines managed
    // explicitly (carryConstraints=false — dropped markers must not
    // be auto-resurrected at the choke point); a pure-constraint
    // commit stays CdcTracked (zero row-level changes, change feeds
    // pass through) exactly like addConstraint/dropConstraint
    val kept = lines.drop(2).filterNot {
      case SnapshotTable.ConstraintMeta(n, _) if dropped(n) => true
      case l => SnapshotTable.isPerCommitLine(l)
    }
    val tracked: Seq[String] =
      if (ops.isEmpty) Seq(SnapshotTable.CdcTracked) else Seq.empty
    val body = tracked ++ kept ++
      addedCs.map { case (n, sql) => s"#constraint=$n|$sql" } ++
      newlyRetired.result().map(n => s"#retired=$n")
    val version = cur + 1
    publish(version, writeTmpManifest(version, schema, body, op = opTag,
      carryConstraints = false))
    version
  }

  /** RESTORE: make `toVersion`'s exact content the CURRENT version by
    * re-committing its manifest body — data files, layout stats,
    * deletion-vector and bloom sidecars all carried BY PATH into v+1.
    * Metadata-only (O(1): nothing is read or rewritten), atomic like
    * every commit, and non-destructive — the rolled-back-over
    * versions stay time-travelable, so a bad write is undone with one
    * manifest write instead of a table rewrite. Per-commit lineage
    * markers (#batchId/#writer/#cdc) are NOT carried: the restore is
    * a new commit, not a replay (a carried batchId would wrongly
    * dedupe a future streaming epoch), and it does not track
    * row-level changes — use [[diff]] across a restore (Delta's
    * RESTORE has the same CDF gap). */
  def restore(toVersion: Long): Long = {
    val cur = currentVersion
    require(toVersion >= 1 && toVersion <= cur,
      s"restore: no committed v$toVersion at $root")
    val lines = manifestLines(toVersion)
    val body = lines.drop(2).filterNot(SnapshotTable.isPerCommitLine)
    val version = cur + 1
    // carryConstraints=false: a restore REVERTS table metadata too —
    // the restored version's own `#constraint=` lines (already in
    // `body`) win over the rolled-back-over version's
    val tmp = writeTmpManifest(version, schemaOf(lines), body, op = "RESTORE",
      carryConstraints = false)
    publish(version, tmp)
    version
  }

  /** SHALLOW CLONE: create an independent table at `destRoot` whose
    * first version references THIS table's current data files (and
    * DV/bloom sidecars) by ABSOLUTE path — zero bytes copied, O(1)
    * metadata (Delta's SHALLOW CLONE). The clone then evolves
    * independently: its appends/merges/deletes/compactions write
    * under its own root and never touch the source's files, so a
    * 100 TB table forks into a writable dev/test copy instantly.
    * Layout stats and DV addresses survive path absolutization
    * (DV addressing uses the last two path segments only), so data
    * skipping and tombstones keep working on the clone. Caveat
    * (Delta's too): the source's vacuum/drop does not know about
    * clones — don't reclaim a source out from under one. */
  def shallowCloneTo(destRoot: String): SnapshotTable = {
    val v = currentVersion
    require(v > 0, s"shallowCloneTo: no committed version at $root")
    val lines = manifestLines(v)
    def abs(rel: String): String = rootPath.resolve(rel).toString
    val body = lines.drop(2).flatMap {
      case l if SnapshotTable.isPerCommitLine(l) => None
      case DvMeta(rel) => Some(s"#dv=${abs(rel)}")
      case BloomFMeta(rel, bloomRel) =>
        Some(s"#bloomf=${abs(rel)}|${abs(bloomRel)}")
      // the path sits right after the kind's '='
      case l @ SnapshotTable.FileStat(rel) =>
        Some(l.patch(l.indexOf('=') + 1, abs(rel), rel.length))
      case l if l.startsWith("#") => Some(l) // layout claims, #dvrows (address-keyed)
      case rel => Some(abs(rel))
    }
    val clone = SnapshotTable(spark, destRoot)
    val tmp = clone.writeTmpManifest(1L, schemaOf(lines), body, op = "CLONE")
    clone.publish(1L, tmp)
    clone
  }

  /** ROW-LEVEL change feed across (vA, vB]: every version's exact row
    * changes as Delta-CDF-style rows — the table's columns plus
    * [[SnapshotTable.ChangeTypeCol]] (`insert`, `update_preimage`,
    * `update_postimage`, `delete`). Unlike the file-granular
    * [[changesBetween]], this is row-exact THROUGH rewriting writers:
    * merge/mergeBucketed/applyChanges record their change
    * classification at commit time (computed inside the merge's own
    * full-outer join — no extra table scan) into `#cdc=` manifest
    * files, SQL `MERGE INTO`/`UPDATE`/`DELETE FROM` mint theirs in
    * [[commitDelta]] (post-images from the staged parts, pre-images
    * by address lookup over only the touched files), compaction
    * records "tracked, zero changes", and appends derive inserts from
    * the manifest file diff. Read cost is O(changelog + appended
    * files) — never the table. A version written by a NON-tracking
    * writer (plain [[commit]]) has no row-level record and raises;
    * use [[diff]] there. */
  def rowChangesBetween(vA: Long, vB: Long): DataFrame = {
    require(vA < vB, s"rowChangesBetween needs vA < vB, got ($vA, $vB)")
    val perVersion = ((vA + 1) to vB).map { v =>
      val lines = manifestLines(v)
      val schema = org.apache.spark.sql.types.DataType.fromJson(lines(1))
        .asInstanceOf[StructType]
      val cdcSchema = schema.add(SnapshotTable.ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false)
      if (cdcTracked(lines)) {
        val files = manifestCdcFiles(lines).map(rel => rootPath.resolve(rel).toString)
        if (files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cdcSchema)
        else spark.read.schema(cdcSchema).parquet(files: _*)
      } else if (SnapshotTable.isAppendCommitOf(lines)) {
        // append commit: the added files ARE the inserted rows
        // (isAppendCommitOf excludes #replace overwrites, whose
        // batchId is only an idempotence ledger — their dropped rows
        // have no recorded deletes)
        changesBetween(v - 1, v)
          .withColumn(SnapshotTable.ChangeTypeCol, lit("insert"))
      } else throw new IllegalStateException(
        s"version $v at $root does not track row-level changes " +
          "(written by plain commit); use diff(vA, vB, key) instead")
    }
    perVersion.reduceLeft(_ unionAll _)
  }

  /** Commit HISTORY (DESCRIBE HISTORY): one row per committed
    * version — version, operation verb, commit wall time, number of
    * listed data files, and the streaming batch id when present. Read
    * purely from the manifests (metadata-sized); versions committed
    * before op tracking surface a NULL op with the manifest's mtime. */
  def history(): DataFrame = {
    val rows = listCommitted().sorted.map { v =>
      val lines = manifestLines(v)
      val meta = lines.drop(2)
      val opTs = meta.collectFirst { case SnapshotTable.OpMeta(o, ts) => (o, ts.toLong) }
      val ts = opTs.map(_._2).getOrElse(
        Files.getLastModifiedTime(manifestPath(v)).toMillis)
      val batchId = meta.collectFirst { case BatchMeta(b) => java.lang.Long.valueOf(b.toLong) }
      Row(v, opTs.map(_._1).orNull,
        new java.sql.Timestamp(ts),
        manifestFiles(lines).size.toLong, batchId.orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("operation", org.apache.spark.sql.types.StringType, nullable = true),
        StructField("committed_at", org.apache.spark.sql.types.TimestampType, nullable = false),
        StructField("num_files", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("batch_id", org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** TIMESTAMP time travel: the newest version committed at or before
    * `tsMillis` (Delta's TIMESTAMP AS OF resolution). Commit times
    * come from the manifests' own `#op= ts=` records (mtime for
    * pre-tracking versions). */
  def versionAt(tsMillis: Long): Long =
    SnapshotTable.versionAtTs(rootPath, tsMillis)

  /** RETIRE old versions (log retention): delete every manifest below
    * the newest `keepLast` committed versions. Metadata-only and
    * instant — data files are untouched here; whatever the expired
    * manifests referenced EXCLUSIVELY becomes unreferenced garbage
    * that the next [[vacuum]] reclaims, while files carried forward
    * into surviving manifests (append chains reference history by
    * path) stay pinned. Time travel to an expired version raises
    * loudly. The Delta/Iceberg retention trade-offs apply and are
    * deliberate: (a) a version expired under a live reader can have
    * its files vacuumed — retention must exceed the longest reader;
    * (b) the streaming-append idempotence ledger (#batchId lines)
    * lives in the manifests, so retention must also exceed any
    * writer's replay horizon. */
  def expireVersions(keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "expireVersions needs keepLast >= 1")
    val committed = listCommitted().sorted
    if (committed.size <= keepLast) return
    val cutoff = committed.takeRight(keepLast).head
    committed.filter(_ < cutoff).foreach { v =>
      try Files.deleteIfExists(manifestPath(v))
      catch { case _: java.io.IOException => () } // racing expiry: skip
    }
  }

  /** Delete data dirs no committed manifest references and stray tmp
    * manifests — the garbage a crash can leave. Never touches
    * committed state, so it is safe to run concurrently with readers
    * of any committed version.
    *
    * CONCURRENT WRITERS: an in-flight commit's snapshot dir is
    * unreferenced until publish, so a naive vacuum racing a writer
    * between writeData and publish would delete the dir — and publish
    * would still succeed, committing a manifest whose files are gone
    * (unreadable committed state). The guard is Delta-style age
    * retention: only artifacts older than `retainMillis` (by mtime;
    * default 15 min, far above any commit's writeData→publish window)
    * are reclaimed, so a live writer's fresh dir always survives.
    * Pass `retainMillis = 0` ONLY when the caller guarantees no
    * concurrent writer (e.g. single-writer maintenance windows,
    * tests) — proven by SnapshotTableSpec's vacuum-vs-writer race. */
  def vacuum(retainMillis: Long = SnapshotTable.DefaultVacuumRetainMs): Unit = {
    val cutoff = System.currentTimeMillis() - retainMillis
    def oldEnough(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false } // vanished/racing: skip
    // a data file's referenced unit is its SNAPSHOT dir — the ancestor
    // directly under data/ (bucketed files sit one `__bdir=` level
    // deeper than flat ones)
    def snapDirOf(p: Path): Path = {
      var cur = p
      while (cur.getParent != null && cur.getParent != dataDir) cur = cur.getParent
      cur
    }
    val referenced: Set[String] = listCommitted().flatMap { v =>
      val lines = manifestLines(v)
      // data files, row-level changelog files, deletion-vector and
      // bloom sidecars all pin their dirs
      (manifestFiles(lines) ++ manifestCdcFiles(lines) ++
        manifestDvFiles(lines) ++ manifestBloomFiles(lines) ++
        lines.drop(2).collect { case QuarantineMeta(rel) => rel })
        .map(rel => snapDirOf(rootPath.resolve(rel)).toString)
    }.toSet
    val sData = Files.list(dataDir)
    val orphans =
      try sData.iterator().asScala
        .filterNot(p => referenced.contains(p.toString))
        .filter(oldEnough).toVector
      finally sData.close()
    orphans.foreach(deleteRecursively)
    val sMan = Files.list(manifestsDir)
    val tmps =
      try sMan.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".tmp-"))
        .filter(oldEnough).toVector
      finally sMan.close()
    tmps.foreach(p => Files.deleteIfExists(p))
    // segment GC: content-addressed manifest segments referenced by
    // NO committed manifest (their versions expired, or a crashed
    // commit orphaned them) are reclaimable like any other artifact
    val refSegs: Set[String] = listCommitted().flatMap { v =>
      SnapshotTable.manifestRawLinesAt(rootPath, v)
        .collect { case SnapshotTable.SegMeta(name) => name }
    }.toSet
    val sSeg = Files.list(manifestsDir)
    val deadSegs =
      try sSeg.iterator().asScala
        .filter(_.getFileName.toString.startsWith("seg-"))
        .filterNot(p => refSegs.contains(p.getFileName.toString))
        .filter(oldEnough).toVector
      finally sSeg.close()
    deadSegs.foreach(p => Files.deleteIfExists(p))
  }

  private def deleteRecursively(p: Path): Unit =
    SnapshotTable.deleteRecursively(p)
}

object SnapshotTable {
  /** Default vacuum retention: any unreferenced artifact younger than
    * this survives, so a concurrent commit's writeData→publish window
    * is covered with orders-of-magnitude margin. */
  val DefaultVacuumRetainMs: Long = 15 * 60 * 1000L

  /** Column carrying a CDC row's classification in
    * [[SnapshotTable.rowChangesBetween]] output: `insert`,
    * `update_preimage`, `update_postimage`, or `delete`. */
  val ChangeTypeCol: String = "_change_type"

  /** Manifest marker: this commit RECORDS row-level changes (its
    * `#cdc=` lines are the complete change set — possibly zero, as
    * for compaction's content-identical rewrite). */
  private[tables] val CdcTracked: String = "#cdctracked"

  /** Manifest marker: this commit REPLACED the table's content
    * (INSERT OVERWRITE) — a rewriting writer despite carrying a
    * `#batchId=` ledger line. */
  private[tables] val ReplaceMarker: String = "#replace"

  /** Manifest marker: every `#range=` bound is EXACT over the live
    * (DV-filtered) rows — DV deletes on clustered tables re-mint
    * touched files' bounds, so MIN/MAX stays metadata-answerable
    * under tombstones. Never minted over prior DVs that lack it (a
    * pre-feature commit): their bounds may already be stale. */
  private[tables] val DvMinMax: String = "#dvminmax"

  /** Column tagging a quarantined row with the name of the first
    * constraint it failed, in [[SnapshotTable.quarantine]] output. */
  val ViolatedCol: String = "_violated"

  /** Byte cap for string min/max manifest stats — bounds longer than
    * this are truncated (lower: prefix; upper: incremented prefix). */
  val StringStatMaxBytes: Int = 32

  /** Lower bound, truncated: a byte prefix sorts <= the full value
    * under unsigned byte order, so it stays a valid lower bound. */
  private[tables] def truncatedLower(bytes: Array[Byte], cap: Int): Array[Byte] =
    if (bytes.length <= cap) bytes else bytes.take(cap)

  /** Upper bound, truncated: a prefix is NOT a valid upper bound (it
    * sorts below the value), so the last non-0xFF byte is incremented
    * and the tail dropped — the successor of every string sharing the
    * prefix. An all-0xFF prefix has no successor: None = unbounded
    * above. (Unreachable for valid UTF-8, which never contains 0xFF,
    * but kept total for future binary keys.) */
  private[tables] def truncatedUpper(bytes: Array[Byte], cap: Int): Option[Array[Byte]] =
    if (bytes.length <= cap) Some(bytes)
    else {
      val p = bytes.take(cap)
      var i = p.length - 1
      while (i >= 0 && p(i) == -1) i -= 1
      if (i < 0) None
      else {
        val out = java.util.Arrays.copyOf(p, i + 1)
        out(i) = (out(i) + 1).toByte
        Some(out)
      }
    }

  // -- manifest stat-line formats, shared between the instance read
  // -- paths and the DSv2 batch scan's driver-side pruning --
  private[tables] val DvMeta = """#dv=(.+)""".r
  private[tables] val ClusterMeta = """#cluster=(.+)""".r
  // the WEAKENED cluster claim an append leaves behind: carried
  // #range lines still describe this key, but they no longer cover
  // every file — range reads prune conservatively, metadata
  // aggregates must refuse
  private[tables] val ClusterPartMeta = """#clusterpart=(.+)""".r
  private[tables] val ClusterSMeta = """#clusters=(.+)""".r
  private[tables] val RangeMeta = """#range=([^|]+)\|(-?\d+)\|(-?\d+)""".r
  private[tables] val RowsMeta = """#rows=([^|]+)\|(\d+)""".r
  // per-file key SUM + non-null count (integral cluster keys only):
  // powers metadata-only SUM/AVG the same way #range powers MIN/MAX
  private[tables] val SumMeta = """#sum=([^|]+)\|(-?\d+)\|(\d+)""".r
  // N-dim z-order: keys joined by '|'; per-file bounds as lo|hi pairs
  // in key order
  private[tables] val ZClusterNMeta = """#zclustern=(.+)""".r
  private[tables] val RangeNMeta = """#rangen=([^|]+)\|(-?\d+(?:\|-?\d+)+)""".r
  private[tables] val RangeSMeta = """#ranges=([^|]+)\|([^|]*)\|([^|]*)\|([01])""".r
  private[tables] val BloomKMeta = """#bloomk=([^ ]+) fpp=(.+)""".r
  private[tables] val BloomFMeta = """#bloomf=([^|]+)\|(.+)""".r

  // layout claims, each yielding the (physical) key it names; the
  // weakened post-append #clusterpart still drives range pruning
  private[tables] val RangeClaim: PartialFunction[String, String] = {
    case ClusterMeta(k) => k
    case ClusterPartMeta(k) => k
  }
  private[tables] val StringClaim: PartialFunction[String, String] = {
    case ClusterSMeta(k) => k
  }
  private[tables] val BloomClaim: PartialFunction[String, String] = {
    case BloomKMeta(k, _) => k
  }

  /** PER-FILE stat lines, `<kind><data-file path>|<stats>`: the one
    * list of the kinds that describe a single data file. Writers keep
    * or drop them with their file, [[SnapshotTable#shallowCloneTo]]
    * re-roots their path, and manifest segmentation spills them with
    * the file list ([[isSegmentable]]). Matching yields the path. */
  private[tables] object FileStat {
    private val Kinds =
      Seq("#rows=", "#range=", "#ranges=", "#rangen=", "#sum=", "#bloomf=")
    def unapply(l: String): Option[String] =
      Kinds.find(l.startsWith).flatMap { k =>
        val bar = l.indexOf('|', k.length)
        if (bar < 0) None else Some(l.substring(k.length, bar))
      }
  }

  /** Lines that describe ONE commit, not the table: its `#op=` head,
    * its write ledger (`#batchId=`, `#writer=`), its `#quarantine=`
    * and its change feed (`#cdc=`, [[CdcTracked]]). A writer that
    * carries a prior manifest forward drops them and mints its own. */
  private[tables] def isPerCommitLine(l: String): Boolean =
    l.startsWith("#batchId=") || l.startsWith("#writer=") ||
      l.startsWith("#cdc=") || l.startsWith("#quarantine=") ||
      l.startsWith("#op=") || l == CdcTracked

  /** Files among `files` whose `#rangen=` hyper-rectangle meets `box`
    * (per-dimension closed [lo, hi] in committed key order, None =
    * unbounded); stat-less or arity-drifted files are conservatively
    * kept. Shared by [[SnapshotTable#prunedFilesN]] and the DSv2
    * scan's pushdown. */
  private[tables] def boxPrunedFiles(lines: Vector[String], files: Vector[String],
      box: Seq[(Option[Long], Option[Long])]): Vector[String] = {
    val rects: Map[String, Seq[Long]] = lines.drop(2).collect {
      case RangeNMeta(rel, b) => rel -> b.split('|').toSeq.map(_.toLong)
    }.toMap
    files.filter { rel =>
      rects.get(rel) match {
        case Some(b) if b.length == 2 * box.length =>
          box.zipWithIndex.forall { case ((lo, hi), j) =>
            hi.forall(b(2 * j) <= _) && lo.forall(b(2 * j + 1) >= _)
          }
        case _ => true
      }
    }
  }
  private[tables] val OpMeta = """#op=([^ ]+) ts=(\d+)""".r
  private[tables] val ConstraintMeta = """#constraint=([^|]+)\|(.+)""".r

  /** Persistent CHECK constraints of a manifest, sorted by name
    * (deterministic evaluation/error order). */
  private[tables] def constraintsOf(lines: Vector[String]): Seq[(String, String)] =
    lines.drop(2).collect { case ConstraintMeta(n, e) => (n, e) }.sortBy(_._1)
  private[tables] val BucketMeta = """#buckets=(\d+) key=(.+)""".r
  private[tables] val BucketDirP = """__bdir=(\d+)""".r

  /** Deletion-vector sidecar schema: each row tombstones one data row
    * by (file name, row index) address. */
  private[tables] val DvFileCol: String = "__graft_dv_file"
  private[tables] val DvPosCol: String = "__graft_dv_pos"
  /** Spec-injectable interposition run by [[commitFilesOnce]] between
    * staged-constraint validation and the publish CAS — how the
    * concurrent-addConstraint race is tested deterministically.
    * No-op outside tests. */
  private[tables] var beforePublishHook: () => Unit = () => ()

  private[tables] val DvSchema: StructType = StructType(Seq(
    StructField(DvFileCol, org.apache.spark.sql.types.StringType, nullable = false),
    StructField(DvPosCol, org.apache.spark.sql.types.LongType, nullable = false)))

  // ---- COLUMN MAPPING (rename/drop without data rewrite) -------------
  //
  // Delta's "name mode": each schema field may carry a PHYSICAL name
  // in its metadata (`graft.phys`) — the name the column has inside
  // parquet data files. Logical renames change only the field name
  // (phys pinned to what the files already say); drops remove the
  // field (files untouched — readers simply stop projecting it).
  // Rewriting writers (commit/merge/applyChanges/compact/cluster)
  // materialize through read() and write logical names, so their
  // fresh schema resets the mapping — consistent by construction.
  // `#retired=<name>` manifest lines record names that may never be
  // used as a physical name again (the old logical name of a rename,
  // the phys name of a drop): without the guard, re-adding a dropped
  // column would RESURRECT the old files' data under the new field.

  private[tables] val PhysKey = "graft.phys"

  /** Physical (on-disk parquet) name of a schema field. */
  private[tables] def physNameOf(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  /** Pin a field's current physical name explicitly (before renaming
    * its logical name). */
  private[tables] def physPinned(f: StructField): StructField =
    if (f.metadata.contains(PhysKey)) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(PhysKey, f.name).build())

  /** True when any field's physical name differs from its logical
    * name — the only case readers/writers must translate. */
  private[tables] def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physNameOf(f) != f.name)

  /** `schema` with every field under its PHYSICAL name (for parquet
    * file reads/writes). */
  private[tables] def physSchemaOf(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physNameOf(f))))

  /** Rename `schema`'s fields through a logical→physical `map`
    * (fields not in the map keep their name). */
  private[tables] def physApplied(schema: StructType,
      map: Map[String, String]): StructType =
    if (map.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = map.getOrElse(f.name, f.name))))

  /** logical→physical name map of the schema committed at `version`
    * under `rootPath` (empty when identity — the common case). */
  private[tables] def physMapAt(rootPath: Path, version: Long): Map[String, String] = {
    if (version <= 0L) return Map.empty
    schemaAt(rootPath, version).fields.iterator
      .filter(f => physNameOf(f) != f.name)
      .map(f => f.name -> physNameOf(f)).toMap
  }

  /** CURRENT logical name of a physical name recorded in a stat line
    * (`#cluster=`/`#buckets=`/bloom keys are written at commit time,
    * when logical == physical); identity when unmapped. */
  private[tables] def logicalNameFor(lines: Vector[String], phys: String): String = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines(1))
      .asInstanceOf[StructType]
    schema.fields.find(f => physNameOf(f) == phys).map(_.name).getOrElse(phys)
  }

  /** One validated schema change inside an (atomic) [[SnapshotTable.alterSchema]]. */
  sealed trait SchemaOp
  object SchemaOp {
    final case class Rename(oldName: String, newName: String) extends SchemaOp
    final case class Drop(name: String) extends SchemaOp
    final case class Add(name: String,
      dataType: org.apache.spark.sql.types.DataType) extends SchemaOp
    final case class Widen(name: String,
      newType: org.apache.spark.sql.types.DataType) extends SchemaOp
  }

  /** The lossless type-promotion lanes [[SnapshotTable.widenColumn]]
    * accepts (Delta typeWidening's primitive set): integral up-casts,
    * float→double, and integral→double up to INT (a LONG has 64
    * significand-relevant bits, double only 53 — lossy, refused). */
  private[tables] def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  private[tables] val RetiredMeta = """#retired=(.+)""".r

  /** Per-file TOMBSTONE COUNT (`#dvrows=<address>|<n>`, address in
    * the [[dvAddressOf]] domain): written by every DV-minting commit
    * and summed across stacked deletes, so `live rows of a file =
    * its #rows − its #dvrows` stays answerable from METADATA — the
    * COUNT(*) pushdown and the dead-file check survive deletion
    * vectors without opening a data file. Tombstones always target
    * LIVE rows (each delete scans with prior DVs applied), so counts
    * from different commits are disjoint and summable. */
  private[tables] val DvRowsMeta = """#dvrows=(.+)\|(\d+)""".r

  /** Static twin of the instance `dvAddressOf` (same contract), for
    * driver-side consumers without a table handle. */
  private[tables] def dvAddrOf(rel: String): String =
    rel.split('/').takeRight(2).mkString("/")

  private[tables] def dvRowsOf(lines: Vector[String]): Map[String, Long] =
    lines.drop(2).collect { case DvRowsMeta(addr, n) => addr -> n.toLong }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  private[tables] def dvRowsLines(merged: Map[String, Long]): Vector[String] =
    merged.collect { case (addr, n) if n > 0 => s"#dvrows=$addr|$n" }
      .toVector.sorted

  /** Names that may never be used as a PHYSICAL column name again. */
  private[tables] def retiredOf(lines: Vector[String]): Set[String] =
    lines.drop(2).collect { case RetiredMeta(n) => n }.toSet

  /** Extra column SQL-DML sidecars carry ([[GraftDeltaWriter]]): was
    * the tombstone an UPDATE's pre-image address (true) or a
    * DELETE's (false)? Only [[SnapshotTable.commitDelta]]'s CDC pass
    * reads it — every scan-side DV reader projects the two address
    * columns and never sees it. */
  private[tables] val DvUpdCol: String = "__graft_dv_upd"
  private[tables] val DvCdcSchema: StructType =
    DvSchema.add(StructField(DvUpdCol,
      org.apache.spark.sql.types.BooleanType, nullable = false))

  def apply(spark: SparkSession, root: String): SnapshotTable =
    new SnapshotTable(spark, root)

  // -- static manifest readers, shared by the instance API and the
  // -- DSv2 streaming source (which has no SparkSession at
  // -- schema-inference time and only a root path on the driver) --

  private val ManifestName = """v(\d+)\.manifest""".r

  private[tables] def listCommittedAt(manifestsDir: Path): Seq[Long] = {
    if (!Files.isDirectory(manifestsDir)) return Seq.empty
    val s = Files.list(manifestsDir)
    try s.iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case ManifestName(v) => Some(v.toLong)
        case _ => None
      }
    }.toSeq
    finally s.close()
  }

  private[tables] def currentVersionAt(root: Path): Long =
    listCommittedAt(root.resolve("_manifests")).foldLeft(0L)(math.max)

  /** Segmentation knobs (see [[SnapshotTable#writeTmpManifest]]):
    * flat manifests up to this many per-file lines, content-defined
    * chunks of ~64 (hard cap 512) lines beyond it. */
  private[tables] val SegmentThreshold = 256
  private[tables] val SegBoundaryMask = 63
  private[tables] val SegMaxChunk = 512
  private[tables] val SegMeta = """#seg=(.+)""".r

  /** Per-FILE manifest content — data paths, their [[FileStat]]
    * lines and the address-keyed `#dvrows=` tombstone counts — is
    * eligible to live in segment files. Table-level and per-commit
    * metadata stays inline in the stub. */
  private[tables] def isSegmentable(l: String): Boolean =
    !l.startsWith("#") || FileStat.unapply(l).isDefined || l.startsWith("#dvrows=")

  /** Content-defined chunking: a boundary lands after any line whose
    * hash has its low bits clear, so insertions and removals only
    * reshape the chunk they touch — neighbouring chunks keep their
    * content hash and are carried by reference. */
  private[tables] def chunkLines(sorted: Vector[String]): Vector[Vector[String]] = {
    val out = Vector.newBuilder[Vector[String]]
    var cur = Vector.newBuilder[String]
    var n = 0
    sorted.foreach { l =>
      cur += l; n += 1
      if ((scala.util.hashing.MurmurHash3.stringHash(l) & SegBoundaryMask) == 0 ||
          n >= SegMaxChunk) {
        out += cur.result(); cur = Vector.newBuilder[String]; n = 0
      }
    }
    if (n > 0) out += cur.result()
    out.result()
  }

  /** Manifest lines with `#seg=` references EXPANDED — what every
    * reader sees; the raw (stub) form exists only for segment GC. */
  private[tables] def manifestLinesAt(root: Path, version: Long): Vector[String] = {
    val raw = manifestRawLinesAt(root, version)
    if (!raw.exists(_.startsWith("#seg="))) raw
    else raw.flatMap {
      case SegMeta(name) =>
        Files.readAllLines(
          root.resolve("_manifests").resolve(name)).asScala.toVector
      case l => Vector(l)
    }
  }

  private[tables] def manifestRawLinesAt(root: Path, version: Long): Vector[String] = {
    val mp = root.resolve("_manifests").resolve(s"v$version.manifest")
    require(Files.exists(mp), s"version $version is not committed at $root")
    Files.readAllLines(mp).asScala.toVector
  }

  private[tables] def manifestFilesOf(lines: Vector[String]): Vector[String] =
    lines.drop(2).filterNot(_.startsWith("#"))

  private[tables] def schemaAt(root: Path, version: Long): StructType =
    org.apache.spark.sql.types.DataType.fromJson(manifestLinesAt(root, version)(1))
      .asInstanceOf[StructType]

  private val CdcMeta = """#cdc=(.+)""".r
  private val BatchMetaStatic = """#batchId=(-?\d+)""".r

  private[tables] def manifestCdcFilesOf(lines: Vector[String]): Vector[String] =
    lines.drop(2).collect { case CdcMeta(p) => p }

  private[tables] def cdcTrackedOf(lines: Vector[String]): Boolean =
    lines.drop(2).contains(CdcTracked)

  /** Commit wall time of `version` from its `#op= ts=` record, with
    * the manifest's mtime as the pre-tracking fallback. */
  private[tables] def commitTsAt(rootPath: Path, version: Long): Long =
    manifestLinesAt(rootPath, version).drop(2)
      .collectFirst { case OpMeta(_, t) => t.toLong }
      .getOrElse(Files.getLastModifiedTime(
        rootPath.resolve("_manifests").resolve(s"v$version.manifest")).toMillis)

  /** Newest version committed strictly BEFORE `tsMillis`, or 0 when
    * none — the exclusive-start resolution behind a streaming/CDF
    * `startingTimestamp` (the feed over (v, end] then delivers every
    * commit at or after the timestamp, Delta's startingTimestamp
    * contract). */
  private[tables] def versionBeforeTs(rootPath: Path, tsMillis: Long): Long =
    listCommittedAt(rootPath.resolve("_manifests"))
      .map(v => (v, commitTsAt(rootPath, v)))
      .filter(_._2 < tsMillis).map(_._1)
      .maxOption.getOrElse(0L)

  /** Newest version committed at or before `tsMillis`. */
  private[tables] def versionAtTs(rootPath: Path, tsMillis: Long): Long = {
    val stamped = listCommittedAt(rootPath.resolve("_manifests")).sorted
      .map(v => (v, commitTsAt(rootPath, v)))
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version committed at or before $tsMillis at $rootPath " +
        s"(earliest: ${stamped.headOption.map(_._2).getOrElse(-1L)})")
    at.maxBy(_._1)._1
  }

  private[tables] def isAppendCommitOf(lines: Vector[String]): Boolean =
    lines.drop(2).exists(l => BatchMetaStatic.findFirstIn(l).isDefined) &&
      !lines.drop(2).contains(ReplaceMarker)

  /** Exact row count of one parquet file from its FOOTER — a
    * metadata-sized read, no data pages touched. Powers write-time
    * `#rows=` minting on every path (commit/append/DML post-images),
    * which keeps the zero-IO COUNT(*) contract alive through any
    * write sequence. At cluster scale the same counts would ride the
    * write tasks' commit messages instead of a footer pass; the
    * manifest line format is identical either way. */
  // one shared read-only Configuration: constructing one per footer
  // read costs more than the read itself
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  private[tables] def parquetRowCount(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Fresh table under java.io.tmpdir; caller owns cleanup. */
  def temp(spark: SparkSession, prefix: String): SnapshotTable = {
    val dir = Files.createTempDirectory(prefix)
    new SnapshotTable(spark, dir.toString)
  }

  /** Recursive delete for callers done with a temp table. */
  def drop(t: SnapshotTable): Unit = deleteRecursively(Paths.get(t.root))

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toVector.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
