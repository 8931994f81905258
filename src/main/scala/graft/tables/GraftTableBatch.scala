package graft.tables

import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side translation of Catalyst data-source filters into
  * manifest-stats FILE pruning — the piece that makes the table's
  * data-skipping layouts ([[SnapshotTable.commitClustered]]'s range
  * stats, [[SnapshotTable.commitClusteredString]]'s truncated string
  * bounds, [[SnapshotTable.commitZOrderedN]]'s N-dim boxes,
  * [[SnapshotTable.commitBloom]]'s point-lookup sidecars) transparent
  * to ANY Spark query: `spark.read.format("graft-table")` pushes its
  * WHERE clause here, the scan plans only intersecting files, and
  * Spark re-applies the predicates row-exactly above the scan (file
  * stats prune at file granularity, so every filter stays residual —
  * the same contract parquet row-group stats have). The table's own
  * prune and read verbs ([[SnapshotTable.prunedFiles]],
  * [[SnapshotTable.readWhere]] and their string/bloom/N-dim twins)
  * prune through here too, so each stats family's file test is
  * written once.
  *
  * Everything here is O(manifest) driver metadata: stat lines are
  * already bounded per file, bloom probes read fixed-size sidecars,
  * and no data file is opened before pruning decides it must be.
  */
private[tables] object ManifestPruning {

  /** Encode a pushed literal into the manifest stats' Long domain —
    * the exact encoding [[SnapshotTable]] used at write time
    * (integral as-is, timestamps as epoch micros, dates as epoch
    * days). Filters hand back external JVM values whose class depends
    * on the session's datetime API setting, so both families are
    * handled. None = not a stats-comparable value. */
  def encodeLong(value: Any): Option[Long] = value match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case t: java.sql.Timestamp =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong))
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Closed interval in the encoded Long domain; None = unbounded.
    * Comparisons stay CONSERVATIVE: strict bounds are widened to
    * closed ones (the residual filter restores exactness). */
  private final case class Bounds(lo: Option[Long], hi: Option[Long]) {
    def withLo(v: Long): Bounds = Bounds(Some(lo.fold(v)(math.max(_, v))), hi)
    def withHi(v: Long): Bounds = Bounds(lo, Some(hi.fold(v)(math.min(_, v))))
    def isBounded: Boolean = lo.isDefined || hi.isDefined
  }

  /** Fold one conjunct into the bounds for `key`; returns the updated
    * bounds and whether the filter contributed. And() recurses (both
    * sides hold); Or/Not are never used for pruning. */
  private def foldLong(key: String, b: Bounds, f: Filter): (Bounds, Boolean) = f match {
    case EqualTo(a, v) if a == key =>
      encodeLong(v).fold((b, false))(x => (b.withLo(x).withHi(x), true))
    case EqualNullSafe(a, v) if a == key && v != null =>
      encodeLong(v).fold((b, false))(x => (b.withLo(x).withHi(x), true))
    case GreaterThan(a, v) if a == key =>
      encodeLong(v).fold((b, false))(x => (b.withLo(x), true))
    case GreaterThanOrEqual(a, v) if a == key =>
      encodeLong(v).fold((b, false))(x => (b.withLo(x), true))
    case LessThan(a, v) if a == key =>
      encodeLong(v).fold((b, false))(x => (b.withHi(x), true))
    case LessThanOrEqual(a, v) if a == key =>
      encodeLong(v).fold((b, false))(x => (b.withHi(x), true))
    case In(a, vs) if a == key && vs.nonEmpty =>
      val encs = vs.toSeq.map(encodeLong)
      if (encs.exists(_.isEmpty)) (b, false)
      else (b.withLo(encs.flatten.min).withHi(encs.flatten.max), true)
    case And(l, r) =>
      val (b1, u1) = foldLong(key, b, l)
      val (b2, u2) = foldLong(key, b1, r)
      (b2, u1 || u2)
    case _ => (b, false)
  }

  private def longBounds(key: String, filters: Seq[Filter]): (Bounds, Set[Filter]) =
    filters.foldLeft((Bounds(None, None), Set.empty[Filter])) {
      case ((b, used), f) =>
        val (b2, u) = foldLong(key, b, f)
        (b2, if (u) used + f else used)
    }

  /** String bounds under unsigned byte order (== UTF8String order ==
    * the truncated manifest bounds' order). */
  private final case class SBounds(lo: Option[Array[Byte]], hi: Option[Array[Byte]]) {
    import java.util.Arrays.{compareUnsigned => cmp}
    def withLo(v: Array[Byte]): SBounds =
      SBounds(Some(lo.fold(v)(x => if (cmp(x, v) >= 0) x else v)), hi)
    def withHi(v: Array[Byte]): SBounds =
      SBounds(lo, Some(hi.fold(v)(x => if (cmp(x, v) <= 0) x else v)))
    def isBounded: Boolean = lo.isDefined || hi.isDefined
  }

  private def strBytes(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes("UTF-8"))
    case _ => None
  }

  private def foldStr(key: String, b: SBounds, f: Filter): (SBounds, Boolean) = f match {
    case EqualTo(a, v) if a == key =>
      strBytes(v).fold((b, false))(x => (b.withLo(x).withHi(x), true))
    case EqualNullSafe(a, v) if a == key && v != null =>
      strBytes(v).fold((b, false))(x => (b.withLo(x).withHi(x), true))
    case GreaterThan(a, v) if a == key =>
      strBytes(v).fold((b, false))(x => (b.withLo(x), true))
    case GreaterThanOrEqual(a, v) if a == key =>
      strBytes(v).fold((b, false))(x => (b.withLo(x), true))
    case LessThan(a, v) if a == key =>
      strBytes(v).fold((b, false))(x => (b.withHi(x), true))
    case LessThanOrEqual(a, v) if a == key =>
      strBytes(v).fold((b, false))(x => (b.withHi(x), true))
    case In(a, vs) if a == key && vs.nonEmpty =>
      val encs = vs.toSeq.map(strBytes)
      if (encs.exists(_.isEmpty)) (b, false)
      else {
        import java.util.Arrays.{compareUnsigned => cmp}
        val bs = encs.flatten
        (b.withLo(bs.reduce((x, y) => if (cmp(x, y) <= 0) x else y))
          .withHi(bs.reduce((x, y) => if (cmp(x, y) >= 0) x else y)), true)
      }
    case StringStartsWith(a, p) if a == key =>
      // prefix ≡ range [p, successor(p)) — the same bump rule the
      // write-side truncation uses
      strBytes(p).fold((b, false)) { lo =>
        val withLo = b.withLo(lo)
        (SnapshotTable.truncatedUpper(lo ++ Array(0xFF.toByte), lo.length)
          .fold(withLo)(withLo.withHi), true)
      }
    case And(l, r) =>
      val (b1, u1) = foldStr(key, b, l)
      val (b2, u2) = foldStr(key, b1, r)
      (b2, u1 || u2)
    case _ => (b, false)
  }

  private def strBounds(key: String, filters: Seq[Filter]): (SBounds, Set[Filter]) =
    filters.foldLeft((SBounds(None, None), Set.empty[Filter])) {
      case ((b, used), f) =>
        val (b2, u) = foldStr(key, b, f)
        (b2, if (u) used + f else used)
    }

  /** Equality values pushed on the bloom key (In = any-of). */
  private def bloomValues(key: String, f: Filter): Option[Seq[Any]] = f match {
    case EqualTo(a, v) if a == key && v != null => Some(Seq(v))
    case EqualNullSafe(a, v) if a == key && v != null => Some(Seq(v))
    case In(a, vs) if a == key && vs.nonEmpty && !vs.contains(null) =>
      Some(vs.toSeq)
    case _ => None
  }

  /** A runtime V2 predicate (join-driven filtering: Spark ships the
    * build side's key set as `IN`, or `=` for a single key) lowered
    * to the source-filter algebra the pruning already speaks.
    * LiteralValue carries CATALYST-internal values — UTF8String for
    * strings, epoch micros/days for timestamp/date — which is exactly
    * the stats domain, so temporal keys need no re-encoding. */
  def fromRuntimePredicate(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Filter] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def scalaValue(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: Literal[_] => l.value() match {
          case s: UTF8String => Some(s.toString)
          case v => Option(v)
        }
        case _ => None
      }
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference => Some(r.fieldNames().mkString("."))
        case _ => None
      }
    val ch = p.children()
    p.name() match {
      case "IN" if ch.length >= 2 =>
        for {
          c <- colName(ch.head)
          vs <- Some(ch.tail.flatMap(scalaValue)) if vs.length == ch.tail.length
        } yield In(c, vs.toArray)
      case "=" if ch.length == 2 =>
        for { c <- colName(ch(0)); v <- scalaValue(ch(1)) } yield EqualTo(c, v)
      case _ => None
    }
  }

  /** A lookup value's bloom probe bytes — the driver-side twin of the
    * build's [[SnapshotTable]] `keyBytesExpr`: integral keys as 8-byte
    * big-endian two's complement, strings as UTF-8. None = a value no
    * bloom filter was built over. */
  def bloomKeyBytes(value: Any): Option[Array[Byte]] = value match {
    case l: Long => Some(java.nio.ByteBuffer.allocate(8).putLong(l).array())
    case i: Int => bloomKeyBytes(i.toLong)
    case s: Short => bloomKeyBytes(s.toLong)
    case b: Byte => bloomKeyBytes(b.toLong)
    case s: String => Some(s.getBytes("UTF-8"))
    case _ => None
  }

  /** The subset of `filters` the manifest's stat lines can use for
    * pruning — reported as the scan's pushed filters (explain shows
    * them), computed structurally without touching any sidecar. */
  def usableFilters(lines: Vector[String], filters: Seq[Filter]): Seq[Filter] = {
    val meta = lines.drop(2)
    val used = scala.collection.mutable.LinkedHashSet.empty[Filter]
    // stat lines carry commit-era (physical) key names; the pushed
    // filters reference the current LOGICAL ones — translate first
    def lg(k: String): String = SnapshotTable.logicalNameFor(lines, k)
    meta.collectFirst(SnapshotTable.RangeClaim).foreach { k =>
      used ++= longBounds(lg(k), filters)._2
    }
    meta.collectFirst(SnapshotTable.StringClaim).foreach { k =>
      used ++= strBounds(lg(k), filters)._2
    }
    meta.collectFirst { case SnapshotTable.ZClusterNMeta(ks) => ks }.foreach { ks =>
      ks.split('|').foreach(k => used ++= longBounds(lg(k), filters)._2)
    }
    meta.collectFirst(SnapshotTable.BloomClaim).foreach { k =>
      used ++= filters.filter(f => bloomValues(lg(k), f).isDefined)
    }
    meta.collectFirst { case SnapshotTable.BucketMeta(_, k) => k }.foreach { k =>
      used ++= filters.filter(f => bloomValues(lg(k), f).isDefined)
    }
    filters.filter(used)
  }

  /** Manifest files of `lines` surviving every stats family the
    * pushed filters can drive. Stat-less files are always kept
    * (conservative), so pruning can never lose rows. */
  def prunedFiles(rootPath: Path, lines: Vector[String],
      filters: Seq[Filter]): Vector[String] = {
    val meta = lines.drop(2)
    val files = SnapshotTable.manifestFilesOf(lines)
    var kept = files
    // physical stat keys → current logical names (see usableFilters)
    def lg(k: String): String = SnapshotTable.logicalNameFor(lines, k)

    // the claim may be the partial post-append one: stat-less files are kept below
    meta.collectFirst(SnapshotTable.RangeClaim).foreach { k =>
      val (b, _) = longBounds(lg(k), filters)
      if (b.isBounded) {
        val ranges: Map[String, (Long, Long)] = meta.collect {
          case SnapshotTable.RangeMeta(rel, a, bb) => rel -> (a.toLong, bb.toLong)
        }.toMap
        kept = kept.filter { rel =>
          ranges.get(rel).forall { case (a, bb) =>
            b.hi.forall(a <= _) && b.lo.forall(bb >= _)
          }
        }
      }
    }

    meta.collectFirst(SnapshotTable.StringClaim).foreach { k =>
      val (b, _) = strBounds(lg(k), filters)
      if (b.isBounded) {
        val dec = java.util.Base64.getDecoder
        val bounds: Map[String, (Array[Byte], Option[Array[Byte]])] = meta.collect {
          case SnapshotTable.RangeSMeta(rel, lo64, hi64, unb) =>
            rel -> (dec.decode(lo64),
              if (unb == "1") None else Some(dec.decode(hi64)))
        }.toMap
        import java.util.Arrays.{compareUnsigned => cmp}
        kept = kept.filter { rel =>
          bounds.get(rel).forall { case (fLo, fHi) =>
            b.hi.forall(cmp(fLo, _) <= 0) &&
              b.lo.forall(q => fHi.forall(cmp(_, q) >= 0))
          }
        }
      }
    }

    meta.collectFirst { case SnapshotTable.ZClusterNMeta(ks) => ks.split('|').toSeq }
      .foreach { keys =>
        val bs = keys.map(k => longBounds(lg(k), filters)._1)
        if (bs.exists(_.isBounded))
          kept = SnapshotTable.boxPrunedFiles(lines, kept, bs.map(b => (b.lo, b.hi)))
      }

    meta.collectFirst { case SnapshotTable.BucketMeta(n, k) => (n.toInt, k) }.foreach {
      case (n, k) =>
        // hash-bucketed layout: an equality (or IN) on the bucket key
        // pins each value to exactly ONE bucket directory — pmod, the
        // same function the writer striped with
        val vals = filters.flatMap(bloomValues(lg(k), _))
        if (vals.nonEmpty) {
          val bucketSets: Seq[Set[Int]] = vals.map(_.flatMap {
            case l: Long => Some((((l % n) + n) % n).toInt)
            case i: Int => Some((((i.toLong % n) + n) % n).toInt)
            case s: Short => Some((((s.toLong % n) + n) % n).toInt)
            case b: Byte => Some((((b.toLong % n) + n) % n).toInt)
            case _ => None
          }.toSet)
          if (bucketSets.forall(_.nonEmpty)) {
            // conjunct semantics: a file survives if its bucket is
            // admitted by EVERY pushed equality-set
            val admitted = bucketSets.reduce(_ intersect _)
            kept = kept.filter { rel =>
              SnapshotTable.BucketDirP.findFirstMatchIn(rel) match {
                case Some(m) => admitted.contains(m.group(1).toInt)
                case None => true // non-bucket-addressed file: keep
              }
            }
          }
        }
    }

    meta.collectFirst(SnapshotTable.BloomClaim).foreach { k =>
      val vals = filters.flatMap(bloomValues(lg(k), _))
      if (vals.nonEmpty) {
        val blooms: Map[String, String] = meta.collect {
          case SnapshotTable.BloomFMeta(rel, bloomRel) => rel -> bloomRel
        }.toMap
        // each conjunct independently: a file survives if for EVERY
        // pushed equality-set it may contain at least one value
        val keyBytes: Seq[Seq[Array[Byte]]] = vals.map(_.flatMap(bloomKeyBytes))
        if (keyBytes.forall(_.nonEmpty)) {
          kept = kept.filter { rel =>
            blooms.get(rel).forall { bloomRel =>
              val is = java.nio.file.Files.newInputStream(rootPath.resolve(bloomRel))
              val bf =
                try org.apache.spark.util.sketch.BloomFilter.readFrom(is)
                finally is.close()
              keyBytes.forall(_.exists(bf.mightContainBinary))
            }
          }
        }
      }
    }

    kept
  }

  /** One data file's deletion-vector positions, loaded EXECUTOR-SIDE
    * by the partition reader that owns the file: the driver never
    * materializes DV rows (it ships only the sidecar PATHS, O(files)
    * metadata), so a 100 TB table with 10⁹ tombstones costs the
    * driver nothing. Each reader pushes `file == addr` as a parquet
    * record filter — sidecars are written range-clustered by address
    * ([[SnapshotTable]]'s delete/update), so row-group stats skip the
    * groups that belong to other files and the common untouched-file
    * read degrades to footer reads. */
  def loadOwnDvPositions(addr: String, sidecarPaths: Array[String]): Array[Long] = {
    if (sidecarPaths.isEmpty) return Array.emptyLongArray
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val pred = FilterApi.eq(FilterApi.binaryColumn(SnapshotTable.DvFileCol),
      org.apache.parquet.io.api.Binary.fromString(addr))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    sidecarPaths.foreach { s =>
      val reader: ParquetReader[Group] = ParquetReader.builder(
        new GroupReadSupport(), new org.apache.hadoop.fs.Path(s))
        .withConf(new Configuration())
        .withFilter(FilterCompat.get(pred)).build()
      try {
        var g = reader.read()
        while (g != null) {
          buf += g.getLong(g.getType.getFieldIndex(SnapshotTable.DvPosCol), 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    buf.toArray.sorted
  }
}

/** Pushdown-capable ScanBuilder for the `graft-table` source, serving
  * BOTH surfaces: `toBatch` (committed-snapshot reads with manifest
  * pruning, DV application, schema evolution and time travel) and
  * `toMicroBatchStream` (the streaming source, unchanged contract).
  *
  * Batch options: `versionAsOf` (time travel; default = latest at
  * scan build), `readChangeFeed` + `startingVersion`/`endingVersion`
  * (batch read of the row-level change feed over (start, end]). */
class GraftTableScanBuilder(options: Map[String, String], tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  private val root = options("path")
  private val rootPath = Paths.get(root)
  private val changeFeed = options.get("readChangeFeed").exists(_.toBoolean)
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  /** Snapshot pinned at scan-build time: every partition of this
    * query reads ONE committed version, regardless of concurrent
    * commits between planning and execution. `versionAsOf` wins,
    * then `timestampAsOf` (epoch millis — the newest commit at or
    * before it), else the latest. */
  private val version: Long = options.get("versionAsOf").map(_.toLong)
    .orElse(options.get("timestampAsOf").map(ts =>
      SnapshotTable.versionAtTs(rootPath, ts.toLong)))
    .getOrElse(SnapshotTable.currentVersionAt(rootPath))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // file-stats pruning is file-granular, so EVERY filter remains a
    // residual for Spark to re-apply row-exactly; pushedFilters()
    // reports the subset the manifest can actually use (explain shows
    // it, and planInputPartitions prunes with it)
    if (!changeFeed && version > 0)
      pushed = ManifestPruning.usableFilters(
        SnapshotTable.manifestLinesAt(rootPath, version), filters.toSeq).toArray
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown, PARTIAL: each file's reader stops decoding after
    * `limit` surviving rows (DV-filtered), and Spark applies the
    * global limit above — `SELECT * LIMIT 10` on a 10k-file table
    * decodes ≤10 rows per file instead of every row. */
  private var pushedLimit: Int = Int.MaxValue
  override def pushLimit(limit: Int): Boolean = {
    if (!changeFeed) pushedLimit = limit
    !changeFeed // partial: isPartiallyPushed default true keeps Spark's limit
  }

  // ---- METADATA-ONLY aggregate pushdown --------------------------------
  //
  // COUNT(*) / MIN(key) / MAX(key) over a clustered version answer
  // from the manifest's own #rows/#range stats — ZERO data files
  // opened (the metaAgg fast path, reachable from plain SQL). Only
  // COMPLETE pushdown is offered, and only when the stats are
  // trustworthy: a clustered commit, per-file row counts present, no
  // residual filters, no grouping. Deletion vectors keep COUNT(*)
  // answerable (live = #rows − #dvrows, both metadata) but refuse
  // MIN/MAX — a tombstone may have held the extreme. Anything else
  // refuses and Spark runs the ordinary aggregate over the scan. The
  // encoded stats domain (value / epoch micros / epoch days) IS
  // Catalyst's internal representation for every supported key type,
  // so min/max need no re-encoding — only a width cast.
  private var aggResult: Option[(StructType, Array[Any])] = None

  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min, Sum}

  private def aggPlan(agg: Aggregation): Option[(StructType, Array[Any])] = {
    if (changeFeed || version == 0L) return None
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    val lines = SnapshotTable.manifestLinesAt(rootPath, version)
    val meta = lines.drop(2)
    // stat key is commit-era physical; the aggregation references the
    // current logical name — and a since-DROPPED key answers nothing.
    // COUNT(*) needs no key at all (every write path mints per-file
    // footer counts), so the key is optional until a MIN/MAX/SUM asks.
    val clusterKeyOpt: Option[String] =
      meta.collectFirst { case SnapshotTable.ClusterMeta(k) => k }
        .map(k => SnapshotTable.logicalNameFor(lines, k))
        .filter(k => tableSchema.fieldNames.contains(k))
    // deletion vectors: COUNT(*) stays metadata-only (every DV commit
    // records per-file #dvrows — live = rows − dvrows); MIN/MAX stays
    // ONLY when the manifest carries the #dvminmax marker (DV deletes
    // on clustered tables re-mint touched files' #range bounds over
    // live rows — SnapshotTable.delete), since otherwise a tombstone
    // may have held the extreme. A DV'd manifest without complete
    // counts refuses everything.
    val hasDv = meta.exists(_.startsWith("#dv="))
    val dvRows = SnapshotTable.dvRowsOf(lines)
    if (hasDv && dvRows.isEmpty) return None
    val dvMinMaxExact = meta.contains(SnapshotTable.DvMinMax)
    if (hasDv && !dvMinMaxExact && agg.aggregateExpressions().exists {
        case _: CountStar => false; case _ => true
      }) return None
    val rows: Map[String, Long] = meta.collect {
      case SnapshotTable.RowsMeta(rel, n) =>
        rel -> (n.toLong - dvRows.getOrElse(SnapshotTable.dvAddrOf(rel), 0L))
    }.toMap
    val files = SnapshotTable.manifestFilesOf(lines)
    if (!files.forall(rows.contains)) return None
    val ranges = meta.collect { case SnapshotTable.RangeMeta(_, a, b) =>
      (a.toLong, b.toLong)
    }
    // per-file key sums (#sum — integral cluster keys only): complete
    // coverage answers SUM(key) zero-IO; DV staleness is excluded by
    // the same #dvminmax gate as MIN/MAX (the delete that re-mints
    // bounds re-mints sums in the same job)
    val sums: Map[String, (Long, Long)] = meta.collect {
      case SnapshotTable.SumMeta(rel, sm, nn) => rel -> (sm.toLong, nn.toLong)
    }.toMap
    val sumsComplete = files.forall(sums.contains)
    def keyTypeOf(k: String) = tableSchema(k).dataType
    def decode(k: String, v: Long): Any = keyTypeOf(k) match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v // Long / Timestamp(micros)
    }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          Some(r.fieldNames().mkString("."))
        case _ => None
      }
    val out = agg.aggregateExpressions().map {
      case _: CountStar =>
        (StructField("count(*)", LongType, nullable = false),
          java.lang.Long.valueOf(files.map(rows).sum))
      case m: Min if clusterKeyOpt.isDefined &&
          colOf(m.column()) == clusterKeyOpt =>
        val k = clusterKeyOpt.get
        val lo = if (ranges.isEmpty) null else decode(k, ranges.map(_._1).min)
        (StructField(s"min($k)", keyTypeOf(k), nullable = true), lo)
      case m: Max if clusterKeyOpt.isDefined &&
          colOf(m.column()) == clusterKeyOpt =>
        val k = clusterKeyOpt.get
        val hi = if (ranges.isEmpty) null else decode(k, ranges.map(_._2).max)
        (StructField(s"max($k)", keyTypeOf(k), nullable = true), hi)
      case s: Sum if !s.isDistinct && sumsComplete &&
          clusterKeyOpt.isDefined && colOf(s.column()) == clusterKeyOpt =>
        // integral inputs: Spark's sum() returns LongType; the Σ of
        // per-file sums adds EXACTLY — a driver-side overflow refuses
        // the pushdown (the scan-side ANSI sum would fail too)
        val nn = files.map(f => sums(f)._2).sum
        val tot: Any =
          if (nn == 0L) null
          else try java.lang.Long.valueOf(
            files.map(f => sums(f)._1).foldLeft(0L)(Math.addExact))
          catch { case _: ArithmeticException => return None }
        (StructField(s"sum(${clusterKeyOpt.get})", LongType, nullable = true), tot)
      case _ => return None
    }
    Some((StructType(out.map(_._1)), out.map(_._2: Any)))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggPlan(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    val plan = aggPlan(agg)
    plan.foreach(p => aggResult = Some(p))
    plan.isDefined
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) =>
      new GraftTableAggScan(root, version, schema, values)
    case None =>
      new GraftTableScan(root, version, tableSchema, required, pushed, options,
        pushedLimit)
  }
}

/** The metadata-only aggregate as a one-row, zero-IO scan. */
class GraftTableAggScan(root: String, version: Long, aggSchema: StructType,
    values: Array[Any]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-table $root v$version, PushedAggregates (metadata-only)"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftTableAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              p.asInstanceOf[GraftTableAggPartition].values)
          override def close(): Unit = ()
        }
    }
}

case class GraftTableAggPartition(values: Array[Any]) extends InputPartition

/** One committed data (or changelog) file plus the snapshot's DV
  * sidecar PATHS (O(sidecars) strings — the reader loads its own
  * file's positions executor-side, keyed by `dvAddr`);
  * `literalChangeType` tags append-derived change-feed partitions
  * whose files carry no `_change_type` column. */
case class GraftTableBatchPartition(absPath: String,
    dvAddr: String,
    dvSidecarPaths: Array[String],
    literalChangeType: Option[String]) extends InputPartition

class GraftTableScan(root: String, version: Long, tableSchema: StructType,
    required: StructType, pushed: Array[Filter], options: Map[String, String],
    limit: Int = Int.MaxValue)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {
  private val rootPath = Paths.get(root)
  private val changeFeed = options.get("readChangeFeed").exists(_.toBoolean)

  /** Runtime (join-driven) predicates, folded into the same manifest
    * pruning as the compile-time pushdown. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  /** Keys the manifest can prune on — advertising them invites
    * Spark's dynamic filtering (DPP-style): a selective dimension
    * side ships its key set here before this scan plans, and whole
    * files drop at RUNTIME. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    if (changeFeed || version == 0L) return Array.empty
    val lines = SnapshotTable.manifestLinesAt(rootPath, version)
    val meta = lines.drop(2)
    (meta.collectFirst(SnapshotTable.RangeClaim) ++
      meta.collectFirst(SnapshotTable.StringClaim) ++
      meta.collectFirst(SnapshotTable.BloomClaim) ++
      meta.collectFirst { case SnapshotTable.BucketMeta(_, k) => k } ++
      meta.collectFirst { case SnapshotTable.ZClusterNMeta(ks) => ks }
        .toSeq.flatMap(_.split('|').toSeq))
      .toArray.distinct
      // stat lines carry commit-era (physical) names; queries filter
      // on the CURRENT logical ones
      .map(k => SnapshotTable.logicalNameFor(lines, k))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtimeFilters = predicates.flatMap(ManifestPruning.fromRuntimePredicate)

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-table $root v$version, PushedFilters: [${pushed.mkString(", ")}]"

  /** Scan statistics from metadata only — POST-pruning file sizes
    * (and `#rows=` counts when the manifest carries them), so the
    * planner sees what the scan will actually read: a small
    * graft-table side of a join auto-broadcasts, AQE sizes its
    * shuffles honestly, and a pruned point lookup reports bytes near
    * zero. No data file is opened. */
  override def estimateStatistics(): Statistics = {
    import java.util.OptionalLong
    if (version == 0L) return new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(0L)
      override def numRows(): OptionalLong = OptionalLong.of(0L)
    }
    val lines = SnapshotTable.manifestLinesAt(rootPath, version)
    val kept =
      if (changeFeed) SnapshotTable.manifestCdcFilesOf(lines)
      else ManifestPruning.prunedFiles(rootPath, lines, pushed.toSeq)
    val bytes = kept.map { rel =>
      try java.nio.file.Files.size(rootPath.resolve(rel))
      catch { case _: java.io.IOException => 0L }
    }.sum
    // live counts: committed #rows minus recorded per-file tombstones
    // (#dvrows) — a DV'd manifest missing its counts reports no rows
    val dvRows = SnapshotTable.dvRowsOf(lines)
    val hasDv = lines.drop(2).exists(_.startsWith("#dv="))
    val rowCounts: Map[String, Long] = lines.drop(2).collect {
      case SnapshotTable.RowsMeta(rel, n) =>
        rel -> (n.toLong - dvRows.getOrElse(SnapshotTable.dvAddrOf(rel), 0L))
    }.toMap
    val rows: OptionalLong =
      if (changeFeed || (hasDv && dvRows.isEmpty) ||
        !kept.forall(rowCounts.contains)) OptionalLong.empty()
      else OptionalLong.of(kept.map(rowCounts).sum)
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = rows
    }
  }

  override def toBatch: Batch = this

  /** The streaming surface, unchanged: per-trigger manifest diffs
    * under the FULL table schema (streaming plans don't run the
    * batch pushdown rules). `startingTimestamp` (epoch millis)
    * resolves through the manifests' own commit-time records to the
    * exclusive start version, so the stream delivers every commit at
    * or after the timestamp — timestamp parity with time travel. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftTableMicroBatchStream(root,
      options.get("startingVersion")
        .orElse(options.get("startingTimestamp").map(ts =>
          SnapshotTable.versionBeforeTs(rootPath, ts.toLong).toString))
        .getOrElse("0"), tableSchema,
      changeFeed = changeFeed,
      maxVersionsPerTrigger = options.get("maxVersionsPerTrigger").map(_.toLong))

  override def planInputPartitions(): Array[InputPartition] = {
    if (version == 0L && !changeFeed) return Array.empty
    if (!changeFeed) {
      val lines = SnapshotTable.manifestLinesAt(rootPath, version)
      val kept = ManifestPruning.prunedFiles(rootPath, lines,
        pushed.toSeq ++ runtimeFilters)
      // DV sidecar PATHS only — positions load executor-side, keyed
      // per file; driver cost stays O(files), never O(deleted rows)
      val dvPaths = lines.drop(2).collect {
        case SnapshotTable.DvMeta(rel) => rootPath.resolve(rel).toString
      }.toArray
      kept.map { rel =>
        val addr = rel.split('/').takeRight(2).mkString("/")
        GraftTableBatchPartition(rootPath.resolve(rel).toString,
          addr, dvPaths, None): InputPartition
      }.toArray
    } else {
      // batch change-feed read over (start, end] — the same
      // per-version walk as the streaming change feed, as one batch;
      // startingTimestamp resolves like the streaming surface
      val start = options.get("startingVersion").map(_.toLong)
        .orElse(options.get("startingTimestamp").map(ts =>
          SnapshotTable.versionBeforeTs(rootPath, ts.toLong)))
        .getOrElse(0L)
      val end = options.get("endingVersion").map(_.toLong)
        .getOrElse(SnapshotTable.currentVersionAt(rootPath))
      require(start <= end, s"readChangeFeed needs startingVersion <= endingVersion, got ($start, $end)")
      def filesAt(v: Long): Vector[String] =
        if (v == 0L) Vector.empty
        else try SnapshotTable.manifestFilesOf(SnapshotTable.manifestLinesAt(rootPath, v))
        catch { case e: IllegalArgumentException =>
          // the predecessor manifest fell to expireVersions — surface
          // a change-feed-specific error, not 'version not committed'
          throw new IllegalStateException(
            s"graft-table change feed at $root: version $v (needed to diff an " +
              "append commit) is past the log retention cutoff; use a " +
              "startingVersion >= the oldest retained version", e)
        }
      ((start + 1) to end).iterator.flatMap { v =>
        val lines = SnapshotTable.manifestLinesAt(rootPath, v)
        if (SnapshotTable.cdcTrackedOf(lines))
          SnapshotTable.manifestCdcFilesOf(lines).map(rel =>
            GraftTableBatchPartition(rootPath.resolve(rel).toString,
              "", Array.empty, None))
        else if (SnapshotTable.isAppendCommitOf(lines)) {
          val before = filesAt(v - 1).toSet
          SnapshotTable.manifestFilesOf(lines).filterNot(before).map(rel =>
            GraftTableBatchPartition(rootPath.resolve(rel).toString,
              "", Array.empty, Some("insert")))
        } else throw new IllegalStateException(
          s"graft-table change feed: version $v at $root does not track " +
            "row-level changes (written by plain commit)")
      }.map(p => p: InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // column mapping: executors resolve file columns by PHYSICAL name
    // (output rows are positional, so the rename is invisible above).
    // Change-feed `#cdc=` files are written under logical names — no
    // mapping — but APPEND-derived change-feed partitions (tagged
    // literalChangeType) are ordinary DATA files staged under physical
    // names: the reader applies the map per-partition for those
    // (physical names are pinned forever, so the scan version's map
    // covers every append era).
    val decodeSchema =
      if (changeFeed || version == 0L) required
      else SnapshotTable.physApplied(required,
        SnapshotTable.physMapAt(rootPath, version))
    val appendPhysMap =
      if (changeFeed && version > 0L) SnapshotTable.physMapAt(rootPath, version)
      else Map.empty[String, String]
    new GraftTableBatchReaderFactory(decodeSchema.json, limit,
      allowColumnar = !changeFeed, readConf = GraftReadConf.capture(),
      appendPhysMap = appendPhysMap)
  }
}

/** VECTORIZED read path shared by the batch scan and the streaming
  * source: Spark's own vectorized parquet reader decodes straight
  * into ColumnarBatches (the engine inserts a codegen'd ColumnarToRow
  * above, so the scan joins whole-stage codegen), with constant-null
  * vectors spliced in required-schema order for evolved columns a
  * file predates. Deletion vectors apply COLUMNAR-side
  * ([[GraftVectorized.createReaderWithDv]] — clean batches pass
  * through zero-copy). Only synthesized row-address columns, a
  * change-type literal, or a pushed per-file limit fall back to the
  * row-at-a-time Group reader below. */
/** Driver-captured session read configuration, serialized into the
  * reader factories so executor-side vectorized decode agrees with
  * BOTH Spark's own parquet read path and this scan's row-at-a-time
  * fallback: session timezone, datetime/INT96 rebase modes (resolved
  * per file against its footer metadata, exactly as Spark's
  * ParquetPartitionReaderFactory does), and INT96 conversion. */
private[tables] case class GraftReadConf(
    sessionTz: String,
    datetimeRebaseModeInRead: String,
    int96RebaseModeInRead: String,
    int96TimestampConversion: Boolean)

private[tables] object GraftReadConf {
  /** Capture from the active session's SQLConf — call DRIVER-side
    * (factory construction during planning). */
  def capture(): GraftReadConf = {
    val c = org.apache.spark.sql.internal.SQLConf.get
    GraftReadConf(
      c.getConfString("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID),
      c.getConfString("spark.sql.parquet.datetimeRebaseModeInRead", "EXCEPTION"),
      c.getConfString("spark.sql.parquet.int96RebaseModeInRead", "EXCEPTION"),
      c.getConfString("spark.sql.parquet.int96TimestampConversion",
        "false").toBoolean)
  }
}

private[tables] object GraftVectorized {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private[tables] val Capacity = 4096

  /** True when the row reader's per-row machinery isn't needed. Must
    * be UNIFORM across one scan's partitions (Spark rejects mixed
    * row/columnar partitions), so every input here is scan-level:
    * the factory's `allowColumnar` covers change-feed mode (whose
    * partitions mix literal-tagged and plain files). Deletion vectors
    * no longer refuse — [[createReader]] applies them columnar-side
    * (clean batches pass through untouched, tombstoned ones
    * compact). */
  def eligible(allowColumnar: Boolean, required: StructType,
      limit: Int): Boolean =
    allowColumnar && limit == Int.MaxValue &&
      !required.fieldNames.exists(n =>
        n == GraftRowMeta.FileCol || n == GraftRowMeta.PosCol)

  def createReader(absPath: String, required: StructType,
      readConf: GraftReadConf): PartitionReader[ColumnarBatch] = {
    // the PRODUCTION initialize path (FileSplit + TaskAttemptContext):
    // ParquetReadSupport clips the requested catalyst schema against
    // the file's own, and the vectorized reader serves evolved
    // columns a file predates as its own constant-null vectors
    val conf = new Configuration()
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", required.json)
    // the schema converter reads these with NO defaults — the same
    // set Spark's own parquet partition-reader factory populates
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf.set("spark.sql.session.timeZone", readConf.sessionTz)
    val hPath = new org.apache.hadoop.fs.Path(absPath)
    val len = hPath.getFileSystem(conf).getFileStatus(hPath).getLen
    val split = new org.apache.hadoop.mapred.FileSplit(
      hPath, 0, len, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    // per-file rebase resolution against the footer's own metadata —
    // a Spark-3+-written file decodes CORRECTED regardless of the
    // conf, a legacy-rebased file decodes LEGACY in its origin tz,
    // and an unmarked foreign file falls back to the session conf
    // (exactly DataSourceUtils' contract, shared with Spark's scan)
    val inputFile =
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hPath, conf)
    val footerMeta = org.apache.spark.sql.execution.datasources.parquet
      .ParquetFooterReader.readFooter(inputFile,
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS).getFileMetaData
    val kv = footerMeta.getKeyValueMetaData
    val lookup: String => String = k => kv.get(k)
    val dtSpec = org.apache.spark.sql.execution.datasources.DataSourceUtils
      .datetimeRebaseSpec(lookup, readConf.datetimeRebaseModeInRead)
    val i96Spec = org.apache.spark.sql.execution.datasources.DataSourceUtils
      .int96RebaseSpec(lookup, readConf.int96RebaseModeInRead)
    // INT96 conversion applies only to parquet-mr-written files, as
    // in Spark's ParquetFileFormat
    val convertTz: java.time.ZoneId =
      if (readConf.int96TimestampConversion &&
          Option(footerMeta.getCreatedBy).exists(_.startsWith("parquet-mr")))
        java.time.ZoneId.of(readConf.sessionTz)
      else null
    val vr = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(convertTz,
        dtSpec.mode.toString, dtSpec.timeZone,
        i96Spec.mode.toString, i96Spec.timeZone, false, Capacity)
    vr.initialize(split, ctx)
    vr.enableReturningBatches()
    val batch = vr.resultBatch()
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = vr.nextBatch()
      override def get(): ColumnarBatch = batch
      override def close(): Unit = vr.close()
    }
  }

  /** Columnar decode WITH deletion vectors: the file's own tombstone
    * positions load executor-side (same as the row path), then batches
    * whose row range contains NO tombstone — the overwhelmingly common
    * case under sparse deletes — pass through with ZERO copying; only
    * batches that do get compacted (survivors copied into reusable
    * on-heap vectors). Heavy-delete tables stay columnar instead of
    * falling back to row-at-a-time decode. */
  def createReaderWithDv(absPath: String, required: StructType,
      readConf: GraftReadConf, dvAddr: String,
      dvSidecarPaths: Array[String]): PartitionReader[ColumnarBatch] = {
    val base = createReader(absPath, required, readConf)
    if (dvSidecarPaths.isEmpty) return base
    val positions = ManifestPruning.loadOwnDvPositions(dvAddr, dvSidecarPaths)
    if (positions.isEmpty) base
    else new DvColumnarReader(base, positions, required)
  }

  private final class DvColumnarReader(base: PartitionReader[ColumnarBatch],
      positions: Array[Long], required: StructType)
      extends PartitionReader[ColumnarBatch] {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.ColumnVector

    private var offset = 0L // row index of the current batch's first row
    private var ptr = 0 // positions cursor (sorted; batches stream in order)
    private var out: ColumnarBatch = _
    private var compacted: Array[OnHeapColumnVector] = _
    private var compactedBatch: ColumnarBatch = _

    // per-column copiers resolved once — the compact loop is a direct
    // typed get/append per surviving cell
    private val copiers: Array[(ColumnVector, Int, OnHeapColumnVector) => Unit] =
      required.fields.map { f =>
        val c: (ColumnVector, Int, OnHeapColumnVector) => Unit = f.dataType match {
          case BooleanType => (s, i, d) => d.appendBoolean(s.getBoolean(i))
          case ByteType => (s, i, d) => d.appendByte(s.getByte(i))
          case ShortType => (s, i, d) => d.appendShort(s.getShort(i))
          case IntegerType | DateType => (s, i, d) => d.appendInt(s.getInt(i))
          case LongType | TimestampType | TimestampNTZType =>
            (s, i, d) => d.appendLong(s.getLong(i))
          case FloatType => (s, i, d) => d.appendFloat(s.getFloat(i))
          case DoubleType => (s, i, d) => d.appendDouble(s.getDouble(i))
          case StringType | BinaryType => (s, i, d) => {
            val b = if (f.dataType == StringType) s.getUTF8String(i).getBytes
              else s.getBinary(i)
            d.appendByteArray(b, 0, b.length)
          }
          case dt => throw new UnsupportedOperationException(
            s"columnar DV compaction: unsupported type $dt for ${f.name}")
        }
        (s: ColumnVector, i: Int, d: OnHeapColumnVector) =>
          if (s.isNullAt(i)) { d.appendNull(); () } else c(s, i, d)
      }

    @scala.annotation.tailrec
    override def next(): Boolean = {
      if (!base.next()) return false
      val in = base.get()
      val n = in.numRows()
      val lo = offset
      offset += n
      while (ptr < positions.length && positions(ptr) < lo) ptr += 1
      val start = ptr
      var end = ptr
      while (end < positions.length && positions(end) < lo + n) end += 1
      if (end == start) { out = in; return true } // clean batch: zero copy
      ptr = end
      if (compacted == null) {
        compacted = required.fields.map(f =>
          new OnHeapColumnVector(Capacity, f.dataType))
        compactedBatch = new ColumnarBatch(
          compacted.toArray[ColumnVector])
      }
      compacted.foreach(_.reset())
      var outRows = 0
      var i = 0
      var p = start
      while (i < n) {
        if (p < end && positions(p) == lo + i) p += 1
        else {
          var j = 0
          while (j < copiers.length) {
            copiers(j)(in.column(j), i, compacted(j)); j += 1
          }
          outRows += 1
        }
        i += 1
      }
      if (outRows == 0) next() // fully-deleted batch: pull the next one
      else { compactedBatch.setNumRows(outRows); out = compactedBatch; true }
    }

    override def get(): ColumnarBatch = out
    override def close(): Unit = {
      if (compacted != null) compacted.foreach(_.close())
      base.close()
    }
  }
}

/** Executor-side per-file batch reader: decodes ONLY the required
  * columns (a parquet projection is pushed when the file has more),
  * resolves fields BY NAME against the file's own schema — a field
  * the file predates (schema evolution) surfaces as NULL — and skips
  * deletion-vector positions as it streams the file in row order.
  * Scans without synthesized columns or a pushed limit take the
  * columnar ([[GraftVectorized]]) path instead — with or without
  * deletion vectors. */
class GraftTableBatchReaderFactory(requiredJson: String,
    limit: Int = Int.MaxValue, allowColumnar: Boolean = true,
    readConf: GraftReadConf = GraftReadConf.capture(),
    appendPhysMap: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  @transient private lazy val requiredSchema: StructType =
    DataType.fromJson(requiredJson).asInstanceOf[StructType]

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: GraftTableBatchPartition =>
      GraftVectorized.eligible(allowColumnar, requiredSchema, limit)
    case _ => false
  }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val bp = p.asInstanceOf[GraftTableBatchPartition]
    GraftVectorized.createReaderWithDv(bp.absPath, requiredSchema, readConf,
      bp.dvAddr, bp.dvSidecarPaths)
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftTableBatchPartition]
    // append-derived change-feed partitions are DATA files staged
    // under PHYSICAL names: resolve file columns through the mapping
    // (output rows are positional, so only file-side lookups change);
    // `#cdc=` changelog files stay logical
    val required = {
      val r = DataType.fromJson(requiredJson).asInstanceOf[StructType]
      if (part.literalChangeType.isDefined && appendPhysMap.nonEmpty)
        SnapshotTable.physApplied(r, appendPhysMap)
      else r
    }
    val literal = part.literalChangeType.map(UTF8String.fromString)
    val hPath = new org.apache.hadoop.fs.Path(part.absPath)
    val conf = new Configuration()

    // fields decoded FROM THE FILE: the required set minus a
    // literal-satisfied change-type column and the synthesized row-
    // address metadata columns (__graft_file / __graft_pos — the
    // rowId of SQL row-level DML)
    val decodeFields = required.fields.filterNot(f =>
      (literal.isDefined && f.name == SnapshotTable.ChangeTypeCol) ||
        f.name == GraftRowMeta.FileCol || f.name == GraftRowMeta.PosCol)

    // footer pre-read: the file's own schema drives both by-name
    // resolution (evolution) and the column projection
    val fileSchema: MessageType = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hPath, conf)
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try fr.getFooter.getFileMetaData.getSchema finally fr.close()
    }
    val present = decodeFields.filter(f => fileSchema.containsField(f.name))
    // the type the reader will hand back: the pushed projection when
    // narrower, else the file's own schema — field indexes are stable
    // per file, so decoders resolve them ONCE, not per row
    val readType: MessageType =
      if (present.nonEmpty && present.length < fileSchema.getFieldCount) {
        val projFields: java.util.List[org.apache.parquet.schema.Type] =
          present.map(f =>
            fileSchema.getType(fileSchema.getFieldIndex(f.name))).toList.asJava
        val proj = new MessageType(fileSchema.getName, projFields)
        conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          proj.toString)
        proj
      } else fileSchema

    // per-field decoders, fully resolved (index, physical type,
    // timestamp unit) at reader construction — the per-row loop is
    // null-check + direct accessor, no schema lookups, no dispatch
    val fileAddr = UTF8String.fromString(part.dvAddr)
    // ordinal of a requested __graft_pos column — filled from the
    // reader's physical row counter, not a decoder
    val posOrdinals: Array[Int] = required.fields.zipWithIndex
      .collect { case (f, i) if f.name == GraftRowMeta.PosCol => i }
    val decoders: Array[Group => Any] = required.fields.map { f =>
      if (literal.isDefined && f.name == SnapshotTable.ChangeTypeCol)
        (_: Group) => literal.get
      else if (f.name == GraftRowMeta.FileCol) (_: Group) => fileAddr
      else if (f.name == GraftRowMeta.PosCol) (_: Group) => null // posOrdinals
      else if (!readType.containsField(f.name))
        (_: Group) => null // evolved column the file predates
      else {
        val idx = readType.getFieldIndex(f.name)
        val leaf = GraftTableBatchReaderFactory.decoderFor(readType, idx, f)
        (g: Group) => if (g.getFieldRepetitionCount(idx) == 0) null else leaf(g)
      }
    }

    new PartitionReader[InternalRow] {
      private val reader: ParquetReader[Group] =
        ParquetReader.builder(new GroupReadSupport(), hPath)
          .withConf(conf).build()
      // this file's own tombstones, loaded HERE on the executor —
      // never materialized on the driver
      private val dvPositions: Array[Long] =
        ManifestPruning.loadOwnDvPositions(part.dvAddr, part.dvSidecarPaths)
      private var current: InternalRow = _
      private var rowIdx: Long = -1L
      private var emitted: Int = 0 // pushed-limit counter (per file)
      private var dvPtr: Int = 0 // dvPositions sorted; rows stream in order

      private def deleted(idx: Long): Boolean = {
        val dv = dvPositions
        while (dvPtr < dv.length && dv(dvPtr) < idx) dvPtr += 1
        dvPtr < dv.length && dv(dvPtr) == idx
      }

      private def convert(g: Group): InternalRow = {
        val out = new Array[Any](decoders.length)
        var i = 0
        while (i < decoders.length) { out(i) = decoders(i)(g); i += 1 }
        i = 0
        while (i < posOrdinals.length) { // row address = physical index
          out(posOrdinals(i)) = rowIdx; i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
      }

      override def next(): Boolean = {
        if (emitted >= limit) return false // pushed LIMIT: stop decoding
        var g = reader.read()
        rowIdx += 1
        while (g != null && deleted(rowIdx)) { g = reader.read(); rowIdx += 1 }
        if (g == null) false
        else { current = convert(g); emitted += 1; true }
      }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}

object GraftTableBatchReaderFactory {
  /** Build the decoder for one present field, resolving physical
    * type and timestamp unit ONCE — the same type coverage as the
    * streaming reader ([[GraftTableReaderFactory]]), minus the
    * per-row dispatch. */
  private[tables] def decoderFor(gType: org.apache.parquet.schema.GroupType,
      idx: Int, f: StructField): Group => Any = f.dataType match {
    case at: org.apache.spark.sql.types.ArrayType =>
      arrayDecoder(gType, idx, at, f.name)
    case _ => primitiveDecoderFor(gType, idx, f)
  }

  /** Decode a ONE-LEVEL array column (e.g. an embedding vector) from
    * the Group API. Handles the standard 3-level list layout Spark
    * writes (`optional group (LIST) { repeated group list { optional
    * element } }`) plus the 2-level legacy variants (repeated
    * primitive directly, or inside the outer group). Element decode
    * resolves ONCE at construction, like the primitive decoders. */
  private[tables] def arrayDecoder(gType: org.apache.parquet.schema.GroupType,
      idx: Int, at: org.apache.spark.sql.types.ArrayType,
      colName: String): Group => Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def elemReader(owner: org.apache.parquet.schema.GroupType,
        eIdx: Int): (Group, Int) => Any = {
      val prim = owner.getType(eIdx).asPrimitiveType().getPrimitiveTypeName
      (at.elementType, prim) match {
        case (BooleanType, _) => (g, i) => g.getBoolean(eIdx, i)
        case (ByteType, _) => (g, i) => g.getInteger(eIdx, i).toByte
        case (ShortType, _) => (g, i) => g.getInteger(eIdx, i).toShort
        case (IntegerType, _) => (g, i) => g.getInteger(eIdx, i)
        case (LongType, INT32) => (g, i) => g.getInteger(eIdx, i).toLong
        case (LongType, _) => (g, i) => g.getLong(eIdx, i)
        case (FloatType, _) => (g, i) => g.getFloat(eIdx, i)
        case (DoubleType, FLOAT) => (g, i) => g.getFloat(eIdx, i).toDouble
        case (DoubleType, _) => (g, i) => g.getDouble(eIdx, i)
        case (StringType, _) =>
          (g, i) => UTF8String.fromBytes(g.getBinary(eIdx, i).getBytes)
        case (BinaryType, _) => (g, i) => g.getBinary(eIdx, i).getBytes
        case (dt, pt) => throw new UnsupportedOperationException(
          s"graft-table reader: array column $colName element $dt from parquet $pt")
      }
    }
    val fieldType = gType.getType(idx)
    if (fieldType.isPrimitive) {
      // legacy 2-level: repeated primitive directly on the row group
      val rd = elemReader(gType, idx)
      (g: Group) => {
        val n = g.getFieldRepetitionCount(idx)
        val out = new Array[Any](n)
        var i = 0
        while (i < n) { out(i) = rd(g, i); i += 1 }
        new GenericArrayData(out)
      }
    } else {
      val outer = fieldType.asGroupType()
      require(outer.getFieldCount == 1,
        s"graft-table reader: unsupported list layout for $colName: $outer")
      val repType = outer.getType(0)
      if (repType.isPrimitive) {
        // 2-level: optional group { repeated primitive element }
        val rd = elemReader(outer, 0)
        (g: Group) => {
          val og = g.getGroup(idx, 0)
          val n = og.getFieldRepetitionCount(0)
          val out = new Array[Any](n)
          var i = 0
          while (i < n) { out(i) = rd(og, i); i += 1 }
          new GenericArrayData(out)
        }
      } else {
        // standard 3-level: repeated group list { optional element }
        val rd = elemReader(repType.asGroupType(), 0)
        (g: Group) => {
          val og = g.getGroup(idx, 0)
          val n = og.getFieldRepetitionCount(0)
          val out = new Array[Any](n)
          var i = 0
          while (i < n) {
            val eg = og.getGroup(0, i)
            out(i) = if (eg.getFieldRepetitionCount(0) == 0) null else rd(eg, 0)
            i += 1
          }
          new GenericArrayData(out)
        }
      }
    }
  }

  private def primitiveDecoderFor(gType: org.apache.parquet.schema.GroupType,
      idx: Int, f: StructField): Group => Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val prim = gType.getType(idx).asPrimitiveType().getPrimitiveTypeName
    (f.dataType, prim) match {
      case (BooleanType, _) => g => g.getBoolean(idx, 0)
      case (ByteType, _) => g => g.getInteger(idx, 0).toByte
      case (ShortType, _) => g => g.getInteger(idx, 0).toShort
      case (IntegerType | DateType, _) => g => g.getInteger(idx, 0)
      // TYPE-WIDENING decode: files committed before a widenColumn
      // keep their narrower physical type — promote up losslessly
      case (LongType, INT32) => g => g.getInteger(idx, 0).toLong
      case (DoubleType, FLOAT) => g => g.getFloat(idx, 0).toDouble
      case (DoubleType, INT32) => g => g.getInteger(idx, 0).toDouble
      case (LongType, _) => g => g.getLong(idx, 0)
      case (FloatType, _) => g => g.getFloat(idx, 0)
      case (DoubleType, _) => g => g.getDouble(idx, 0)
      case (StringType, _) => g => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case (BinaryType, _) => g => g.getBinary(idx, 0).getBytes
      case (TimestampType, INT96) =>
        g => GraftTableReaderFactory.int96ToMicros(g.getInt96(idx, 0).getBytes)
      case (TimestampType, INT64) =>
        import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
        gType.getType(idx).asPrimitiveType().getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MILLIS =>
            g => g.getLong(idx, 0) * 1000L
          case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS =>
            g => g.getLong(idx, 0) / 1000L
          case _ => g => g.getLong(idx, 0) // MICROS (Spark's default)
        }
      case (dt, pt) => throw new UnsupportedOperationException(
        s"graft-table reader: column ${f.name} $dt from parquet $pt")
    }
  }
}

/** Batch write into the table: executors stage part files under
  * data/ (fully parallel), the driver publishes ONE atomic manifest —
  * `mode("append")` carries the current version's files forward,
  * `mode("overwrite")` (INSERT OVERWRITE / SupportsTruncate) lists
  * only the new files. Idempotent per (writer, attempt) through the
  * same manifest ledger the streaming sink uses. */
class GraftTableBatchWrite(root: String, schema: StructType, queryId: String,
    truncate: Boolean) extends BatchWrite {
  schema.fields.foreach { f =>
    require(GraftTableReaderFactory.supported(f.dataType),
      s"graft-table sink does not support column ${f.name}: ${f.dataType}")
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // appends into a column-mapped table stage their parts under the
    // PHYSICAL names the table's files use; an overwrite replaces the
    // schema wholesale (mapping resets), so it writes logical names
    val writeSchema =
      if (truncate) schema
      else SnapshotTable.physApplied(schema, SnapshotTable.physMapAt(
        Paths.get(root), SnapshotTable.currentVersionAt(Paths.get(root))))
    new GraftTableBatchWriterFactory(root, writeSchema.json, queryId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // per-file row counts ride the write tasks' own commit messages —
    // the cluster-scale stats channel: the driver publishes `#rows=`
    // lines without re-opening a single parquet footer
    val counted = messages.collect {
      case GraftTableWriteMessage(rel, n) if n > 0 => rel -> n
    }
    val rels = counted.map(_._1).sorted
    val table = new SnapshotTable(SparkSession.active, root)
    val committed =
      try table.commitFilesOnce(rels.toSeq, schema, 0L,
        s"batch:$queryId", carry = !truncate,
        stagedRows = Some(counted.toMap))
      catch { case e: Throwable =>
        // nothing published (e.g. a CHECK-constraint violation in the
        // staged rows) — the staged parts are this writer's garbage
        rels.foreach { rel =>
          try java.nio.file.Files.deleteIfExists(Paths.get(root).resolve(rel))
          catch { case _: java.io.IOException => () }
        }
        throw e
      }
    if (committed.isEmpty) {
      // replayed attempt: the committed version references the first
      // attempt's files — these staged duplicates are garbage
      rels.foreach { rel =>
        try java.nio.file.Files.deleteIfExists(Paths.get(root).resolve(rel))
        catch { case _: java.io.IOException => () }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftTableWriteMessage(rel, _) =>
        try java.nio.file.Files.deleteIfExists(Paths.get(root).resolve(rel))
        catch { case _: java.io.IOException => () }
      case _ => ()
    }
}

class GraftTableBatchWriterFactory(root: String, schemaJson: String,
    queryId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    new GraftTableDataWriter(root, schema, partitionId, taskId, s"batch-$queryId")
  }
}
