package repobench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.plans.MaterializedViews
import graft.tables.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `table_churn`: one SnapshotTable with an incremental MV on it. One
  * operation is one block of five writes (append, merge, DV delete, DV
  * update, and compactSmall closing the block), three reads (a readWhere
  * range read over the commitClustered first version after the merge, a
  * time-travel read after the delete, a full read after the compaction)
  * and an MV refresh, which folds the changes of the block's five
  * commits. Each write, read and the refresh is one timed part; a
  * block's latency is the sum of its parts. Every read is compared with
  * an in-benchmark model of that version, and the MV with the model's
  * aggregate, outside the timing. */
final class TableChurn(ctx: Ctx) extends Workload {
  import TableChurn._
  private val spark = ctx.spark
  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false), StructField("val", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  private var root: Path = _
  private var table: SnapshotTable = _
  private var mvFp: String = _
  private var rng: java.util.SplittableRandom = _
  private var nextId = 0L
  private var hash = ""
  /** Table content per committed version. */
  private val model = mutable.Map.empty[Long, Map[Long, Rec]]
  private var userBytes = 0L
  private var bytesWritten = 0L
  private val seenFiles = mutable.Set.empty[String]
  private val refreshModes = mutable.ArrayBuffer.empty[String]
  private var rangeFilesRead = 0L
  private var rangeFilesTotal = 0L

  private def rows(recs: Iterable[(Long, Rec)]): DataFrame =
    spark.createDataFrame(recs.map { case (k, r) => Row(k, r.grp, r.v, r.payload) }.toSeq.asJava, schema)

  private def fresh(n: Int): Seq[(Long, Rec)] = (0 until n).map { _ =>
    nextId += 1
    nextId -> Rec(rng.nextInt(Groups), rng.nextLong(1000000L), s"p${rng.nextLong(1L << 40)}")
  }
  private def logicalBytes(recs: Iterable[(Long, Rec)]): Long =
    recs.map(_._2.payload.length + 20L).sum

  override def prepare(): Unit = {
    rng = new java.util.SplittableRandom(ctx.args.seed)
    root = ctx.args.work.resolve("churn")
    table = SnapshotTable(spark, root.resolve("table").toString)
    val initial = fresh(InitialRows)
    hash = QueryMix.sha256(initial.map { case (k, r) => s"$k,$r" }.mkString("\n"))
    userBytes += logicalBytes(initial)
    val v = table.commitClustered(rows(initial), "id", ClusterFiles)
    model(v) = initial.toMap
    mvFp = MaterializedViews.registerIncremental(table, root.resolve("mv").resolve("agg").toString)(
      mvQuery, mvQuery, mvCombine, _.filter(col("n") > 0), Some(mvDelta))
    trackWrites()
  }

  override def inputHash: String = hash
  override def warmupOps: Int = 1
  override def traceOps: Int = 1
  override def inputSeconds: Double = 0.0
  override def opName: String = "block"

  /** Walks the table and MV roots, counting bytes of files not seen
    * before as written. */
  private def trackWrites(): Long = {
    var onDisk = 0L
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val size = Files.size(p)
      onDisk += size
      if (seenFiles.add(p.toString)) bytesWritten += size
    }
    onDisk
  }

  private def current: Long = table.currentVersion

  /** Files created under the table and MV roots, per verb (traced runs). */
  private val filesCreated = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def files(): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet

  /** Runs `f` as span `name`, counting the files it creates when traced. */
  private def verbSpan[T](name: String)(f: => T): T =
    if (!ctx.args.trace) f
    else {
      val before = files()
      val r = ctx.span(name)(f)
      filesCreated(name) += (files() -- before).size
      r
    }

  private def write(verb: String): Unit = {
    val base = model(current)
    val (v, next) = verbSpan(s"tables.$verb") {
      verb match {
        case "append" =>
          val add = fresh(AppendRows)
          userBytes += logicalBytes(add)
          (table.appendOnce(rows(add), current).get, base ++ add)
        case "merge" =>
          val live = base.keysIterator.toIndexedSeq
          val upd = (0 until MergeUpdates).map(_ => live(rng.nextInt(live.size))).distinct.map { k =>
            k -> base(k).copy(v = rng.nextLong(1000000L), payload = s"m${rng.nextLong(1L << 40)}")
          }
          val src = upd ++ fresh(MergeInserts)
          userBytes += logicalBytes(src)
          (table.merge(rows(src), "id"), base ++ src)
        case "delete" =>
          val r = rng.nextInt(DeleteModulus).toLong
          (table.delete(pmod(col("id"), lit(DeleteModulus.toLong)) === r),
            base.filter { case (k, _) => Math.floorMod(k, DeleteModulus.toLong) != r })
        case "update" =>
          val g = rng.nextInt(Groups)
          val m = rng.nextInt(UpdateModulus).toLong
          def hit(k: Long, rec: Rec) = rec.grp == g && Math.floorMod(k, UpdateModulus.toLong) != m
          (table.update(col("grp") === g && pmod(col("id"), lit(UpdateModulus.toLong)) =!= m,
            Map("val" -> (col("val") + 7L), "payload" -> concat(col("payload"), lit("u")))),
            base.map { case (k, rec) =>
              if (hit(k, rec)) k -> rec.copy(v = rec.v + 7L, payload = rec.payload + "u") else k -> rec
            })
        case "compact_small" =>
          (table.compactSmall(SmallBytes, 1), base)
      }
    }
    model(v) = next
  }

  /** (rows, Σid, Σgrp, Σval, Σcrc32(payload)) — every column, so no
    * scan can prune one away. */
  private def aggregate(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("id")), sum(col("grp").cast("long")), sum(col("val")),
      sum(crc32(col("payload").cast("binary")))).head()
    (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }
  private def expect(m: Iterable[(Long, Rec)]): Seq[Long] = {
    var (n, si, sg, sv, sc) = (0L, 0L, 0L, 0L, 0L)
    m.foreach { case (k, r) =>
      val c = new java.util.zip.CRC32; c.update(r.payload.getBytes("UTF-8"))
      n += 1; si += k; sg += r.grp; sv += r.v; sc += c.getValue
    }
    Seq(n, si, sg, sv, sc)
  }

  /** Picks what one read verb reads: (version, id range). */
  private def readTarget(verb: String): (Long, Option[(Long, Long)]) = verb match {
    case "read" => (current, None)
    case "read_version" => (1L + rng.nextInt(current.toInt), None)
    case "read_where" =>
      val lo = rng.nextInt(InitialRows - RangeWidth).toLong + 1
      (1L, Some((lo, lo + RangeWidth - 1)))
  }

  private def readDf(verb: String, v: Long, range: Option[(Long, Long)]): DataFrame = verb match {
    case "read" => table.read()
    case "read_version" => table.read(v)
    case "read_where" => table.readWhere(v, "id", range.get._1, range.get._2)
  }

  /** The write, timed as part `w`, then the read `rv` if the step has
    * one, timed as part `rv@w`; picking the read target is not timed. */
  override def op(i: Int): OpResult = {
    val bad = Steps.flatMap { case (w, read) =>
      ctx.timed(w)(write(w))
      trackWrites()
      read.toSeq.flatMap { rv =>
        val (v, range) = readTarget(rv)
        val got = ctx.timed(s"$rv@$w")(verbSpan(s"tables.$rv")(aggregate(readDf(rv, v, range))))
        if (ctx.args.trace && range.isDefined) {
          rangeFilesRead += readDf(rv, v, range).inputFiles.length
          rangeFilesTotal += table.read(v).inputFiles.length
        }
        val want = expect(model(v).filter { case (k, _) => range.forall { case (lo, hi) => k >= lo && k <= hi } })
        if (got != want) Seq(s"$rv after $w: got $got expected $want") else Nil
      }
    }
    val mode = ctx.timed("mv_refresh") {
      verbSpan("plans.mv_refresh") {
        val res = MaterializedViews.refresh(mvFp).get
        mvFp = res.fingerprint
        res.mode
      }
    }
    if (i >= 0) refreshModes += mode
    trackWrites()
    val all = bad ++ checkMv()
    OpResult(all.isEmpty, all.mkString("; "))
  }

  /** The MV's materialization equals the model's per-group aggregate. */
  private def checkMv(): Seq[String] = {
    val path = MaterializedViews.materializationPath(mvFp)
      .getOrElse(return Seq(s"MV $mvFp has no materialization"))
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Int]("grp"), (r.getAs[Long]("n"), r.getAs[Long]("s")))).toMap
    val want = model(current).values.groupBy(_.grp)
      .map { case (g, rs) => g -> (rs.size.toLong, rs.map(_.v).sum) }
    if (got == want) Nil else Seq(s"MV differs from the model at version $current")
  }

  override def layerMetrics(c: Ctx): Map[String, Double] = {
    val perVerb = verbs.flatMap { v =>
      val fs = c.tracer.spanFs(s"tables.$v")
      Seq(s"tables.${v}_ms" -> c.tracer.spanMs(s"tables.$v"),
        s"tables.$v.fs_write_ops" -> filesCreated(s"tables.$v").toDouble,
        s"tables.$v.fs_bytes_read" -> fs(2).toDouble, s"tables.$v.fs_bytes_written" -> fs(3).toDouble)
    }
    val totals = verbs.map(v => c.tracer.spanFs(s"tables.$v")).foldLeft(new Array[Long](4)) {
      (a, b) => a.indices.foreach(i => a(i) += b(i)); a
    }
    perVerb.toMap ++ Map(
      "tables.fs_write_ops" -> verbs.map(v => filesCreated(s"tables.$v")).sum.toDouble,
      "tables.fs_bytes_read" -> totals(2).toDouble, "tables.fs_bytes_written" -> totals(3).toDouble,
      "plans.mv_refresh.fs_write_ops" -> filesCreated("plans.mv_refresh").toDouble,
      "tables.files_live" -> table.read().inputFiles.length.toDouble,
      "tables.files_read_ratio" ->
        (if (rangeFilesTotal == 0) 0.0 else rangeFilesRead.toDouble / rangeFilesTotal),
      "tables.write_amp" -> writeAmp, "tables.space_amp" -> spaceAmp(),
      "plans.mv_refresh_ms" -> c.tracer.spanMs("plans.mv_refresh"),
      "plans.mv_full_ratio" ->
        (if (refreshModes.isEmpty) 0.0 else refreshModes.count(_ == "full").toDouble / refreshModes.size))
  }

  private def writeAmp: Double = bytesWritten.toDouble / userBytes

  /** Bytes on disk under the table and MV roots ÷ bytes of the final
    * snapshot written fresh. */
  private def spaceAmp(): Double = {
    val onDisk = trackWrites()
    val freshDir = ctx.args.work.resolve("churn-fresh")
    table.read().write.mode("overwrite").parquet(freshDir.toString)
    val freshBytes = Files.walk(freshDir).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    onDisk.toDouble / freshBytes
  }

  override def report: Seq[String] = Seq(
    f"table: versions=$current rows=${model(current).size} write_amp=$writeAmp%.2f " +
      s"mv refresh modes=${refreshModes.groupBy(identity).map { case (k, v) => s"$k:${v.size}" }.mkString(",")}")

  override def close(): Unit = if (mvFp != null) {
    MaterializedViews.deregister(mvFp)
    mvFp = null
  }
}

final case class Rec(grp: Int, v: Long, payload: String)

object TableChurn {
  /** One block: the write verbs in a fixed order (compactSmall last, so
    * it finds the block's small files), three of them followed by a
    * read, one of each kind. The seed picks rows, keys, predicates,
    * versions and ranges. */
  val Steps: Seq[(String, Option[String])] = Seq("append" -> None, "merge" -> Some("read_where"),
    "delete" -> Some("read_version"), "update" -> None, "compact_small" -> Some("read"))
  val verbs: Seq[String] = Seq("append", "merge", "delete", "update", "compact_small",
    "read", "read_version", "read_where")
  val InitialRows = 4000
  val ClusterFiles = 8
  val AppendRows = 400
  val MergeUpdates = 200
  val MergeInserts = 100
  val DeleteModulus = 97
  val UpdateModulus = 3
  val Groups = 16
  val RangeWidth = 400
  val SmallBytes: Long = 256L * 1024

  def mvQuery(df: DataFrame): DataFrame =
    df.groupBy("grp").agg(count(lit(1)).as("n"), sum(col("val")).as("s"))
  def mvCombine(df: DataFrame): DataFrame =
    df.groupBy("grp").agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  def mvDelta(cdc: DataFrame): DataFrame = {
    val sign = when(col(SnapshotTable.ChangeTypeCol).isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))
    cdc.groupBy("grp").agg(sum(sign).as("n"), sum(sign * col("val")).as("s"))
  }
}
