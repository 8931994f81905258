package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md /
  * FIXTURES.md). One parquet file per table under the sf directory.
  *
  * Scale posture: these are plain parquet scans — Catalyst handles
  * column pruning and predicate pushdown into the vectorized reader,
  * so every query should express filters/projections on top of these
  * rather than materializing intermediates.
  *
  * Schema resolution is cached. `spark.read.parquet(path)` infers the
  * schema with a Spark job (footer reads) on every call, even for one
  * file, and most query builds reference several tables. Every load
  * first takes ONE Hadoop listing of the source (`listFiles`,
  * recursive) and keys the inferred schema on: the qualified path, a
  * digest of its leaf files (name, length, modification time) and the
  * session's values of the SQL confs that change what inference
  * returns ([[InferenceConfs]]). A hit reads with
  * `spark.read.schema(cached).parquet(path)`, which runs no job; a
  * miss infers exactly as an uncached read would. Any rewrite of the
  * files (new part names, lengths or mtimes) changes the digest, so a
  * stale schema is never served; the cache holds one listing per
  * path, and a path that cannot be listed is read uncached. The cost
  * per load is that one listing — a directory walk on object stores.
  */
object Tables {

  /** SQL confs whose value changes the schema parquet inference
    * derives from the same files. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles")

  /** One listing of a source: its qualified path, a digest of its
    * leaf files and their total size. */
  private final case class Listing(path: String, stamp: String, bytes: Long)

  /** The files a load saw and the conf values it inferred under. */
  private final case class Key(listing: Listing, confs: Seq[String])

  /** Per qualified path: its latest listing and the schemas inferred
    * from exactly those files, one per conf combination. */
  private final case class Resolved(listing: Listing, schemas: Map[Seq[String], StructType])

  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** Per session: the [[Key]] each `view` name was last registered
    * with. Temp views are session-scoped, so is this memo. */
  private val views = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Key]]())

  private def qualify(s: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def list(s: SparkSession, path: String): Option[Listing] = Try {
    val (fs, p) = qualify(s, path)
    // a listStatus walk, not listFiles: each LocatedFileStatus reads
    // its permissions, which without native IO forks an `ls` per file
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    val files = fs.listStatus(p).toSeq.flatMap(leaves)
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(_.getPath.toString).foreach { f =>
      md.update(s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}\n".getBytes(UTF_8))
    }
    Listing(p.toString, md.digest().map(b => f"$b%02x").mkString, files.map(_.getLen).sum)
  }.toOption

  private def key(s: SparkSession, path: String): Option[Key] =
    list(s, path).map(Key(_, InferenceConfs.map(k => s.conf.getOption(k).getOrElse(""))))

  private def read(s: SparkSession, path: String, key: Option[Key]): DataFrame = key match {
    case None => s.read.parquet(path)
    case Some(Key(l, confs)) =>
      Option(resolved.get(l.path)).filter(_.listing == l).flatMap(_.schemas.get(confs)) match {
        case Some(schema) => s.read.schema(schema).parquet(path)
        case None =>
          val df = s.read.parquet(path)
          // cache only if the files did not change while inferring, so
          // the schema stored under a stamp came from those files
          if (list(s, path).contains(l))
            resolved.compute(l.path, (_, old) =>
              if (old != null && old.listing == l)
                old.copy(schemas = old.schemas + (confs -> df.schema))
              else Resolved(l, Map(confs -> df.schema)))
          df
      }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    read(spark, path, key(spark, path))
  }

  /** Total bytes of `name`'s files under `dir`, from the listing the
    * schema cache holds for it (a fresh listing if it holds none);
    * None when the source does not exist. */
  def bytes(s: SparkSession, dir: String, name: String): Option[Long] = {
    val path = s"$dir/$name.parquet"
    Try(qualify(s, path)._2.toString).toOption
      .flatMap(p => Option(resolved.get(p))).map(_.listing.bytes)
      .orElse(list(s, path).map(_.bytes))
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts has shipped in two physical forms across fixture
    * generations: TIMESTAMP(NANOS) (readable only as raw-nanos BIGINT
    * under the legacy conf [[GraftSession]] sets) and, since the
    * round-6 refresh, plain TIMESTAMP(MICROS) (surfacing as NTZ — no
    * tz metadata in the file). Dispatch on the observed type so the
    * loader — not every downstream query — owns the difference, and
    * normalize to session-local TimestampType either way (UTC
    * session, so NTZ→LTZ is value-preserving and the µs values match
    * what DuckDB reads for the oracle). The nanos arm keeps `div`
    * integral: a double roundtrip would lose precision on
    * 1.7e18-scale nanos. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        // Fail fast: an unanticipated physical encoding (INT96, millis,
        // …) flowing through unnormalized would silently skew every
        // downstream time query. New fixture encodings must be added
        // here, where the loader owns the normalization.
        throw new IllegalStateException(
          s"events.ts has unexpected physical type $other; " +
            "add an explicit normalization arm in Tables.events")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Registers `name` as a temp view whose view NAME is keyed by the
    * data dir, and returns that name for SQL interpolation. A
    * session-global fixed name ("v_orders") is a shared mutable
    * binding: two queries planned concurrently against different
    * scale-factor dirs would clobber each other. Dir-keyed names make
    * registration idempotent per (table, dir) and collision-free
    * across dirs. A view this session already registered from the
    * same files under the same inference confs, and that still
    * exists, is not registered again. */
  def view(s: SparkSession, d: String, name: String): String = {
    val v = s"v_${name}_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    val path = s"$d/$name.parquet"
    val k = key(s, path)
    val memo = views.computeIfAbsent(s, _ => new ConcurrentHashMap[String, Key]())
    val bound = k.isDefined && k == Option(memo.get(v)) && s.catalog.tableExists(v)
    if (!bound) {
      read(s, path, k).createOrReplaceTempView(v)
      k match {
        case Some(x) => memo.put(v, x)
        case None => memo.remove(v)
      }
    }
    v
  }
}
