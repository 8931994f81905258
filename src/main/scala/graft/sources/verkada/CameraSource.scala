package graft.sources.verkada

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import com.fasterxml.jackson.databind.JsonNode
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DSv2 batch source for the cursor-paginated camera-device scan
  * (reference: next_page_token paging, /root/reference/task.ts:
  * 143-166, including the infinite-loop guard for a token that fails
  * to advance, task.ts:160-166).
  *
  * Cursor pagination is inherently sequential (the next token is only
  * known after a page returns), so this scan is a single
  * InputPartition whose reader walks the cursor — the guard lives in
  * the reader. Each camera row is emitted as ONE raw-JSON string
  * column; schema validation happens in Spark via from_json(...,
  * FAILFAST) (the reference's `.typed(schema)` per response,
  * task.ts:155-158 → SURVEY.md A5) so malformed rows fail loudly in
  * the engine, not silently in the connector.
  *
  * Options: url, token, pageSize (optional page_size hint).
  */
class CameraSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CameraSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CameraTable(properties.asScala.toMap)
}

object CameraSource {
  val schema: StructType = StructType(Seq(
    StructField("json", StringType, nullable = false),
    StructField("page", IntegerType, nullable = false)))

  /** The 22-field camera record schema mirroring the reference's
    * OutputSchema (/root/reference/task.ts:48-71); nullable exactly
    * on the Union[Null, T] fields. */
  val cameraSchema: StructType = StructType(Seq(
    StructField("camera_id", StringType, nullable = false),
    StructField("cloud_retention", LongType, nullable = false),
    StructField("date_added", LongType, nullable = false),
    StructField("device_retention", LongType, nullable = true),
    StructField("firmware", StringType, nullable = false),
    StructField("firmware_update_schedule", StringType, nullable = false),
    StructField("last_online", LongType, nullable = false),
    StructField("local_ip", StringType, nullable = true),
    StructField("location", StringType, nullable = false),
    StructField("location_angle", DoubleType, nullable = false),
    StructField("location_lat", DoubleType, nullable = false),
    StructField("location_lon", DoubleType, nullable = false),
    StructField("mac", StringType, nullable = true),
    StructField("model", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("people_history_enabled", BooleanType, nullable = false),
    StructField("serial", StringType, nullable = false),
    StructField("site", StringType, nullable = false),
    StructField("site_id", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("timezone", StringType, nullable = false),
    StructField("vehicle_history_enabled", BooleanType, nullable = false)))

  /** One step of the camera cursor walk, shared by the batch reader
    * and the micro-batch stream: GET `url` at `cursor` (URL-encoded:
    * cursors are opaque server strings) and return the page's camera
    * objects with the next cursor. The next cursor is None when the
    * server sends none or one that fails to advance (task.ts:160-166),
    * which ends the walk. */
  private[verkada] def fetchPage(url: String, headers: Map[String, String],
      cursor: Option[String]): (Iterator[JsonNode], Option[String]) = {
    val u = url + cursor.map(t =>
      s"?page_token=${java.net.URLEncoder.encode(t, "UTF-8")}").getOrElse("")
    val body = Json.parse(Json.get(u, headers))
    val next =
      if (body.hasNonNull("next_page_token")) Some(body.get("next_page_token").asText())
      else None
    (body.get("cameras").elements().asScala, next.filterNot(cursor.contains))
  }
}

class CameraTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "verkada_cameras"
  override def schema(): StructType = CameraSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CameraScanBuilder(options ++ o.asScala)
}

class CameraScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownLimit {
  private var limit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def build(): Scan = new CameraScan(options, limit)
}

class CameraScan(options: Map[String, String], limit: Option[Int]) extends Scan with Batch {
  override def readSchema(): StructType = CameraSource.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(CameraPartition(options("url"), options.getOrElse("token", ""), limit))
  override def createReaderFactory(): PartitionReaderFactory = new CameraReaderFactory
}

case class CameraPartition(url: String, token: String, limit: Option[Int])
  extends InputPartition

class CameraReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CameraReader(p.asInstanceOf[CameraPartition])
}

/** Walks the cursor: stops when next_page_token is null/absent, when
  * it FAILS TO ADVANCE (the reference's guard), or when the pushed
  * limit is satisfied. */
class CameraReader(p: CameraPartition) extends PartitionReader[InternalRow] {
  private val headers = Json.bearer(p.token)
  private var pageToken: Option[String] = None
  private var page = 0
  private var done = false
  private var emitted = 0
  private var buffer: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  private def fetchPage(): Unit = {
    val (cams, next) = CameraSource.fetchPage(p.url, headers, pageToken)
    page += 1
    val pg = page
    buffer = cams.map(c => InternalRow(UTF8String.fromString(c.toString), pg))
    done = next.isEmpty
    pageToken = next
  }

  override def next(): Boolean = {
    if (p.limit.exists(emitted >= _)) return false
    while (!buffer.hasNext && !done) fetchPage()
    if (buffer.hasNext) { current = buffer.next(); emitted += 1; true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
