package graft.sources.verkada

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DSv2 batch source for the offset-paginated video-lease list
  * (reference: limit/offset paging loop, /root/reference/task.ts:
  * 116-127 — `?limit=50&page=N`, loop while `total > 50*page`).
  *
  * Spark-first upgrade over the reference's sequential loop: one
  * planning-time probe reads `total`, then ONE InputPartition PER
  * PAGE — pages fetch in parallel across executors. Limit pushdown
  * (SupportsPushDownLimit) mirrors the reference's `limit=50` URL
  * param by capping the planned page count.
  *
  * Options: url (base endpoint), pageSize (default 50), token.
  */
class LeaseSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = LeaseSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LeaseTable(properties.asScala.toMap)
}

object LeaseSource {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("layer", LongType, nullable = true),
    StructField("source_id", StringType, nullable = true),
    StructField("page", IntegerType, nullable = false)))
}

class LeaseTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "verkada_leases"
  override def schema(): StructType = LeaseSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new LeaseScanBuilder(options ++ o.asScala)
}

class LeaseScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownLimit {
  private var limit: Option[Int] = None
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def build(): Scan = new LeaseScan(options, limit)
}

class LeaseScan(options: Map[String, String], limit: Option[Int]) extends Scan with Batch {
  override def readSchema(): StructType = LeaseSource.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val url = options("url")
    val pageSize = options.getOrElse("pagesize", "50").toInt
    val token = options.getOrElse("token", "")
    // planning-time probe for `total` (the reference reads it from the
    // first page response, task.ts:127); the probe's body is handed to
    // the page-1 partition so that page is not fetched twice
    val page1Body = Json.get(s"$url?limit=$pageSize&page=1", Json.bearer(token))
    val total = Json.parse(page1Body).get("total").asLong()
    val capped = limit.map(l => math.min(l, total)).getOrElse(total)
    val nPages = math.max(1, math.ceil(capped.toDouble / pageSize).toInt)
    (1 to nPages).map(p =>
      LeasePartition(url, pageSize, p, token,
        limit.map(l => l - (p - 1) * pageSize),
        if (p == 1) Some(page1Body) else None): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new LeaseReaderFactory
}

case class LeasePartition(url: String, pageSize: Int, page: Int, token: String,
  remaining: Option[Int], prefetchedBody: Option[String]) extends InputPartition

class LeaseReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new LeaseReader(p.asInstanceOf[LeasePartition])
}

class LeaseReader(p: LeasePartition) extends PartitionReader[InternalRow] {
  private lazy val items: Iterator[InternalRow] = {
    val body = Json.parse(p.prefetchedBody.getOrElse(
      Json.get(s"${p.url}?limit=${p.pageSize}&page=${p.page}", Json.bearer(p.token))))
    val all = body.get("items").elements().asScala.map { it =>
      InternalRow(
        UTF8String.fromString(it.get("id").asText()),
        if (it.hasNonNull("layer")) it.get("layer").asLong() else null,
        if (it.hasNonNull("source_id")) UTF8String.fromString(it.get("source_id").asText())
        else null,
        p.page)
    }
    p.remaining.map(all.take).getOrElse(all)
  }
  private var current: InternalRow = _
  override def next(): Boolean = { if (items.hasNext) { current = items.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
