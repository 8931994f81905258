package graft.sources.verkada

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** Structured-Streaming (MicroBatchStream) twin of [[CameraSource]]:
  * the cursor-paginated device scan as an incremental source — one
  * API page per micro-batch, so a scheduled re-pull becomes a
  * standing `readStream` instead of repeated batch jobs
  * (reference: next_page_token paging, /root/reference/task.ts:
  * 143-166).
  *
  * Offset design: the offset is the PAGE ORDINAL; the cursor token is
  * driver-side state inside the stream (an opaque server string — it
  * cannot be recomputed from an ordinal, so it lives with the only
  * component that ever touches it). `latestOffset()` advances the
  * cursor by fetching exactly one page and buffering it; the
  * non-advancing-token guard (task.ts:160-166) lives THERE: a token
  * that fails to advance marks the stream drained and latestOffset
  * stops moving, which under processAllAvailable/AvailableNow
  * terminates cleanly instead of looping on the stuck cursor.
  *
  * The buffered page rides the InputPartition to the executor — a
  * page is bounded (one HTTP response), so this is a bounded driver
  * buffer, the same shape as Kafka's metadata-on-driver /
  * data-on-executor split but for a protocol whose "offsets" (cursor
  * tokens) are server-opaque. `commit(end)` drops buffers at or
  * below the committed page. Cursor APIs are not seekable, so a
  * restarted query re-reads from the live cursor head (the API
  * offers no replay; the reference's batch scan has the same
  * at-most-once contract).
  */
class CameraStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CameraSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CameraStreamTable(properties.asScala.toMap)
}

class CameraStreamTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "verkada_cameras_stream"
  override def schema(): StructType = CameraSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options ++ o.asScala
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = CameraSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new CameraMicroBatchStream(opts("url"), opts.getOrElse("token", ""))
      }
    }
  }
}

/** Page-ordinal offset (page 0 = nothing read yet). */
case class CameraOffset(page: Int) extends Offset {
  override def json(): String = s"""{"page":$page}"""
}

class CameraMicroBatchStream(url: String, token: String)
    extends MicroBatchStream with SupportsAdmissionControl {
  private val headers = Json.bearer(token)

  // driver-side cursor state, all guarded by `this`
  private var pageToken: Option[String] = None
  private var fetchedPages = 0
  private var drained = false
  private val buffered = scala.collection.mutable.Map.empty[Int, Array[String]]

  /** Restart guard: on recovery from a checkpoint the committed
    * offset (page N) is restored from the offset log while a fresh
    * stream instance starts counting at 0 — fresh pages would get
    * ordinals <= N, never fall inside a planned (start, end] range,
    * and be silently dropped at commit. Seed the counter from every
    * restored/observed ordinal so fresh fetches are numbered strictly
    * after the committed page and latestOffset never regresses below
    * the offset log. Ordinals observed mid-run are always <= our own
    * fetchedPages, so this is a no-op outside recovery.
    */
  private def seedFromRestored(p: Int): Unit = synchronized {
    if (p > fetchedPages) fetchedPages = p
  }

  /** Fetch ONE page, buffer its rows, advance (or drain) the cursor. */
  private def fetchNext(): Unit = {
    val (cams, next) = CameraSource.fetchPage(url, headers, pageToken)
    fetchedPages += 1
    buffered(fetchedPages) = cams.map(_.toString).toArray
    drained = next.isEmpty
    pageToken = next
  }

  override def initialOffset(): Offset = CameraOffset(0)

  /** AdmissionControl variant — the one Spark actually calls. The
    * `start` parameter is the restored committed offset on the first
    * trigger after a restart, and it arrives BEFORE any fetch: the
    * plain latestOffset()/deserializeOffset path learns the restored
    * ordinal only in runBatch, i.e. after the first page has already
    * been fetched and buffered at an ordinal <= committed (and hence
    * silently dropped). Seeding here closes that window. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    seedFromRestored(start.asInstanceOf[CameraOffset].page)
    if (!drained) fetchNext()
    CameraOffset(fetchedPages)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset = {
    val p = "\"page\":(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    seedFromRestored(p)
    CameraOffset(p)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val s = start.asInstanceOf[CameraOffset].page
      val e = end.asInstanceOf[CameraOffset].page
      seedFromRestored(e) // replayed WAL batch on recovery
      ((s + 1) to e).map { p =>
        CameraPagePartition(p, buffered.getOrElse(p, Array.empty)): InputPartition
      }.toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new CameraPageReaderFactory

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[CameraOffset].page
    buffered.keys.filter(_ <= e).toSeq.foreach(buffered.remove)
  }

  override def stop(): Unit = ()
}

case class CameraPagePartition(page: Int, rows: Array[String]) extends InputPartition

class CameraPageReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[CameraPagePartition]
    new PartitionReader[InternalRow] {
      private val it = part.rows.iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = InternalRow(UTF8String.fromString(it.next()), part.page); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
