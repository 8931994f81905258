package repobench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop FileSystem counters for the local `file` scheme:
  * (read ops, write ops, bytes read, bytes written). Spark's parquet
  * reads and writes go through it; java.nio manifest IO does not, and
  * the local file system counts bytes but no operations. */
object Fs {
  def now(): Array[Long] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(all.map(_.getReadOps.toLong).sum, all.map(_.getWriteOps.toLong).sum,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Wraps a codegen histogram's reservoir to keep an exact running sum
  * (the stock reservoir only keeps a decaying sample). */
final class SummingReservoir(inner: Reservoir) extends Reservoir {
  val sum = new LongAdder
  override def size(): Int = inner.size()
  override def update(v: Long): Unit = { sum.add(v); inner.update(v) }
  override def getSnapshot: Snapshot = inner.getSnapshot
}

object SummingReservoir {
  /** Installs (once) a summing reservoir into `h`; None if the
    * histogram's layout is not the expected one. */
  def install(h: Histogram): Option[SummingReservoir] = synchronized {
    try {
      val f = classOf[Histogram].getDeclaredField("reservoir")
      f.setAccessible(true)
      f.get(h) match {
        case s: SummingReservoir => Some(s)
        case r: Reservoir =>
          val s = new SummingReservoir(r)
          f.set(h, s)
          Some(s)
      }
    } catch { case _: Exception => None }
  }
}

/** Attributes time to layers from outside the program: a
  * SparkListener (jobs, stages, tasks, shuffle, spill, task-running
  * intervals), a QueryExecutionListener (Catalyst phase times from
  * `qe.tracker`), codegen counters, Hadoop FS statistics, GC MXBeans,
  * and named spans around each call into a layer. Disabled tracers
  * only run the span bodies. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private final class SpanAgg {
    var n = 0L; var totalNs = 0L; var selfNs = 0L
    val fs = new Array[Long](4)
  }
  private val spans = mutable.LinkedHashMap.empty[String, SpanAgg]
  private var childStack: List[Array[Long]] = Nil

  /** Runs `f` as span `name`. Self time is the span's duration minus
    * the part covered by its (sequential) child spans. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val children = Array(0L)
      childStack = children :: childStack
      val fs0 = Fs.now()
      val t0 = System.nanoTime()
      try f
      finally {
        val d = System.nanoTime() - t0
        val fs1 = Fs.now()
        childStack = childStack.tail
        childStack.headOption.foreach(_(0) += d)
        val a = spans.getOrElseUpdate(name, new SpanAgg)
        a.n += 1; a.totalNs += d; a.selfNs += d - children(0)
        for (i <- 0 until 4) a.fs(i) += fs1(i) - fs0(i)
      }
    }

  def spanMs(name: String): Double = spans.get(name).map(_.totalNs / 1e6).getOrElse(0.0)
  /** (read ops, write ops, bytes read, bytes written) inside span `name`. */
  def spanFs(name: String): Array[Long] =
    spans.get(name).map(_.fs.clone()).getOrElse(new Array[Long](4))

  // ---- op windows (wall-clock ms) for the driver-gap computation ----
  private val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  def opWindow(startMs: Long, endMs: Long): Unit = if (enabled) opWindows += ((startMs, endMs))

  // ---- listener state ----
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffleW = new AtomicLong
  private val shuffleR = new AtomicLong
  private val spill = new AtomicLong
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val phaseNs = Map("analysis" -> new AtomicLong, "optimization" -> new AtomicLong,
    "planning" -> new AtomicLong)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        taskMs.addAndGet(info.finishTime - info.launchTime)
        taskIntervals.add((info.launchTime, info.finishTime))
      }
      val m = e.taskMetrics
      if (m != null) {
        shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseNs.get(phase).foreach(_.addAndGet(s.durationMs * 1000000L))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var sourceSum: Option[SummingReservoir] = None
  private var base: Map[String, Double] = Map.empty

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  private def codegenNow(): Map[String, Double] = Map(
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "compile_ns" -> CodeGenerator.compileTime.toDouble,
    "source_bytes" -> sourceSum.map(_.sum.sum.toDouble).getOrElse(0.0),
    "gc_ms" -> gcMs())

  /** Starts collecting; call after warm-up. */
  def start(): Unit = if (enabled) {
    org.apache.spark.repobench.Bus.drain(spark.sparkContext)
    spans.clear()
    opWindows.clear()
    sourceSum = SummingReservoir.install(CodegenMetrics.METRIC_SOURCE_CODE_SIZE)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    base = codegenNow()
  }

  /** Stops collecting and returns the generic layer metrics. Reads
    * listener state only after the listener bus has drained. */
  def finish(): Map[String, Double] = {
    if (!enabled) return Map.empty
    val now = codegenNow()
    org.apache.spark.repobench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    def d(k: String) = now(k) - base(k)
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.analyze_ms" -> phaseNs("analysis").get / 1e6,
      "catalyst.optimize_ms" -> phaseNs("optimization").get / 1e6,
      "catalyst.plan_ms" -> phaseNs("planning").get / 1e6,
      "codegen.compiles" -> d("compiles"),
      "codegen.compile_ms" -> d("compile_ns") / 1e6,
      "codegen.source_kb" -> d("source_bytes") / 1024.0,
      "scheduler.jobs" -> jobs.get.toDouble,
      "scheduler.stages" -> stages.get.toDouble,
      "scheduler.tasks" -> tasks.get.toDouble,
      "scheduler.task_ms" -> taskMs.get.toDouble,
      "scheduler.driver_gap_ms" -> driverGapMs(),
      "shuffle.write_mb" -> shuffleW.get / mb,
      "shuffle.read_mb" -> shuffleR.get / mb,
      "spill.mb" -> spill.get / mb,
      "jvm.gc_ms" -> d("gc_ms"))
  }

  /** Σ over timed ops of (op wall − union of task-running intervals
    * inside the op's window). */
  private def driverGapMs(): Double = {
    val iv = taskIntervals.asScala.toVector.sortBy(_._1)
    opWindows.map { case (s, e) =>
      var covered = 0L
      var curS = -1L; var curE = -1L
      iv.iterator.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }
        .foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
      if (curE > curS) covered += curE - curS
      (e - s - covered).toDouble
    }.sum
  }

  /** Spans as (name, count, total ms, self ms), in first-seen order. */
  def spanTable: Seq[(String, Long, Double, Double)] =
    spans.toSeq.map { case (k, a) => (k, a.n, a.totalNs / 1e6, a.selfNs / 1e6) }
}
