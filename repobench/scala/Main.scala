package repobench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Command-line options of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    nproc: Int,
    benchDir: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, need("nproc").toInt,
      Paths.get(need("bench-dir")).toAbsolutePath)
  }
}

/** What one operation did; its timed parts are in `Ctx.takeParts`.
  * Checks run outside the timed parts. */
final case class OpResult(ok: Boolean, detail: String = "")

/** One timed part of an operation: wall and Java-thread CPU time. */
final case class Part(name: String, wallNs: Long, cpuNs: Long)

/** Shared by the workloads: the session, the tracer, and a timer that
  * records each timed part of the current operation (wall time and the
  * Java threads' CPU time inside it) and each timed window for the
  * driver-gap computation. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of every live Java thread by id. JIT compiler and GC
    * threads are not among them: how much of their backlog falls into
    * a window depends on how busy the host is, not on the program. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  private val parts = mutable.ArrayBuffer.empty[Part]
  /** Times `f` as part `name` of the current operation. Part names are
    * unique within an operation and the same in every operation. CPU
    * time of threads that end inside the part is not counted. */
  def timed[T](name: String)(f: => T): T = {
    val w0 = System.currentTimeMillis()
    val c0 = threadCpu()
    val t0 = System.nanoTime()
    val r = f
    val d = System.nanoTime() - t0
    val cpu = threadCpu().iterator.map { case (id, c) => c - c0.getOrElse(id, 0L) }.sum
    parts += Part(name, d, cpu)
    tracer.opWindow(w0, System.currentTimeMillis())
    r
  }
  /** The parts timed since the last call. */
  def takeParts(): Seq[Part] = { val p = parts.toList; parts.clear(); p }
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
}

/** A closed-loop workload: one operation at a time. */
trait Workload {
  /** Makes the seeded inputs and the state the operations run against. */
  def prepare(): Unit
  /** Hash of every generated input. */
  def inputHash: String
  def warmupOps: Int
  /** Number of operations of a traced run (fixed, so per-layer counts
    * repeat exactly for a seed). */
  def traceOps: Int
  /** Seconds of set-up spent generating benchmark inputs, which is not
    * program set-up and is left out of setup_s. */
  def inputSeconds: Double
  /** What one operation is, for the report. */
  def opName: String
  def op(i: Int): OpResult
  /** Workload-specific per-layer metrics (traced runs). */
  def layerMetrics(ctx: Ctx): Map[String, Double]
  /** Extra lines for the human-readable report. */
  def report: Seq[String]
  def close(): Unit
}

/** Every per-layer metric name; each traced run reports all of them. */
object Layers {
  val generic: Seq[String] = Seq(
    "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.plan_ms",
    "codegen.compiles", "codegen.compile_ms", "codegen.source_kb",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_ms",
    "scheduler.driver_gap_ms", "shuffle.write_mb", "shuffle.read_mb", "spill.mb", "jvm.gc_ms",
    "jvm.peak_heap_mb")
  val verkada: Seq[String] = Seq("verkada.token_ms", "verkada.grant_ms", "verkada.scan_ms",
    "verkada.upsert_ms", "verkada.submit_ms", "stub.device_pages", "stub.lease_pages",
    "stub.patch", "stub.post", "stub.submit_bytes", "stub.busy_ms",
    "verkada.upserts_per_streamable")
  val tables: Seq[String] = TableChurn.verbs.flatMap(v => Seq(s"tables.${v}_ms",
    s"tables.$v.fs_write_ops", s"tables.$v.fs_bytes_read", s"tables.$v.fs_bytes_written")) ++
    Seq("tables.fs_write_ops", "tables.fs_bytes_read", "tables.fs_bytes_written",
      "tables.files_live", "tables.files_read_ratio", "tables.write_amp", "tables.space_amp",
      "plans.mv_refresh_ms", "plans.mv_refresh.fs_write_ops", "plans.mv_full_ratio")
  val ops: Seq[String] = QueryMix.keys.flatMap(k => Seq(s"ops.${k}_s", s"ops.$k.build_ms",
    s"ops.$k.action_ms"))
  val names: Seq[String] =
    generic ++ verkada ++ tables ++ ops ++ Seq("failed_op_ratio", "trace.op_p50_ms")
}

object Main {
  /** An untimed run times `--seconds / OpSeconds` operations (a pass
    * or a block takes about 7 s on a 4-vCPU host), and at least three,
    * so that each part has a median of three. */
  val OpSeconds = 7.0
  val MinTimedOps = 3

  /** Fingerprint of every column of every row: (rows, Σ xxhash64).
    * Order-independent and exact, so no column can be pruned away and
    * partitioning does not matter. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond
    * it, as (percentile, value); None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (n < 20 || p < 50) None
    else {
      val s = xs.sorted
      Some((p, s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1))))
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val spark = graft.GraftSession.builder(s"local[${args.nproc}]", args.nproc.toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", args.work.resolve("hadoop-tmp").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis() - jvmStartMs
    val tracer = new Tracer(spark, args.trace)
    val ctx = new Ctx(spark, args, tracer)
    val wl: Workload = args.workload match {
      case "query_mix" => new QueryMix(ctx)
      case "table_churn" => new TableChurn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def account(r: OpResult, tag: String): Unit = {
      attempted += 1
      if (!r.ok) { failed += 1; if (failures.size < 10) failures += s"$tag: ${r.detail}" }
    }
    def guarded(i: Int, tag: String): (OpResult, Seq[Part]) = {
      val r =
        try wl.op(i)
        catch { case e: Exception =>
          OpResult(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      (r, ctx.takeParts())
    }

    // ---- set-up: session, seeded inputs and state, warm-up ----
    val prep0 = System.nanoTime()
    wl.prepare()
    val prepMs = (System.nanoTime() - prep0) / 1e6
    val warm = (1 to wl.warmupOps).map { w =>
      val t0 = System.nanoTime()
      val (r, parts) = guarded(-w, "warm-up")
      account(r, s"warm-up $w")
      (System.nanoTime() - t0, parts.map(_.wallNs).sum / 1e6, parts)
    }
    // let the JIT finish compiling what the warm-up made hot (bounded),
    // and start the timed phase on a collected heap
    val quiet0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var jitMs = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 2 && System.nanoTime() - quiet0 < 3e9) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      if (now == jitMs) idle += 1 else { idle = 0; jitMs = now }
    }
    val quietMs = (System.nanoTime() - quiet0) / 1e6
    val warmMs = warm.map(_._1).sum / 1e6 + quietMs
    val setupS = (sessionMs + prepMs + warmMs) / 1000.0 - wl.inputSeconds
    heapPools.foreach(_.resetPeakUsage())

    // ---- timed loop: a fixed number of operations, so every run of
    // a workload times the same operations of its warm-up curve ----
    val nOps =
      if (args.trace) wl.traceOps
      else math.max(MinTimedOps, math.round(args.seconds / OpSeconds).toInt)
    tracer.start()
    val timedParts = mutable.ArrayBuffer.empty[Seq[Part]]
    val jitPerOp = mutable.ArrayBuffer.empty[Long]
    for (i <- 0 until nOps) {
      val jit0 = jit.getTotalCompilationTime
      val (r, parts) = guarded(i, wl.opName)
      jitPerOp += jit.getTotalCompilationTime - jit0
      account(r, s"${wl.opName} $i")
      if (r.ok) timedParts += parts
    }
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
    val layers = tracer.finish() ++ (if (args.trace) wl.layerMetrics(ctx) else Map.empty)

    // an operation's latency is the sum of its parts; the reported one
    // sums each part's median over the timed operations, so a stall
    // that hits one part of one operation does not move it
    val partNames = timedParts.headOption.map(_.map(_.name)).getOrElse(Nil)
    def partMedianSum(f: Part => Long): Double =
      if (timedParts.isEmpty) Double.NaN
      else partNames.map(n => median(timedParts.toSeq.flatMap(_.filter(_.name == n)).map(f(_) / 1e6))).sum
    val lat = timedParts.map(_.map(_.wallNs).sum / 1e6)
    val cpu = timedParts.map(_.map(_.cpuNs).sum / 1e6)
    val p50 = partMedianSum(_.wallNs)
    val cpuP50 = partMedianSum(_.cpuNs)
    val metrics = new java.util.LinkedHashMap[String, AnyRef]()
    def put(k: String, v: Double, unit: String): Unit = {
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      m.put("value", java.lang.Double.valueOf(v)); m.put("unit", unit)
      metrics.put(k, m)
    }
    val failedRatio = if (attempted == 0) 1.0 else failed.toDouble / attempted
    if (!args.trace) {
      put("op_p50_ms", p50, "ms")
      put("op_cpu_ms", cpuP50, "ms")
      put("setup_s", setupS, "s")
    } else {
      val all = layers ++ Map("failed_op_ratio" -> failedRatio, "trace.op_p50_ms" -> p50,
        "jvm.peak_heap_mb" -> peakHeapMb)
      Layers.names.foreach(k => put(k, all.getOrElse(k, 0.0), unitOf(k)))
    }

    // ---- human-readable report (stderr) ----
    val rep = mutable.ArrayBuffer.empty[String]
    rep += f"workload=${args.workload} seed=${args.seed} trace=${args.trace} " +
      s"nproc=${args.nproc} input_hash=${wl.inputHash}"
    rep += f"setup_s=$setupS%.3f (session ${sessionMs / 1000.0}%.3f s, inputs+state " +
      f"${prepMs / 1000}%.3f s of which ${wl.inputSeconds}%.3f s generating inputs, " +
      f"warm-up ${warmMs / 1000}%.3f s including ${quietMs / 1000}%.3f s " +
      "of GC and waiting for the JIT to go idle)"
    val warmLat = warm.map(_._2)
    val lastWarm = warmLat.lastOption.getOrElse(Double.NaN)
    rep += s"warm-up ${wl.opName} ms: ${warmLat.map(x => f"$x%.1f").mkString(", ")}; " +
      f"timed ${wl.opName} (sum of part medians) $p50%.1f ms; " +
      (if (warmLat.isEmpty || !(p50 > 0)) ""
       else f"last warm-up ${wl.opName} / timed = ${lastWarm / p50}%.2f " +
         (if (lastWarm <= 1.25 * p50) "(timed ops are past the steep part of the warm-up curve)"
          else "(the timed ops are still on the warm-up curve; every run times the same " +
            s"operations of it, n=$nOps)"))
    rep += s"timed ${wl.opName} latencies: n=${lat.size} ms=${lat.map(x => f"$x%.1f").mkString(", ")}" +
      f"; plain median ${median(lat.toSeq)}%.1f ms"
    rep += s"timed ${wl.opName} Java-thread CPU ms: ${cpu.map(x => f"$x%.1f").mkString(", ")}; " +
      s"JIT compile ms during each: ${jitPerOp.mkString(", ")}"
    rep += "part ms (warm-up | timed):"
    partNames.foreach { n =>
      def ms(ps: Iterable[Seq[Part]]) =
        ps.flatMap(_.filter(_.name == n)).map(p => f"${p.wallNs / 1e6}%.1f").mkString(", ")
      rep += f"  $n%-24s ${ms(warm.map(_._3))} | ${ms(timedParts)}"
    }
    rep += (tail(lat.toSeq) match {
      case Some((p, v)) => f"op_tail: p$p=$v%.1f ms (n=${lat.size})"
      case None => s"op_tail: omitted (n=${lat.size} < 20)"
    })
    rep += f"attempted=$attempted failed=$failed failed_op_ratio=$failedRatio%.4f"
    failures.foreach(f => rep += s"FAILED $f")
    rep ++= wl.report
    if (args.trace) {
      val absent = Layers.names.filterNot(layers.contains) diff
        Seq("failed_op_ratio", "trace.op_p50_ms", "jvm.peak_heap_mb")
      rep += s"per-layer metrics reported as 0 because this workload does not exercise " +
        s"that layer: ${absent.map(_.takeWhile(_ != '.')).distinct.mkString(", ")}"
      rep += "spans (name, calls, total ms, self ms):"
      tracer.spanTable.foreach { case (n, c, t, s) => rep += f"  $n%-28s $c%5d $t%12.1f $s%12.1f" }
    }
    rep.foreach(l => System.err.println(s"[repobench] $l"))

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("correct", java.lang.Boolean.valueOf(failed == 0 && lat.nonEmpty))
    out.put("attempted", java.lang.Long.valueOf(attempted))
    out.put("failed", java.lang.Long.valueOf(failed))
    out.put("metrics", metrics)
    out.put("input_hash", wl.inputHash)
    out.put("op_latencies_ms", lat.map(java.lang.Double.valueOf).asJava)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    wl.close()
    spark.stop()
    System.out.println("REPOBENCH_RESULT " + mapper.writeValueAsString(out))
    System.out.flush()
  }

  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_kb")) "kB"
    else if (k.contains("bytes_")) "bytes"
    else if (k.endsWith("_ratio") || k.endsWith("_amp") || k.endsWith("_per_streamable")) "ratio"
    else "count"
}
