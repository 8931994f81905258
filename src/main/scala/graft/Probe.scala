package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev utility: run registered queries at SPARK_GRAFT_SF_DIR under one
  * listener that records Spark jobs and stages, after a warm-up pass
  * on the dir's `sf0.001` sibling (skipped when absent).
  * For every query it prints
  *  - the time line: rows, wall, job count, Σ job wall and the driver
  *    gap (wall − Σ job wall: planning/codegen/manifest-IO time the UI
  *    never shows);
  *  - the per-job view: the slowest jobs with their task-time sum and
  *    hottest stage;
  *  - the per-stage view: the hottest stages with task count and
  *    record flow (input / shuffle-read / shuffle-write), which names a
  *    stage whose Spark name is an anonymous broadcast-thread frame.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> tools/run_main.sh graft.Probe
  * q_sim_ann_pq [...]`. Env: SPARK_GRAFT_SF_DIR (required),
  * SPARK_GRAFT_CPUS.
  */
object Probe {
  private final class Recorder extends SparkListener {
    final case class Job(start: Long, desc: String, stages: Seq[Int],
      var end: Long = 0L)
    final class Stage(var name: String = "", var ms: Long = 0L,
      var tasks: Int = 0, var inRec: Long = 0L, var shRead: Long = 0L,
      var shWrite: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.Map.empty[Int, Stage]
    private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      Option(e.taskMetrics).foreach { m =>
        val s = stage(e.stageId)
        s.ms += m.executorRunTime
        s.tasks += 1
        s.inRec += m.inputMetrics.recordsRead
        s.shRead += m.shuffleReadMetrics.recordsRead
        s.shWrite += m.shuffleWriteMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stage(e.stageInfo.stageId).name = e.stageInfo.name }
    def reset(): Unit = synchronized { jobs.clear(); stages.clear() }
    def taskMs(id: Int): Long = stages.get(id).map(_.ms).getOrElse(0L)
  }

  /** The fixture dir the dev mains read: SPARK_GRAFT_SF_DIR (an sf
    * dir such as sf0.1), required — no fixture path is built in. */
  private[graft] def sfDir(): String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("set SPARK_GRAFT_SF_DIR to a fixture directory, e.g. its sf0.1"))

  /** The `name` sibling of an sf dir (e.g. `sf0.001` beside `sf0.1`),
    * None when absent. */
  private[graft] def siblingDir(sfDir: String, name: String): Option[String] =
    Some(new java.io.File(new java.io.File(sfDir).getParentFile, name))
      .filter(_.isDirectory).map(_.getPath)

  /** Warm-up fixture for the dev tools: the smallest sibling
    * (`sf0.001`) of the configured sf dir, None when absent (then the
    * first query runs cold — acceptable for a dev tool). */
  private[graft] def warmDir(sfDir: String): Option[String] =
    siblingDir(sfDir, "sf0.001")

  def main(args: Array[String]): Unit = {
    val sfDir = Probe.sfDir()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    def dropAllBlocks(): Unit = {
      // clearCache misses localCheckpoint blocks; see Bench
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    args.foreach { q =>
      warmDir(sfDir).foreach(SparkEntry.queries(q)(spark, _).count())
      dropAllBlocks()
      rec.reset()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously: read the metrics only
      // once the bus has delivered every event the run posted
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      val js = rec.jobs.toSeq
      val jobWall = js.map { case (_, j) => math.max(0L, j.end - j.start) }.sum / 1e3
      println(f"\n=== $q rows=$n wall=$wall%.3f s, jobs=${js.size}, " +
        f"sum(job wall)=$jobWall%.3f s, driver-gap=${wall - jobWall}%.3f s, " +
        f"stages=${rec.stages.size}, taskSum=${rec.stages.values.map(_.ms).sum / 1e3}%.3f s")
      js.sortBy { case (_, j) => -(j.end - j.start) }.take(15).foreach { case (id, j) =>
        val task = j.stages.map(rec.taskMs).sum / 1e3
        val top = j.stages.sortBy(s => -rec.taskMs(s)).headOption
          .flatMap(rec.stages.get).map(_.name).getOrElse("")
        println(f"  job $id%3d wall=${(j.end - j.start) / 1e3}%7.3f s " +
          f"taskSum=$task%7.3f s  ${j.desc.take(40)}%-40s top-stage: ${top.take(60)}")
      }
      rec.stages.toSeq.sortBy { case (_, s) => -s.ms }.take(16).foreach { case (id, s) =>
        println(f"  stage $id%4d taskSum=${s.ms / 1e3}%8.3f s tasks=${s.tasks}%3d " +
          f"inRec=${s.inRec}%8d shRead=${s.shRead}%8d shWrite=${s.shWrite}%8d  ${s.name.take(50)}")
      }
      dropAllBlocks()
    }
    spark.stop()
  }
}
