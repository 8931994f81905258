package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev utility (optimization round): run queries with a listener that
  * attributes wall time to Spark jobs/stages, separating executor task
  * time from scheduling/driver gaps. Usage:
  *   runMain graft.ProfileQuery q_table_commit [...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_PROFILE_ACTION=count|noop (default count, matching Bench).
  *
  * Output per query: total wall, number of jobs, per-job wall +
  * task-time sum + peak stage, and the driver gap (wall − Σ job wall),
  * which is planning/codegen/manifest-IO time the UI never shows.
  */
object ProfileQuery {
  private final class L extends SparkListener {
    case class Job(id: Int, start: Long, var end: Long = 0L,
      var desc: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageTask = mutable.Map.empty[Int, Long] // stageId -> task ms sum
    val stageName = mutable.Map.empty[Int, String]
    val jobStages = mutable.Map.empty[Int, Seq[Int]]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = Job(e.jobId, e.time)
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = j
      jobStages(e.jobId) = e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val ms = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      stageTask(e.stageId) = stageTask.getOrElse(e.stageId, 0L) + ms
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageName(e.stageInfo.stageId) = e.stageInfo.name }
    def reset(): Unit = synchronized {
      jobs.clear(); stageTask.clear(); stageName.clear(); jobStages.clear()
    }
  }

  /** Warm-up fixture for the dev tools: the smallest sibling
    * (`sf0.001`) of the configured sf dir, None when absent (then the
    * first query runs cold — acceptable for a dev tool). */
  private[graft] def warmDir(sfDir: String): Option[String] =
    Some(new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001"))
      .filter(_.isDirectory).map(_.getPath)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new L
    spark.sparkContext.addSparkListener(listener)
    val noop = sys.env.get("SPARK_GRAFT_PROFILE_ACTION").contains("noop")
    def run(q: String, dir: String): Unit = {
      val df = SparkEntry.queries(q)(spark, dir)
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
    }
    args.foreach { q =>
      warmDir(sfDir).foreach(run(q, _))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      listener.reset()
      val t0 = System.nanoTime()
      run(q, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously: read the metrics only
      // once the bus has delivered every event the run posted
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      val js = listener.jobs.values.toSeq
      val jobWall = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      println(f"\n=== $q wall=$wall%.3f s, jobs=${js.size}, " +
        f"sum(job wall)=$jobWall%.3f s, driver-gap=${wall - jobWall}%.3f s")
      js.sortBy(j => -(j.end - j.start)).take(15).foreach { j =>
        val stages = listener.jobStages.getOrElse(j.id, Seq.empty)
        val task = stages.map(listener.stageTask.getOrElse(_, 0L)).sum / 1e3
        val top = stages.sortBy(s => -listener.stageTask.getOrElse(s, 0L))
          .headOption.flatMap(listener.stageName.get).getOrElse("")
        println(f"  job ${j.id}%3d wall=${(j.end - j.start) / 1e3}%7.3f s " +
          f"taskSum=$task%7.3f s  ${j.desc.take(40)}%-40s top-stage: ${top.take(60)}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
