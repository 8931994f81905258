package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev utility (optimization rounds): run one registered query at
  * SPARK_GRAFT_SF_DIR and print every stage's task-time sum with its
  * record flow (input / shuffle-read / shuffle-write), which
  * identifies stages when the name is an anonymous broadcast-thread
  * frame (ProfileQuery's per-job view stops there). Usage:
  *   runMain graft.StageProbe q_sim_ann_pq [...]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    case class S(var ms: Long = 0, var inRec: Long = 0, var shRead: Long = 0,
      var shWrite: Long = 0, var nTasks: Int = 0)
    val st = mutable.Map.empty[Int, S]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val s = st.getOrElseUpdate(e.stageId, S())
        Option(e.taskMetrics).foreach { m =>
          s.ms += m.executorRunTime
          s.inRec += m.inputMetrics.recordsRead
          s.shRead += m.shuffleReadMetrics.recordsRead
          s.shWrite += m.shuffleWriteMetrics.recordsWritten
          s.nTasks += 1
        }
      }
    })
    args.foreach { q =>
      ProfileQuery.warmDir(sfDir).foreach(SparkEntry.queries(q)(spark, _).count())
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      st.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      println(f"\n=== $q rows=$n time=${(System.nanoTime() - t0) / 1e9}%.3f " +
        f"stages=${st.size} taskSumTotal=${st.values.map(_.ms).sum / 1e3}%.3f")
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      st.toSeq.sortBy(-_._2.ms).take(16).foreach { case (sid, s) =>
        println(f"stage $sid%4d taskSum=${s.ms / 1e3}%8.3f tasks=${s.nTasks}%3d " +
          f"inRec=${s.inRec}%8d shRead=${s.shRead}%8d shWrite=${s.shWrite}%8d")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
