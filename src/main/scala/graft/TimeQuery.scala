package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time individual queries at a given scale factor with
  * a warmup pass on the sf dir's `sf0.001` sibling, skipped when that
  * is absent (same session config as Bench). Usage:
  *   runMain graft.TimeQuery q_topk q_dedup_near [...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { q =>
      ProfileQuery.warmDir(sfDir).foreach(SparkEntry.queries(q)(spark, _).count())
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      println(f"$q rows=$n time=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    spark.stop()
  }
}
