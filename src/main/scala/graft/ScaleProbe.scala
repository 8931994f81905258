package graft

import org.apache.spark.sql.functions._

/** Scaling probe: replicates the sf0.1 tables k× into independent
  * copies and times registered queries cold at k = 1, 2, 4 — the
  * local stand-in for "would this plan hold at 1000×?".
  *
  *  - documents: each copy's tokens are prefixed with the copy id, so
  *    copies are INDEPENDENT corpus replicas — same token-df
  *    demographics, no cross-copy near-dups. A candidate generator
  *    whose cost tracks the true-pair count should grow ~linearly; a
  *    quadratic corpus term (the round-3 block-join failure mode)
  *    shows up as a >2 growth exponent between doublings.
  *  - facts (lineitem, orders): order keys offset per copy, customer
  *    and other dim keys UNCHANGED — "k× more transactions over the
  *    same customers". Fact-fact join input and output both scale
  *    ×k while dims stay constant, so a join plan whose cost is
  *    linear in the fact side stays linear here; dims are copied
  *    verbatim once per dir.
  *
  * Usage: `graft.ScaleProbe [q_name ...]` — defaults to the
  * prefix-filter dedup family + two fact-join shapes. Prints one
  * JSON line per (query, scale).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_dedup_ngram", "q_dedup_cluster", "q_pipeline_train",
        "q_sql_tpch3", "q_sql_tpch18")
    val base = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val par = spark.sparkContext.defaultParallelism.min(32)

    def buildDir(k: Int): String = {
      val dir = s"$base/x$k"
      // --- documents: token-prefixed independent replicas ---
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val nDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until k).map { c =>
        docs.select(
          (col("doc_id") + lit(c.toLong * nDocs)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(lit(s"c${c}_"), t)), " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
        .repartition(par)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // --- facts: order keys offset per copy, dim keys unchanged ---
      val orders = spark.read.parquet(s"$src/orders.parquet")
      val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
      val nOrd = orders.agg(max("o_orderkey")).head().getLong(0) + 1
      (0 until k).map { c =>
        orders.withColumn("o_orderkey", col("o_orderkey") + lit(c.toLong * nOrd))
      }.reduce(_ unionAll _)
        .repartition(par)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      (0 until k).map { c =>
        lineitem.withColumn("l_orderkey", col("l_orderkey") + lit(c.toLong * nOrd))
      }.reduce(_ unionAll _)
        .repartition(par)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // --- events: per-copy ts shift by a WHOLE number of days keeps
      // copies temporally disjoint (interval joins, session/tumbling
      // windows, and funnels stay linear in k — no cross-copy pairs)
      // while preserving hour-of-day demographics for the contingency
      // queries; user_id unchanged — "k× more activity from the same
      // users". The shift arm follows the fixture's physical ts type
      // (raw-nanos BIGINT in the legacy fixture, TIMESTAMP(MICROS)
      // since the round-6 refresh) so probe dirs replicate either.
      val events = spark.read.parquet(s"$src/events.parquet")
      val tsIsNanos =
        events.schema("ts").dataType == org.apache.spark.sql.types.LongType
      val shiftExpr: Int => org.apache.spark.sql.Column =
        if (tsIsNanos) {
          val dayNs = 86400L * 1000000000L
          val span = events.agg((max("ts") - min("ts")).as("s")).head().getLong(0)
          val shift = (span / dayNs + 1) * dayNs
          c => col("ts") + lit(c.toLong * shift)
        } else {
          val d = events.agg(
            (datediff(to_date(max("ts")), to_date(min("ts"))) + 1).as("d"))
            .head().getInt(0)
          c => expr(s"timestampadd(DAY, ${c * d}, ts)")
        }
      val nEv = events.agg(max("event_id")).head().getLong(0) + 1
      // transform only the two rewritten columns so any column later
      // added to events.parquet flows through unchanged instead of
      // being silently dropped from probe dirs
      (0 until k).map { c =>
        events
          .withColumn("event_id", col("event_id") + lit(c.toLong * nEv))
          .withColumn("ts", shiftExpr(c))
      }.reduce(_ unionAll _)
        .repartition(par)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // --- embeddings: vec_id offset per copy, vectors/labels verbatim
      // ("k× more vectors with the same geometry"); vec_id 0 keeps its
      // identity so probe-anchored queries rank a k×-larger candidate
      // set against the same probe ---
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
      (0 until k).map { c =>
        // the probe vector (vec_id 0) keeps its identity in copy 0
        // ONLY: offset copies exclude it, else probe-anchored top-k
        // saturates with cos=1.0 self-clones and the scaled rankings
        // are qualitatively degenerate vs the "same geometry" intent
        (if (c == 0) emb else emb.filter(col("vec_id") =!= 0L))
          .withColumn("vec_id", col("vec_id") + lit(c.toLong * nVec))
      }.reduce(_ unionAll _)
        .repartition(par)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // --- dims: verbatim copy ---
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      dir
    }

    def dropAllBlocks(): Unit = {
      // clearCache misses localCheckpoint blocks; see Bench
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JIT/classload warmup at the smallest scale (the sf0.001 sibling
    // of the source dir, skipped when absent) so scale=1 timings
    // aren't inflated relative to the later points
    Probe.warmDir(src).foreach { warm =>
      names.foreach { name =>
        SparkEntry.queries(name)(spark, warm).count()
        dropAllBlocks()
      }
    }

    val ks = sys.env.get("SPARK_GRAFT_SCALE_KS")
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(1, 2, 4))
    val explain = sys.env.contains("SPARK_GRAFT_SCALE_EXPLAIN")
    for (k <- ks) {
      val dir = buildDir(k)
      names.foreach { name =>
        if (explain) {
          println(s"===== $name @ x$k =====")
          SparkEntry.queries(name)(spark, dir).explain("formatted")
        }
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        dropAllBlocks()
        println(f"""{"query":"$name","scale":$k,"rows":$rows,"sec":$sec%.3f}""")
      }
    }
    spark.stop()
  }
}
