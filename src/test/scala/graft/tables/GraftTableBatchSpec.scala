package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DSv2 BATCH surface of the table layer: `spark.read` scans with
  * Catalyst filter pushdown driving manifest-stats file pruning
  * (range / string / z-order / bloom), deletion-vector application,
  * schema evolution, time travel, batch writes (append + overwrite),
  * the batch change-feed read, and the SQL catalog
  * (CREATE / INSERT / SELECT ... VERSION AS OF / DROP).
  *
  * Pruning is observable: one input partition per surviving file, so
  * `rdd.getNumPartitions` IS the files-opened count.
  */
class GraftTableBatchSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): SnapshotTable =
    SnapshotTable.temp(spark, s"graft_batch_${name}_")

  private def load(t: SnapshotTable): DataFrame =
    spark.read.format("graft-table").option("path", t.root).load()

  private def kv(pairs: (Long, Double)*) = pairs.toDF("k", "v")

  test("batch read round-trips a committed snapshot") {
    val t = freshTable("roundtrip")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      val got = load(t).orderBy("k").as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally SnapshotTable.drop(t)
  }

  test("versionAsOf reads the time-traveled snapshot") {
    val t = freshTable("timetravel")
    try {
      t.commit(kv(1L -> 1.0))
      t.appendOnce(kv(2L -> 2.0), 0L)
      val v1 = spark.read.format("graft-table").option("path", t.root)
        .option("versionAsOf", "1").load()
      assert(v1.as[(Long, Double)].collect().toSeq == Seq((1L, 1.0)))
      assert(load(t).count() == 2)
    } finally SnapshotTable.drop(t)
  }

  test("range-clustered pushdown prunes files and stays row-exact") {
    val t = freshTable("prune_range")
    try {
      val df = (1L to 8000L).map(k => (k, k * 0.5)).toDF("k", "v")
      val v = t.commitClustered(df, "k", 8)
      val q = load(t).filter(col("k") >= 2000L && col("k") <= 2999L)
      // one partition per surviving file — must match the instance
      // API's own pruning and be well under the file count
      val expected = t.prunedFiles(v, 2000L, 2999L).size
      assert(q.rdd.getNumPartitions == expected)
      // a ~1-file-wide range can straddle up to 3 range-sampled files
      assert(expected <= 3, s"expected <=3 of 8 files, got $expected")
      // row-exact: equals the unpruned filter
      assert(q.count() == 1000)
      assert(q.agg(sum("v")).head.getDouble(0) ==
        (2000L to 2999L).map(_ * 0.5).sum)
      // the pushdown is visible in the plan
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: ["), plan.take(800))
      assert(plan.contains("GreaterThanOrEqual(k,2000"), plan.take(800))
      // a disjoint range opens zero files
      assert(load(t).filter(col("k") > 100000L).rdd.getNumPartitions == 0)
    } finally SnapshotTable.drop(t)
  }

  test("timestamp-clustered pushdown prunes with temporal literals") {
    val t = freshTable("prune_ts")
    try {
      val df = (0L until 4000L)
        .map(i => (java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 3600)), i))
        .toDF("ts", "n")
      val v = t.commitClustered(df, "ts", 8)
      val lo = "2024-03-01 00:00:00"
      val hi = "2024-03-10 00:00:00"
      val q = load(t).filter(col("ts") >= lit(lo).cast("timestamp") &&
        col("ts") <= lit(hi).cast("timestamp"))
      val loM = java.time.Instant.parse("2024-03-01T00:00:00Z")
      val hiM = java.time.Instant.parse("2024-03-10T00:00:00Z")
      def micros(i: java.time.Instant) = i.getEpochSecond * 1000000L
      val expected = t.prunedFiles(v, micros(loM), micros(hiM)).size
      assert(q.rdd.getNumPartitions == expected)
      assert(expected <= 2, s"expected <=2 of 8 files, got $expected")
      assert(q.count() == 9 * 24 + 1)
    } finally SnapshotTable.drop(t)
  }

  test("string-clustered pushdown prunes on string ranges") {
    val t = freshTable("prune_str")
    try {
      val df = (0 until 2600).map(i =>
        (f"${('a' + i % 26).toChar}%c${i}%04d", i)).toDF("name", "n")
      t.commitClusteredString(df, "name", 8)
      val q = load(t).filter(col("name") >= "c" && col("name") <= "d")
      val parts = q.rdd.getNumPartitions
      assert(parts <= 2, s"expected <=2 of 8 files, got $parts")
      assert(q.count() == 100) // the 'c'-prefixed hundred
    } finally SnapshotTable.drop(t)
  }

  test("bucket pushdown: an equality on the bucket key opens one bucket's files") {
    val t = freshTable("prune_bucket")
    try {
      t.commitBucketed((1L to 4000L).map(k => (k, k * 0.5)).toDF("k", "v"), "k", 16)
      val allFiles = t.read().inputFiles.length
      val q = load(t).filter(col("k") === 1234L)
      val parts = q.rdd.getNumPartitions
      assert(parts < allFiles && parts >= 1,
        s"expected one bucket's files of $allFiles, got $parts")
      assert(q.as[(Long, Double)].collect().toSeq == Seq((1234L, 617.0)))
      // IN across two buckets keeps both, drops the rest
      val in2 = load(t).filter(col("k").isin(1234L, 1235L))
      assert(in2.count() == 2)
      assert(in2.rdd.getNumPartitions <= 2 * parts)
    } finally SnapshotTable.drop(t)
  }

  test("bloom pushdown: point lookup opens <=1 file, absent key zero") {
    val t = freshTable("prune_bloom")
    try {
      val df = (1L to 5000L).map(k => (k, s"row$k")).toDF("k", "s")
      val v = t.commitBloom(df, "k", 8)
      val hit = load(t).filter(col("k") === 4242L)
      assert(hit.rdd.getNumPartitions <= 2)
      assert(hit.select("s").as[String].collect().toSeq == Seq("row4242"))
      // a key that was never written: the pushdown must agree with the
      // instance API's probe exactly (fpp=0.01 allows a rare
      // false-positive file, never a false negative)
      val miss = load(t).filter(col("k") === 999999L)
      assert(miss.rdd.getNumPartitions == t.prunedFilesBloom(v, 999999L).size)
      assert(miss.rdd.getNumPartitions <= 1)
      assert(miss.count() == 0)
    } finally SnapshotTable.drop(t)
  }

  test("z-order pushdown: rectangle read opens only intersecting tiles") {
    val t = freshTable("prune_z")
    try {
      val df = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y, x * 64 + y))
        .toDF("x", "y", "v")
      val v = t.commitZOrderedN(df, Seq("x", "y"), 16)
      val q = load(t).filter(col("x") >= 8L && col("x") <= 23L &&
        col("y") >= 8L && col("y") <= 23L)
      val expected = t.prunedFilesN(v, Seq((8L, 23L), (8L, 23L))).size
      assert(q.rdd.getNumPartitions == expected)
      assert(expected <= 4, s"16x16 rectangle should open <=4 of 16 files, got $expected")
      assert(q.count() == 256)
    } finally SnapshotTable.drop(t)
  }

  test("N-dim z-order pushdown: 3-D box read opens only intersecting files") {
    val t = freshTable("prune_zn")
    try {
      val df = (for (x <- 0L until 16L; y <- 0L until 16L; z <- 0L until 16L)
        yield (x, y, z, x * 256 + y * 16 + z)).toDF("x", "y", "z", "v")
      val v = t.commitZOrderedN(df, Seq("x", "y", "z"), 16)
      val q = load(t).filter(col("x") >= 2L && col("x") <= 5L &&
        col("y") >= 2L && col("y") <= 5L && col("z") >= 2L && col("z") <= 5L)
      val expected = t.prunedFilesN(v, Seq((2L, 5L), (2L, 5L), (2L, 5L))).size
      assert(q.rdd.getNumPartitions == expected)
      assert(expected <= 6, s"4x4x4 box should open <=6 of 16 files, got $expected")
      assert(q.count() == 64)
    } finally SnapshotTable.drop(t)
  }

  test("deletion vectors apply to batch reads") {
    val t = freshTable("dv")
    try {
      t.commit((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"))
      t.delete(col("k") % 10 === 0)
      val got = load(t)
      assert(got.count() == 90)
      assert(got.filter(col("k") % 10 === 0).count() == 0)
      // stacked delete on top
      t.delete(col("k") === 1L)
      assert(load(t).count() == 89)
      // time travel underneath the tombstones
      assert(spark.read.format("graft-table").option("path", t.root)
        .option("versionAsOf", "1").load().count() == 100)
    } finally SnapshotTable.drop(t)
  }

  test("vectorized read path: DV-free scans are columnar (ColumnarToRow in plan), row-exact") {
    val t = freshTable("vectorized")
    try {
      t.commitClustered((1L to 10000L).map(k => (k, k * 0.5, s"s$k")).toDF("k", "v", "s"), "k", 4)
      val q = load(t).filter(col("k") <= 5000L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"DV-free graft-table scan should be columnar:\n${plan.take(800)}")
      assert(q.count() == 5000L)
      assert(q.agg(sum("v")).head.getDouble(0) == (1L to 5000L).map(_ * 0.5).sum)
      assert(q.filter(col("s") === "s123").count() == 1L)
      // schema evolution: the evolved column splices as nulls for old
      // files, still columnar
      t.appendEvolved(Seq((10001L, 0.5, "x", 7L)).toDF("k", "v", "s", "extra"), 0L)
      val q2 = load(t).select("k", "extra")
      assert(q2.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(q2.filter(col("extra").isNull).count() == 10000L)
      assert(q2.filter(col("extra") === 7L).count() == 1L)
      // a delete KEEPS the scan columnar (r12): tombstone-free batches
      // pass through zero-copy, tombstoned ones compact — results exact
      t.delete(col("k") % 2 === 0)
      val q3 = load(t)
      assert(q3.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "DV-carrying scan fell off the columnar path")
      assert(q3.count() == 5001L)
      assert(q3.agg(sum("v")).head.getDouble(0) ==
        ((1L to 10000L).filter(_ % 2 == 1).map(_ * 0.5).sum + 0.5))
      // every surviving row's own values intact after compaction
      assert(q3.filter(col("s") === "s123").count() == 1L)
      assert(q3.filter(col("s") === "s124").count() == 0L)
      // stacked second delete composes (two sidecar generations)
      t.delete(col("k") <= 101L)
      val q4 = load(t)
      assert(q4.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(q4.count() == 4950L)
      assert(q4.agg(min("k")).head.getLong(0) == 103L)
    } finally SnapshotTable.drop(t)
  }

  test("columnar DV compaction is exact under dense, sparse and full-batch deletes") {
    val t = freshTable("dv_columnar")
    try {
      // one file, 20k rows → ~5 vectorized batches of 4096
      t.commit((0L until 20000L).map(k => (k, k * 1.0, s"v$k")).toDF("k", "v", "s"))
      // delete ALL of batch 2 (positions 8192..12287), a sparse comb
      // over batch 0, and nothing in batches 1/3/4 (pass-through)
      t.delete((col("k") >= 8192L && col("k") < 12288L) ||
        (col("k") < 4096L && col("k") % 137 === 0))
      val q = load(t)
      assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      val survivors = (0L until 20000L).filterNot(k =>
        (k >= 8192L && k < 12288L) || (k < 4096L && k % 137 == 0))
      assert(q.count() == survivors.length)
      assert(q.agg(sum("k")).head.getLong(0) == survivors.sum)
      // string cells survive compaction intact
      assert(q.filter(col("s") === "v137").count() == 0L)
      assert(q.filter(col("s") === "v138").count() == 1L)
    } finally SnapshotTable.drop(t)
  }

  test("DV application is executor-side: partitions ship sidecar PATHS, O(files) driver bytes") {
    val t = freshTable("dv_exec")
    try {
      // 4 files, then a LARGE delete: 20k tombstones. Driver-side DV
      // materialization would put all 20k positions inside the
      // planned partitions; the executor-side design ships only the
      // sidecar paths, so each partition serializes to a few hundred
      // bytes no matter how many rows are deleted.
      t.commitClustered((1L to 40000L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      t.delete(col("k") % 2 === 0)
      val scan = load(t).queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[GraftTableScan]
      }.head
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.nonEmpty)
      parts.foreach { p =>
        val bp = p.asInstanceOf[GraftTableBatchPartition]
        assert(bp.dvSidecarPaths.nonEmpty, "partition must carry its sidecar paths")
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(bp); oos.close()
        // 20k Long positions would be ≥160 KB; paths are O(sidecars)
        assert(bos.size() < 8192,
          s"partition serialized to ${bos.size()} bytes — smells like materialized DV positions")
      }
      // and the scan is row-exact through the executor-side DVs
      assert(load(t).count() == 20000L)
      assert(load(t).filter(col("k") % 2 === 0).count() == 0L)
      assert(load(t).agg(sum("k")).head.getLong(0) == (1L to 39999L by 2).sum)
    } finally SnapshotTable.drop(t)
  }

  test("schema evolution: pre-evolution files surface NULL for new columns") {
    val t = freshTable("evolve")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      t.appendEvolved(Seq((3L, 3.0, "x")).toDF("k", "v", "tag"), 0L)
      val got = load(t).orderBy("k")
        .select("k", "tag").as[(Long, Option[String])].collect().toSeq
      assert(got == Seq((1L, None), (2L, None), (3L, Some("x"))))
      // column pruning down to the evolved column alone still resolves
      assert(load(t).select("tag").filter(col("tag").isNotNull)
        .as[String].collect().toSeq == Seq("x"))
    } finally SnapshotTable.drop(t)
  }

  test("streaming read over an EVOLVED table: pre-evolution files surface NULL") {
    val t = freshTable("stream_evolve")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      t.appendEvolved(Seq((3L, 3.0, "x")).toDF("k", "v", "tag"), 0L)
      val sink = s"graft_evolve_stream_${System.nanoTime()}"
      val q = spark.readStream.format("graft-table").option("path", t.root).load()
        .groupBy(col("tag")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(sink).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).toMap
      spark.catalog.dropTempView(sink)
      assert(got == Map(None -> 2L, Some("x") -> 1L))
    } finally SnapshotTable.drop(t)
  }

  test("batch write: append mode commits atomically, twice appends twice") {
    val t = freshTable("write_append")
    try {
      t.commit(kv(1L -> 1.0))
      kv(2L -> 2.0).write.format("graft-table")
        .option("path", t.root).mode("append").save()
      assert(t.currentVersion == 2)
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0), (2L, 2.0)))
      kv(3L -> 3.0).write.format("graft-table")
        .option("path", t.root).mode("append").save()
      assert(t.read().count() == 3)
    } finally SnapshotTable.drop(t)
  }

  test("batch write: overwrite replaces content, old versions time-travel") {
    val t = freshTable("write_overwrite")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      kv(9L -> 9.0).write.format("graft-table")
        .option("path", t.root).mode("overwrite").save()
      assert(t.read().as[(Long, Double)].collect().toSeq == Seq((9L, 9.0)))
      assert(t.read(1L).count() == 2)
      // an overwrite is a REWRITING commit — never misread as an
      // append — but since r13 it MINTS its own change feed (Delta's
      // overwrite-CDF shape): replaced live rows as deletes, staged
      // rows as inserts
      assert(!t.isAppendOnly(1L, 2L))
      val feed = t.rowChangesBetween(1L, 2L)
        .select(col("k"), col("v"), col(SnapshotTable.ChangeTypeCol))
        .as[(Long, Double, String)].collect().toSeq.sorted
      assert(feed == Seq((1L, 1.0, "delete"), (2L, 2.0, "delete"),
        (9L, 9.0, "insert")))
    } finally SnapshotTable.drop(t)
  }

  test("batch change-feed read equals rowChangesBetween") {
    val t = freshTable("cdf_batch")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      t.merge(kv(2L -> 20.0, 4L -> 4.0), "k")
      val viaApi = t.rowChangesBetween(1L, 2L)
        .orderBy("k", SnapshotTable.ChangeTypeCol)
        .collect().map(_.toSeq).toSeq
      val viaRead = spark.read.format("graft-table").option("path", t.root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").option("endingVersion", "2").load()
        .orderBy("k", SnapshotTable.ChangeTypeCol)
        .collect().map(_.toSeq).toSeq
      assert(viaRead == viaApi)
      assert(viaRead.nonEmpty)
    } finally SnapshotTable.drop(t)
  }

  test("SQL catalog: CTAS and REPLACE TABLE AS SELECT land as committed snapshots") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_ctas_")
    spark.conf.set("spark.sql.catalog.ctascat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ctascat.root", catRoot.toString)
    try {
      spark.sql("CREATE TABLE ctascat.src (k BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO ctascat.src VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      // CTAS: create + write in one statement, schema inferred from
      // the query (createTable + append through the DSv2 write path)
      spark.sql("CREATE TABLE ctascat.dst AS " +
        "SELECT k, v * 10 AS v FROM ctascat.src WHERE k <> 2")
      assert(spark.sql("SELECT k, v FROM ctascat.dst ORDER BY k")
        .as[(Long, Double)].collect().toSeq == Seq((1L, 10.0), (3L, 30.0)))
      // RTAS replaces schema + content; the new table starts fresh
      spark.sql("REPLACE TABLE ctascat.dst AS SELECT k FROM ctascat.src")
      assert(spark.sql("SELECT k FROM ctascat.dst ORDER BY k")
        .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
      // the result is an ordinary snapshot table: versioned, readable
      // through the instance surface
      val t = new SnapshotTable(spark, catRoot.resolve("dst").toString)
      assert(t.currentVersion >= 1L && t.read().count() == 3L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ctascat.src")
      spark.sql("DROP TABLE IF EXISTS ctascat.dst")
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("SQL catalog: CREATE / INSERT / SELECT / VERSION AS OF / OVERWRITE / DROP") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_cat_")
    spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.root", catRoot.toString)
    try {
      spark.sql("CREATE TABLE graftcat.smoke (k BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO graftcat.smoke VALUES (1, 1.0), (2, 2.0)")
      spark.sql("INSERT INTO graftcat.smoke VALUES (3, 3.0)")
      assert(spark.sql("SELECT sum(k) FROM graftcat.smoke").head.getLong(0) == 6L)
      // time travel through SQL: v2 was the first insert
      assert(spark.sql("SELECT count(*) FROM graftcat.smoke VERSION AS OF 2")
        .head.getLong(0) == 2L)
      // INSERT OVERWRITE replaces
      spark.sql("INSERT OVERWRITE graftcat.smoke VALUES (9, 9.0)")
      assert(spark.sql("SELECT count(*) FROM graftcat.smoke").head.getLong(0) == 1L)
      assert(spark.sql("SELECT count(*) FROM graftcat.smoke VERSION AS OF 3")
        .head.getLong(0) == 3L)
      // a second CREATE must fail, then DROP removes the table
      intercept[Exception] {
        spark.sql("CREATE TABLE graftcat.smoke (k BIGINT)")
      }
      spark.sql("DROP TABLE graftcat.smoke")
      assert(spark.sql("SHOW TABLES IN graftcat").count() == 0)
    } finally {
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("scan reports metadata statistics: small side auto-broadcasts, pruning shrinks bytes") {
    val t = freshTable("stats")
    try {
      val v = t.commitClustered((1L to 2000L).map(k => (k, k * 0.5)).toDF("k", "v"), "k", 8)
      assert(v == 1)
      // planner-visible stats WITHOUT a broadcast hint: the tiny
      // graft-table side of the join must auto-broadcast
      val big = spark.range(0, 100000).select((col("id") % 2000L + 1L).as("k"))
      val joined = big.join(load(t), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
      // pruned scans report post-pruning bytes: a narrow range must
      // claim far less than the full table
      def scanStats(df: DataFrame): Long = {
        val scans = df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.asInstanceOf[GraftTableScan].estimateStatistics()
        }
        assert(scans.size == 1)
        scans.head.sizeInBytes().getAsLong
      }
      val full = scanStats(load(t))
      val pruned = scanStats(load(t).filter(col("k") >= 100L && col("k") <= 150L))
      assert(full > 0)
      assert(pruned < full / 2, s"pruned=$pruned full=$full")
      // row counts come from #rows manifest stats on a clean snapshot
      val rows = load(t).queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[GraftTableScan].estimateStatistics().numRows()
      }.head
      assert(rows.isPresent && rows.getAsLong == 2000L)
    } finally SnapshotTable.drop(t)
  }

  test("history + timestampAsOf: commit verbs recorded, timestamp time travel resolves") {
    val t = freshTable("history")
    try {
      // pinned clock: v1@t0, v2@t0+1000, ... — deterministic history
      val t0 = 1700000000000L
      var tick = -1L
      t.nowMs = () => { tick += 1; t0 + tick * 1000L }
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      t.appendOnce(kv(3L -> 3.0), 0L)
      t.delete(col("k") === 1L)
      t.compact(1)
      t.restore(2L)
      val hist = t.history().orderBy("version")
        .select("version", "operation", "num_files", "batch_id")
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
      assert(hist.map(h => (h._1, h._2)) == Seq(
        (1L, "WRITE"), (2L, "APPEND"), (3L, "DELETE"), (4L, "COMPACT"), (5L, "RESTORE")))
      assert(hist(1)._3 == 0L) // the append's batch id surfaces
      // timestamp resolution: exactly-at, between, and before-earliest
      assert(t.versionAt(t0) == 1L)
      assert(t.versionAt(t0 + 1500L) == 2L)
      assert(t.versionAt(t0 + 999999L) == 5L)
      intercept[IllegalArgumentException] { t.versionAt(t0 - 1L) }
      // DSv2 timestampAsOf reads the resolved snapshot
      val asOf = spark.read.format("graft-table").option("path", t.root)
        .option("timestampAsOf", (t0 + 1500L).toString).load()
      assert(asOf.orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally SnapshotTable.drop(t)
  }

  test("SQL TIMESTAMP AS OF + CALL history through the catalog") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_cat4_")
    spark.conf.set("spark.sql.catalog.graftcat4", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat4.root", catRoot.toString)
    try {
      val t = new SnapshotTable(spark, catRoot.resolve("h").toString)
      val t0 = 1700000000000L // 2023-11-14 22:13:20 UTC
      var tick = -1L
      t.nowMs = () => { tick += 1; t0 + tick * 60000L }
      t.commit(kv(1L -> 1.0))
      t.appendOnce(kv(2L -> 2.0), 0L)
      t.appendOnce(kv(3L -> 3.0), 1L)
      // v2 committed at t0+1min; ask for t0+90s → v2
      val lit = java.time.Instant.ofEpochMilli(t0 + 90000L).toString
        .replace("T", " ").stripSuffix("Z")
      val n = spark.sql(
        s"SELECT count(*) FROM graftcat4.h TIMESTAMP AS OF '$lit'")
        .head.getLong(0)
      assert(n == 2L)
      val ops = spark.sql("CALL graftcat4.history(table => 'h')")
        .orderBy("version").select("operation").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("WRITE", "APPEND", "APPEND"))
    } finally SnapshotTable.deleteRecursively(catRoot)
  }

  test("limit pushdown: readers stop decoding after the pushed limit") {
    val t = freshTable("limit_push")
    try {
      t.commit((1L to 10000L).map(k => (k, k * 1.0)).toDF("k", "v"))
      val rows = load(t).limit(7).collect()
      assert(rows.length == 7)
      // with a DV delete stacked, the limit still returns LIVE rows
      t.delete(col("k") <= 9990L)
      assert(load(t).limit(5).collect().map(_.getLong(0)).forall(_ > 9990L))
      assert(load(t).limit(100).count() == 10) // only 10 survivors
    } finally SnapshotTable.drop(t)
  }

  test("maxVersionsPerTrigger: a catch-up drain proceeds in bounded steps") {
    val t = freshTable("max_versions")
    try {
      t.commit(kv(1L -> 1.0))
      (2L to 6L).foreach(k => t.appendOnce(kv(k -> k.toDouble), k))
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val q = spark.readStream.format("graft-table").option("path", t.root)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          val ks = df.select("k").collect().map(_.getLong(0))
          if (ks.nonEmpty) batches.incrementAndGet()
          ks.foreach(k => assert(seen.add(k), s"duplicate row $k"))
          ()
        }).start()
      q.awaitTermination()
      // 6 versions at <=2 per trigger: at least 3 non-empty batches,
      // and the drain still delivered every row exactly once
      assert(batches.get >= 3, s"expected >=3 capped batches, got ${batches.get}")
      assert(seen.size == 6)
    } finally SnapshotTable.drop(t)
  }

  test("aggregate pushdown: COUNT/MIN/MAX answer from the manifest, zero data files") {
    val t = freshTable("agg_push")
    try {
      t.commitClustered((1L to 5000L).map(k => (k, k * 0.5)).toDF("k", "v"), "k", 8)
      val q = load(t).agg(count(lit(1)), min("k"), max("k"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregates (metadata-only)"), plan.take(1000))
      // the zero-IO claim, destructively: drop every data file, the
      // pushed aggregate still answers from the manifest
      val dataDir = java.nio.file.Paths.get(t.root).resolve("data")
      SnapshotTable.deleteRecursively(dataDir)
      val r = q.head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (5000L, 1L, 5000L))
    } finally SnapshotTable.drop(t)
  }

  test("aggregate pushdown refuses when stats are untrustworthy (DVs, filters, other aggs)") {
    val t = freshTable("agg_refuse")
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      // DVs no longer force a MIN/MAX refusal: the delete re-mints the
      // touched files' #range bounds over live rows (#dvminmax), so
      // the pushdown keeps answering — with the post-delete extremes
      t.delete(col("k") === 50L)
      val q1 = load(t).agg(count(lit(1)), min("k"), max("k"))
      assert(q1.queryExecution.executedPlan.toString
        .contains("PushedAggregates (metadata-only)"),
        q1.queryExecution.executedPlan.toString.take(800))
      assert((q1.head.getLong(0), q1.head.getLong(1), q1.head.getLong(2)) ==
        (99L, 1L, 100L))
      // stacked delete REMOVING the minimum's neighborhood: re-minted
      // bounds move, COUNT merges the stacked tombstone counts —
      // proved destructively (zero data IO)
      t.delete(col("k") <= 10L)
      val qc = load(t).agg(count(lit(1)), min("k"), max("k"))
      assert(qc.queryExecution.executedPlan.toString
        .contains("PushedAggregates (metadata-only)"),
        qc.queryExecution.executedPlan.toString.take(800))
      SnapshotTable.deleteRecursively(java.nio.file.Paths.get(t.root).resolve("data"))
      assert((qc.head.getLong(0), qc.head.getLong(1), qc.head.getLong(2)) ==
        (89L, 11L, 100L))
      // a residual filter → no pushdown, exact answer
      val t2 = freshTable("agg_refuse2")
      try {
        t2.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
        val q2 = load(t2).filter(col("k") <= 10L).agg(count(lit(1)))
        assert(!q2.queryExecution.executedPlan.toString.contains("PushedAggregates"))
        assert(q2.head.getLong(0) == 10L)
        // SUM is not manifest-answerable → normal path
        val q3 = load(t2).agg(sum("v"))
        assert(!q3.queryExecution.executedPlan.toString.contains("PushedAggregates"))
        assert(q3.head.getDouble(0) == (1 to 100).map(_ * 1.0).sum)
      } finally SnapshotTable.drop(t2)
    } finally SnapshotTable.drop(t)
  }

  test("runtime V2 filtering: a join-shipped IN set prunes files before execution") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val t = freshTable("runtime")
    try {
      val v = t.commitClustered((1L to 8000L).map(k => (k, k * 0.5)).toDF("k", "v"), "k", 8)
      val df = load(t)
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[GraftTableScan]
      }.head
      // the scan advertises its prunable key for dynamic filtering
      assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("k"))
      val before = scan.toBatch.planInputPartitions().length
      assert(before == 8)
      // Spark ships the build side's key set as IN(col, lits...)
      val in = new Predicate("IN",
        Array[org.apache.spark.sql.connector.expressions.Expression](
          Expressions.column("k"),
          Expressions.literal(1500L), Expressions.literal(1501L)))
      scan.filter(Array(in))
      val after = scan.toBatch.planInputPartitions().length
      assert(after <= 2 && after >= 1, s"runtime IN should prune to the one file, got $after")
    } finally SnapshotTable.drop(t)
  }

  test("SQL CALL procedures run the maintenance verbs: compact, expire, vacuum, restore, zorder") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_cat3_")
    spark.conf.set("spark.sql.catalog.graftcat3", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat3.root", catRoot.toString)
    try {
      val t = new SnapshotTable(spark, catRoot.resolve("m").toString)
      t.commit((1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v"))
      t.appendOnce((51L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), 0L)
      t.appendOnce((101L to 150L).map(k => (k, k * 1.0)).toDF("k", "v"), 1L)
      // compact via SQL: one call, returns the committed version
      val v = spark.sql("CALL graftcat3.compact(table => 'm', target_files => 2)")
        .head.getLong(0)
      assert(v == 4L)
      assert(t.read(v).inputFiles.length <= 2)
      assert(t.read().count() == 150)
      // retention + vacuum via SQL: expired files actually reclaimed
      val preCompact = t.read(1L).inputFiles.toSet
      spark.sql("CALL graftcat3.expire_versions(table => 'm', keep_last => 1)")
      spark.sql("CALL graftcat3.vacuum(table => 'm', retain_ms => 0L)")
      preCompact.foreach(f => assert(
        !java.nio.file.Files.exists(java.nio.file.Paths.get(f.stripPrefix("file:")))))
      assert(t.read().count() == 150)
      // zorder + restore round-trip via SQL
      val vz = spark.sql(
        "CALL graftcat3.optimize_zorder(table => 'm', key_x => 'k', key_y => 'k', n_files => 4)")
        .head.getLong(0)
      assert(t.currentVersion == vz)
      val vr = spark.sql(s"CALL graftcat3.restore(table => 'm', version => ${vz - 1}L)")
        .head.getLong(0)
      assert(vr == vz + 1)
      assert(t.read().count() == 150)
    } finally {
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("SQL CALL delete_where / update_where: row-level DML via deletion vectors") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_cat5_")
    spark.conf.set("spark.sql.catalog.graftcat5", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat5.root", catRoot.toString)
    try {
      val t = new SnapshotTable(spark, catRoot.resolve("d").toString)
      t.commit((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"))
      val files1 = t.read(1L).inputFiles.toSet
      spark.sql("CALL graftcat5.delete_where(table => 'd', predicate => 'k % 10 = 0')")
      spark.sql(
        "CALL graftcat5.update_where(table => 'd', predicate => 'k < 5', assignments => 'v = v * 100')")
      val got = spark.sql("SELECT * FROM graftcat5.d").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(got.size == 90)
      assert(!got.contains(10L) && !got.contains(100L))
      assert(got(1L) == 100.0 && got(4L) == 400.0 && got(5L) == 5.0)
      // the v1 data files were never rewritten (DV path, not COW)
      assert(files1.forall(f =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(f.stripPrefix("file:")))))
    } finally SnapshotTable.deleteRecursively(catRoot)
  }

  test("SQL catalog scan pushes filters into manifest pruning") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_cat2_")
    spark.conf.set("spark.sql.catalog.graftcat2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat2.root", catRoot.toString)
    try {
      // commit a CLUSTERED layout directly at the catalog's path, then
      // query it through SQL — the pushdown must reach the manifest
      val t = new SnapshotTable(spark, catRoot.resolve("events").toString)
      val v = t.commitClustered(
        (1L to 8000L).map(k => (k, k * 0.5)).toDF("k", "v"), "k", 8)
      val q = spark.sql(
        "SELECT sum(v) AS s FROM graftcat2.events WHERE k BETWEEN 1000 AND 1999")
      assert(q.head.getDouble(0) == (1000L to 1999L).map(_ * 0.5).sum)
      val scan = spark.sql(
        "SELECT * FROM graftcat2.events WHERE k BETWEEN 1000 AND 1999")
      assert(scan.rdd.getNumPartitions == t.prunedFiles(v, 1000L, 1999L).size)
      // both counts come from ManifestPruning — bound the pruning itself
      assert(scan.rdd.getNumPartitions <= 3,
        s"expected <=3 of 8 files, got ${scan.rdd.getNumPartitions}")
    } finally {
      SnapshotTable.deleteRecursively(catRoot)
    }
  }
}
