package graft.tables

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion-vector MAINTENANCE invariants: inert sidecars (every
  * addressed file dead) leave the manifest so the metadata-only
  * COUNT(*) path never falsely refuses, stacked sidecar sets compact
  * into one without touching data, and MIN/MAX metadata stats stay
  * answerable under DVs on clustered tables (re-minted per touched
  * file inside the delete commit). */
class DvMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def lines(t: SnapshotTable, v: Long): Vector[String] =
    SnapshotTable.manifestLinesAt(Paths.get(t.root), v)

  /** (lo, hi) of the FIRST clustered file's manifest range stats. */
  private def firstRange(t: SnapshotTable, v: Long): (Long, Long) =
    lines(t, v).collectFirst {
      case SnapshotTable.RangeMeta(_, a, b) => (a.toLong, b.toLong)
    }.getOrElse(fail("no #range stats"))

  test("metaCount survives a delete that kills every tombstoned file (inert sidecar elision)") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_inert_")
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      val (lo, hi) = firstRange(t, 1L)
      // tombstone EXACTLY the first file's key range: the file dies,
      // its sidecar addresses only a removed file — fully inert, so
      // the commit elides it instead of stranding `#dv=` lines with an
      // empty #dvrows ledger (which metaCount must refuse as
      // counts-lost)
      val v2 = t.delete(col("k") >= lo && col("k") <= hi)
      assert(t.read(v2).count() == 100L - (hi - lo + 1))
      assert(!lines(t, v2).exists(_.startsWith("#dv=")),
        "inert sidecar lines survived the dead-file drop")
      assert(t.metaCount(v2) == 100L - (hi - lo + 1))
    } finally SnapshotTable.drop(t)
  }

  test("stacked deletes: carried sidecars elide once their last addressed file dies") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_stack_")
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      val (lo, hi) = firstRange(t, 1L)
      // v2: one row of file 1 tombstones (sidecar + #dvrows live)
      val v2 = t.delete(col("k") === lo)
      assert(lines(t, v2).exists(_.startsWith("#dv=")))
      assert(t.metaCount(v2) == 99L)
      // v3: the REST of file 1 dies -> both this commit's sidecar and
      // the carried v2 sidecar now address only the dead file — all
      // DV lines leave, metaCount answers from #rows alone
      val v3 = t.delete(col("k") > lo && col("k") <= hi)
      assert(!lines(t, v3).exists(_.startsWith("#dv=")),
        "stacked inert sidecars survived")
      assert(t.metaCount(v3) == 100L - (hi - lo + 1))
      assert(t.read(v3).count() == 100L - (hi - lo + 1))
    } finally SnapshotTable.drop(t)
  }

  test("MIN/MAX metadata stats survive DV deletes on a clustered table (zero IO, destructive)") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_minmax_")
    try {
      t.commitClustered((1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 8)
      // kill the global min's neighborhood and a stripe: stale
      // commit-time bounds would report lo=1
      val v2 = t.delete(col("k") <= 130L || col("k") % 9 === 0)
      val live = (1L to 1000L).filter(k => k > 130L && k % 9 != 0)
      assert(t.metaAgg(v2) == ((live.length.toLong, Some(live.min), Some(live.max))))
      // stacked: a second delete removing the current max re-mints again
      val v3 = t.delete(col("k") >= live.max - 5L)
      val live3 = live.filter(_ < live.max - 5L)
      assert(t.metaAgg(v3) == ((live3.length.toLong, Some(live3.min), Some(live3.max))))
      // SQL aggregate pushdown twin: COUNT/MIN/MAX answered by the
      // metadata-only scan — proven destructively by deleting the data
      // dir; only the manifest (+ DV sidecars outside data/? no — keep
      // the dv dirs) must answer
      val agg = spark.read.format("graft-table").option("path", t.root).load()
        .agg(count(lit(1)), min(col("k")), max(col("k")))
      assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"))
      val r = agg.head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
        ((live3.length.toLong, live3.min, live3.max)))
      // destructive: metaAgg answers with every DATA file gone (the
      // dv sidecar dirs live under data/ too, but metaAgg never opens
      // them either — the whole dir goes)
      SnapshotTable.deleteRecursively(Paths.get(t.root).resolve("data"))
      assert(t.metaAgg(v3) == ((live3.length.toLong, Some(live3.min), Some(live3.max))))
    } finally SnapshotTable.drop(t)
  }

  test("MIN/MAX fast path survives UPDATE and SQL DML: post-images mint, touched files re-mint") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_dvmaint_survive_")
    spark.conf.set("spark.sql.catalog.graftdvm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdvm.root", catRoot.toString)
    val t = new SnapshotTable(spark, catRoot.resolve("d").toString)
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      t.delete(col("k") === 50L) // marker minted
      assert(t.metaAgg(t.currentVersion)._1 == 99L)
      // an instance UPDATE tombstones + appends post-images: the
      // touched files' bounds re-mint over the live remainder and the
      // post-image files mint their own — the marker survives
      t.update(col("k") === 60L, Map("v" -> lit(0.0)))
      assert(t.metaAgg(t.currentVersion) == ((99L, Some(1L), Some(100L))))
      // an update that REWRITES the extreme key itself: the old max's
      // file re-mints (its live max drops) and the post-image carries
      // the new value — a stale bound would answer 100, not 250
      t.update(col("k") === 100L, Map("k" -> lit(250L)))
      assert(t.metaAgg(t.currentVersion) == ((99L, Some(1L), Some(250L))))
      // SQL row-level DML (the delta-writer path, commitDelta) rides
      // the same machinery: UPDATE post-images and MERGE inserts mint
      // their stats, tombstoned files re-mint — a MERGE insert above
      // the current max is exactly the case a carried-stale claim
      // would answer wrong
      spark.sql("UPDATE graftdvm.d SET v = -1.0 WHERE k IN (SELECT k FROM graftdvm.d WHERE k <= 5)")
      assert(t.metaAgg(t.currentVersion) == ((99L, Some(1L), Some(250L))))
      spark.sql(
        """MERGE INTO graftdvm.d USING (SELECT 300 AS k, 3.0 AS v) s
          |ON d.k = s.k
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(t.metaAgg(t.currentVersion) == ((100L, Some(1L), Some(300L))))
      // and the SQL pushdown answers all four with ZERO data IO,
      // proven destructively
      val q = spark.read.format("graft-table").option("path", t.root).load()
        .agg(count(lit(1)), min(col("k")), max(col("k")), sum(col("k")))
      assert(q.queryExecution.executedPlan.toString
        .contains("PushedAggregates (metadata-only)"),
        q.queryExecution.executedPlan.toString.take(800))
      val live = (1L to 99L).filterNot(_ == 50L) ++ Seq(250L, 300L)
      SnapshotTable.deleteRecursively(catRoot.resolve("d").resolve("data"))
      val r = q.head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((live.size.toLong, 1L, 300L, live.sum)))
    } finally SnapshotTable.drop(t)
  }

  test("a DV delete that cannot re-mint drops the touched files' #sum lines") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_sum_stale_")
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      // a manifest whose claim is the weakened #clusterpart but whose
      // files still carry their #sum lines (what an append that lost
      // its write-time mint leaves behind): the delete re-mints nothing
      val v1 = lines(t, 1L)
      val weakened = v1.drop(3).map {
        case SnapshotTable.ClusterMeta(k) => s"#clusterpart=$k"
        case l => l
      }
      t.publish(2L, t.writeTmpManifest(2L, t.read(1L).schema, weakened))
      val v3 = t.delete(col("k") === 3L || col("k") === 90L)
      val touched = lines(t, v3).collect { case SnapshotTable.DvRowsMeta(a, _) => a }.toSet
      assert(touched.size == 2)
      val sums = lines(t, v3).collect { case SnapshotTable.SumMeta(rel, _, _) => rel }
      assert(!sums.exists(rel => touched(t.dvAddressOf(rel))),
        "a tombstone-falsified #sum line survived the delete")
      // the untouched files keep theirs
      assert(sums.size == SnapshotTable.manifestFilesOf(lines(t, v3)).size - 2)
    } finally SnapshotTable.drop(t)
  }

  test("compactDvs folds stacked sidecar sets into one, content-identical, feed-skippable") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_compactdv_")
    try {
      t.commitClustered((1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      t.delete(col("k") % 11 === 0)
      t.delete(col("k") % 13 === 0)
      t.delete(col("k") % 17 === 0)
      val before = t.read().orderBy("k").collect().toSeq
      val stacked = lines(t, t.currentVersion).count(_.startsWith("#dv="))
      assert(stacked >= 3, s"expected stacked sidecars, got $stacked")
      val v = t.compactDvs()
      val after = lines(t, v).count(_.startsWith("#dv="))
      assert(after < stacked, s"compactDvs did not fold: $stacked -> $after")
      // content-identical reads
      assert(t.read(v).orderBy("k").collect().toSeq == before)
      // zero-change tracked commit: the feed skips it instead of raising
      assert(t.rowChangesBetween(v - 1, v).count() == 0L)
      // counts and re-minted bounds still exact after the fold
      assert(t.metaCount(v) == before.length.toLong)
      assert(t.metaAgg(v)._1 == before.length.toLong)
      // no data file was rewritten: v's data files are exactly v1's
      assert(SnapshotTable.manifestFilesOf(lines(t, v)) ==
        SnapshotTable.manifestFilesOf(lines(t, 1L)))
      // SQL surface: CALL compact_dvs is a no-op now (single sidecar set)
      val catRoot = java.nio.file.Files.createTempDirectory("graft_dvmaint_cat_")
      spark.conf.set("spark.sql.catalog.dvmaint", classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.dvmaint.root", catRoot.toString)
      try {
        spark.sql("CREATE TABLE dvmaint.t (k BIGINT, v DOUBLE)")
        spark.sql("INSERT INTO dvmaint.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
        spark.sql("DELETE FROM dvmaint.t WHERE k = 1")
        spark.sql("DELETE FROM dvmaint.t WHERE k = 2")
        val out = spark.sql("CALL dvmaint.compact_dvs(table => 't')").head
        assert(out.getLong(0) >= 3L)
        assert(spark.sql("SELECT k FROM dvmaint.t").collect().map(_.getLong(0)).toSeq == Seq(3L))
      } finally {
        spark.sql("DROP TABLE IF EXISTS dvmaint.t")
        SnapshotTable.deleteRecursively(catRoot)
      }
    } finally SnapshotTable.drop(t)
  }

  test("partially-live sidecars stay: metaCount uses rows minus dvrows") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_partial_")
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      val v2 = t.delete(col("k") % 10 === 0) // touches several files, none dies
      assert(lines(t, v2).exists(_.startsWith("#dv=")))
      assert(lines(t, v2).exists(_.startsWith("#dvrows=")))
      assert(t.metaCount(v2) == 90L)
    } finally SnapshotTable.drop(t)
  }

  test("compactSmall folds only sub-threshold files; content identical; feed skips it") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_csmall_")
    try {
      val big = (1L to 5000L).map(k => (k, k * 1.0)).toDF("k", "v").coalesce(1)
      t.commit(big)
      t.appendOnce(Seq((9001L, 1.0), (9003L, 3.0)).toDF("k", "v").coalesce(1), 0L)
      t.appendOnce(Seq((9002L, 2.0), (9004L, 4.0)).toDF("k", "v").coalesce(1), 1L)
      t.delete(col("k") === 10L || col("k") === 9001L)
      val expect = t.read().orderBy("k").collect().toSeq
      val sizes = t.read(1L).inputFiles.toSeq.map { u =>
        java.nio.file.Files.size(java.nio.file.Paths.get(java.net.URI.create(u)))
      }
      val v = t.compactSmall(sizes.max) // folds the two tiny appends
      assert(t.read(v).orderBy("k").collect().toSeq == expect,
        "partial compaction changed table content")
      // content-identical: zero row-level changes tracked
      assert(t.rowChangesBetween(v - 1, v).count() == 0L)
      // the big file's tombstone (k=10) still applies via carried DVs
      assert(t.read(v).filter(col("k") === 10L).count() == 0L)
      // below any real threshold: nothing to fold, version unmoved
      assert(t.compactSmall(1L) == v)
      // bucketed layouts refuse
      val tb = SnapshotTable.temp(spark, "graft_dvmaint_csmall_b_")
      try {
        tb.commitBucketed((1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 2)
        intercept[IllegalArgumentException] { tb.compactSmall(Long.MaxValue) }
      } finally SnapshotTable.drop(tb)
    } finally SnapshotTable.drop(t)
  }

  test("metaSum: zero-IO SUM survives stacked DV deletes, destructive proof") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_sum_")
    try {
      t.commitClustered((1L to 200L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      assert(t.metaSum(1L) == ((Some((1L to 200L).sum), 200L)))
      // delete 1: comb — touched files re-mint sums over live remainder
      t.delete(col("k") % 10 === 0)
      val expect1 = (1L to 200L).filterNot(_ % 10 == 0)
      assert(t.metaSum(t.currentVersion) == ((Some(expect1.sum), expect1.size.toLong)))
      // delete 2 stacks: re-mint applies ALL prior DVs
      val v3 = t.delete(col("k") <= 7L)
      val expect2 = expect1.filterNot(_ <= 7L)
      assert(t.metaSum(v3) == ((Some(expect2.sum), expect2.size.toLong)))
      // destructive: the data dir is gone, the answer is not
      SnapshotTable.deleteRecursively(Paths.get(t.root, "data"))
      assert(t.metaSum(v3) == ((Some(expect2.sum), expect2.size.toLong)))
    } finally SnapshotTable.drop(t)
  }

  test("metaSum handles null keys (0|0 per-file lines; all-null sum is None)") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_sum_null_")
    try {
      // nulls pool in the first range partition
      t.commitClustered((1L to 50L).map(k => (k, k * 1.0)).toDF("k", "v")
        .withColumn("k", when(col("k") <= 10, lit(null)).otherwise(col("k"))),
        "k", 4)
      assert(t.metaSum(1L) == ((Some((11L to 50L).sum), 40L)))
      val t2 = SnapshotTable.temp(spark, "graft_dvmaint_sum_allnull_")
      try {
        t2.commitClustered(Seq((Option.empty[java.lang.Long], 1.0),
          (Option.empty[java.lang.Long], 2.0)).toDF("k", "v"), "k", 2)
        assert(t2.metaSum(1L) == ((None, 0L)))
      } finally SnapshotTable.drop(t2)
    } finally SnapshotTable.drop(t)
  }

  test("metaSum survives updates (sums re-mint); refuses on non-integral keys") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_sum_forfeit_")
    try {
      t.commitClustered((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      // UPDATE tombstones + post-images: the touched file's sum
      // re-mints over its live remainder, the post-image file mints
      // its own — zero-IO SUM keeps answering
      t.update(col("k") === 5L, Map("v" -> lit(99.0)))
      assert(t.metaSum(t.currentVersion) == ((Some((1L to 100L).sum), 100L)))
      // an update that rewrites the KEY moves mass between files —
      // a stale per-file sum would answer 5050, not 5050+95
      t.update(col("k") === 5L, Map("k" -> lit(100L)))
      assert(t.metaSum(t.currentVersion) == ((Some((1L to 100L).sum + 95L), 100L)))
      // the exact scan agrees, of course
      assert(t.read().agg(sum(col("k"))).head.getLong(0) == (1L to 100L).sum + 95L)
    } finally SnapshotTable.drop(t)
    // timestamp-keyed clustered commits mint no #sum (epoch sums are
    // meaningless) — coverage check refuses
    val ts = SnapshotTable.temp(spark, "graft_dvmaint_sum_ts_")
    try {
      ts.commitClustered((1L to 10L).map(k => (k, k * 1.0)).toDF("k0", "v")
        .withColumn("k", timestamp_micros(col("k0") * 1000000L)).drop("k0"),
        "k", 2)
      intercept[IllegalArgumentException] { ts.metaSum(1L) }
    } finally SnapshotTable.drop(ts)
  }

  test("metaSum overflow: a file whose key sum exceeds Long mints no line — loud refusal") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_sum_ovf_")
    try {
      // three near-Long.Max keys in one file: the per-file try_sum
      // overflows, so no #sum line lands and metaSum refuses on
      // coverage instead of answering a wrapped value
      val big = Long.MaxValue / 2
      t.commitClustered(Seq((big, 1.0), (big + 1, 2.0), (big + 2, 3.0))
        .toDF("k", "v"), "k", 1)
      intercept[IllegalArgumentException] { t.metaSum(1L) }
      // COUNT and MIN/MAX are unaffected
      assert(t.metaAgg(1L) == ((3L, Some(big), Some(big + 2))))
      // the SQL pushdown refuses SUM too (falls back to the scan)
      val q = spark.read.format("graft-table").option("path", t.root).load()
        .agg(sum("k"))
      assert(!q.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    } finally SnapshotTable.drop(t)
  }

  test("SQL SUM pushes down to the manifest: PushedAggregates, zero data IO") {
    val t = SnapshotTable.temp(spark, "graft_dvmaint_sum_sql_")
    try {
      t.commitClustered((1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      t.delete(col("k") % 3 === 0)
      val live = (1L to 1000L).filterNot(_ % 3 == 0)
      val q = spark.read.format("graft-table").option("path", t.root).load()
        .agg(count(lit(1)), sum("k"), min("k"), max("k"))
      assert(q.queryExecution.executedPlan.toString
        .contains("PushedAggregates (metadata-only)"),
        q.queryExecution.executedPlan.toString.take(800))
      SnapshotTable.deleteRecursively(Paths.get(t.root, "data"))
      val r = q.head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        (live.size.toLong, live.sum, 1L, 1000L))
      // SUM over a NON-key column must refuse (normal scan path)
      val t2 = SnapshotTable.temp(spark, "graft_dvmaint_sum_sql2_")
      try {
        t2.commitClustered((1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 2)
        val q2 = spark.read.format("graft-table").option("path", t2.root).load()
          .agg(sum("v"))
        assert(!q2.queryExecution.executedPlan.toString.contains("PushedAggregates"))
        assert(q2.head.getDouble(0) == (1 to 10).map(_ * 1.0).sum)
      } finally SnapshotTable.drop(t2)
    } finally SnapshotTable.drop(t)
  }
}
