package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Commit-protocol proofs for [[SnapshotTable]]: crash injection at
  * every step boundary (readers never see a torn version), optimistic-
  * concurrency conflict, time travel, merge/CDC semantics, vacuum.
  */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): SnapshotTable =
    SnapshotTable.temp(spark, s"graft_spec_${name}_")

  private def kv(pairs: (Long, Double)*) =
    pairs.toDF("k", "v")

  test("commit + read round-trips rows and schema") {
    val t = freshTable("roundtrip")
    try {
      val v = t.commit(kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      assert(v == 1)
      assert(t.currentVersion == 1)
      val got = t.read().orderBy("k").as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally SnapshotTable.drop(t)
  }

  test("empty-relation commit round-trips schema with zero rows") {
    val t = freshTable("empty")
    try {
      t.commit(kv(1L -> 1.0).filter(col("k") < 0))
      assert(t.read().count() == 0)
      assert(t.read().columns.toSeq == Seq("k", "v"))
    } finally SnapshotTable.drop(t)
  }

  test("crash after data write (no manifest): readers see the old version") {
    val t = freshTable("crash_data")
    try {
      t.commit(kv(1L -> 1.0))
      // simulate a writer dying after step 1: data files exist on disk
      // but no manifest references them
      t.writeData(kv(9L -> 9.0), 2L)
      assert(t.currentVersion == 1)
      assert(t.read().as[(Long, Double)].collect().toSeq == Seq((1L, 1.0)))
    } finally SnapshotTable.drop(t)
  }

  test("crash after tmp manifest (no publish): readers see the old version") {
    val t = freshTable("crash_tmp")
    try {
      t.commit(kv(1L -> 1.0))
      val (_, files, schema) = t.writeData(kv(9L -> 9.0), 2L)
      t.writeTmpManifest(2L, schema, files)
      // the finished-but-unpublished manifest is invisible to listing
      assert(t.currentVersion == 1)
      assert(t.read().as[(Long, Double)].collect().toSeq == Seq((1L, 1.0)))
      // and a half-written manifest (torn tmp) is equally invisible
      Files.write(Paths.get(t.root, "_manifests", ".tmp-torn"),
        "2\ngarbage-that-would-crash-a-parser".getBytes("UTF-8"))
      assert(t.currentVersion == 1)
    } finally SnapshotTable.drop(t)
  }

  test("publish is the atomic commit point") {
    val t = freshTable("publish")
    try {
      t.commit(kv(1L -> 1.0))
      val (_, files, schema) = t.writeData(kv(9L -> 9.0, 10L -> 10.0), 2L)
      val tmp = t.writeTmpManifest(2L, schema, files)
      t.publish(2L, tmp)
      assert(t.currentVersion == 2)
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((9L, 9.0), (10L, 10.0)))
    } finally SnapshotTable.drop(t)
  }

  test("concurrent commit of the same version: exactly one wins, loser's data is cleaned") {
    val t = freshTable("conflict")
    try {
      t.commit(kv(1L -> 1.0))
      // writer A commits v2 fully
      t.commit(kv(2L -> 2.0))
      // writer B raced: it had read currentVersion=1 and targets v2 too
      val (snapB, filesB, schemaB) = t.writeData(kv(99L -> 99.0), 2L)
      val tmpB = t.writeTmpManifest(2L, schemaB, filesB)
      intercept[CommitConflictException] { t.publish(2L, tmpB) }
      // table state is writer A's commit, untouched
      assert(t.currentVersion == 2)
      assert(t.read().as[(Long, Double)].collect().toSeq == Seq((2L, 2.0)))
      // loser's full commit() path also self-cleans its data dir
      assert(Files.exists(snapB)) // spec drove the steps manually, so vacuum owns it
      t.vacuum(retainMillis = 0L) // no concurrent writer here — immediate reclaim
      assert(!Files.exists(snapB))
      assert(t.read().as[(Long, Double)].collect().toSeq == Seq((2L, 2.0)))
    } finally SnapshotTable.drop(t)
  }

  test("deleteKeys: a key relation tombstones matching rows, no file rewritten") {
    val t = freshTable("delete_keys")
    try {
      t.commit(kv((1L to 50L).map(k => (k, k * 1.0)): _*))
      val v1Files = t.read(1L).inputFiles.toSet
      import spark.implicits._
      val losers = Seq(5L, 10L, 15L, 999L).toDF("k") // 999 matches nothing
      val v2 = t.deleteKeys(losers, "k")
      assert(v2 == 2L)
      val got = t.read().as[(Long, Double)].collect().toMap
      assert(got.size == 47 && !got.contains(5L) && !got.contains(10L) && !got.contains(15L))
      // DV path: v2 scans exactly v1's data files (plus DV sidecars) —
      // nothing rewritten
      assert(t.read(2L).inputFiles.filterNot(_.contains("-dv-")).toSet == v1Files)
      val feed = t.rowChangesBetween(1L, 2L)
        .groupBy(SnapshotTable.ChangeTypeCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(feed == Map("delete" -> 3L))
    } finally SnapshotTable.drop(t)
  }

  test("expireVersions: retention keeps carried history alive, frees superseded rewrites") {
    val t = freshTable("expire")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))              // v1
      t.appendOnce(kv(3L -> 3.0), 0L)                  // v2 carries v1's files
      val v1Files = t.read(1L).inputFiles.toSet
      t.compact(1)                                     // v3 rewrites everything
      val v3Files = t.read(3L).inputFiles.toSet
      t.appendOnce(kv(4L -> 4.0), 1L)                  // v4 carries v3's files
      t.expireVersions(keepLast = 2)                   // keep v3, v4
      // expired versions are gone loudly; survivors read fine
      intercept[IllegalArgumentException] { t.read(2L) }
      assert(t.read(3L).count() == 3)
      assert(t.read(4L).count() == 4)
      // vacuum reclaims ONLY what no surviving manifest references:
      // the pre-compact originals go, the compacted files survive
      t.vacuum(retainMillis = 0L)
      v1Files.foreach(f => assert(!Files.exists(Paths.get(f.stripPrefix("file:"))),
        s"superseded file survived vacuum: $f"))
      v3Files.foreach(f => assert(Files.exists(Paths.get(f.stripPrefix("file:"))),
        s"carried file was vacuumed: $f"))
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    } finally SnapshotTable.drop(t)
  }

  test("OCC rebase: a disjoint-bucket merge interleaved before publish is carried, not recomputed") {
    val t = freshTable("occ_rebase")
    try {
      val base = (1L to 160L).map(k => (k, k * 1.0))
      t.commitBucketed(kv(base: _*), "k", 16)
      val hookRuns = new java.util.concurrent.atomic.AtomicInteger(0)
      // writer A updates bucket 3; between A's data write and publish,
      // writer B lands a full merge on bucket 7 — A loses the CAS but
      // B's commit left A's touched files and the DVs untouched, so A
      // REBASES (carries B's bucket-7 rewrite) and publishes v3
      val srcA = kv(base.filter(_._1 % 16 == 3).map { case (k, v) => (k, v + 1000.0) }: _*)
      val srcB = kv(base.filter(_._1 % 16 == 7).map { case (k, v) => (k, v + 2000.0) }: _*)
      val vA = t.mergeBucketedInternal(srcA, "k", () => {
        if (hookRuns.incrementAndGet() == 1) t.mergeBucketed(srcB, "k")
      })
      assert(vA == 3L) // B took v2, A rebased onto it
      // ONE compute pass = rebase, not recompute
      assert(hookRuns.get == 1, s"merge recomputed (${hookRuns.get} passes); expected a rebase")
      val got = t.read().as[(Long, Double)].collect().toMap
      base.foreach { case (k, v) =>
        val want = if (k % 16 == 3) v + 1000.0 else if (k % 16 == 7) v + 2000.0 else v
        assert(got(k) == want, s"k=$k")
      }
      assert(got.size == base.size)
    } finally SnapshotTable.drop(t)
  }

  test("OCC semantic conflict: a same-bucket merge interleaved before publish forces a recompute") {
    val t = freshTable("occ_recompute")
    try {
      val base = (1L to 160L).map(k => (k, k * 1.0))
      t.commitBucketed(kv(base: _*), "k", 16)
      val hookRuns = new java.util.concurrent.atomic.AtomicInteger(0)
      // both writers touch bucket 3 (different keys): A's read is
      // stale once B lands, so A must RECOMPUTE against B's snapshot
      val keysIn3 = base.filter(_._1 % 16 == 3).map(_._1)
      val srcA = kv(keysIn3.take(3).map(k => (k, -1.0)): _*)
      val srcB = kv(keysIn3.drop(3).take(3).map(k => (k, -2.0)): _*)
      val vA = t.mergeBucketedInternal(srcA, "k", () => {
        if (hookRuns.incrementAndGet() == 1) t.mergeBucketed(srcB, "k")
      })
      assert(vA == 3L)
      assert(hookRuns.get == 2, "expected a recompute (two compute passes)")
      val got = t.read().as[(Long, Double)].collect().toMap
      keysIn3.take(3).foreach(k => assert(got(k) == -1.0))
      keysIn3.drop(3).take(3).foreach(k => assert(got(k) == -2.0))
      assert(got.size == base.size) // serial application, nothing lost
    } finally SnapshotTable.drop(t)
  }

  test("OCC semantic conflict: a DELETE interleaved before publish forces a recompute — no resurrection") {
    val t = freshTable("occ_delete")
    try {
      val base = (1L to 160L).map(k => (k, k * 1.0))
      t.commitBucketed(kv(base: _*), "k", 16)
      val hookRuns = new java.util.concurrent.atomic.AtomicInteger(0)
      // A updates bucket-3 keys; B deletes ONE bucket-3 key that A's
      // source does NOT touch. A's stale merge would resurrect it;
      // the DV change must force A to recompute through the tombstone.
      val keysIn3 = base.filter(_._1 % 16 == 3).map(_._1)
      val doomed = keysIn3.last
      val srcA = kv(keysIn3.take(2).map(k => (k, -1.0)): _*)
      val vA = t.mergeBucketedInternal(srcA, "k", () => {
        if (hookRuns.incrementAndGet() == 1)
          t.delete(org.apache.spark.sql.functions.col("k") === doomed)
      })
      assert(vA == 3L)
      assert(hookRuns.get == 2, "expected a recompute (two compute passes)")
      val got = t.read().as[(Long, Double)].collect().toMap
      assert(!got.contains(doomed), "deleted row resurrected through the merge")
      keysIn3.take(2).foreach(k => assert(got(k) == -1.0))
      assert(got.size == base.size - 1)
    } finally SnapshotTable.drop(t)
  }

  test("two writers racing the publish of the same version: exactly one wins, under real threads") {
    val t = freshTable("race")
    try {
      t.commit(kv(1L -> 1.0))
      // both writers have fully prepared v2 (data + tmp manifest);
      // a latch releases their publish calls at the same instant
      val (_, fA, sA) = t.writeData(kv(10L -> 10.0), 2L)
      val tmpA = t.writeTmpManifest(2L, sA, fA)
      val (_, fB, sB) = t.writeData(kv(20L -> 20.0), 2L)
      val tmpB = t.writeTmpManifest(2L, sB, fB)
      val start = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val threads = Seq(tmpA, tmpB).map { tmp =>
        val th = new Thread(() => {
          start.await()
          try { t.publish(2L, tmp); outcomes.add(true) }
          catch { case _: CommitConflictException => outcomes.add(false) }
        })
        th.start(); th
      }
      start.countDown()
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(outcomes.asScala.toSeq.sorted == Seq(false, true),
        s"expected exactly one winner: ${outcomes.asScala.toSeq}")
      // the committed v2 is EXACTLY one writer's relation, never a mix
      val rows = t.read(2L).as[(Long, Double)].collect().toSeq
      assert(rows == Seq((10L, 10.0)) || rows == Seq((20L, 20.0)), rows.toString)
    } finally SnapshotTable.drop(t)
  }

  test("time travel: every committed version stays readable and immutable") {
    val t = freshTable("timetravel")
    try {
      t.commit(kv(1L -> 1.0))
      t.commit(kv(1L -> 1.5, 2L -> 2.0))
      t.commit(kv(3L -> 3.0))
      assert(t.read(1).as[(Long, Double)].collect().toSeq == Seq((1L, 1.0)))
      assert(t.read(2).orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.5), (2L, 2.0)))
      assert(t.read(3).as[(Long, Double)].collect().toSeq == Seq((3L, 3.0)))
      intercept[IllegalArgumentException] { t.read(4) }
    } finally SnapshotTable.drop(t)
  }

  test("merge: update/insert/keep SCD1 semantics commit as v+1") {
    val t = freshTable("merge")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      val v = t.merge(kv(2L -> 20.0, 4L -> 40.0), "k")
      assert(v == 2)
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 40.0)))
      // v1 unchanged (snapshot isolation)
      assert(t.read(1).orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally SnapshotTable.drop(t)
  }

  test("applyChanges: deletes drop keys, upserts merge, all in one commit") {
    val t = freshTable("cdc")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      val changes = Seq(
        (1L, 0.0, "d"),   // delete k=1
        (2L, 20.0, "u"),  // update k=2
        (5L, 50.0, "u"),  // insert k=5
      ).toDF("k", "v", "op")
      t.applyChanges(changes, "k", "op")
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((2L, 20.0), (3L, 3.0), (5L, 50.0)))
    } finally SnapshotTable.drop(t)
  }

  test("bucketed merge rewrites only touched buckets and carries untouched files forward") {
    val t = freshTable("bucketed")
    try {
      // 1000 keys over 8 buckets (pmod(k, 8))
      val base = (0L until 1000L).map(k => (k, k.toDouble)).toDF("k", "v")
      t.commitBucketed(base, "k", 8)
      val manifest1 = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(t.root, "_manifests", "v1.manifest")).asScalaLines
      val files1 = manifest1.drop(2).filterNot(_.startsWith("#"))
      assert(manifest1.exists(_.startsWith("#buckets=8 key=k")), manifest1.toString)
      assert(files1.map(f => "__bdir=(\\d+)".r.findFirstMatchIn(f).get.group(1)).toSet.size == 8)
      // source touches ONLY buckets 3 (update k=3) and 5 (insert k=1005)
      val src = Seq((3L, 30.0), (1005L, 50.0)).toDF("k", "v")
      val v2 = t.mergeBucketed(src, "k")
      assert(v2 == 2)
      val manifest2 = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(t.root, "_manifests", "v2.manifest")).asScalaLines
      val files2 = manifest2.drop(2).filterNot(_.startsWith("#"))
      val untouched1 = files1.filterNot(f => f.contains("__bdir=3") || f.contains("__bdir=5"))
      // untouched buckets: the v1 files are reused BY PATH — never
      // re-read, never rewritten
      assert(untouched1.forall(files2.contains),
        s"untouched files not carried: ${untouched1.filterNot(files2.contains)}")
      // touched buckets: fresh files from the v2 snapshot dir only
      val touched2 = files2.filter(f => f.contains("__bdir=3") || f.contains("__bdir=5"))
      assert(touched2.nonEmpty && touched2.forall(_.contains("v2-")), touched2.toString)
      // and the merged table equals the naive full merge
      val expect = base.filter($"k" =!= 3L)
        .unionAll(Seq((3L, 30.0), (1005L, 50.0)).toDF("k", "v"))
      assert(t.read(v2).except(expect).isEmpty && expect.except(t.read(v2)).isEmpty)
      // time travel still intact on the bucketed layout
      assert(t.read(1).count() == 1000)
      // vacuum keeps every snapshot dir any manifest references
      t.vacuum()
      assert(t.read(1).count() == 1000 && t.read(2).count() == 1001)
    } finally SnapshotTable.drop(t)
  }

  private implicit class JListOps(l: java.util.List[String]) {
    def asScalaLines: Vector[String] = {
      import scala.jdk.CollectionConverters._
      l.asScala.toVector
    }
  }

  test("streaming appendOnce commits one version per micro-batch and is replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshTable("stream")
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "snap-ckpt").toString
    try {
      val ms = MemoryStream[(Long, Double)]
      val q = ms.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          t.appendOnce(batch, id); ()
        }
        .start()
      ms.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      ms.addData((3L, 3.0))
      q.processAllAvailable()
      q.stop()
      assert(t.currentVersion == 2, s"one version per micro-batch: ${t.currentVersion}")
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
      // the at-least-once window: foreachBatch re-runs a COMPLETED
      // batch with the same batchId after a crash before the engine's
      // commit-log write — the table must gain nothing
      assert(t.appendOnce(Seq((3L, 3.0)).toDF("k", "v"), 1L).isEmpty)
      assert(t.currentVersion == 2)
      assert(t.read().count() == 3)
      // version history: v1 = batch 0 only, v2 = both (append carries files)
      assert(t.read(1).count() == 2)
      // a genuinely new batch id still appends
      assert(t.appendOnce(Seq((4L, 4.0)).toDF("k", "v"), 2L).contains(3L))
      assert(t.read().count() == 4)
      assert(t.committedBatchIds == Set(0L, 1L, 2L))
    } finally SnapshotTable.drop(t)
  }

  test("compact rewrites the current version into fewer files with identical content") {
    val t = freshTable("compact")
    try {
      // three appends -> v3's manifest lists >= 3 files
      t.appendOnce(kv(1L -> 1.0), 0L)
      t.appendOnce(kv(2L -> 2.0), 1L)
      t.appendOnce(kv(3L -> 3.0), 2L)
      def files(v: Long): Seq[String] = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(t.root, "_manifests", s"v$v.manifest"))
        .asScalaLines.drop(2).filterNot(_.startsWith("#"))
      assert(files(3).size >= 3)
      val before = t.read().orderBy("k").as[(Long, Double)].collect().toSeq
      val v4 = t.compact(1)
      assert(v4 == 4 && files(4).size == 1, files(4).toString)
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq == before)
      // pre-compaction versions still read their original files
      assert(t.read(2).count() == 2)
    } finally SnapshotTable.drop(t)
  }

  test("schema evolution: each version reads back with its own committed schema") {
    import org.apache.spark.sql.functions._
    val t = freshTable("evolve")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      // v2 adds a column; the manifest stores the schema per version
      t.commit(t.read().withColumn("tag", concat(lit("k"), col("k"))))
      assert(t.read(1).columns.toSeq == Seq("k", "v"))
      assert(t.read(2).columns.toSeq == Seq("k", "v", "tag"))
      assert(t.read(2).orderBy("k").select("tag").as[String].collect().toSeq ==
        Seq("k1", "k2"))
    } finally SnapshotTable.drop(t)
  }

  test("changesBetween reads only appended files; diff classifies row-level changes") {
    import org.apache.spark.sql.functions.col
    val t = freshTable("changes")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      t.appendOnce(kv(3L -> 3.0), 0L)
      // the change feed is exactly the appended rows, from v2-only files
      assert(t.addedFiles(1L, 2L).nonEmpty &&
        t.addedFiles(1L, 2L).forall(_.contains("v2-")))
      assert(t.changesBetween(1L, 2L).as[(Long, Double)].collect().toSeq ==
        Seq((3L, 3.0)))
      // row-level diff across a rewriting MERGE: carried-over rows
      // (k=1, k=3) must NOT surface
      t.merge(kv(2L -> 20.0, 4L -> 40.0), "k")
      val d = t.diff(2L, 3L, "k")
        .select(col("change"), col("k"), col("v_before"), col("v_after"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).toSet
      assert(d == Set(
        ("update", 2L, Some(2.0), Some(20.0)),
        ("insert", 4L, None, Some(40.0))), d.toString)
    } finally SnapshotTable.drop(t)
  }

  test("rowChangesBetween is row-exact through rewriting writers, O(changelog) read") {
    import org.apache.spark.sql.functions.col
    val t = freshTable("rowcdc")
    try {
      // v1: bucketed snapshot; v2: merge touching 2 of 1000 keys
      val base = (0L until 1000L).map(k => (k, k.toDouble)).toDF("k", "v")
      t.commitBucketed(base, "k", 8)
      t.mergeBucketed(Seq((3L, 30.0), (1005L, 50.0)).toDF("k", "v"), "k")
      val feed = t.rowChangesBetween(1L, 2L)
      val got = feed.collect().map(r =>
        (r.getString(2), r.getLong(0), r.getDouble(1))).toSet
      // row-exact: 2 changed keys only — NOT the rewritten buckets'
      // ~250 carried rows (the file-granular feed would show those)
      assert(got == Set(
        ("update_preimage", 3L, 3.0),
        ("update_postimage", 3L, 30.0),
        ("insert", 1005L, 50.0)), got.toString)
      // read cost: the feed scans ONLY the committed changelog files
      val inputs = feed.inputFiles.toSeq
      assert(inputs.nonEmpty && inputs.forall(_.contains("-cdc-")),
        s"feed read non-changelog files: $inputs")
      // value-identical merge rows record nothing
      t.mergeBucketed(Seq((3L, 30.0)).toDF("k", "v"), "k")
      assert(t.rowChangesBetween(2L, 3L).count() == 0)
      // compaction: tracked, zero changes — the feed skips it
      t.compact(2)
      assert(t.rowChangesBetween(3L, 4L).count() == 0)
      // deletes carry the pre-image through applyChanges
      t.applyChanges(Seq((5L, 0.0, "d"), (6L, 60.0, "u")).toDF("k", "v", "op"), "k", "op")
      val d = t.rowChangesBetween(4L, 5L).collect().map(r =>
        (r.getString(2), r.getLong(0), r.getDouble(1))).toSet
      assert(d == Set(
        ("delete", 5L, 5.0),
        ("update_preimage", 6L, 6.0),
        ("update_postimage", 6L, 60.0)), d.toString)
      // one span across merge + compact + cdc-apply: the union is exact
      val spanned = t.rowChangesBetween(2L, 5L).count()
      assert(spanned == 3, s"expected 3 rows across (2,5], got $spanned")
      // vacuum must keep referenced changelog dirs alive
      t.vacuum(retainMillis = 0L)
      assert(t.rowChangesBetween(1L, 2L).count() == 3)
      // plain commit() breaks row-level tracking — loud, not wrong
      t.commit(t.read())
      intercept[IllegalStateException] { t.rowChangesBetween(5L, 6L).count() }
      // but appends derive inserts from the manifest diff
      t.appendOnce(Seq((2000L, 1.0)).toDF("k", "v"), 77L)
      val app = t.rowChangesBetween(6L, 7L).collect().map(r =>
        (r.getString(2), r.getLong(0))).toSet
      assert(app == Set(("insert", 2000L)))
    } finally SnapshotTable.drop(t)
  }

  test("TableTail delivers each version's feed exactly once across restarts and crashes") {
    val t = freshTable("tail")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tail_ckpt_").toString
    try {
      t.commit(kv(1L -> 1.0))
      t.appendOnce(kv(2L -> 2.0), 0L)
      val seen = collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Double)])]
      def handler(v: Long, df: org.apache.spark.sql.DataFrame): Unit =
        seen += ((v, df.orderBy("k").as[(Long, Double)].collect().toSeq))
      val tail1 = new TableTail(t, ckpt)
      assert(tail1.poll(handler) == 2)
      assert(seen.toSeq == Seq(1L -> Seq((1L, 1.0)), 2L -> Seq((2L, 2.0))))
      // nothing new -> nothing delivered
      assert(tail1.poll(handler) == 0 && seen.size == 2)
      // process restart: a NEW tail on the same checkpoint resumes
      // after the durable cursor, not from scratch
      t.appendOnce(kv(3L -> 3.0), 1L)
      val tail2 = new TableTail(t, ckpt)
      assert(tail2.poll(handler) == 1)
      assert(seen.last == 3L -> Seq((3L, 3.0)))
      // crash MID-handler: the cursor has not advanced, so the same
      // version is re-delivered on the next poll (at-least-once at
      // the handler boundary; completed versions never re-deliver)
      t.appendOnce(kv(4L -> 4.0), 2L)
      intercept[RuntimeException] {
        tail2.poll((_, _) => throw new RuntimeException("crash mid-handler"))
      }
      assert(tail2.cursor == 3L)
      assert(tail2.poll(handler) == 1)
      assert(seen.last == 4L -> Seq((4L, 4.0)))
      assert(seen.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    } finally SnapshotTable.drop(t)
  }

  test("clustered commit: manifest key stats prune files for range reads") {
    val t = freshTable("cluster")
    try {
      val rows = (0L until 10000L).map(k => (k, k * 1.5)).toDF("k", "v")
      t.commitClustered(rows, "k", 8)
      val allFiles = t.prunedFiles(1L, Long.MinValue, Long.MaxValue)
      assert(allFiles.size == 8, allFiles.toString)
      // a narrow range touches 1-2 of the 8 contiguous-range files
      val narrow = t.prunedFiles(1L, 100L, 200L)
      assert(narrow.nonEmpty && narrow.size <= 2, narrow.toString)
      assert(t.readWhere(1L, "k", 100L, 200L).orderBy("k")
        .as[(Long, Double)].collect().toSeq ==
        (100L to 200L).map(k => (k, k * 1.5)))
      // full range reads everything; disjoint range opens NO files
      assert(t.readWhere(1L, "k", 0L, 9999L).count() == 10000)
      assert(t.prunedFiles(1L, 20000L, 30000L).isEmpty)
      assert(t.readWhere(1L, "k", 20000L, 30000L).count() == 0)
      // a Long-clustered version serves no string-range read
      val e = intercept[IllegalArgumentException] { t.readWhereString(1L, "k", "a", "b") }
      assert(e.getMessage.contains("is not string-clustered on k"), e.getMessage)
    } finally SnapshotTable.drop(t)
  }

  test("clustered commit on a TIMESTAMP key: exact micros stats prune range reads") {
    import org.apache.spark.sql.functions._
    val t = freshTable("ts_cluster")
    try {
      // 96 hourly timestamps over 4 days
      val rows = spark.range(0, 96)
        .select(timestamp_micros(col("id") * 3600000000L).as("ts"),
          col("id").cast("double").as("v"))
      val v = t.commitClustered(rows, "ts", 8)
      assert(t.prunedFiles(v, Long.MinValue, Long.MaxValue).size == 8)
      // one 6-hour window: 1-2 of the 8 contiguous files
      val lo = 24L * 3600000000L
      val hi = 30L * 3600000000L
      val narrow = t.prunedFiles(v, lo, hi)
      assert(narrow.nonEmpty && narrow.size <= 2, narrow.toString)
      assert(t.readWhere(v, "ts", lo, hi).count() == 7) // hours 24..30 inclusive
      // disjoint range: zero files
      assert(t.prunedFiles(v, 200L * 3600000000L, 300L * 3600000000L).isEmpty)
    } finally SnapshotTable.drop(t)
  }

  test("z-ordered commit: 2-D rectangle reads open only intersecting files") {
    import org.apache.spark.sql.functions._
    val t = freshTable("zorder")
    try {
      // 64x64 grid — both dims uniform, so a single-key layout would
      // leave the other dim's per-file span ~full-width
      val rows = spark.range(0, 4096).select(
        (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
        col("id").cast("double").as("v"))
      val v = t.commitZOrderedN(rows, Seq("x", "y"), 16)
      val full = (Long.MinValue, Long.MaxValue)
      val all = t.prunedFilesN(v, Seq(full, full))
      assert(all.size == 16, all.toString)
      // a small rectangle: far fewer than all files (z-locality in BOTH dims)
      val few = t.prunedFilesN(v, Seq((0L, 15L), (0L, 15L)))
      assert(few.size <= 4, s"expected <=4 of 16 files, got ${few.size}")
      // row-exactness vs the brute-force filter
      val got = t.readWhereN(v, Seq(("x", 10L, 20L), ("y", 30L, 40L)))
        .agg(count(lit(1)), sum("v")).head()
      val want = t.read(v)
        .filter(col("x").between(10, 20) && col("y").between(30, 40))
        .agg(count(lit(1)), sum("v")).head()
      assert(got == want, s"$got != $want")
      // pruning on EACH dimension alone also bites
      assert(t.prunedFilesN(v, Seq((0L, 7L), full)).size < 16)
      assert(t.prunedFilesN(v, Seq(full, (0L, 7L))).size < 16)
    } finally SnapshotTable.drop(t)
  }

  test("N-dim z-ordered commit: 3-D box reads open only intersecting files") {
    import org.apache.spark.sql.functions._
    val t = freshTable("zordern")
    try {
      // 16x16x16 cube — any single-key (or 2-D) layout leaves the
      // remaining dimension's per-file span ~full-width
      val rows = spark.range(0, 4096).select(
        (col("id") % 16).as("x"),
        ((col("id") / 16) % 16).cast("long").as("y"),
        (col("id") / 256).cast("long").as("z"),
        col("id").cast("double").as("v"))
      val v = t.commitZOrderedN(rows, Seq("x", "y", "z"), 16)
      val all = t.prunedFilesN(v, Seq((Long.MinValue, Long.MaxValue),
        (Long.MinValue, Long.MaxValue), (Long.MinValue, Long.MaxValue)))
      assert(all.size == 16, all.toString)
      // a small cube: far fewer than all files (z-locality in all 3)
      val few = t.prunedFilesN(v, Seq((0L, 3L), (0L, 3L), (0L, 3L)))
      assert(few.size <= 4, s"expected <=4 of 16 files, got ${few.size}")
      // row-exactness vs the brute-force filter
      val got = t.readWhereN(v, Seq(("x", 2L, 9L), ("y", 4L, 11L), ("z", 1L, 6L)))
        .agg(count(lit(1)), sum("v")).head()
      val want = t.read(v)
        .filter(col("x").between(2, 9) && col("y").between(4, 11) &&
          col("z").between(1, 6))
        .agg(count(lit(1)), sum("v")).head()
      assert(got == want, s"$got != $want")
      // pruning bites on EACH dimension alone
      val full = (Long.MinValue, Long.MaxValue)
      assert(t.prunedFilesN(v, Seq((0L, 3L), full, full)).size < 16)
      assert(t.prunedFilesN(v, Seq(full, (0L, 3L), full)).size < 16)
      assert(t.prunedFilesN(v, Seq(full, full, (0L, 3L))).size < 16)
      // DV delete then OPTIMIZE ZORDER BY 3 keys: tombstones fold in,
      // content identical, stats re-minted for the new layout
      t.delete(col("v") < 100.0)
      val before = t.read().orderBy("x", "y", "z").collect().toSeq
      val v2 = t.optimizeZOrderedN(Seq("x", "y", "z"), 8)
      assert(t.read(v2).orderBy("x", "y", "z").collect().toSeq == before)
      assert(t.rowChangesBetween(v2 - 1, v2).count() == 0L)
      assert(t.prunedFilesN(v2, Seq((12L, 15L), (12L, 15L), (12L, 15L))).size < 8)
      // wrong box arity / un-z-ordered version refuse loudly
      intercept[IllegalArgumentException] {
        t.readWhereN(v2, Seq(("x", 0L, 1L), ("y", 0L, 1L)))
      }
      // so do the right keys in the wrong order
      val rev = intercept[IllegalArgumentException] {
        t.readWhereN(v2, Seq(("z", 0L, 1L), ("y", 0L, 1L), ("x", 0L, 1L)))
      }
      assert(rev.getMessage.contains("!= z-order dims"), rev.getMessage)
    } finally SnapshotTable.drop(t)
  }

  test("vacuum reclaims crash garbage without touching committed state") {
    val t = freshTable("vacuum")
    try {
      t.commit(kv(1L -> 1.0))
      t.commit(kv(2L -> 2.0))
      val (orphan, _, _) = t.writeData(kv(9L -> 9.0), 3L)
      Files.write(Paths.get(t.root, "_manifests", ".tmp-stray"), Array[Byte](1, 2))
      // default retention: fresh artifacts are NOT reclaimed (they
      // could be a live writer's in-flight commit)
      t.vacuum()
      assert(Files.exists(orphan))
      assert(Files.exists(Paths.get(t.root, "_manifests", ".tmp-stray")))
      // explicit no-concurrent-writer vacuum reclaims immediately
      t.vacuum(retainMillis = 0L)
      assert(!Files.exists(orphan))
      assert(!Files.exists(Paths.get(t.root, "_manifests", ".tmp-stray")))
      // both committed versions still fully readable after vacuum
      assert(t.read(1).as[(Long, Double)].collect().toSeq == Seq((1L, 1.0)))
      assert(t.read(2).as[(Long, Double)].collect().toSeq == Seq((2L, 2.0)))
    } finally SnapshotTable.drop(t)
  }

  test("bucketed commit/merge reject non-integral keys; clustered stats survive all-null key files") {
    import org.apache.spark.sql.functions._
    val t = freshTable("guards")
    try {
      val byName = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
      // pmod on a string key would yield null buckets and a broken
      // layout that only explodes at merge time — reject up front
      intercept[IllegalArgumentException] { t.commitBucketed(byName, "k", 4) }
      intercept[IllegalArgumentException] { t.commitClustered(byName, "k", 4) }
      t.commitBucketed(kv(1L -> 1.0, 2L -> 2.0), "k", 4)
      intercept[IllegalArgumentException] {
        t.mergeBucketed(Seq(("c", 3.0)).toDF("k", "v"), "k")
      }
      // all-null-key file: nulls pool into the first range partition;
      // its null min/max must be SKIPPED (not NPE), kept conservatively
      val t2 = freshTable("nullstats")
      try {
        val withNulls = Seq[(java.lang.Long, Double)]((null, 0.5), (null, 0.7),
          (1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "v")
        val v = t2.commitClustered(withNulls, "k", 3)
        // stat-less (null-key) file is conservatively kept by any range
        assert(t2.readWhere(v, "k", 1L, 2L).orderBy("k").as[(Long, Double)]
          .collect().toSeq == Seq((1L, 1.0), (2L, 2.0)))
        assert(t2.read(v).count() == 6)
      } finally SnapshotTable.drop(t2)
    } finally SnapshotTable.drop(t)
  }

  test("vacuum racing a writer between writeData and publish never breaks the commit") {
    val t = freshTable("vacuum_race")
    try {
      t.commit(kv(1L -> 1.0))
      // writer thread: prepares v2 fully, then waits on a latch INSIDE
      // the writeData→publish window while vacuum runs
      val prepared = new java.util.concurrent.CountDownLatch(1)
      val vacuumed = new java.util.concurrent.CountDownLatch(1)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        try {
          val (_, files, schema) = t.writeData(kv(2L -> 2.0), 2L)
          val tmp = t.writeTmpManifest(2L, schema, files)
          prepared.countDown()
          vacuumed.await()
          t.publish(2L, tmp)
        } catch { case e: Throwable => failure.set(e); prepared.countDown() }
      })
      writer.start()
      prepared.await()
      // default-retention vacuum mid-window: must NOT reclaim the
      // writer's fresh (unreferenced) snapshot dir or tmp manifest
      t.vacuum()
      vacuumed.countDown()
      writer.join()
      assert(failure.get() == null, s"writer failed: ${failure.get()}")
      assert(t.currentVersion == 2)
      // the committed version's files all exist and read back intact
      assert(t.read(2L).as[(Long, Double)].collect().toSeq == Seq((2L, 2.0)))
    } finally SnapshotTable.drop(t)
  }

  // ---- deletion vectors ------------------------------------------------

  private def filesOf(t: SnapshotTable, v: Long): Vector[String] =
    SnapshotTable.manifestFilesOf(
      SnapshotTable.manifestLinesAt(Paths.get(t.root), v))

  private def dvLinesOf(t: SnapshotTable, v: Long): Vector[String] =
    SnapshotTable.manifestLinesAt(Paths.get(t.root), v)
      .drop(2).filter(_.startsWith("#dv="))

  test("delete: stacked deletion vectors tombstone rows without rewriting any data file") {
    val t = freshTable("dv_basic")
    try {
      val v1 = t.commit(kv((1L to 20L).map(k => k -> k.toDouble): _*))
      val v2 = t.delete(col("k") % 2 === 0)
      val v3 = t.delete(col("k") > 15)
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        (1L to 15L).filter(_ % 2 == 1).map(k => (k, k.toDouble)))
      // snapshot isolation underneath the tombstones
      assert(t.read(v1).count() == 20)
      assert(t.read(v2).count() == 10)
      // no data file rewritten: every surviving file is v1's, by path
      assert(filesOf(t, v3).toSet.subsetOf(filesOf(t, v1).toSet))
      assert(dvLinesOf(t, v3).nonEmpty)
      // deletes are CDC-tracked: the feed carries the pre-images
      val feed = t.rowChangesBetween(v1, v2)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getString(2)))
      assert(feed.toSeq == (2L to 20L by 2).map(k => (k, "delete")))
    } finally SnapshotTable.drop(t)
  }

  test("delete: a fully-deleted file drops from the manifest; stats skipping respects DVs") {
    val t = freshTable("dv_filedrop")
    try {
      t.commitClustered(kv((1L to 100L).map(k => k -> k.toDouble): _*), "k", 4)
      val before = filesOf(t, 1L)
      val v2 = t.delete(col("k") <= 60)
      assert(t.read().count() == 40)
      // the low-range file(s) are gone from the manifest entirely —
      // a file-level delete is pure metadata
      assert(filesOf(t, v2).size < before.size)
      assert(filesOf(t, v2).toSet.subsetOf(before.toSet))
      // clustered range reads still prune AND apply the tombstones
      val v3 = t.delete(col("k") === 70L)
      assert(t.readWhere(v3, "k", 61L, 80L).as[(Long, Double)].collect()
        .map(_._1).sorted.toSeq == (61L to 80L).filterNot(_ == 70L))
    } finally SnapshotTable.drop(t)
  }

  test("delete: dead-file detection answers from manifest #rows, not a second table scan") {
    // a CLUSTERED commit carries per-file #rows= counts; the delete's
    // file-drop check must use them (zero extra reads) instead of
    // re-scanning the table for per-file survivor counts. Observable
    // as total input records across the delete: ~one pass over the
    // 40k rows (the doomed computation), NOT two.
    val t = freshTable("dv_deadfile_meta")
    try {
      t.commitClustered(kv((1L to 40000L).map(k => k -> k.toDouble): _*), "k", 8)
      val records = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // delete the lower HALF: range-sampled file boundaries jitter,
        // but several of the 8 files lie entirely below 20000 and must
        // drop from the manifest
        val v2 = t.delete(col("k") <= 20000L)
        // quiesce: listener events drain asynchronously
        var prev = -1L
        while (records.get() != prev) { prev = records.get(); Thread.sleep(300) }
        assert(t.read(v2).count() == 20000L)
        assert(filesOf(t, v2).size < 8)
      } finally spark.sparkContext.removeSparkListener(listener)
      // one full pass = 40k input records (doomed scan; the DV write
      // and CDC pre-images replay from the persisted doomed set). The
      // old survivor-count sweep added a second full 40k-record pass;
      // allow slack for range-sampling re-reads and the boundary
      // file's stats re-mint (O(touched files), a few thousand rows)
      // but stay well under 2x.
      assert(records.get() <= 75000L,
        s"delete read ${records.get()} input records — dead-file check is re-scanning the table")
    } finally SnapshotTable.drop(t)
  }

  test("manifest segmentation: per-commit metadata tracks the delta, not the file count") {
    import scala.jdk.CollectionConverters._
    val t = freshTable("segments")
    try {
      // seed one real part file, then register many single-file
      // appends by path (Files.copy: the data content is irrelevant
      // to manifest mechanics, the REFERENCES are what scale)
      t.commit(kv(1L -> 1.0))
      val first = t.read(1L).inputFiles.head.stripPrefix("file:")
      val root = java.nio.file.Paths.get(t.root)
      val total = 420
      (1 to total).foreach { i =>
        val rel = s"data/segspec/part-$i.parquet"
        val abs = root.resolve(rel)
        java.nio.file.Files.createDirectories(abs.getParent)
        java.nio.file.Files.copy(java.nio.file.Paths.get(first), abs)
        t.appendFilesOnce(Seq(rel), t.read(1L).schema, i.toLong, "segspec")
      }
      val cur = t.currentVersion
      assert(cur == 1L + total)
      // the stub is SMALL: #seg references + inline meta, not 420 paths
      val raw = SnapshotTable.manifestRawLinesAt(root, cur)
      assert(raw.count(_.startsWith("#seg=")) > 2)
      assert(raw.size < 60, s"stub has ${raw.size} lines — not segmented?")
      // late commits write O(delta) new segment bytes: content-
      // addressed chunks are shared across versions, so the total
      // segment population grows like versions * touched-chunks, far
      // below versions * all-chunks
      val segFiles = {
        val s = java.nio.file.Files.list(root.resolve("_manifests"))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("seg-")).toVector
        finally s.close()
      }
      val chunksPerVersion = raw.count(_.startsWith("#seg="))
      assert(segFiles.size < total * 3,
        s"${segFiles.size} segment files for $total commits of ~$chunksPerVersion chunks each — no reuse?")
      // reads expand transparently: every version stays exact
      val paths = SnapshotTable.manifestFilesOf(
        SnapshotTable.manifestLinesAt(root, cur))
      assert(paths.size == paths.distinct.size)
      assert(paths.size == total + 1)
      assert(t.read().inputFiles.length == total + 1)
      assert(t.read(200L).inputFiles.length == 200)
      // retention + GC: expired versions' exclusive segments reclaim,
      // survivors keep reading
      t.expireVersions(keepLast = 2)
      t.vacuum(retainMillis = 0L)
      assert(t.read().inputFiles.length == total + 1)
      val segsAfter = {
        val s = java.nio.file.Files.list(root.resolve("_manifests"))
        try s.iterator().asScala.count(_.getFileName.toString.startsWith("seg-"))
        finally s.close()
      }
      assert(segsAfter < segFiles.size,
        s"vacuum reclaimed no segments ($segsAfter vs ${segFiles.size})")
      assert(segsAfter >= chunksPerVersion)
    } finally SnapshotTable.drop(t)
  }

  test("delete composes: appends carry tombstones, compact folds them in") {
    val t = freshTable("dv_append")
    try {
      t.commit(kv((1L to 10L).map(k => k -> k.toDouble): _*))
      t.delete(col("k") <= 3)
      val v3 = t.appendOnce(kv(11L -> 11.0, 12L -> 12.0), 7L).get
      assert(t.read().orderBy("k").as[(Long, Double)].collect().map(_._1).toSeq ==
        (4L to 12L))
      assert(dvLinesOf(t, v3).nonEmpty)
      val v4 = t.compact(2)
      // compaction materializes through read(): the DVs fold into the
      // rewrite and the manifest sheds its #dv lines
      assert(dvLinesOf(t, v4).isEmpty)
      assert(t.read(v4).orderBy("k").as[(Long, Double)].collect().map(_._1).toSeq ==
        (4L to 12L))
      // the pre-compact version still reads through its tombstones
      assert(t.read(v3).count() == 9)
    } finally SnapshotTable.drop(t)
  }

  test("delete composes with bucketed merge: tombstones hold in touched AND carried buckets") {
    val t = freshTable("dv_merge")
    try {
      t.commitBucketed(kv((1L to 40L).map(k => k -> k.toDouble): _*), "k", 4)
      t.delete(col("k") % 5 === 0)
      // source touches bucket 1 only (41 % 4 == 1 % 4 == 1): deleted
      // keys 5, 25 sit in the touched bucket (DV-aware rewrite), the
      // rest in carried buckets (carried #dv lines)
      val v3 = t.mergeBucketed(kv(41L -> 9.0, 1L -> 9.9), "k")
      val expected = ((1L to 40L).filter(_ % 5 != 0).map(k =>
        (k, if (k == 1L) 9.9 else k.toDouble)) :+ (41L, 9.0)).sortBy(_._1)
      assert(t.read(v3).orderBy("k").as[(Long, Double)].collect().toSeq == expected)
    } finally SnapshotTable.drop(t)
  }

  test("string-clustered commit: truncated byte-wise bounds prune range reads losslessly") {
    val t = freshTable("clusters")
    try {
      // keys long enough to force truncation (> 32 bytes) and a null
      val rows = (0 until 400).map(i => (f"key-$i%03d-" + ("x" * 40), i.toDouble)) :+
        (null.asInstanceOf[String], -1.0)
      val v = t.commitClusteredString(rows.toDF("name", "v"), "name", 8)
      val pruned = t.prunedFilesString(v, "key-100", "key-199|")
      val all = SnapshotTable.manifestFilesOf(
        SnapshotTable.manifestLinesAt(Paths.get(t.root), v))
      // 100 of 400 keys → ~2 of 8 range files (+ the stat-less
      // null-pool file is conservatively kept)
      assert(pruned.size < all.size && pruned.size <= 4,
        s"expected <=4 of ${all.size} files, pruned kept ${pruned.size}")
      val got = t.readWhereString(v, "name", "key-100", "key-199|")
        .collect().map(_.getDouble(1)).sorted
      assert(got.toSeq == (100 until 200).map(_.toDouble))
      // truncation helpers: lower is a prefix; upper increments past it
      val lo = SnapshotTable.truncatedLower("abcdef".getBytes, 3)
      assert(new String(lo) == "abc")
      val hi = SnapshotTable.truncatedUpper("abcdef".getBytes, 3).get
      assert(new String(hi) == "abd")
      assert(SnapshotTable.truncatedUpper(Array.fill(5)(-1: Byte), 3).isEmpty)
      // deletes compose: DV-aware string range read
      t.delete(col("v") === 150.0)
      val afterDel = t.readWhereString(t.currentVersion, "name", "key-100", "key-199|")
        .collect().map(_.getDouble(1)).sorted
      assert(afterDel.toSeq == (100 until 200).filterNot(_ == 150).map(_.toDouble))
      // a version without a bloom index serves no point lookup
      val e = intercept[IllegalArgumentException] { t.readWhereEq(v, "name", "key-100") }
      assert(e.getMessage.contains("has no bloom index on name"), e.getMessage)
    } finally SnapshotTable.drop(t)
  }

  test("bloom commit: point lookups open at most a false-positive handful of files") {
    val t = freshTable("bloom")
    try {
      val rows: Seq[(java.lang.Long, Double)] =
        (1L to 2000L).map(k => (java.lang.Long.valueOf(k), k.toDouble)) :+
          ((null: java.lang.Long), -1.0)
      val v = t.commitBloom(rows.toDF("k", "v"), "k", 16, fpp = 0.01)
      val all = filesOf(t, v)
      assert(all.size >= 8, s"expected a multi-file layout, got ${all.size}")
      // present key: its one home file + expected fpp*nFiles ≈ 0.16
      // false positives; 4 is a generous deterministic bound
      assert(t.prunedFilesBloom(v, 777L).size <= 4)
      assert(t.readWhereEq(v, "k", 777L).collect().map(_.getDouble(1)).toSeq == Seq(777.0))
      // absent key: pruning alone usually empties the scan
      assert(t.prunedFilesBloom(v, -5L).size <= 4)
      assert(t.readWhereEq(v, "k", -5L).count() == 0)
      // refusals: a range read on a bloom-only version, a value no
      // filter was built over, and a null lookup
      val notRange = intercept[IllegalArgumentException] { t.readWhere(v, "k", 1L, 2L) }
      assert(notRange.getMessage.contains("is not clustered on k"), notRange.getMessage)
      val dbl = intercept[IllegalArgumentException] { t.readWhereEq(v, "k", 1.5) }
      assert(dbl.getMessage.contains("must be integral or string"), dbl.getMessage)
      val nul = intercept[IllegalArgumentException] { t.readWhereEq(v, "k", null) }
      assert(nul.getMessage.contains("IS NULL"), nul.getMessage)
      // null keys never enter a filter and never match an eq lookup
      assert(t.read(v).filter(col("k").isNull).count() == 1)
      // deletes compose: tombstoned row vanishes from the point lookup
      t.delete(col("k") === 777L)
      assert(t.readWhereEq(t.currentVersion, "k", 777L).count() == 0)
      // string keys share the same canonical-bytes path
      val t2 = freshTable("bloom_str")
      try {
        val v2 = t2.commitBloom(
          (1 to 500).map(i => (f"id-$i%04d", i.toDouble)).toDF("k", "v"), "k", 8)
        assert(t2.prunedFilesBloom(v2, "id-0042").size <= 3)
        assert(t2.readWhereEq(v2, "k", "id-0042").collect()
          .map(_.getDouble(1)).toSeq == Seq(42.0))
      } finally SnapshotTable.drop(t2)
    } finally SnapshotTable.drop(t)
  }

  test("appendEvolved: new nullable column, old files read NULL, old versions keep their schema") {
    val t = freshTable("evolve")
    try {
      t.commit(kv(1L -> 1.0, 2L -> 2.0))
      val v2 = t.appendEvolved(Seq((3L, 3.0, "x")).toDF("k", "v", "tag"), 1L).get
      assert(t.read(v2).columns.toSeq == Seq("k", "v", "tag"))
      val got = t.read(v2).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSeq
      assert(got == Seq((1L, 1.0, None), (2L, 2.0, None), (3L, 3.0, Some("x"))))
      // time travel keeps v1's own (unevolved) schema
      assert(t.read(1L).columns.toSeq == Seq("k", "v"))
      // type changes and missing table columns are rejected up front
      intercept[IllegalArgumentException] {
        t.appendEvolved(Seq(("s", 1.0)).toDF("k", "v"), 2L)
      }
      intercept[IllegalArgumentException] {
        t.appendEvolved(Seq(4L).toDF("k"), 3L)
      }
      // evolution composes with deletion vectors on pre-evolution rows
      t.delete(col("k") === 1L)
      assert(t.read().orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    } finally SnapshotTable.drop(t)
  }

  test("update: tombstone + post-image append, no data file rewritten, CDC records both images") {
    val t = freshTable("dv_update")
    try {
      val v1 = t.commit(kv((1L to 20L).map(k => k -> k.toDouble): _*))
      val v2 = t.update(col("k") % 4 === 0, Map("v" -> (col("v") * 10)))
      val expected = (1L to 20L).map(k =>
        (k, if (k % 4 == 0) k * 10.0 else k.toDouble))
      assert(t.read(v2).orderBy("k").as[(Long, Double)].collect().toSeq == expected)
      // snapshot isolation underneath
      assert(t.read(v1).orderBy("k").as[(Long, Double)].collect().toSeq ==
        (1L to 20L).map(k => (k, k.toDouble)))
      // v1's files survive untouched; the update only ADDED post-image files
      assert(filesOf(t, v1).toSet.subsetOf(filesOf(t, v2).toSet))
      assert(dvLinesOf(t, v2).nonEmpty)
      // the feed carries pre- AND post-images, nothing else
      val feed = t.rowChangesBetween(v1, v2).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
      assert(feed == (4L to 20L by 4).flatMap(k =>
        Seq((k, k.toDouble, "update_preimage"),
          (k, k * 10.0, "update_postimage"))).sorted)
      // stacking: a second update sees through the first's tombstones
      val v3 = t.update(col("k") === 4L, Map("v" -> lit(-1.0)))
      assert(t.read(v3).filter(col("k") === 4L).as[(Long, Double)].head() ==
        ((4L, -1.0)))
      // unknown column and empty assignment are rejected up front
      intercept[IllegalArgumentException] {
        t.update(col("k") === 1L, Map("nope" -> lit(0)))
      }
      intercept[IllegalArgumentException] {
        t.update(col("k") === 1L, Map.empty)
      }
      // an update that matches no row adds no data file: a bucket spec
      // survives it, so a bucketed merge still composes afterwards
      val tb = freshTable("dv_update_nomatch_bucketed")
      try {
        tb.commitBucketed(kv((1L to 8L).map(k => k -> k.toDouble): _*), "k", 2)
        val vb = tb.update(col("k") === -1L, Map("v" -> lit(0.0)))
        assert(SnapshotTable.manifestLinesAt(Paths.get(tb.root), vb)
          .exists(_.startsWith("#buckets=")), "a no-match update dropped #buckets=")
        tb.mergeBucketed(kv(3L -> 30.0), "k")
        assert(tb.read().filter(col("k") === 3L).as[(Long, Double)].head() == ((3L, 30.0)))
      } finally SnapshotTable.drop(tb)
    } finally SnapshotTable.drop(t)
  }

  test("restore is a metadata-only rollback that keeps rolled-over versions time-travelable") {
    val t = freshTable("restore")
    try {
      val v1 = t.commit(kv((1L to 10L).map(k => k -> k.toDouble): _*))
      t.appendOnce(kv(11L -> 11.0, 12L -> 12.0), 0L)
      val v3 = t.delete(col("k") <= 4)
      val dataFilesBefore = Files.walk(Paths.get(t.root, "data")).iterator()
      val nBefore = { var n = 0; while (dataFilesBefore.hasNext) { dataFilesBefore.next(); n += 1 }; n }
      val v4 = t.restore(v1)
      // metadata-only: not one new file under data/
      val dataFilesAfter = Files.walk(Paths.get(t.root, "data")).iterator()
      val nAfter = { var n = 0; while (dataFilesAfter.hasNext) { dataFilesAfter.next(); n += 1 }; n }
      assert(nAfter == nBefore)
      assert(v4 == v3 + 1 && t.currentVersion == v4)
      // current content == v1 exactly, by path
      assert(t.read().orderBy("k").as[(Long, Double)].collect().toSeq ==
        (1L to 10L).map(k => (k, k.toDouble)))
      assert(filesOf(t, v4) == filesOf(t, v1))
      // the rolled-over versions are still there
      assert(t.read(v3).count() == 8)
      // restoring a DV version carries its tombstones
      val v5 = t.restore(v3)
      assert(t.read(v5).orderBy("k").as[(Long, Double)].collect().map(_._1).toSeq ==
        (5L to 12L))
      assert(dvLinesOf(t, v5).nonEmpty)
      intercept[IllegalArgumentException] { t.restore(0L) }
      intercept[IllegalArgumentException] { t.restore(v5 + 1) }
    } finally SnapshotTable.drop(t)
  }

  test("shallow clone copies zero bytes, reads by reference, and diverges independently") {
    val t = freshTable("clone_src")
    try {
      val v1 = t.commitClustered(kv((1L to 40L).map(k => k -> k.toDouble): _*), "k", 4)
      t.delete(col("k") === 7L)
      val dest = Files.createTempDirectory("graft_spec_clone_dst_")
      val cl = t.shallowCloneTo(dest.toString)
      try {
        // zero-copy: the clone's own data dir holds nothing
        val s = Files.list(Paths.get(cl.root, "data"))
        val ownFiles = try s.iterator().hasNext finally s.close()
        assert(!ownFiles)
        // reads by reference, tombstones included
        assert(cl.read().orderBy("k").as[(Long, Double)].collect().map(_._1).toSeq ==
          (1L to 40L).filterNot(_ == 7L))
        // clustered stats survive absolutization: range reads still prune
        assert(cl.prunedFiles(1L, 2L, 3L).size < filesOf(t, v1).size)
        assert(cl.readWhere(1L, "k", 2L, 3L).as[(Long, Double)].collect()
          .map(_._1).sorted.toSeq == Seq(2L, 3L))
        // per-file key sums are re-rooted too: the zero-IO SUM answers
        assert(cl.metaSum(1L) == t.metaSum(t.currentVersion))
        // divergence: writes to the clone never touch the source
        cl.appendOnce(kv(100L -> 100.0), 0L)
        cl.delete(col("k") === 1L)
        assert(cl.read().count() == 39)      // 40 - 7 - 1 + 100
        assert(t.read().count() == 39)       // source: only its own delete of 7
        assert(t.read().filter(col("k") === 1L).count() == 1)
        assert(filesOf(t, t.currentVersion) == filesOf(t, 2L))
      } finally SnapshotTable.drop(cl)
    } finally SnapshotTable.drop(t)
    // a z-ordered clone keeps its #rangen= box pruning
    val z = freshTable("clone_z_src")
    try {
      val grid = for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y)
      val zv = z.commitZOrderedN(grid.toDF("x", "y"), Seq("x", "y"), 16)
      val zcl = z.shallowCloneTo(Files.createTempDirectory("graft_spec_clone_z_").toString)
      try {
        val box = Seq((0L, 15L), (0L, 15L))
        val srcKept = z.prunedFilesN(zv, box).size
        assert(srcKept <= 4, s"source kept $srcKept of 16 files")
        assert(zcl.prunedFilesN(1L, box).size == srcKept)
        assert(zcl.readWhereN(1L, Seq(("x", 0L, 15L), ("y", 0L, 15L))).count() == 256L)
      } finally SnapshotTable.drop(zcl)
    } finally SnapshotTable.drop(z)
  }

  test("isSegmentable: every per-file stat line kind spills, head lines stay inline") {
    val rel = "data/v1-0/part-00000.parquet"
    val perFile = Seq(
      s"#rows=$rel|10", s"#range=$rel|1|5", s"#ranges=$rel|YQ==|Yg==|0",
      s"#rangen=$rel|1|5|-2|7", s"#sum=$rel|15|5", s"#bloomf=$rel|data/bloom-0/b.bin")
    perFile.foreach { l =>
      assert(SnapshotTable.FileStat.unapply(l).contains(rel), l)
      assert(SnapshotTable.isSegmentable(l), l)
    }
    assert(SnapshotTable.isSegmentable(rel))
    assert(SnapshotTable.isSegmentable("#dvrows=v1-0/part-00000.parquet|3"))
    Seq("#zclustern=x|y", "#cluster=k", "#clusters=s", "#clusterpart=k",
      "#op=WRITE ts=1", "#buckets=4 key=k", "#bloomk=k fpp=0.01",
      "#constraint=pos|k > 0", "#dv=data/v2-dv/part-0.parquet", "#dvminmax",
      SnapshotTable.CdcTracked).foreach { l =>
      assert(SnapshotTable.FileStat.unapply(l).isEmpty, l)
      assert(!SnapshotTable.isSegmentable(l), l)
    }
  }

  test("commitExpect quarantines violators atomically with the commit, tagged by first failed constraint") {
    val t = freshTable("expect")
    try {
      val df = kv((1L to 20L).map(k => k -> k.toDouble): _*)
      val v = t.commitExpect(df, Map(
        "v_cap" -> (col("v") <= 15.0),
        "k_odd" -> (col("k") % 2 === 1)))
      // kept: odd keys with v <= 15
      assert(t.read(v).orderBy("k").as[(Long, Double)].collect().map(_._1).toSeq ==
        (1L to 15L by 2))
      // quarantine: everything else, tagged by the FIRST failed
      // constraint in sorted-name order (k_odd before v_cap)
      val q = t.quarantine(v).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSeq
      val expected = (1L to 20L).filterNot(k => k % 2 == 1 && k <= 15).map { k =>
        (k, if (k % 2 == 0) "k_odd" else "v_cap")
      }
      assert(q == expected)
      // the quarantine is pinned: vacuum never reclaims it
      t.vacuum(0L)
      assert(t.quarantine(v).count().toInt == q.size)
      // NULL constraint results are violations, not silent passes
      val t2 = freshTable("expect_null")
      try {
        val dfn = Seq((1L, Some(1.0)), (2L, None)).toDF("k", "v")
        val v2 = t2.commitExpect(dfn, Map("v_pos" -> (col("v") > 0)))
        assert(t2.read(v2).count() == 1)
        assert(t2.quarantine(v2).collect().map(_.getString(2)).toSeq == Seq("v_pos"))
      } finally SnapshotTable.drop(t2)
      // an all-pass gate reads back an EMPTY quarantine with the right shape
      val t3 = freshTable("expect_clean")
      try {
        val v3 = t3.commitExpect(kv(1L -> 1.0), Map("ok" -> (col("k") > 0)))
        assert(t3.read(v3).count() == 1)
        val empty = t3.quarantine(v3)
        assert(empty.count() == 0)
        assert(empty.columns.toSeq == Seq("k", "v", SnapshotTable.ViolatedCol))
      } finally SnapshotTable.drop(t3)
    } finally SnapshotTable.drop(t)
  }

  test("optimizeZOrdered folds tombstones in, coalesces the append chain, and mints 2-D stats") {
    val t = freshTable("optz")
    try {
      val grid = for { x <- 0L until 64L; y <- 0L until 64L }
        yield (x, y, (x * 64 + y).toDouble)
      val df = grid.toDF("x", "y", "v")
      t.commit(df.filter(col("x") % 2 === 0))
      t.appendOnce(df.filter(col("x") % 2 === 1), 0L)
      t.delete(col("x") === 10L)
      val v = t.optimizeZOrderedN(Seq("x", "y"), 16)
      // DVs folded into the rewrite; manifest sheds its #dv lines
      assert(dvLinesOf(t, v).isEmpty)
      assert(t.read(v).count() == 64L * 64L - 64L)
      // the optimized layout prunes rectangles like a fresh z-commit
      val pruned = t.prunedFilesN(v, Seq((0L, 15L), (0L, 15L)))
      assert(pruned.size <= 4, s"16x16 rectangle over 64x64 opened ${pruned.size} of 16 files")
      assert(t.readWhereN(v, Seq(("x", 0L, 15L), ("y", 0L, 15L))).count() ==
        15L * 16L) // x==10 deleted
      // content-identical maintenance: the change feed skips it
      assert(t.rowChangesBetween(v - 1, v).count() == 0)
    } finally SnapshotTable.drop(t)
  }

  test("metaAgg answers count/min/max from the manifest with zero data IO") {
    val t = freshTable("metaagg")
    try {
      val keyed = (1L to 100L).map(k => k -> k.toDouble)
      val v1 = t.commitClustered(
        kv(keyed: _*).withColumn("k", when(col("k") <= 5, lit(null)).otherwise(col("k"))),
        "k", 4)
      val (n, lo, hi) = t.metaAgg(v1)
      assert(n == 100L)           // null keys still count
      assert(lo.contains(6L) && hi.contains(100L)) // min/max ignore nulls
      // DVs no longer refuse: the delete re-mints touched files'
      // #range bounds over live rows (#dvminmax) and records #dvrows,
      // so metaAgg answers the POST-delete truth from metadata
      val v2 = t.delete(col("v") > 90)
      assert(t.metaAgg(v2) == ((90L, Some(6L), Some(90L))))
      // non-clustered versions have no stats — refused
      val t2 = freshTable("metaagg_plain")
      try {
        t2.commit(kv(1L -> 1.0))
        intercept[IllegalArgumentException] { t2.metaAgg(1L) }
      } finally SnapshotTable.drop(t2)
      // the zero-IO proof: destroy the data files; metaAgg still answers
      SnapshotTable.deleteRecursively(Paths.get(t.root, "data"))
      val (n2, lo2, hi2) = t.metaAgg(v1)
      assert(n2 == 100L && lo2.contains(6L) && hi2.contains(100L))
      intercept[Exception] { t.read(v1).count() }
    } finally SnapshotTable.drop(t)
  }

  test("metaCount survives deletion vectors: live = #rows − #dvrows, zero data IO") {
    val t = freshTable("metacount_dv")
    try {
      t.commitClustered((1L to 200L).map(k => (k, k * 1.0)).toDF("k", "v"), "k", 4)
      // stacked deletes: counts must MERGE across commits
      t.delete($"k" % 10 === 0) // 20 tombstones
      val v3 = t.delete($"k" <= 7L) // 7 more (1..7, none %10)
      assert(t.metaCount(v3) == 173L)
      // pre-delete versions still answer their own counts
      assert(t.metaCount(1L) == 200L)
      // zero-IO proof: data files (and DV sidecars) gone, still answers
      SnapshotTable.deleteRecursively(Paths.get(t.root, "data"))
      assert(t.metaCount(v3) == 173L)
      // metaAgg now answers under DVs too (re-minted #range + #dvrows
      // — the data dir is already gone, so this is also zero-IO):
      // stacked deletes removed k%10==0 and k<=7
      assert(t.metaAgg(v3) == ((173L, Some(8L), Some(199L))))
    } finally SnapshotTable.drop(t)
  }
}
