package graft.tables

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The SQL surface of the persisted ANN index: `CALL ann_build`
  * materializes the IVF index as two ordinary catalog tables, and
  * `CALL ann_probe` answers top-k from it. The index participates in
  * the whole table ecosystem — SELECT, DESCRIBE-style procedures,
  * versioning — because it IS tables. */
class AnnProcedureSpec extends SparkSpec {

  test("CALL ann_build materializes the index as catalog tables; ann_probe answers top-k") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_ann_proc_")
    spark.conf.set("spark.sql.catalog.annproc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.annproc.root", catRoot.toString)
    try {
      // a docs table carrying embeddings, with a PLANTED DUPLICATE:
      // row 900001 is row 1's vector — its cosine to the probe is
      // exactly 1.0 and it must surface as the top neighbor
      val base = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("emb"))
      val planted = base.filter(col("id") === 1L)
        .select(lit(900001L).as("id"), col("emb"))
      val t = new SnapshotTable(spark, catRoot.resolve("docs").toString)
      t.commit(base.unionAll(planted))

      val built = spark.sql(
        "CALL annproc.ann_build(table => 'docs', id_col => 'id', " +
          "vec_col => 'emb', k => 8)").head
      assert(built.getString(0) == "docs__ann_vectors,docs__ann_centroids")
      assert(built.getLong(1) == 8L && built.getString(2) == "ivf", built.toString)
      // the index is ordinary catalog tables: SELECTable, and the
      // vectors table covers every row exactly once
      val nVec = spark.sql("SELECT count(*) FROM annproc.docs__ann_vectors")
        .head.getLong(0)
      assert(nVec == t.read().count())
      val nCent = spark.sql("SELECT count(*) FROM annproc.docs__ann_centroids")
        .head.getLong(0)
      assert(nCent >= 1 && nCent <= 8, s"centroids: $nCent")

      // probe by member id 1: the planted duplicate ranks first with
      // cosine exactly 1.0
      val top = spark.sql(
        "CALL annproc.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top.length == 5, top.mkString("; "))
      assert(top.head.getLong(0) == 900001L, top.mkString("; "))
      assert(top.head.getDouble(1) == 1.0, top.head.toString)
      // scores ranked descending, genuine cosines
      val scores = top.map(_.getDouble(1)).toSeq
      assert(scores == scores.sorted.reverse)
      assert(scores.forall(s => s >= -1.0 && s <= 1.0))

      // probe by an ARBITRARY query vector (not a member): row 1's
      // vector as a SQL array literal — row 1 AND its planted
      // duplicate both rank at cosine exactly 1.0 (no exclusion)
      val vlit = base.filter(col("id") === 1L).head.getSeq[Float](1)
        .map(x => s"CAST($x AS DOUBLE)").mkString("array(", ", ", ")")
      val topV = spark.sql(
        s"CALL annproc.ann_probe_vec(table => 'docs', vec => $vlit, " +
          "nprobe => 2, k => 5)").collect()
      assert(topV.take(2).map(_.getLong(0)).toSet == Set(1L, 900001L),
        topV.mkString("; "))
      assert(topV.take(2).forall(_.getDouble(1) == 1.0))

      // INCREMENTAL ingest from a staging table: a second planted
      // duplicate lands through CALL ann_ingest (no Lloyd) and the
      // next probe surfaces it; replaying the same batch_id is a
      // no-op (exactly-once), not a duplicate entry
      val staging = new SnapshotTable(spark, catRoot.resolve("stage").toString)
      staging.commit(base.filter(col("id") === 1L)
        .select(lit(900002L).as("id"), col("emb")))
      val vIngest = spark.sql(
        "CALL annproc.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 7)").head.getLong(0)
      val top2 = spark.sql(
        "CALL annproc.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top2.take(2).map(_.getLong(0)).toSet == Set(900001L, 900002L),
        top2.mkString("; "))
      assert(top2.take(2).forall(_.getDouble(1) == 1.0))
      val vReplay = spark.sql(
        "CALL annproc.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 7)").head.getLong(0)
      assert(vReplay == vIngest, "batch_id replay must be a no-op")
      val replayTop = spark.sql(
        "CALL annproc.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(replayTop.count(_.getLong(0) == 900002L) == 1)

      // probing without an index refuses loudly
      val e = intercept[Exception](spark.sql(
        "CALL annproc.ann_probe(table => 'nosuch', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("ann_build")), e.toString)

      // a non-float vector column refuses loudly (no silent narrowing)
      val bad = new SnapshotTable(spark, catRoot.resolve("bad").toString)
      bad.commit(spark.sql(
        "SELECT 1L AS id, array(CAST(1.0 AS DOUBLE)) AS emb"))
      val e2 = intercept[Exception](spark.sql(
        "CALL annproc.ann_build(table => 'bad', id_col => 'id', " +
          "vec_col => 'emb', k => 2)").collect())
      assert(chain(e2).exists(_.contains("ARRAY<FLOAT>")), e2.toString)
      // ...and so does an IVF ingest from an ARRAY<DOUBLE> staging table
      val e3 = intercept[Exception](spark.sql(
        "CALL annproc.ann_ingest(table => 'docs', source_table => 'bad', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 8)").collect())
      assert(chain(e3).exists(_.contains("ARRAY<FLOAT>")), e3.toString)
    } finally {
      spark.conf.unset("spark.sql.catalog.annproc")
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("PQ tier lifecycle: ann_build persists codebooks + 8-byte codes; probe is codes-only ADC; ingest encodes without Lloyd; replay is a no-op") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_ann_pq_proc_")
    spark.conf.set("spark.sql.catalog.annpq", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.annpq.root", catRoot.toString)
    try {
      // planted duplicate: row 900001 carries row 1's vector — its ADC
      // distance equals the probe's own quantization error, the minimum
      val base = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("emb"))
      val planted = base.filter(col("id") === 1L)
        .select(lit(900001L).as("id"), col("emb"))
      val t = new SnapshotTable(spark, catRoot.resolve("docs").toString)
      t.commit(base.unionAll(planted))

      val built = spark.sql(
        "CALL annpq.ann_build(table => 'docs', id_col => 'id', " +
          "vec_col => 'emb', k => 8, tier => 'pq')").head
      assert(built.getString(0) == "docs__ann_codes,docs__ann_codebooks")
      assert(built.getString(2) == "pq", built.toString)
      // the committed index: one ARRAY<TINYINT> row per vector (8
      // bytes), codebooks m*codes rows, and the meta dispatch row
      val codes = spark.sql("SELECT * FROM annpq.docs__ann_codes")
      assert(codes.count() == t.read().count())
      assert(codes.schema("codes").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType, containsNull = true),
        codes.schema.simpleString)
      val nCb = spark.sql("SELECT count(*) FROM annpq.docs__ann_codebooks")
        .head.getLong(0)
      assert(nCb >= 8 && nCb <= 8 * 64, s"codebooks: $nCb")
      val meta = spark.sql("SELECT * FROM annpq.docs__ann_meta").head
      assert(meta.getString(0) == "pq" && meta.getInt(4) == 8 &&
        meta.getInt(6) == 64, meta.toString)

      // probe: the planted duplicate ranks FIRST (minimal ADC distance)
      val top = spark.sql(
        "CALL annpq.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top.length == 5, top.mkString("; "))
      assert(top.head.getLong(0) == 900001L, top.mkString("; "))
      val dists = top.map(_.getDouble(1)).toSeq
      assert(dists == dists.sorted, s"adist not ascending: $dists")
      assert(dists.forall(_ >= 0.0))

      // probe by vector on the PQ tier: identical codes -> equal ADC
      // distance -> id tie-break puts row 1 first, the duplicate second
      val vlit = base.filter(col("id") === 1L).head.getSeq[Float](1)
        .map(x => s"CAST($x AS DOUBLE)").mkString("array(", ", ", ")")
      val topV = spark.sql(
        s"CALL annpq.ann_probe_vec(table => 'docs', vec => $vlit, " +
          "nprobe => 2, k => 5)").collect()
      assert(topV.take(2).map(_.getLong(0)).toSeq == Seq(1L, 900001L),
        topV.mkString("; "))
      // a wrong-dims query vector refuses loudly against the meta row
      def chain2(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain2(t.getCause)
      val eDims = intercept[Exception](spark.sql(
        "CALL annpq.ann_probe_vec(table => 'docs', vec => array(1.0), " +
          "nprobe => 2, k => 5)").collect())
      assert(chain2(eDims).exists(_.contains("dims")), eDims.toString)

      // ingest: encode-only (no Lloyd), atomic, exactly-once by batch
      val staging = new SnapshotTable(spark, catRoot.resolve("stage").toString)
      staging.commit(base.filter(col("id") === 1L)
        .select(lit(900002L).as("id"), col("emb")))
      val v1 = spark.sql(
        "CALL annpq.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 3)").head.getLong(0)
      val top2 = spark.sql(
        "CALL annpq.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top2.take(2).map(_.getLong(0)).toSet == Set(900001L, 900002L),
        top2.mkString("; "))
      val vReplay = spark.sql(
        "CALL annpq.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 3)").head.getLong(0)
      assert(vReplay == v1, "batch_id replay must be a no-op")
      assert(spark.sql(
        "CALL annpq.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
        .count(_.getLong(0) == 900002L) == 1)
    } finally {
      spark.conf.unset("spark.sql.catalog.annpq")
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("IVF+PQ tier lifecycle: residual codes cluster-clustered; probe prunes to probed clusters; ingest assigns + encodes against persisted artifacts") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_ann_ivfpq_proc_")
    spark.conf.set("spark.sql.catalog.annipq", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.annipq.root", catRoot.toString)
    try {
      val base = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("emb"))
      val planted = base.filter(col("id") === 1L)
        .select(lit(900001L).as("id"), col("emb"))
      val t = new SnapshotTable(spark, catRoot.resolve("docs").toString)
      t.commit(base.unionAll(planted))

      val built = spark.sql(
        "CALL annipq.ann_build(table => 'docs', id_col => 'id', " +
          "vec_col => 'emb', k => 8, tier => 'ivf_pq')").head
      assert(built.getString(0) ==
        "docs__ann_codes,docs__ann_codebooks,docs__ann_centroids")
      assert(built.getString(2) == "ivf_pq", built.toString)
      val codes = spark.sql("SELECT * FROM annipq.docs__ann_codes")
      assert(codes.count() == t.read().count())
      assert(codes.schema.fieldNames.contains("cluster"), codes.schema.simpleString)

      // probe: a residual-identical duplicate has the probe's own code
      // word in the probe's own cluster — minimal ADC distance
      val top = spark.sql(
        "CALL annipq.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top.length == 5, top.mkString("; "))
      assert(top.head.getLong(0) == 900001L, top.mkString("; "))

      // ingest → probe finds it → replay no-op
      val staging = new SnapshotTable(spark, catRoot.resolve("stage").toString)
      staging.commit(base.filter(col("id") === 1L)
        .select(lit(900002L).as("id"), col("emb")))
      val v1 = spark.sql(
        "CALL annipq.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 11)").head.getLong(0)
      val top2 = spark.sql(
        "CALL annipq.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top2.take(2).map(_.getLong(0)).toSet == Set(900001L, 900002L),
        top2.mkString("; "))
      val vReplay = spark.sql(
        "CALL annipq.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 11)").head.getLong(0)
      assert(vReplay == v1, "batch_id replay must be a no-op")
    } finally {
      spark.conf.unset("spark.sql.catalog.annipq")
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("NSW tier lifecycle: ann_build persists the graph; probe is beam search over committed edges; ingest appends bidirectional links") {
    val catRoot = java.nio.file.Files.createTempDirectory("graft_ann_nsw_proc_")
    spark.conf.set("spark.sql.catalog.annnsw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.annnsw.root", catRoot.toString)
    try {
      val base = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("emb"))
      val planted = base.filter(col("id") === 1L)
        .select(lit(900001L).as("id"), col("emb"))
      val t = new SnapshotTable(spark, catRoot.resolve("docs").toString)
      t.commit(base.unionAll(planted))

      // k = hub count, m = graph degree for the nsw tier
      val built = spark.sql(
        "CALL annnsw.ann_build(table => 'docs', id_col => 'id', " +
          "vec_col => 'emb', k => 64, tier => 'nsw', m => 4)").head
      assert(built.getString(0) ==
        "docs__ann_edges,docs__ann_hubs,docs__ann_buckets")
      assert(built.getString(2) == "nsw", built.toString)
      val nHubs = spark.sql("SELECT count(*) FROM annnsw.docs__ann_hubs")
        .head.getLong(0)
      assert(nHubs >= 1 && nHubs <= 64, s"hubs: $nHubs")
      assert(spark.sql("SELECT count(*) FROM annnsw.docs__ann_buckets")
        .head.getLong(0) == t.read().count())
      // undirected base layer: every bucket edge exists both ways
      val asym = spark.sql(
        """SELECT count(*) FROM annnsw.docs__ann_edges e
          |LEFT JOIN annnsw.docs__ann_hubs h ON e.v = h.h
          |LEFT JOIN annnsw.docs__ann_edges r ON r.u = e.v AND r.v = e.u
          |WHERE h.h IS NULL AND r.u IS NULL""".stripMargin).head.getLong(0)
      assert(asym == 0, s"$asym one-way non-hub edges")

      // probe by member id: the planted duplicate (cosine exactly 1.0,
      // mutually linked with row 1 in the graph) surfaces on top
      val top = spark.sql(
        "CALL annnsw.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top.length == 5, top.mkString("; "))
      assert(top.head.getLong(0) == 900001L, top.mkString("; "))
      assert(top.head.getDouble(1) == 1.0)

      // ingest: a third duplicate lands in docs AND the index; its
      // appended bidirectional links make it findable immediately
      val extra = base.filter(col("id") === 1L)
        .select(lit(900002L).as("id"), col("emb"))
      t.appendOnce(extra, 99L) // the base row itself
      val staging = new SnapshotTable(spark, catRoot.resolve("stage").toString)
      staging.commit(extra)
      val v1 = spark.sql(
        "CALL annnsw.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 5)").head.getLong(0)
      val top2 = spark.sql(
        "CALL annnsw.ann_probe(table => 'docs', probe_id => 1, " +
          "nprobe => 2, k => 5)").collect()
      assert(top2.take(2).map(_.getLong(0)).toSet == Set(900001L, 900002L),
        top2.mkString("; "))
      val vReplay = spark.sql(
        "CALL annnsw.ann_ingest(table => 'docs', source_table => 'stage', " +
          "id_col => 'id', vec_col => 'emb', batch_id => 5)").head.getLong(0)
      assert(vReplay == v1, "batch_id replay must be a no-op")

      // probe by arbitrary vector on the graph tier too
      val vlit = base.filter(col("id") === 1L).head.getSeq[Float](1)
        .map(x => s"CAST($x AS DOUBLE)").mkString("array(", ", ", ")")
      val topV = spark.sql(
        s"CALL annnsw.ann_probe_vec(table => 'docs', vec => $vlit, " +
          "nprobe => 2, k => 5)").collect()
      assert(topV.take(3).map(_.getLong(0)).toSet == Set(1L, 900001L, 900002L),
        topV.mkString("; "))
      assert(topV.take(3).forall(_.getDouble(1) == 1.0))
    } finally {
      spark.conf.unset("spark.sql.catalog.annnsw")
      SnapshotTable.deleteRecursively(catRoot)
    }
  }

  test("streaming ANN ingest: graft-table stream -> foreachBatch -> CALL ann_ingest(batch_id = epoch), exactly-once across a checkpoint restart") {
    import org.apache.spark.sql.streaming.Trigger
    val catRoot = java.nio.file.Files.createTempDirectory("graft_ann_stream_")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_stream_ck_").toString
    spark.conf.set("spark.sql.catalog.annstr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.annstr.root", catRoot.toString)
    try {
      val base = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"), col("embedding").as("emb"))
      new SnapshotTable(spark, catRoot.resolve("docs").toString).commit(base)
      spark.sql("CALL annstr.ann_build(table => 'docs', id_col => 'id', " +
        "vec_col => 'emb', k => 8)").collect()
      val baseCount = spark.sql(
        "SELECT count(*) FROM annstr.docs__ann_vectors").head.getLong(0)

      // the live FEED table new vectors stream out of (a planted
      // duplicate of row 1 per appended version, so probes can find
      // each at cosine exactly 1.0)
      val feed = new SnapshotTable(spark, catRoot.resolve("feed").toString)
      def dupe(id: Long) = base.filter(col("id") === 1L)
        .select(lit(id).as("id"), col("emb"))
      feed.commit(dupe(910001L))

      // the composition under test: stream the feed, land each
      // micro-batch in a staging catalog table, CALL ann_ingest with
      // the EPOCH as the batch id — Structured Streaming's replayed
      // epoch ids compose with the table layer's batch-id ledger into
      // end-to-end exactly-once index maintenance
      def run(): Unit = {
        val q = spark.readStream.format("graft-table")
          .option("path", catRoot.resolve("feed").toString).load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
            new SnapshotTable(spark, catRoot.resolve("stage").toString)
              .commit(batch.select("id", "emb"))
            spark.sql("CALL annstr.ann_ingest(table => 'docs', " +
              "source_table => 'stage', id_col => 'id', vec_col => 'emb', " +
              s"batch_id => $epoch)").collect()
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      run() // epoch 0: 910001
      val top1 = spark.sql("CALL annstr.ann_probe(table => 'docs', " +
        "probe_id => 1, nprobe => 2, k => 5)").collect()
      assert(top1.head.getLong(0) == 910001L && top1.head.getDouble(1) == 1.0,
        top1.mkString("; "))

      // restart with nothing new: the checkpoint replays NO epoch and
      // the index is unchanged
      run()
      assert(spark.sql("SELECT count(*) FROM annstr.docs__ann_vectors")
        .head.getLong(0) == baseCount + 1, "empty restart mutated the index")

      // second epoch arrives after a restart from the same checkpoint
      feed.appendOnce(dupe(910002L), 1L)
      run() // epoch 1: 910002
      val top2 = spark.sql("CALL annstr.ann_probe(table => 'docs', " +
        "probe_id => 1, nprobe => 2, k => 5)").collect()
      assert(top2.take(2).map(_.getLong(0)).toSet == Set(910001L, 910002L),
        top2.mkString("; "))
      assert(top2.take(2).forall(_.getDouble(1) == 1.0))
      // NO duplicates anywhere in the index — every streamed id landed
      // exactly once
      val dups = spark.sql("SELECT id, count(*) AS n FROM " +
        "annstr.docs__ann_vectors GROUP BY id HAVING count(*) > 1").collect()
      assert(dups.isEmpty, s"duplicate index rows: ${dups.mkString("; ")}")
      assert(spark.sql("SELECT count(*) FROM annstr.docs__ann_vectors")
        .head.getLong(0) == baseCount + 2)
    } finally {
      spark.conf.unset("spark.sql.catalog.annstr")
      SnapshotTable.deleteRecursively(catRoot)
      SnapshotTable.deleteRecursively(java.nio.file.Paths.get(ckpt))
    }
  }
}
