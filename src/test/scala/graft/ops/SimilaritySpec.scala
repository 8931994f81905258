package graft.ops

import graft.SparkSpec

/** Recall checks for the approximate similarity paths against the
  * exact brute-force baseline. Thresholds are deliberately loose —
  * these are approximate indexes; the invariant is "finds most of
  * the true neighbors", not equality. */
class SimilaritySpec extends SparkSpec {

  private def ids(q: String, n: Int): Seq[Long] =
    SparkEntry_queries(q).collect().take(n).map(_.getLong(0)).toSeq

  private def SparkEntry_queries(q: String) =
    graft.SparkEntry.queries(q)(spark, sf)

  test("IVF ANN returns k rows with >=3/5 of the true top-5") {
    val brute = ids("q_sim_search", 5).toSet
    val ivf = ids("q_sim_ann_ivf", 5)
    assert(ivf.size == 5)
    assert((brute & ivf.toSet).size >= 3,
      s"IVF recall too low: $ivf vs $brute")
  }

  test("persisted IVF: probe phase runtime-prunes the graft index, equals the per-query path, no Lloyd") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx_spec_").toString
    // build ONCE with q_sim_ann_ivf's seeds; every probe below touches
    // only the persisted index
    val e = Similarity.embeddingsBase(spark, sf)
    Similarity.buildIvfIndexFor(spark, e, Similarity.strideIds(250), 8,
      s"$dir/vectors", s"$dir/centroids", Seq("label"))
    def probeIndex() = Similarity.probeIvfIndexFor(
      Similarity.annTable(spark, s"$dir/vectors"),
      Similarity.annTable(spark, s"$dir/centroids"), Similarity.probeRowOf(e, 0L),
      Some(0L), nprobe = 2, topK = 5, Seq("label"))
    val probed = probeIndex()
    // the candidate scan is pruned to the probed clusters' files at
    // RUNTIME — the broadcast join ships the probed cluster set into
    // the graft-table scan (SupportsRuntimeV2Filtering) as a
    // dynamic-pruning subquery
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") && plan.contains("cluster"),
      s"probe scan does not runtime-prune:\n${plan.take(1200)}")
    // row-equality with the per-query IVF path (same quantizer,
    // same scoring — only the access path differs)
    val perQuery = SparkEntry_queries("q_sim_ann_ivf")
      .collect().map(_.toSeq).toSeq
    val persisted = probed.collect().map(_.toSeq).toSeq
    assert(persisted == perQuery, s"persisted $persisted != per-query $perQuery")
    // the probe phase's candidates and centroids come from the
    // PERSISTED index tables (the base table contributes only the
    // 1-row probe vector — the query input); Lloyd never re-runs
    val graftScans = probed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.filter(_.startsWith("graft-table"))
    assert(graftScans.size == 2 &&
      graftScans.forall(_.contains("graft_ivf_idx_spec_")),
      s"index not read through graft tables: $graftScans")
    assert(probed.inputFiles.forall(_.contains("embeddings.parquet")),
      s"unexpected file-scan inputs: ${probed.inputFiles.mkString(", ")}")
    // INCREMENTAL ingest: a new vector identical to the probe is
    // assigned against the PERSISTED centroids (no Lloyd) and appended
    // into its cluster's files via an ATOMIC exactly-once table
    // commit — the next probe finds it at the top with cosine 1.0,
    // through the same pruned plan
    val fresh = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("label"), col("embedding"))
    def ingest() = Similarity.appendToIvfIndexFor(spark, s"$dir/vectors",
      s"$dir/centroids", fresh, "vec_id", "embedding", batchId = 1L, Seq("label"))
    ingest()
    val after = probeIndex().collect()
    assert(after.head.getLong(0) == 999999L, after.map(_.toSeq).mkString("; "))
    assert(after.head.getDouble(2) == 1.0, after.head.toString)
    // replaying the SAME ingest batch is a no-op (exactly-once), not
    // a duplicate row in the inverted list
    ingest()
    val replay = probeIndex().collect()
    assert(replay.count(_.getLong(0) == 999999L) == 1, replay.mkString("; "))
  }

  test("NSW graph ANN: navigable on planted-locality data; sane beam behavior on the isotropic table") {
    import org.apache.spark.sql.functions._
    // structured corpus — the regime a navigable graph is FOR: the
    // probe's cluster mates must dominate the beam's answer
    val emb = RecallSweep.planted(spark).cache(); emb.count()
    def bruteTop(probeId: Long, k: Int): Seq[Long] = {
      val p = emb.filter(col("vec_id") === probeId)
        .select(col("embedding").as("probe"))
      emb.filter(col("vec_id") =!= probeId).crossJoin(broadcast(p))
        .select(col("vec_id"),
          graft.functions.CosineSimilarity.cosine_sim(
            col("embedding"), col("probe")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(k)
        .collect().map(_.getLong(0)).toSeq
    }
    // the q_sim_ann_nsw graph (stride-16 hubs, degree 4), built once
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val hubs = Similarity.nswHubsOf(e, Similarity.strideIds(Similarity.NswHubStride))
    val (edges, _) = Similarity.nswGraphFor(e, hubs, Similarity.NswM, 64)
    val recalls = Seq(0L, 30L, 120L, 241L).map { pid =>
      val brute = bruteTop(pid, 10).toSet
      val nsw = Similarity.probeNswIndexFor(e, edges, hubs,
        Similarity.probeRowOf(e, pid), Some(pid), 10)
        .collect().map(_.getLong(0)).toSet
      (brute & nsw).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"planted-locality NSW recall@10 fell to $mean ($recalls)")
    emb.unpersist()
    // isotropic table: 5 ranked rows, genuine cosines, probe excluded
    val iso = SparkEntry_queries("q_sim_ann_nsw").collect()
    assert(iso.length == 5)
    assert(!iso.exists(_.getLong(0) == 0L))
    val scores = iso.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.forall(c => c >= -1.0 && c <= 1.0))
  }

  test("persisted PQ / IVF+PQ: probe is ADC over committed 8-byte code tables only, equals the per-query paths") {
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    def graftScans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.filter(_.startsWith("graft-table"))
    val pid = ProcessHandle.current().pid()
    val sfx = sf.replaceAll("[^A-Za-z0-9]", "_") + "_" + pid

    // each persisted twin returns exactly its per-query key's rows:
    // the same trainer, encoder and probe, with the codes packed by the
    // commit and unpacked by the probe
    for ((perQuery, twin) <- Seq("q_sim_ann_pq" -> "q_sim_ann_pq_persisted",
        "q_sim_ann_ivf_pq" -> "q_sim_ann_ivf_pq_persisted")) {
      val want = SparkEntry_queries(perQuery).collect().map(_.toSeq).toSeq
      val got = SparkEntry_queries(twin).collect().map(_.toSeq).toSeq
      assert(got == want, s"$twin $got != $perQuery $want")
    }

    // PQ: candidates from the code table + broadcast codebook only
    val pqP = SparkEntry_queries("q_sim_ann_pq_persisted")
    val pqScans = graftScans(pqP)
    assert(pqScans.size == 2 && pqScans.forall(_.contains("graft_ann_pq_idx_")),
      s"PQ probe not served from the persisted index: $pqScans")
    // the only FILE scan is the probe row's source — never a raw
    // candidate vector
    assert(pqP.inputFiles.forall(_.contains("embeddings.parquet")),
      s"unexpected file-scan inputs: ${pqP.inputFiles.mkString(", ")}")
    // the committed index really is 8 bytes per vector: ARRAY<TINYINT>
    val pqCodes = spark.read.format("graft-table")
      .option("path", s"${sys.props("java.io.tmpdir")}/graft_ann_pq_idx_$sfx/codes")
      .load()
    assert(pqCodes.schema("codes").dataType.asInstanceOf[ArrayType]
      .elementType == ByteType, pqCodes.schema.simpleString)
    assert(pqCodes.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("codes"))).head.getInt(0) == 8)

    // residual IVF+PQ: same contract, plus the centroid sidecar
    val ivfpqP = SparkEntry_queries("q_sim_ann_ivf_pq_persisted")
    val ipqScans = graftScans(ivfpqP)
    assert(ipqScans.size == 3 && ipqScans.forall(_.contains("graft_ann_ivfpq_idx_")),
      s"IVF+PQ probe not served from the persisted index: $ipqScans")
    assert(ivfpqP.inputFiles.forall(_.contains("embeddings.parquet")),
      s"unexpected file-scan inputs: ${ivfpqP.inputFiles.mkString(", ")}")
  }

  test("PQ tiers hold the planted-locality recall floor (RECALL.json's committed surface)") {
    // the structured-corpus regime both compression tiers are built
    // for: recall@10 vs the exact-L2 baseline on the 16-cluster
    // planted fixture. Floors sit under the measured 0.96 / 0.94
    // (RECALL.json r16) with slack for fixture evolution — a drop
    // below 0.85 means a quantizer regression, not noise.
    val emb = RecallSweep.planted(spark).cache()
    emb.count()
    val probeIds = Seq(0L, 30L, 61L, 120L, 241L)
    val pq = RecallSweep.pqRecall(emb, probeIds)
    assert(pq >= 0.85, s"PQ planted-locality recall@10 fell to $pq")
    val ipq = RecallSweep.ivfPqRecall(emb, probeIds, Seq(2))
    assert(ipq(2) >= 0.85, s"IVF+PQ planted-locality recall@10 fell to ${ipq(2)}")
    emb.unpersist()
  }

  test("PQ ADC top-5 lands in the exact L2 top decile; ADC distances are ranked, non-negative") {
    import org.apache.spark.sql.functions._
    // the exact (unquantized) squared-L2 top-5 — PQ is an L2-metric
    // index, so the honest differential is against L2, not cosine
    val e = graft.Tables.embeddings(spark, sf)
    val probe = e.filter(col("vec_id") === 0L).select(col("embedding").as("probe"))
    val l2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0d), (acc, v) => acc + v)
    val n = e.count() - 1
    val exactTop = e.filter(col("vec_id") =!= 0L).crossJoin(broadcast(probe))
      .select(col("vec_id"), l2(col("embedding"), col("probe")).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit((n / 10).toInt)
      .collect().map(_.getLong(0)).toSet
    val pq = SparkEntry_queries("q_sim_ann_pq").collect()
    assert(pq.length == 5)
    val pqIds = pq.map(_.getLong(0)).toSet
    // these embeddings are near-random unit vectors (top-5 L2 margins
    // of ~2%), which is PQ's worst case — the honest invariant for a
    // 64-code/8-subspace quantizer here is percentile quality: every
    // pick lands in the exact top-10% of the corpus (random picks
    // would average the 50th percentile), not top-5 equality
    assert((pqIds -- exactTop).isEmpty,
      s"PQ picks outside the exact top-10%: $pqIds vs top ${exactTop.size}")
    // ADC distances are genuine squared distances: non-negative and
    // ranked ascending
    val dists = pq.map(_.getDouble(2)).toSeq
    assert(dists == dists.sorted)
    assert(dists.forall(_ >= 0.0))
  }

  test("residual IVF+PQ recalls most of the exact-scored IVF top-5 from the same probed clusters") {
    import org.apache.spark.sql.functions._
    // on unit-norm vectors L2 and cosine order agree, so exact L2
    // ranks are the quality metric. These embeddings are near-random
    // (top-5 margins ~2%) — any coarse quantizer's worst case — so
    // the honest invariants are percentile ones, measured to hold
    // with margin on both fixtures: ≥4/5 picks in the exact top
    // decile and ≥2/5 in the exact top-10 (residual encoding is
    // measurably sharper than raw-vector PQ here: median pick rank
    // ~7 vs ~28 on the same data)
    val e = graft.Tables.embeddings(spark, sf)
    val probe = e.filter(col("vec_id") === 0L).select(col("embedding").as("probe"))
    val l2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0d), (acc, v) => acc + v)
    val ranked = e.filter(col("vec_id") =!= 0L).crossJoin(broadcast(probe))
      .select(col("vec_id"), l2(col("embedding"), col("probe")).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc)
      .collect().map(_.getLong(0)).toSeq
    val rank = ranked.zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
    val ivfpq = ids("q_sim_ann_ivf_pq", 5)
    assert(ivfpq.size == 5)
    val ranks = ivfpq.map(rank)
    assert(ranks.count(_ <= ranked.size / 10) >= 4,
      s"residual-PQ decile quality too low: ranks $ranks")
    assert(ranks.count(_ <= 10) >= 2,
      s"residual-PQ top-10 hits too low: ranks $ranks")
    // ADC distances are genuine non-negative squared distances
    val rows = SparkEntry_queries("q_sim_ann_ivf_pq").collect()
    val dists = rows.map(_.getDouble(2)).toSeq
    assert(dists == dists.sorted && dists.forall(_ >= 0.0))
  }

  test("int8 scalar-quantized top-10 recalls most of the exact top-10") {
    val exact = ids("q_sim_search", 10).toSet
    val sq8 = ids("q_sim_ann_sq8", 10)
    assert(sq8.size == 10)
    // per-vector max-abs int8 keeps relative error ~1/127 per
    // component — quantized cosine ranking should disagree with the
    // exact one only near score ties
    assert((exact & sq8.toSet).size >= 7,
      s"sq8 recall too low: $sq8 vs $exact")
    // quantized scores are genuine cosines
    val scores = SparkEntry_queries("q_sim_ann_sq8").collect().map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("LSH ANN results are a subset of true cosine ordering") {
    val lsh = SparkEntry_queries("q_sim_ann_lsh").collect()
    assert(lsh.nonEmpty)
    // scores must be genuine cosine values (in [-1, 1]) and sorted desc
    val scores = lsh.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("q_sim_ann_indexed returns exactly q_sim_ann_lsh's rows") {
    // same buckets (4-bit hyperplane LSH over 64 dims) and scoring —
    // persisting the index must not change the candidate set
    val viaIndex = SparkEntry_queries("q_sim_ann_indexed").collect().toSeq
    val viaLsh = SparkEntry_queries("q_sim_ann_lsh").collect().toSeq
    assert(viaIndex == viaLsh, s"index: $viaIndex\nlsh: $viaLsh")
    assert(viaIndex.nonEmpty)
  }

  test("multi-probe LSH reaches recall@10 >= 0.9 within a 4-bucket probe budget on planted-locality data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.CosineSimilarity.cosine_sim
    // Planted-locality fixture: 16 clusters x 24 members, all
    // coordinates from deterministic hash arithmetic (no RNG). The
    // driver fixture's embeddings are isotropic-random — LSH recall
    // there grows ~linearly with the fraction of buckets probed, for
    // ANY probing order (measured: 0.4@T1 → 0.8@T4 at sf0.01; see
    // PLANS.md) — so the mechanism is demonstrated where locality
    // exists, which is what real embedding corpora look like at
    // 100 TB. Noise is sized so that a cluster straddles its nearest
    // hyperplanes: single-probe misses the mates that cross a
    // low-margin plane, and the margin-ordered flips recover exactly
    // those buckets.
    def hv(a: Long, b: Long, c: Long): Double =
      Math.floorMod(a * 1609587929392839161L + b * 2654435761L + c * 97531L,
        1000003L).toDouble / 1000003.0 * 2.0 - 1.0
    val rows = for { c <- 0 until 16; m <- 0 until 24 } yield {
      val id = (c * 24 + m).toLong
      val emb = (0 until 64).map { j =>
        (hv(c + 1, j, 7) + hv(c * 100 + m + 13, j, 31) * 2.0 / 8.0).toFloat
      }.toArray
      (id, c, emb)
    }
    val planted = rows.toDF("vec_id", "label", "embedding")
    val probeVec = planted.filter($"vec_id" === 0).select($"embedding".as("probe"))
    val brute = planted.filter($"vec_id" =!= 0).crossJoin(broadcast(probeVec))
      .select($"vec_id", cosine_sim($"embedding", $"probe").as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    def recallAt(extra: Int): Double = {
      val got = Similarity.multiprobeTopK(planted, 0L, extra, 10)
        .collect().map(_.getLong(0)).toSet
      (brute & got).size / 10.0
    }
    val r1 = recallAt(0) // own bucket only
    val r4 = recallAt(3) // own + 3 margin-ordered flips = 4 buckets
    // the probe set is a superset, so recall can only grow with T
    assert(r4 >= r1, s"recall not monotone: T1=$r1 T4=$r4")
    assert(r4 >= 0.9, s"multi-probe recall@10 too low at 4 buckets: $r4 (T1=$r1)")
  }

  test("q_sim_ann_multiprobe candidates strictly contain the single-probe bucket's") {
    // on the driver fixture: the mechanism must only ever ADD
    // candidates relative to single-probe LSH over the same planes
    val single = SparkEntry_queries("q_sim_ann_lsh").collect()
      .map(_.getLong(0)).toSet
    val multi = SparkEntry_queries("q_sim_ann_multiprobe").collect()
      .map(_.getLong(0)).toSet
    // q_sim_ann_lsh returns top-5 of the own bucket; every one of its
    // rows scores >= any multiprobe row outside the top-10 cut, so
    // any lsh id missing from multi's top-10 must rank below its 10th
    // — verify via recall ordering instead of raw subset: the
    // multi-probe top-10 must contain the single-bucket top-5's
    // members that the exact top-10 also contains
    val brute = SparkEntry_queries("q_sim_search").collect()
      .map(_.getLong(0)).toSet
    assert((single & brute).subsetOf(multi),
      s"multi-probe lost single-probe true positives: ${(single & brute) -- multi}")
  }

  test("q_sim_ann_indexed_multiprobe returns exactly q_sim_ann_multiprobe's rows") {
    // same planes, margins and probe budget — persisting the index and
    // reading back through partition-pruned bucket directories must
    // not change the candidate set or scores
    val viaIndex = SparkEntry_queries("q_sim_ann_indexed_multiprobe").collect().toSeq
    val direct = SparkEntry_queries("q_sim_ann_multiprobe").collect().toSeq
    assert(viaIndex == direct, s"index: $viaIndex\ndirect: $direct")
    assert(viaIndex.nonEmpty)
  }

  test("written ANN index prunes partitions for the probe's bucket") {
    import org.apache.spark.sql.functions._
    // the persisted-index form of the ANN path: cluster/bucket is a
    // PARTITION COLUMN of the written index, so a probe search reads
    // only its bucket's directories — at 100 TB the scan cost is
    // |bucket|, not |table|
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val e = graft.Tables.embeddings(spark, sf)
    e.withColumn("bucket",
        graft.functions.TextSim.hyperplaneBucket(col("embedding"), 2, 64))
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val probeBucket = index.filter(col("vec_id") === 0)
      .select("bucket").head().getInt(0)
    val searched = index
      .filter(col("bucket") === probeBucket && col("vec_id") =!= 0)
    val plan = searched.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    // candidates scored with the fused kernel, true cosine ordering
    val probe = index.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe"))
    val top = searched.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        graft.functions.CosineSimilarity.cosine_sim(
          col("embedding"), col("probe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(5).collect()
    assert(top.length == 5)
    assert(top.map(_.getDouble(1)).forall(s => s >= -1.0 && s <= 1.0))
  }

  test("q_embed_project matches an exact integer replay of the JL projection") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    def quant(x: Float): Long = math.floor(x.toDouble * 1000 + 0.5).toLong
    def sign(i: Int, j: Int): Long =
      if (((i.toLong * 73856093L + j.toLong * 19349663L) % 95783L) % 2 == 0) 1L else -1L
    def proj(e: Seq[Float]): Seq[Long] =
      (0 until 8).map(j => (0 until 64).map(i => quant(e(i)) * sign(i, j)).sum)
    val py = proj(vecs.find(_._1 == 0L).get._3)
    val want = vecs.filter(_._1 != 0L).map { case (id, lb, e) =>
      (id, lb, proj(e).zip(py).map { case (a, b) => a * b }.sum)
    }.sortBy { case (id, _, dot) => (-dot, id) }.take(20).toSeq
    val got = SparkEntry_queries("q_embed_project")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("q_kmeans matches a driver-side Lloyd run exactly") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def dec6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents: Seq[Array[Double]] = vecs.take(8).map(_._2.clone).toSeq
    def assign(v: Array[Double]): (Int, Double) = {
      var bi = 0; var bd = Double.MaxValue
      cents.zipWithIndex.foreach { case (c, i) =>
        var s = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); s += t * t; j += 1 }
        if (s < bd) { bd = s; bi = i } // first-wins tie-break
      }
      (bi, bd)
    }
    for (_ <- 1 to 5) {
      val byC = vecs.map { case (_, v) => (assign(v)._1, v) }.groupBy(_._1)
      cents = cents.indices.map { i =>
        byC.get(i) match {
          case Some(members) =>
            val n = members.length
            Array.tabulate(cents(i).length) { j =>
              // decimal(18,6)-cast sum / count, mirroring Det.dsum
              members.map(m => BigDecimal(m._2(j))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP))
                .sum.toDouble / n
            }
          case None => cents(i)
        }
      }
    }
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val want = vecs.map { case (id, v) =>
      val (c, d2) = assign(v); (id, c, r4(d2)) }.toSeq
    val got = graft.SparkEntry.queries("q_kmeans")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == want,
      got.zip(want).filter { case (g, w) => g != w }.take(5).toString)
  }

  test("q_knn_classify is the majority vote of the oracle-pinned top-10") {
    val top = graft.SparkEntry.queries("q_sim_search")(spark, sf).collect()
      .map(r => (r.getInt(1), r.getDouble(2))) // (label, cos)
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val want = top.groupBy(_._1).map { case (l, xs) =>
      val s = xs.map(x => BigDecimal(x._2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      (l, xs.size.toLong, r4(s.toDouble / xs.size))
    }.toSeq.sortBy { case (l, v, _) => (-v, l) }.head
    val got = graft.SparkEntry.queries("q_knn_classify")(spark, sf).collect().head
    assert((got.getInt(0), got.getLong(1), got.getDouble(2)) === want)
  }
}
