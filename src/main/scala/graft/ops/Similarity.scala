package graft.ops

import graft.{QueryPack, Tables}
import graft.functions.TextSim._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column.
  *
  * - q_sim_search: brute-force cosine top-k against a probe vector —
  *   the exact baseline. One pass over the table with the probe
  *   broadcast; TakeOrderedAndProject merges per-partition top-k, so
  *   no global sort materializes. This is the shape that scales to
  *   100 TB: O(n) scan, O(k) result per partition.
  * - q_sim_ann_lsh: the approximate scale path — random-hyperplane
  *   LSH buckets (deterministic hash-derived planes), probe only
  *   scored against its own bucket. Bucket count tunes the
  *   recall/cost trade; at 1000 executors the bucket column is the
  *   shuffle key.
  */
object Similarity extends QueryPack {

  private val ProbeId = 0L

  /** Spread a compute-amplified kernel stage across the cluster
    * (optimization r16). The vector tables scan as ONE input split at
    * bench scale (a single small parquet file), and AQE's coalescing
    * is bytes-driven, so every downstream stage whose per-row cost is
    * k-fold amplified (an O(n·k·d) quantizer assignment, encode, or
    * pairwise kernel riding a broadcast join) would otherwise run in
    * ONE task regardless of cores — measured: the two Lloyd/encode
    * stages of q_sim_ann_ivf_pq ran 2.7 s each single-task on 32
    * cores. A round-robin exchange of the n·d input bytes is
    * amortized k-fold by the compute it unlocks and is
    * scale-adaptive (defaultParallelism = cluster cores); at 100 TB
    * the same spread protects against few-file vector tables and
    * costs one bytes-proportional shuffle of the SMALL (vector) side,
    * never the corpus. Row order is irrelevant downstream: every
    * consumer aggregates with order-independent exact arithmetic or
    * total-order argmins (partition-invariance is driver-audited). */
  private def par(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Per-subspace candidate array for the fused nearest-entry argmin
    * ([[graft.functions.ArgMinL2]]): (s0, cands) with cands =
    * collect_list(struct(cid, cvec)) — k rows folded into one
    * broadcast row per subspace. Array order is irrelevant: the
    * argmin's (d2, cid) order is total, so the result is
    * order-independent (and the driver's partition-invariance audit
    * covers it). */
  private def argminCands(df: DataFrame, sCol: String, cidCol: String,
      vecCol: String): DataFrame =
    df.groupBy(col(sCol).as("s0"))
      .agg(collect_list(struct(col(cidCol).cast("long").as("cid"),
        col(vecCol).as("cvec"))).as("cands"))

  private def probeDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") === ProbeId)
      .select(col("embedding").as("probe"))

  private def simSearch(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") =!= ProbeId)
      .crossJoin(broadcast(probeDf(s, d)))
      .select(col("vec_id"), col("label"),
        graft.Det.r4(cosine(col("embedding"), col("probe"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)

  /** INT8 SCALAR-QUANTIZED cosine top-k: each vector quantizes ONCE
    * to per-vector-scaled int8 (qᵢ = ⌊xᵢ/amax·127 + 0.5⌋ — symmetric
    * max-abs quantization, the standard embedding-compression lane),
    * and the search ranks by the cosine of the QUANTIZED vectors —
    * scale factors cancel, so no dequantization ever happens. The
    * 100 TB story: int8 cuts index memory/bandwidth 4× versus float32
    * and the integer dot product is the SIMD-friendliest kernel
    * there is; quantization is a one-time O(n) pass you'd persist as
    * a column, after which every probe reads a quarter of the bytes.
    * Determinism end-to-end: the quantized components, dot products
    * and norms are EXACT integers (≤127²·dims, inside the 2^53 double
    * lane), so both engines compute bit-identical scores — the oracle
    * hash gates the whole quantize→rank pipeline, not an
    * approximation. All-zero vectors quantize to zeros and score 0.
    *
    * `sq8Quantized` adds `q` (the quantized components as longs) and
    * `qnorm` (exact integer squared norm) — shared by this
    * brute-force search and the IVF-pruned [[annIvfSq8]]. */
  private def sq8Quantized(df: DataFrame, vecCol: String): DataFrame = df
    .withColumn("amax", aggregate(col(vecCol), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double")))))
    .withColumn("q", transform(col(vecCol),
      x => when(col("amax") === 0.0d, lit(0L))
        .otherwise(floor(x.cast("double") / col("amax") * 127.0d + 0.5d))))
    .withColumn("qnorm", aggregate(col("q"), lit(0L),
      (acc, x) => acc + x * x))

  private def annSq8(s: SparkSession, d: String): DataFrame = {
    val base = sq8Quantized(Tables.embeddings(s, d), "embedding")
    val probe = base.filter(col("vec_id") === ProbeId)
      .select(col("q").as("pq"), col("qnorm").as("pqnorm"))
    val qdot = aggregate(zip_with(col("q"), col("pq"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    base.filter(col("vec_id") =!= ProbeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        graft.Det.r4(when(col("qnorm") === 0L || col("pqnorm") === 0L, lit(0.0d))
          .otherwise(qdot.cast("double") /
            sqrt((col("qnorm") * col("pqnorm")).cast("double")))).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** k-NN classification of the probe vector: majority label among
    * the cosine top-10 (ties → smallest label), with the vote count
    * and the mean neighbor similarity per candidate label. Rides the
    * [[simSearch]] scan unchanged — O(n) pass, per-partition top-k
    * heaps, then a ≤k-row argmax; the classifier costs exactly what
    * the search costs at any scale. Determinism: the neighbor set is
    * the oracle-pinned top-10 (r4 cosine, vec_id tie-break), votes
    * are exact counts, the argmax a total (votes DESC, label ASC)
    * order. */
  private def knnClassify(s: SparkSession, d: String): DataFrame = {
    val top = simSearch(s, d)
    top.groupBy(col("label"))
      .agg(count(lit(1)).as("votes"),
        graft.Det.r4(graft.Det.davg(col("cos"))).as("mean_cos"))
      .orderBy(col("votes").desc, col("label").asc)
      .limit(1)
      .select(col("label").as("pred_label"), col("votes"), col("mean_cos"))
  }

  private def annLsh(s: SparkSession, d: String): DataFrame = {
    val bucketed = Tables.embeddings(s, d)
      .withColumn("bucket", hyperplaneBucket(col("embedding"), 4, 64))
    val probe = bucketed.filter(col("vec_id") === ProbeId)
      .select(col("bucket").as("p_bucket"), col("embedding").as("probe"))
    bucketed
      .filter(col("vec_id") =!= ProbeId)
      .join(broadcast(probe), col("bucket") === col("p_bucket"))
      .select(col("vec_id"), col("label"),
        graft.Det.r4(graft.functions.CosineSimilarity.cosine_sim(
          col("embedding"), col("probe"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(5)
  }

  // ---- the ANN tiers: one trainer, encoder, probe (and ingest) each ----
  //
  // Every ANN path runs on the same per-tier code: the oracle-pinned
  // per-query keys (train + probe in one query), their persisted twins
  // (build commits the index through the table layer, probe reads it
  // back) and the SQL lifecycle (`CALL ann_build / ann_probe /
  // ann_ingest`, GraftCatalog). Relations use the canonical ANN columns
  // (id LONG, vec ARRAY<FLOAT>); extra columns (the embeddings keys'
  // `label`) ride through as `keep` columns. Seeds are an id predicate
  // the caller already knows: the oracle-pinned keys pass the stride
  // rule their SQL states ([[strideIds]]), the procedures pass the ids
  // [[annSeedIdsFor]] nominates; a trainer seeds from the first k
  // matching rows by id.

  /** The embeddings table as an ANN base: (id, vec, label). */
  private[graft] def embeddingsBase(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("id"),
      col("embedding").as("vec"), col("label"))

  /** The 1-row (vec) probe relation of member `id`. */
  private[graft] def probeRowOf(base: DataFrame, id: Long): DataFrame =
    base.filter(col("id") === id).select(col("vec"))

  /** An embeddings key's result columns: (vec_id, label, cos|adist). */
  private def embResult(df: DataFrame): DataFrame =
    df.withColumnRenamed("id", "vec_id").withColumnRenamed("score", "cos")

  /** id ≡ 0 (mod stride) — the seed rule the oracle-pinned keys
    * state in their SQL (`vec_id % n = 0`). */
  private[graft] def strideIds(stride: Int): Column =
    pmod(col("id"), lit(stride)) === 0

  private val IvfK = 8 // q_sim_ann_ivf's coarse cluster count
  private val IvfStride = 250 // seed stride: works for 500..2000-row tables

  /** A pid-scoped index directory: two JVMs running the same (query,
    * dir) — bench alongside verify — never overwrite each other's
    * index mid-scan. */
  private def indexDir(name: String, d: String): String =
    s"${sys.props("java.io.tmpdir")}/${name}_" +
      d.replaceAll("[^A-Za-z0-9]", "_") + "_" + ProcessHandle.current().pid()

  /** A committed index table, read through the graft-table source
    * (runtime V2 filtering on clustered layouts). */
  private[graft] def annTable(s: SparkSession, path: String): DataFrame =
    s.read.format("graft-table").option("path", path).load()

  /** Element-wise x − c in doubles (exact float−float residuals). */
  private def residual(x: Column, c: Column): Column =
    zip_with(x, c, (a, b) => a.cast("double") - b.cast("double"))

  /** IVF-style ANN: a coarse quantizer (deterministic seeds + one
    * k-means assignment/update round, all DataFrame ops) partitions
    * the vectors; the probe searches only its 2 nearest partitions.
    *
    * The 100 TB shape: centroids are tiny (k×dims) and broadcast;
    * vector→cluster assignment is one broadcast-join pass; the
    * search scan prunes to the probed clusters (predicate on the
    * cluster column — with the index written out, a clustered
    * graft table → file pruning at the source). */
  private def annIvf(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsBase(s, d)
    val (assigned, centroids) = ivfTrainFor(e, strideIds(IvfStride), IvfK,
      Seq("label"))
    embResult(probeIvfIndexFor(assigned, centroids, probeRowOf(e, ProbeId),
      Some(ProbeId), nprobe = 2, topK = 5, Seq("label")))
  }

  /** IVF + INT8 composition — the production ANN recipe at 100 TB:
    * the coarse quantizer prunes the candidate set to the probe's 2
    * nearest partitions (IVF), then the per-vector int8 quantized
    * cosine ranks them ([[annSq8]]'s scoring — 4× less memory
    * bandwidth, integer SIMD kernels). Both stages are deterministic
    * (exact integer quantization + r7's decimal-exact centroid
    * arithmetic), so the DuckDB oracle gates the composed pipeline
    * bit-exactly. */
  private def annIvfSq8(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsBase(s, d)
    val (assigned, centroids) = ivfTrainFor(e, strideIds(IvfStride), IvfK,
      Seq("label"))
    val probe = probeRowOf(e, ProbeId)
    val qc = sq8Quantized(
      ivfCandidatesFor(assigned, centroids, probe, Some(ProbeId), 2), "vec")
    val qp = sq8Quantized(probe, "vec")
      .select(col("q").as("pq"), col("qnorm").as("pqnorm"))
    val qdot = aggregate(zip_with(col("q"), col("pq"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    qc.crossJoin(broadcast(qp))
      .select(col("id").as("vec_id"), col("label"),
        graft.Det.r4(when(col("qnorm") === 0L || col("pqnorm") === 0L, lit(0.0d))
          .otherwise(qdot.cast("double") /
            sqrt((col("qnorm") * col("pqnorm")).cast("double")))).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(5)
  }

  /** Fixed-order exact squared-L2 over two float/double arrays, in
    * doubles: terms accumulate left-to-right exactly as Spark's
    * `aggregate` fold and DuckDB's `list_sum` (both engines agree —
    * the q_sim_ann_ivf cosine precedent). Since optimization r17 this
    * is the native fused-loop expression [[graft.functions.L2SqDistance]]
    * (whole-stage codegen, no per-evaluation zip_with array) — the
    * HOF twin it replaces bit-for-bit is documented there; the PQ
    * kernels evaluate it k=64× per subvector, where the lambda
    * interpretation was 49 s of the ivf_pq task time at sf0.1. */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.L2SqDistance.l2sq_dist(a, b)

  private[ops] val PqM = 8 // subspaces (64 dims -> 8 × 8)
  private val PqSub = 8
  private[ops] val PqDims = PqM * PqSub
  private[ops] val PqK = 64 // codes per subspace
  private[ops] val PqStride = 7 // seed stride: >=64 seeds from 500-row tables up

  /** PRODUCT QUANTIZATION ANN (Jégou et al., PAMI'11) — the
    * compression tier past int8: each 64-dim vector splits into m=8
    * subvectors, each subspace learns its own k=64-entry codebook
    * (stride seeds + one Lloyd round, the q_sim_ann_ivf recipe per
    * subspace), and a vector's index entry is just its m code ids —
    * 8 byte-sized ids against 256 float bytes, 32× less index
    * memory before codebook overhead (m·k·8 floats, constant). Search is
    * ASYMMETRIC DISTANCE COMPUTATION: the probe precomputes an m×k
    * table of exact probe-to-centroid squared-L2 distances (the probe
    * is never quantized — Jégou's ADC, the accuracy-preserving
    * variant), and each candidate scores as the sum of its m looked-up
    * cells — table lookups, no float math per candidate, the reason
    * PQ serves billion-vector indexes from RAM. Determinism
    * end-to-end: decimal-exact centroid means (Det.davg), fixed-order
    * double L2 folds, and the final m-cell sum through DECIMAL — so
    * the DuckDB oracle gates codebook learning, encoding AND scoring
    * bit-exactly, not approximately. */
  private def annPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsBase(s, d)
    val (cb, codes) = pqIndexFor(e, "vec", strideIds(PqStride),
      PqM, PqDims, PqK, Seq("label"))
    embResult(probePqIndexFor(probeRowOf(e, ProbeId), cb, codes,
      Some(ProbeId), PqM, PqDims, 5, Seq("label")))
  }

  /** RESIDUAL IVF+PQ — FAISS's IndexIVFPQ, the standard
    * billion-vector index: the IVF coarse quantizer prunes the
    * candidate set to the probe's nprobe nearest clusters, and PQ
    * encodes each vector's RESIDUAL (x − centroid of its cluster) —
    * residuals concentrate around the origin, so the same m×k
    * codebook budget quantizes them far more finely than raw
    * vectors. Search is per-cluster ADC: the probe forms ITS residual
    * against each probed cluster's centroid and precomputes that
    * cluster's m×k distance table; candidates score as the
    * decimal-exact sum of their m cells. Everything is deterministic
    * (decimal-exact Lloyd means in both quantizers, fixed-order
    * double folds, exact float−float residuals in doubles), so the
    * DuckDB oracle gates the COMPOSED pipeline — coarse quantizer,
    * residual codebooks, encoding, per-cluster tables — bit-exactly. */
  private def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsBase(s, d)
    val (centroids, cb, codes) = ivfPqIndexFor(e, strideIds(IvfStride), IvfK,
      strideIds(PqStride), PqM, PqDims, PqK, Seq("label"))
    embResult(probeIvfPqIndexFor(probeRowOf(e, ProbeId), centroids, cb, codes,
      Some(ProbeId), nprobe = 2, PqM, PqDims, 5, Seq("label")))
  }

  /** Validate + project an arbitrary relation to the canonical
    * (id LONG, vec ARRAY<FLOAT>, keep...) ANN base. Ids must be
    * integral and the vector column ARRAY<FLOAT> — refused loudly
    * otherwise (a non-integral id would cast to null silently, and a
    * silent double→float cast would corrupt scores). */
  private[graft] def annBaseFor(df: DataFrame, idCol: String, vecCol: String,
      verb: String, keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"$verb id column $idCol must be integral, got ${other.simpleString}")
    }
    df.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) => ()
      case other => throw new IllegalArgumentException(
        s"$verb vector column $vecCol must be ARRAY<FLOAT>, " +
          s"got ${other.simpleString} (cast explicitly — a silent " +
          "narrowing would corrupt scores)")
    }
    df.select((Seq(col(idCol).cast("long").as("id"), col(vecCol).as("vec")) ++
      keep.map(col)): _*)
  }

  /** The `CALL ann_build` input: the validated base, its row count
    * and its vector dimensionality (checked uniform and divisible by
    * `m` — two tiny aggregates, build-time only). */
  private[graft] def annInputFor(df: DataFrame, idCol: String, vecCol: String,
      m: Int): (DataFrame, Long, Int) = {
    val base = annBaseFor(df, idCol, vecCol, "ann_build")
    val n = base.count()
    require(n > 0, "ann_build: empty input relation")
    val r = base.agg(min(size(col("vec"))).as("lo"),
      max(size(col("vec"))).as("hi")).head()
    require(r.getInt(0) == r.getInt(1),
      s"ann_build: ragged vector lengths (${r.getInt(0)}..${r.getInt(1)})")
    val dims = r.getInt(0)
    require(dims % m == 0, s"ann_build: dims=$dims not divisible by m=$m")
    (base, n, dims)
  }

  /** Deterministic seed nomination WITHOUT a global sort: a hash
    * stride admits ~2·want candidates, the tiny candidate set sorts
    * by id; degenerate strides fall back to the smallest ids. Returns
    * the ≤ want nominated ids as a predicate. */
  private[graft] def annSeedIdsFor(base: DataFrame, n: Long, want: Int): Column = {
    val stride = math.max(1L, n / math.max(1, 2 * want))
    def ids(df: DataFrame) = df.orderBy("id").limit(want).select("id")
      .collect().map(_.getLong(0)).toSeq
    val hits = ids(base.filter(pmod(xxhash64(col("id")), lit(stride)) === 0))
    col("id").isin((if (hits.nonEmpty) hits else ids(base)): _*)
  }

  /** Nearest-centroid assignment by cosine: min_by over (−sim,
    * cluster) — map-side combinable, ties to the smaller cluster id.
    * rows (id, vec, …) × cents (cluster, cvec) → (id, carry…,
    * cluster), where `carry` names columns of either side. */
  private def ivfAssignFor(rows: DataFrame, cents: DataFrame,
      carry: Seq[String]): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    rows.crossJoin(broadcast(cents))
      .withColumn("sim", cosine_sim(col("vec"), col("cvec")))
      .groupBy("id")
      .agg(min_by(struct((carry :+ "cluster").map(col): _*),
        struct((-col("sim")).as("o1"), col("cluster").as("o2"))).as("m"))
      .select((col("id") +: (carry :+ "cluster").map(c => col(s"m.$c").as(c))): _*)
  }

  /** The IVF trainer — one cosine Lloyd round seeded by the first k
    * rows (by id) matching `seeds`, shared by every IVF and IVF+PQ
    * path. The orderBy pins WHICH k when the seed rule over-generates
    * (r7 — a bare limit takes scan-order rows, which is plan-dependent
    * and not oracle-stable). Cluster ids ARE seed row ids, kept LONG
    * end-to-end (an int cast would truncate ids past Int.MaxValue and
    * could collide two seeds into one cluster).
    * Returns (assigned(id, vec, keep…, cluster), centroids(cluster,
    * cvec ARRAY<FLOAT>) — decimal-exact means (r7: plain avg's double
    * partial sums are partition-order-dependent, not oracle-stable)).
    * (r16 note: both par() and a lazy localCheckpoint on the
    * assignment were tried and REJECTED — the k=8 kernel is too cheap
    * to amortize an extra exchange/materialization: q_sim_ann_ivf
    * 0.72 → 1.2 s either way. The k=64 PQ kernels spread instead —
    * see [[pqIndexFor]].) */
  private[graft] def ivfTrainFor(base: DataFrame, seeds: Column, k: Int,
      keep: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val assigned = ivfAssignFor(base, base.filter(seeds).orderBy("id").limit(k)
      .select(col("id").as("cluster"), col("vec").as("cvec")), "vec" +: keep)
    val centroids = assigned
      .select(col("cluster"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(graft.Det.davg(col("v").cast("double")).as("m"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m").cast("float")).as("cvec"))
    (assigned, centroids)
  }

  /** PERSIST the IVF index ON THE TABLE LAYER — the `CALL ann_build`
    * backend and q_sim_ann_ivf_persisted's build: cluster assignments
    * land as a graft table CLUSTERED on the cluster id (range-
    * partitioned into one file per inverted list, per-file `#range`
    * stats in the manifest), centroids as a k-row sidecar table.
    * Lloyd runs HERE, at build time — never again per query. Riding
    * [[graft.tables.SnapshotTable]] means build and ingest get ATOMIC
    * manifest commits (a torn build/ingest leaves an orphaned staged
    * directory readers can never see — vacuum garbage, not a half
    * index), versioning/time travel, and zero-IO stats. Each build is
    * a fresh commit — idempotent-overwrite semantics with history.
    * The empty-corpus contract comes free: the manifest carries the
    * schema, so an empty index probes as zero candidates. */
  private[graft] def buildIvfIndexFor(s: SparkSession, base: DataFrame,
      seeds: Column, k: Int, vectorsPath: String, centroidsPath: String,
      keep: Seq[String] = Nil): Unit = {
    val (assigned, centroids) = ivfTrainFor(base, seeds, k, keep)
    new graft.tables.SnapshotTable(s, vectorsPath)
      .commitClustered(assigned, "cluster", k)
    new graft.tables.SnapshotTable(s, centroidsPath).commit(centroids)
  }

  /** INCREMENTAL maintenance of a persisted IVF index — the `CALL
    * ann_ingest` backend: assign fresh rows to their nearest
    * PERSISTED centroid (no Lloyd — the quantizer is fixed at build
    * time, the standard IVF ingest contract: recall drifts only as the
    * corpus distribution does; rebuild is the explicit, separate
    * operation) and append them into their clusters' files through
    * the table layer's exactly-once
    * [[graft.tables.SnapshotTable.appendOnce]]: atomic (never the torn
    * half-append a bare parquet append risks) and idempotent under
    * `batchId` retry. The batch is range-repartitioned on the cluster
    * id so each new file covers a narrow cluster range, and the append
    * mints per-file `#range` stats, so the cluster claim — and the
    * probe's file pruning — survives every ingest. Returns None when
    * `batchId` already landed (idempotent replay). */
  private[graft] def appendToIvfIndexFor(s: SparkSession,
      vectorsPath: String, centroidsPath: String, fresh: DataFrame,
      idCol: String, vecCol: String, batchId: Long,
      keep: Seq[String] = Nil): Option[Long] = {
    val base = annBaseFor(fresh, idCol, vecCol, "ann_ingest", keep)
    val centroids = annTable(s, centroidsPath)
    val k = centroids.count().toInt max 1
    val assigned = ivfAssignFor(base, centroids, "vec" +: keep)
      .repartitionByRange(k, col("cluster"))
    new graft.tables.SnapshotTable(s, vectorsPath)
      .appendOnce(assigned, batchId)
  }

  /** The probe's `nprobe` nearest clusters (cluster, cvec) by cosine.
    * Zero-norm vectors make cosine 0/0 = NaN, and a descending sort
    * ranks NaN ABOVE every real score — NaN is filtered here and in
    * every top-k below so degenerate vectors never crowd out genuine
    * neighbors. */
  private def ivfNearestFor(centroids: DataFrame, probeVec: DataFrame,
      nprobe: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    probeVec.crossJoin(broadcast(centroids))
      .select(col("cluster"), col("cvec"),
        cosine_sim(col("vec"), col("cvec")).as("csim"))
      .filter(!isnan(col("csim")))
      .orderBy(col("csim").desc, col("cluster").asc)
      .limit(nprobe)
  }

  /** The IVF candidate set: the members of the probe's `nprobe`
    * nearest clusters, minus the excluded member. On a persisted
    * index the graft-table scan advertises the cluster key for
    * RUNTIME V2 filtering, so the broadcast join ships the probed
    * cluster set into the scan and whole files drop at the manifest
    * (`#range` intersection) before any data IO — the DSv2 analog of
    * dynamic partition pruning, with no driver lookup (the same plan
    * serves a probe TABLE). */
  private def ivfCandidatesFor(vectors: DataFrame, centroids: DataFrame,
      probeVec: DataFrame, excludeId: Option[Long], nprobe: Int): DataFrame =
    excludeId.foldLeft(vectors.join(
      broadcast(ivfNearestFor(centroids, probeVec, nprobe).select("cluster")),
      "cluster"))((df, ex) => df.filter(col("id") =!= ex))

  /** The IVF probe — per-query key, persisted twin and `CALL
    * ann_probe` alike: rank the probed clusters' candidates by exact
    * r4 cosine. vectors (id, vec, cluster, keep…), centroids (cluster,
    * cvec), probeVec a 1-row (vec) relation. Returns (id, keep…,
    * score) top-k. */
  private[graft] def probeIvfIndexFor(vectors: DataFrame, centroids: DataFrame,
      probeVec: DataFrame, excludeId: Option[Long], nprobe: Int, topK: Int,
      keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    ivfCandidatesFor(vectors, centroids, probeVec, excludeId, nprobe)
      .crossJoin(broadcast(probeVec.select(col("vec").as("probe"))))
      .select(((col("id") +: keep.map(col)) :+
        graft.Det.r4(cosine_sim(col("vec"), col("probe"))).as("score")): _*)
      .filter(!isnan(col("score")))
      .orderBy(col("score").desc, col("id").asc)
      .limit(topK)
  }

  /** One row per (id, subspace): the m subvectors of every vector of
    * a relation, `keep` columns riding along. `sub` = dims / m. */
  private def annSubsFor(base: DataFrame, vecCol: String, m: Int, sub: Int,
      keep: Seq[String]): DataFrame =
    base.select((keep.map(col) :+
      explode(array((0 until m).map(i =>
        struct(lit(i).as("s"),
          slice(col(vecCol), i * sub + 1, sub).as("sv"))): _*)).as("x")): _*)
      .select((keep.map(col) ++ Seq(col("x.s").as("s"), col("x.sv").as("sv"))): _*)

  /** The PQ trainer: per-subspace codebooks over (id, s, sv)
    * subvectors. The subvectors of the first `kCodes` ids matching
    * `seeds` seed every subspace and one decimal-exact Lloyd round refines.
    * A code is its seed's rank by id within the subspace (0..kCodes−1,
    * a byte): order-preserving, so argmin tie-breaks match the
    * oracle's seed-id order. Entries keep the subvectors' element type: floats
    * for raw-vector PQ, doubles for residual PQ (residual magnitudes
    * are small and the extra bits are free). The assignment is the
    * FUSED candidate scan ([[graft.functions.ArgMinL2]]) over the k
    * seeds collapsed into one broadcast array row per subspace — the
    * same (d2, cid) total order as the oracle's ROW_NUMBER, with no
    * n·m×k join-row materialization (r17: the exploded shape carried
    * 27 s + 22 s of task time in q_sim_ann_ivf_pq at sf0.1). Lazy
    * localCheckpoint (r17): the codebook has two consumers (the
    * encode join and the probe's ADC table), each of which re-ran —
    * and re-compiled — the train chain; m×k ≤ 512 rows, the §5
    * criterion. Returns (s, code TINYINT, cvec). */
  private def annTrainCodebooksFor(subs: DataFrame, seeds: Column,
      kCodes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val floats = subs.schema("sv").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val seedSubs = subs.filter(seeds)
      .withColumn("rn", row_number().over(
        Window.partitionBy("s").orderBy("id")))
      .filter(col("rn") <= kCodes)
      .select(col("s").as("s0"), (col("rn") - 1).as("cid0"), col("sv").as("cvec0"))
    subs
      .join(broadcast(argminCands(seedSubs, "s0", "cid0", "cvec0")),
        col("s") === col("s0"))
      .select(col("s"), col("sv"),
        graft.functions.ArgMinL2.argmin_l2(col("sv"), col("cands")).as("cid"))
      .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("s", "cid", "pos")
      .agg(graft.Det.davg(col("v").cast("double")).as("mv"))
      .groupBy("s", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        x => if (floats) x.getField("mv").cast("float") else x.getField("mv"))
        .as("cvec"))
      .select(col("s"), col("cid").cast("tinyint").as("code"), col("cvec"))
      .localCheckpoint(eager = false)
  }

  /** The PQ encoder: every subvector to its nearest codebook entry
    * (the same fused argmin). Returns the LONG form (id, keep…, s,
    * code) that ADC joins on, codes in the argmin's long lane; only a
    * commit packs them to bytes ([[annPackFor]]). */
  private def annEncodeFor(subs: DataFrame, cb: DataFrame,
      keep: Seq[String]): DataFrame =
    subs
      .join(broadcast(argminCands(cb, "s", "code", "cvec")),
        col("s") === col("s0"))
      .select(((col("id") +: keep.map(col)) :+ col("s") :+
        graft.functions.ArgMinL2.argmin_l2(col("sv"), col("cands")).as("code")): _*)

  /** Pack long-form codes to ONE ARRAY<TINYINT> row per vector in
    * subspace order — the committed 8-byte-per-vector layout (256
    * float bytes against 8: the real 32× compression, not longs
    * posing as codes). */
  private def annPackFor(codes: DataFrame): DataFrame =
    codes.groupBy(codes.columns.filterNot(Set("s", "code")).map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code").cast("tinyint")).as("codes"))

  /** A committed code table back to the long form: posexplode
    * recovers (s, code) — the array position IS the subspace. */
  private[graft] def annUnpackFor(packed: DataFrame): DataFrame =
    packed.select((packed.columns.filter(_ != "codes").map(col) :+
      posexplode(col("codes")).as(Seq("s", "code"))): _*)

  /** The PQ index content — the one train + encode path behind every
    * PQ tier (per-query key, persisted twin, `CALL ann_build`,
    * residual IVF+PQ, RecallSweep). par(): codebook train and encode
    * are k-fold kernels — see [[par]]. Lazy localCheckpoint (r17) on
    * the subvectors: FOUR consumers (seeds, assignment, encode, and a
    * probe that reads the codes), and stage probing showed each
    * consumer job not only re-running the slice pipeline but
    * RE-JANINO-COMPILING its fused stage — the thread dump had all 31
    * workers blocked in CodeGenerator.compile, ~1 s per hot stage.
    * The checkpoint is one n·m-row pass over the (small) vector side —
    * the §5 persist criterion, not a fact-table cache; at 100 TB the
    * train path necessarily materializes this much anyway (it is what
    * the persisted tier commits as the index). Returns (codebook(s,
    * code, cvec), codes(id, keep…, s, code)). */
  private[ops] def pqIndexFor(rel: DataFrame, vecCol: String, seeds: Column,
      m: Int, dims: Int, kCodes: Int, keep: Seq[String]): (DataFrame, DataFrame) = {
    val subs = annSubsFor(par(rel), vecCol, m, dims / m, "id" +: keep)
      .localCheckpoint(eager = false)
    val cb = annTrainCodebooksFor(subs, seeds, kCodes)
    (cb, annEncodeFor(subs, cb, keep))
  }

  /** The residual IVF+PQ index content: the IVF trainer's coarse
    * quantizer, then [[pqIndexFor]] over every vector's residual
    * against its centroid (float−float in doubles). Lazy checkpoint
    * (r17) on the k-row centroid table: two broadcast consumers (the
    * residual join and the probe's coarse ranking), each otherwise
    * re-running — and re-compiling — the coarse-quantizer chain.
    * Returns (centroids, codebook, codes(id, cluster, keep…, s,
    * code)). */
  private[ops] def ivfPqIndexFor(base: DataFrame, coarseSeeds: Column, k: Int,
      codeSeeds: Column, m: Int, dims: Int, kCodes: Int,
      keep: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val (assigned, centroids0) = ivfTrainFor(base, coarseSeeds, k, keep)
    val centroids = centroids0.localCheckpoint(eager = false)
    val resid = assigned.join(broadcast(centroids), "cluster")
      .select(((Seq(col("id"), col("cluster")) ++ keep.map(col)) :+
        residual(col("vec"), col("cvec")).as("rvec")): _*)
    val (cb, codes) = pqIndexFor(resid, "rvec", codeSeeds, m, dims, kCodes,
      "cluster" +: keep)
    (centroids, cb, codes)
  }

  /** ADC top-k: candidates joined to their looked-up distance cells
    * score as the decimal-exact sum of their m cells. */
  private def adcTopFor(cells: DataFrame, keep: Seq[String], topK: Int): DataFrame =
    cells.groupBy((col("id") +: keep.map(col)): _*)
      .agg(graft.Det.r4(graft.Det.dsum(col("dist"), 9)).as("adist"))
      .orderBy(col("adist").asc, col("id").asc)
      .limit(topK)

  /** `CALL ann_build(tier => 'pq')` and q_sim_ann_pq_persisted's
    * build: codebooks (m×k rows, constant-size) and the packed code
    * table as graft tables. Training runs HERE, never per query. */
  private[graft] def buildPqIndexFor(s: SparkSession, base: DataFrame,
      seeds: Column, m: Int, dims: Int, kCodes: Int, codesPath: String,
      codebooksPath: String, keep: Seq[String] = Nil): Unit = {
    val (cb, codes) = pqIndexFor(base, "vec", seeds, m, dims, kCodes, keep)
    new graft.tables.SnapshotTable(s, codebooksPath).commit(cb)
    new graft.tables.SnapshotTable(s, codesPath).commit(annPackFor(codes))
  }

  /** `CALL ann_build(tier => 'ivf_pq')` and
    * q_sim_ann_ivf_pq_persisted's build: coarse centroids + residual
    * codebooks + codes CLUSTERED on the coarse cluster id (one file
    * per inverted list, `#range` manifest stats — a probe reads only
    * the probed clusters' code files). */
  private[graft] def buildIvfPqIndexFor(s: SparkSession, base: DataFrame,
      coarseSeeds: Column, codeSeeds: Column, k: Int, m: Int, dims: Int,
      kCodes: Int, codesPath: String, codebooksPath: String,
      centroidsPath: String, keep: Seq[String] = Nil): Unit = {
    val (centroids, cb, codes) =
      ivfPqIndexFor(base, coarseSeeds, k, codeSeeds, m, dims, kCodes, keep)
    new graft.tables.SnapshotTable(s, centroidsPath).commit(centroids)
    new graft.tables.SnapshotTable(s, codebooksPath).commit(cb)
    new graft.tables.SnapshotTable(s, codesPath)
      .commitClustered(annPackFor(codes), "cluster", k)
  }

  /** The PQ probe — asymmetric distance computation: the probe's
    * m×k exact distance table broadcasts; candidates are the long-form
    * CODES ONLY (never a raw candidate vector — at 100 TB the scan
    * cost is |codes|, 32× smaller than the corpus) and rank by the
    * decimal-exact sum of their m looked-up cells. Returns (id, keep…,
    * adist) ascending. */
  private[graft] def probePqIndexFor(probeVec: DataFrame, cb: DataFrame,
      codes: DataFrame, excludeId: Option[Long], m: Int, dims: Int,
      topK: Int, keep: Seq[String] = Nil): DataFrame = {
    val probeSubs = annSubsFor(probeVec, "vec", m, dims / m, Seq.empty)
      .select(col("s").as("ps"), col("sv").as("psv"))
    val dtab = cb.join(broadcast(probeSubs), col("s") === col("ps"))
      .select(col("s"), col("code"), l2sq(col("psv"), col("cvec")).as("dist"))
    adcTopFor(excludeId.foldLeft(codes)((df, ex) => df.filter(col("id") =!= ex))
      .join(broadcast(dtab), Seq("s", "code")), keep, topK)
  }

  /** The IVF+PQ probe: coarse ranking over the broadcast centroid
    * table, a PER-PROBED-CLUSTER probe residual and its m×k ADC
    * table, and the (cluster, s, code) join that looks up the cells
    * AND prunes to the probed clusters (their code FILES, on a
    * clustered committed index) in one step. */
  private[graft] def probeIvfPqIndexFor(probeVec: DataFrame, centroids: DataFrame,
      cb: DataFrame, codes: DataFrame, excludeId: Option[Long], nprobe: Int,
      m: Int, dims: Int, topK: Int, keep: Seq[String] = Nil): DataFrame = {
    val prSubs = annSubsFor(
      ivfNearestFor(centroids, probeVec, nprobe).crossJoin(broadcast(probeVec))
        .select(col("cluster").as("pc"), residual(col("vec"), col("cvec")).as("prv")),
      "prv", m, dims / m, Seq("pc"))
      .select(col("pc"), col("s").as("ps"), col("sv").as("psv"))
    val dtab = cb.join(broadcast(prSubs), col("s") === col("ps"))
      .select(col("pc").as("cluster"), col("s"), col("code"),
        l2sq(col("psv"), col("cvec")).as("dist"))
    adcTopFor(excludeId.foldLeft(codes)((df, ex) => df.filter(col("id") =!= ex))
      .join(broadcast(dtab), Seq("cluster", "s", "code")), keep, topK)
  }

  /** `CALL ann_ingest` on the PQ tier: encode the staging rows
    * against the PERSISTED codebooks (no Lloyd — the quantizer is
    * fixed at build time) and append atomically, exactly-once by
    * batch id. */
  private[graft] def appendToPqIndexFor(s: SparkSession, codesPath: String,
      codebooksPath: String, fresh: DataFrame, idCol: String, vecCol: String,
      m: Int, dims: Int, batchId: Long): Option[Long] = {
    val base = annBaseFor(fresh, idCol, vecCol, "ann_ingest")
    val packed = annPackFor(annEncodeFor(
      annSubsFor(base, "vec", m, dims / m, Seq("id")),
      annTable(s, codebooksPath), Seq.empty))
    new graft.tables.SnapshotTable(s, codesPath).appendOnce(packed, batchId)
  }

  /** `CALL ann_ingest` on the IVF+PQ tier: nearest-persisted-centroid
    * assignment, residual encode against the persisted codebooks,
    * range-repartition on the cluster so new files keep narrow
    * `#range` claims, exactly-once append. */
  private[graft] def appendToIvfPqIndexFor(s: SparkSession, codesPath: String,
      codebooksPath: String, centroidsPath: String, fresh: DataFrame,
      idCol: String, vecCol: String, m: Int, dims: Int,
      batchId: Long): Option[Long] = {
    val base = annBaseFor(fresh, idCol, vecCol, "ann_ingest")
    val centroids = annTable(s, centroidsPath)
    val k = centroids.count().toInt max 1
    val resid = ivfAssignFor(base, centroids, Seq("vec", "cvec"))
      .select(col("id"), col("cluster"),
        residual(col("vec"), col("cvec")).as("rvec"))
    val packed = annPackFor(annEncodeFor(
      annSubsFor(resid, "rvec", m, dims / m, Seq("id", "cluster")),
      annTable(s, codebooksPath), Seq("cluster")))
      .repartitionByRange(k, col("cluster"))
    new graft.tables.SnapshotTable(s, codesPath).appendOnce(packed, batchId)
  }

  /** PERSISTED IVF — the durability half of q_sim_ann_ivf: at 100 TB
    * the coarse quantizer (Lloyd over the corpus) must be a committed
    * artifact, not a per-query computation. The index build
    * (idempotent overwrite, honest amortized-cost accounting — same
    * convention as q_sim_ann_indexed) commits centroids + clustered
    * inverted lists; the PROBE phase touches only persisted data and
    * reads exactly the probed clusters' files (runtime pruning
    * asserted in SimilaritySpec, which also proves probe-phase
    * row-equality with the per-query q_sim_ann_ivf). Same trainer,
    * seeds and probe as q_sim_ann_ivf, so the same DuckDB oracle
    * gates the persisted path bit-exactly. */
  private def annIvfPersisted(s: SparkSession, d: String): DataFrame = {
    val dir = indexDir("graft_ann_ivf_idx", d)
    val e = embeddingsBase(s, d)
    buildIvfIndexFor(s, e, strideIds(IvfStride), IvfK, s"$dir/vectors",
      s"$dir/centroids", Seq("label"))
    embResult(probeIvfIndexFor(annTable(s, s"$dir/vectors"),
      annTable(s, s"$dir/centroids"), probeRowOf(e, ProbeId), Some(ProbeId),
      nprobe = 2, topK = 5, Seq("label")))
  }

  /** PERSISTED PQ — [[annPq]] through the index lifecycle: build
    * commits codebooks + 8-byte codes, probe is ADC over codes only.
    * The same trainer, encoder and probe as q_sim_ann_pq (the commit
    * only packs the codes; the probe unpacks them), so the SAME
    * DuckDB oracle gates the persisted path bit-exactly. The SQL
    * lifecycle (CALL ann_build tier => 'pq') is where build cost
    * amortizes across queries. */
  private def annPqPersisted(s: SparkSession, d: String): DataFrame = {
    val dir = indexDir("graft_ann_pq_idx", d)
    val e = embeddingsBase(s, d)
    buildOnce(s"pq:$dir")(buildPqIndexFor(s, e, strideIds(PqStride),
      PqM, PqDims, PqK, s"$dir/codes", s"$dir/codebooks", Seq("label")))
    embResult(probePqIndexFor(probeRowOf(e, ProbeId),
      annTable(s, s"$dir/codebooks"), annUnpackFor(annTable(s, s"$dir/codes")),
      Some(ProbeId), PqM, PqDims, 5, Seq("label")))
  }

  /** Build-once-per-process memo for the persisted PQ twins: a
    * PERSISTED index is built once and probed many times — that IS
    * its production shape — so within one JVM the first probe pays
    * the (idempotent, deterministic) build and later probes measure
    * the serving cost of the committed artifact. The per-query
    * training tiers (q_sim_ann_pq / q_sim_ann_ivf_pq) keep paying
    * full training cost every call — the honest un-amortized
    * measurement stays in the sweep alongside this one. Keyed by the
    * pid-scoped index dir, so cross-JVM runs (verify, parity, each
    * bench process) always build fresh. */
  private val builtOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def buildOnce(key: String)(build: => Unit): Unit =
    if (!builtOnce.contains(key)) { build; builtOnce.add(key) }

  /** PERSISTED residual IVF+PQ — [[annIvfPq]] through the index
    * lifecycle, oracle-gated by the same composed SQL (exact double
    * round-trips keep every distance bit-identical). */
  private def annIvfPqPersisted(s: SparkSession, d: String): DataFrame = {
    val dir = indexDir("graft_ann_ivfpq_idx", d)
    val e = embeddingsBase(s, d)
    buildOnce(s"ivfpq:$dir")(buildIvfPqIndexFor(s, e, strideIds(IvfStride),
      strideIds(PqStride), IvfK, PqM, PqDims, PqK, s"$dir/codes",
      s"$dir/codebooks", s"$dir/centroids", Seq("label")))
    embResult(probeIvfPqIndexFor(probeRowOf(e, ProbeId),
      annTable(s, s"$dir/centroids"), annTable(s, s"$dir/codebooks"),
      annUnpackFor(annTable(s, s"$dir/codes")), Some(ProbeId), nprobe = 2,
      PqM, PqDims, 5, Seq("label")))
  }

  /** Persisted-index ANN: the LSH bucket is a PARTITION COLUMN of a
    * written parquet index, so the candidate scan reads only the
    * probe's bucket directory — at 100 TB the search cost is
    * |bucket|, not |table|. The probe's bucket reaches the scan via
    * DYNAMIC partition pruning (broadcast join on the partition
    * column + selective probe filter), not a driver lookup: no
    * collect anywhere, and the same plan shape works when the probe
    * set is itself a table. Same buckets/scoring as q_sim_ann_lsh,
    * so the two must return identical rows (asserted in
    * SimilaritySpec). The index build (idempotent overwrite) is part
    * of the query — honest accounting for the amortized cost. */
  private def annIndexed(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    val dir = indexDir("graft_ann_index", d)
    val bucketed = Tables.embeddings(s, d)
      .withColumn("bucket", hyperplaneBucket(col("embedding"), 4, 64))
    bucketed.write.partitionBy("bucket").mode("overwrite").parquet(dir)
    // explicit schema: an EMPTY index write leaves no data files, and
    // a schema-inferring read would throw UNABLE_TO_INFER_SCHEMA —
    // empty buckets/partitions are routine at scale and must read as
    // zero rows, not crash
    val index = s.read.schema(bucketed.schema).parquet(dir)
    val probe = index.filter(col("vec_id") === ProbeId)
      .select(col("bucket").as("p_bucket"), col("embedding").as("probe"))
    index.filter(col("vec_id") =!= ProbeId)
      .join(broadcast(probe), col("bucket") === col("p_bucket"))
      .select(col("vec_id"), col("label"),
        graft.Det.r4(cosine_sim(col("embedding"), col("probe"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(5)
  }

  // ---- navigable-small-world graph ANN (HNSW-adjacent) ------------------

  // hub layer = ids ≡ 0 (mod stride). The stride is the ENTRY-COVERAGE
  // knob: hubs must sample densely enough that every neighborhood has
  // one within beam reach (a 16-stride puts ~n/16 hubs — one per
  // planted cluster in the fixtures; at stride 50 whole clusters had
  // no entry point and beam recall collapsed to 0.15 — measured, kept
  // as the design note: a graph ANN is only as navigable as its entry
  // layer's coverage)
  private[ops] val NswHubStride = 16
  private[ops] val NswM = 4     // same-bucket graph degree
  private val NswHubM = 2       // hub links per node (long-range connectivity)
  private val NswBeam = 10      // beam width B
  private val NswRounds = 4     // fixed expansion rounds R (the first
                                // descends from the hub layer; the rest
                                // refine inside the found neighborhood)

  /** GRAPH ANN — the HNSW-adjacent tier (Malkov & Yashunin, TPAMI'18,
    * re-expressed batch-first): a TWO-LAYER navigable graph instead of
    * a probabilistic layer hierarchy. The upper layer is a
    * deterministic hub sample (ids ≡ 0 mod stride — HNSW's sparse
    * entry layer); the base layer links every node to its top-M
    * same-LSH-bucket neighbors (locality links, candidate generation
    * exactly like q_sim_ann_lsh) plus its top-2 hubs (long-range
    * links, guaranteeing inter-bucket navigability). Search is BATCH
    * BEAM SEARCH: score the hub layer, then R rounds of
    * expand-frontier-neighbors → beam-select — the set-at-a-time
    * reformulation of HNSW's greedy descent (per-candidate priority
    * queues don't distribute; bounded synchronous rounds do — the
    * BFS/label-propagation precedent in Graph.scala).
    *
    * Scale shape: graph build is per-bucket pairwise (the NN-descent
    * seeding, shuffle = one bucket join) + a broadcast hub join; the
    * probe touches |hubs| + R·B·(M+2) vectors — independent of n for
    * fixed parameters; each round's candidate-vector fetch is a
    * small-side join against the id-keyed vector table (file-prunable
    * when clustered). Every ordering ties by id and every score is
    * the bit-stable cosine fold, so the WHOLE structure — graph,
    * beam trajectory, answer — is deterministic and the DuckDB
    * oracle gates it end-to-end (unrolled beam rounds, the Lloyd/
    * PageRank CTE technique). */
  private def annNsw(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsBase(s, d)
    val hubs = nswHubsOf(e, strideIds(NswHubStride))
    val (edges, _) = nswGraphFor(e, hubs, NswM, 64)
    embResult(probeNswIndexFor(e, edges, hubs, probeRowOf(e, ProbeId),
      Some(ProbeId), 5, Seq("label")))
  }

  /** The hub (entry) layer (h, hvec): every base row matching `seeds`. */
  private[graft] def nswHubsOf(base: DataFrame, seeds: Column): DataFrame =
    base.filter(seeds).select(col("id").as("h"), col("vec").as("hvec"))

  /** Each u's top-n links by cosine over candidate pairs (u, uvec,
    * v, vvec), ties to the smaller v. Zero-norm vectors cosine to NaN,
    * and NaN outranks every real score in a descending window —
    * without the guard a single degenerate vector would win a link
    * slot in EVERY bucket-mate. */
  private def nswLinksFor(pairs: DataFrame, n: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    import org.apache.spark.sql.expressions.Window
    pairs.filter(col("u") =!= col("v"))
      .select(col("u"), col("v"), cosine_sim(col("uvec"), col("vvec")).as("cos"))
      .filter(!isnan(col("cos")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("cos").desc, col("v").asc)))
      .filter(col("rn") <= n)
      .select("u", "v")
  }

  /** The NSW graph over a base (id, vec) with hub layer (h, hvec):
    * (edges(u, v), buckets(id, bucket)). Bucket links are UNDIRECTED
    * (the NSW norm): a directed top-M graph concentrates into
    * popular-sink nodes and the beam starves (measured: planted recall
    * 0.55 directed vs 0.9+ symmetrized). Hub links stay directed
    * node→hub — reversing those would hand hubs unbounded fan-out.
    * Reverse bucket degree is bounded by how many bucket-mates rank u
    * in their top-M (≤ bucket size; HNSW prunes the same way via
    * neighbor selection). Both link builders run pairwise cosine
    * kernels (bucket² and n×hubs) that would otherwise execute inside
    * the single-split scan stage — see [[par]]; the bucket spread
    * doubles as the bucket join's exchange (both sides co-partition on
    * it). localCheckpoint: the beam loop references the edge table
    * once per round PLUS the final scoring — without the truncation
    * the unrolled plan re-derives the whole graph build per reference
    * (measured: a 6300-line physical plan at R=4, the graph built 5×).
    * `eager = false` does not defer the build: on an adaptive plan the
    * checkpoint calls `physicalPlan.execute()`, which runs every
    * shuffle stage under it while this DataFrame is being built; only
    * the last stage waits for the first action. */
  private[graft] def nswGraphFor(base: DataFrame, hubs: DataFrame, m: Int,
      dims: Int): (DataFrame, DataFrame) = {
    val buckets = base.withColumn("bucket", hyperplaneBucket(col("vec"), 4, dims))
      .repartition(base.sparkSession.sparkContext.defaultParallelism, col("bucket"))
    def side(n: String) = buckets.select(col("id").as(n), col("vec").as(s"${n}vec"),
      col("bucket"))
    val bEdges = nswLinksFor(side("u").join(side("v"), "bucket"), m)
    val hEdges = nswLinksFor(par(base).select(col("id").as("u"), col("vec").as("uvec"))
      .crossJoin(broadcast(hubs.select(col("h").as("v"), col("hvec").as("vvec")))),
      NswHubM)
    val edges = bEdges
      .unionAll(bEdges.select(col("v").as("u"), col("u").as("v")))
      .unionAll(hEdges).dropDuplicates("u", "v")
      .localCheckpoint(eager = false)
    (edges, buckets.select("id", "bucket"))
  }

  /** `CALL ann_build(tier => 'nsw')`: the graph as three catalog
    * tables — edges (u, v) CLUSTERED on u (a probe round's frontier
    * join prunes to the frontier's edge files via `#range`), hubs (h,
    * hvec — the entry layer) and buckets (id, bucket — the LSH
    * assignment future ingests generate candidates from). Vectors stay
    * in the source table: the graph is a pure index. */
  private[graft] def buildNswIndexFor(s: SparkSession, base: DataFrame,
      hubSeeds: Column, m: Int, dims: Int, edgesPath: String,
      hubsPath: String, bucketsPath: String): Unit = {
    val hubs = nswHubsOf(base, hubSeeds)
    val (edges, buckets) = nswGraphFor(base, hubs, m, dims)
    new graft.tables.SnapshotTable(s, edgesPath).commitClustered(edges, "u", 16)
    new graft.tables.SnapshotTable(s, hubsPath).commit(hubs)
    new graft.tables.SnapshotTable(s, bucketsPath).commit(buckets)
  }

  /** The NSW probe — batch beam search: score the hub layer (HNSW
    * scans its sparse top layer), the beam starts from its best B,
    * then R rounds of frontier-edge expansion (each a small-side join,
    * pruned to the frontier's edge files on a committed graph) +
    * candidate-vector fetches from the id-keyed base. Visited/frontier
    * are beam-bounded (≤ |hubs| + R·B·(M+2) rows) — a localCheckpoint
    * per round keeps the unrolled-round plan flat. It does not defer
    * the rounds: on an adaptive plan even `eager = false` runs every
    * shuffle stage under the checkpoint (`physicalPlan.execute()`), so
    * each round's jobs run while the probe DataFrame is being built.
    * base (id, vec, keep…); returns (id, keep…, score). */
  private[graft] def probeNswIndexFor(base: DataFrame, edges: DataFrame,
      hubs: DataFrame, probeVec: DataFrame, excludeId: Option[Long], topK: Int,
      keep: Seq[String] = Nil): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    val probe = probeVec.select(col("vec").as("probe"))
    def score(ids: DataFrame): DataFrame =
      base.join(ids, "id").crossJoin(broadcast(probe))
        .select(((col("id") +: keep.map(col)) :+
          cosine_sim(col("vec"), col("probe")).as("cos")): _*)
        .filter(!isnan(col("cos")))
    def beam(visited: DataFrame): DataFrame = score(visited)
      .orderBy(col("cos").desc, col("id").asc).limit(NswBeam).select("id")
    var visited = hubs.select(col("h").as("id"))
    var frontier = beam(visited)
    for (_ <- 1 to NswRounds) {
      val neigh = edges.join(frontier.select(col("id").as("u")), "u")
        .select(col("v").as("id"))
      visited = visited.unionAll(neigh).distinct().localCheckpoint(eager = false)
      frontier = beam(visited)
    }
    excludeId.foldLeft(score(visited))((df, ex) => df.filter(col("id") =!= ex))
      .select(((col("id") +: keep.map(col)) :+ graft.Det.r4(col("cos")).as("score")): _*)
      .orderBy(col("score").desc, col("id").asc)
      .limit(topK)
  }

  /** `CALL ann_ingest` on the NSW tier — HNSW-style insertion,
    * append-only: each staged row buckets by the pure LSH arithmetic,
    * generates candidates from the PERSISTED bucket assignment plus
    * the hub layer, links to its top-`m` by cosine, and both
    * directions of every new link land as APPENDED edge rows (an
    * edge table never rewrites old files — bidirectional insertion
    * without read-modify-write; popular nodes' degree can grow past
    * m until the next rebuild, the documented trade). The bucket
    * append makes the new rows candidates for FUTURE ingests. Both
    * appends share the batch id; a torn retry self-heals (each
    * table's ledger skips its own landed half). Rows WITHIN one
    * batch don't link to each other (candidates come from the
    * PERSISTED bucket table) — the standard sequential-insertion
    * simplification; they interconnect through shared pre-existing
    * neighbors and the next rebuild. `base` is the source table as
    * (id, vec). */
  private[graft] def appendToNswIndexFor(s: SparkSession, base: DataFrame,
      fresh: DataFrame, idCol: String, vecCol: String, m: Int, dims: Int,
      edgesPath: String, hubsPath: String, bucketsPath: String,
      batchId: Long): Option[Long] = {
    val freshBase = annBaseFor(fresh, idCol, vecCol, "ann_ingest")
      .withColumn("bucket", hyperplaneBucket(col("vec"), 4, dims))
    val us = freshBase.select(col("id").as("u"), col("vec").as("uvec"), col("bucket"))
    val bucketCands = us
      .join(annTable(s, bucketsPath).select(col("id").as("v"), col("bucket")), "bucket")
      .join(base.select(col("id").as("v"), col("vec").as("vvec")), "v")
    val hubCands = us.crossJoin(broadcast(annTable(s, hubsPath)
      .select(col("h").as("v"), col("hvec").as("vvec"))))
    // mirror the BUILD's link budget exactly: top-m bucket links PLUS
    // NswHubM guaranteed hub links per ingested node (one combined
    // window would let a dense bucket crowd out the long-range links
    // that keep fresh rows reachable from distant beam entries)
    val links = nswLinksFor(bucketCands, m)
      .unionAll(nswLinksFor(hubCands, NswHubM))
      .dropDuplicates("u", "v")
    val edges = links
      .unionAll(links.select(col("v").as("u"), col("u").as("v")))
      .dropDuplicates("u", "v")
    val v = new graft.tables.SnapshotTable(s, edgesPath)
      .appendOnce(edges.repartitionByRange(4, col("u")), batchId)
    new graft.tables.SnapshotTable(s, bucketsPath)
      .appendOnce(freshBase.select("id", "bucket"), batchId)
    v
  }

  /** Multi-probe LSH ANN (Lv et al., VLDB'07 query-directed probing):
    * single-probe LSH is a recall cliff — the true neighbors of a
    * probe near a hyperplane fall in the adjacent bucket. Instead of
    * more hash tables (more memory), probe T buckets of ONE table in
    * order of perturbation likelihood: the probe's own bucket plus
    * the Hamming-1 flips of the [[MultiProbeExtra]] planes with the
    * SMALLEST |dot| margin (a small margin means the plane's sign is
    * least reliable for true neighbors).
    *
    * Scale shape: identical to [[annLsh]] — the probe side is a 1-row
    * broadcast exploded to T rows, candidates come from a bucket
    * equi-join (each vector lives in exactly one bucket, so no
    * candidate duplicates), and the top-k is TakeOrderedAndProject.
    * Cost is T·|bucket| versus |table| for brute force; the T knob is
    * the probes-vs-recall control surface (recall@10 vs the exact
    * baseline asserted in SimilaritySpec at this T). */
  private val MultiProbeExtra = 3 // probe budget T = 1 own + 3 flips = 4 buckets

  private def annMultiprobe(s: SparkSession, d: String): DataFrame =
    multiprobeTopK(Tables.embeddings(s, d), ProbeId, MultiProbeExtra, 10)

  /** The probe side of the multi-probe search: from a bucketed table,
    * the ≤(extra+1)-row (pb, probe) relation of buckets to examine —
    * the probe's own plus the margin-ordered Hamming-1 flips. The
    * probe's raw per-plane margins become (|dot|, plane) structs;
    * array_sort orders by margin then plane index (field order), the
    * deterministic flip sequence. */
  private[ops] def multiprobeProbeSide(bucketed: DataFrame, probeId: Long,
      extra: Int, bits: Int = 4, dims: Int = 64): DataFrame = {
    // bits AND dims must mirror the hyperplaneBucket(_, bits, dims)
    // call that bucketed the table — wrong dims would compute margins
    // against the wrong plane coefficients and silently degrade the
    // flip ordering to noise
    import graft.functions.TextSim.{dot, planeCoeffs}
    val flipMasks = typedlit((0 until bits).map(1 << _))
    bucketed.filter(col("vec_id") === probeId)
      .select(col("bucket").as("p_bucket"), col("embedding").as("probe"))
      .withColumn("forder",
        transform(array_sort(array((0 until bits).map(i =>
          struct(abs(dot(col("probe"), typedlit(planeCoeffs(i, dims)))).as("m"),
            lit(i).as("i"))): _*)), x => x.getField("i")))
      .withColumn("pbuckets",
        concat(array(col("p_bucket")),
          transform(slice(col("forder"), 1, extra),
            b => col("p_bucket")
              .bitwiseXOR(element_at(flipMasks, b + 1)).cast("int"))))
      .select(explode(col("pbuckets")).as("pb"), col("probe"))
  }

  /** Score the probed buckets' candidates: bucket equi-join against
    * the broadcast probe side (each vector lives in exactly one
    * bucket, so no candidate duplicates), r4 cosine, TakeOrdered. */
  private def scoreProbed(bucketed: DataFrame, probeSide: DataFrame,
      probeId: Long, k: Int): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_sim
    bucketed
      .filter(col("vec_id") =!= probeId)
      .join(broadcast(probeSide), col("bucket") === col("pb"))
      .select(col("vec_id"), col("label"),
        graft.Det.r4(cosine_sim(col("embedding"), col("probe"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The multi-probe mechanism over any (vec_id, label, embedding)
    * table — parameterized so SimilaritySpec can drive it against a
    * planted-locality fixture at several probe budgets. `extra` = the
    * number of margin-ordered Hamming-1 flips probed beyond the
    * probe's own bucket. */
  private[ops] def multiprobeTopK(emb: DataFrame, probeId: Long,
      extra: Int, k: Int): DataFrame = {
    val bucketed = emb
      .withColumn("bucket", hyperplaneBucket(col("embedding"), 4, 64))
    scoreProbed(bucketed, multiprobeProbeSide(bucketed, probeId, extra), probeId, k)
  }

  /** Multi-probe over the PERSISTED index (the q_sim_ann_indexed
    * physical path): the bucket is a partition column of the written
    * index, and the ≤4-row probed-bucket relation reaches the scan as
    * a partition filter via the broadcast join on the partition
    * column — at 100 TB the search reads T bucket directories, not
    * the table. Same oracle as q_sim_ann_multiprobe (the logical
    * result is identical; only the access path differs — row-equality
    * also asserted in SimilaritySpec). */
  private def annIndexedMultiprobe(s: SparkSession, d: String): DataFrame = {
    val dir = indexDir("graft_ann_index_mp", d)
    val bucketed = Tables.embeddings(s, d)
      .withColumn("bucket", hyperplaneBucket(col("embedding"), 4, 64))
    bucketed.write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val index = s.read.schema(bucketed.schema).parquet(dir)
    scoreProbed(index, multiprobeProbeSide(index, ProbeId, MultiProbeExtra),
      ProbeId, 10)
  }

  /** Distributed k-means (Lloyd's) over the embedding column: k=8,
    * 5 rounds, deterministic init (the k lowest vec_ids). Per round:
    * assignment is a narrow pass against BROADCAST centroid literals
    * (k×dims doubles — the only thing that ever reaches the driver);
    * the update is one (cluster, dim) aggregation whose DECIMAL-cast
    * sums make the new centroids bit-identical at any partition
    * count. The corpus-sized table shuffles only as (cluster, dim,
    * partial-sum) rows — this is exactly how k-means runs on 10⁹
    * vectors: broadcast centroids out, k×dims numbers back. */
  private val KmeansK = 8
  private val KmeansRounds = 5

  /** The k-element squared-distance array of `embedding` against
    * broadcast centroids — shared by [[assignTo]] (argmin) and
    * Dedup's multi-probe blocking (top-2). A native codegen kernel
    * ([[graft.functions.DistArray]]): with k ≈ √n centroids the HOF
    * formulation (transform + aggregate + zip_with over a k×dims
    * plan literal) pays n·k·dims interpreted lambda calls per
    * assignment pass and re-analyzes the giant literal every Lloyd
    * round — the fused primitive loop is the same arithmetic in
    * whole-stage codegen, bit-identical accumulation order. */
  private[ops] def distArray(centroids: Seq[Seq[Double]]): Column =
    graft.functions.DistArray.dist_array(col("embedding"), centroids)

  private[ops] def assignTo(vecs: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    // ONE k-element distance array per row (2-D centroid literal +
    // transform), then argmin = array_min + first array_position —
    // never a per-centroid when-chain, whose nested else branches
    // embed every previous distance twice (2^k expression blowup,
    // measured 25s; this form is 0.6s at sf0.1). array_position's
    // first-match rule is the deterministic first-wins tie-break.
    vecs.withColumn("dists", distArray(centroids))
      .withColumn("dist2", array_min(col("dists")))
      .withColumn("cluster",
        (array_position(col("dists"), col("dist2")) - 1).cast("int"))
      .drop("dists")
  }

  /** The Lloyd loop itself, shared with Dedup.dedupSemantic (which
    * uses the converged clusters as its blocking key): k×dims doubles
    * per round are all that ever reach the driver. */
  private[ops] def lloydCentroids(vecs: DataFrame, k: Int, rounds: Int): Seq[Seq[Double]] = {
    var centroids: Seq[Seq[Double]] = vecs.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    for (_ <- 1 to rounds) {
      val means = assignTo(vecs, centroids)
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg((graft.Det.dsum(col("x").cast("double")) / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      // an empty cluster keeps its previous centroid (no index shift)
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    centroids
  }

  private def kmeans(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    assignTo(vecs, lloydCentroids(vecs, KmeansK, KmeansRounds))
      .select(col("vec_id"), col("cluster"),
        graft.Det.r4(col("dist2")).as("dist2"))
      .orderBy("vec_id")
  }

  /** Target dimensionality of the Rademacher random projection. */
  private val ProjDims = 8

  /** Johnson–Lindenstrauss reduce-then-search: project every 64-dim
    * embedding to ProjDims dims with a spec-stated ±1 Rademacher
    * matrix (sign(i,j) = parity of (i·73856093 + j·19349663) mod
    * 95783 — the odd-prime modulus breaks the linear parity structure
    * a bare mod-2 of the products would have), then rank candidates
    * by EXACT integer dot product against the projected probe.
    * Components are quantized to thousandths (⌊x·1000+0.5⌋ as Long)
    * BEFORE projecting, so every sum is exact Long arithmetic —
    * bit-deterministic across engines, partitionings and retries with
    * no rounding slack needed anywhere.
    *
    * Scale shape: the projection is a per-row single pass (codegen'd
    * HOFs, no explode — the 64×8 loop lives inside one expression),
    * the probe is a 1-row broadcast, and the top-20 is
    * TakeOrderedAndProject. At 100 TB this is the standard
    * dimensionality-reduction front of an ANN pipeline: 8 Longs per
    * row shuffle instead of 64 floats, with JL guaranteeing distance
    * preservation in expectation. */
  private def embedProject(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      expr(s"""transform(sequence(0, ${ProjDims - 1}), j ->
              |  aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
              |    acc + CAST(floor(CAST(element_at(embedding, i + 1) AS DOUBLE) * 1000 + 0.5) AS BIGINT)
              |          * (CASE WHEN ((i * CAST(73856093 AS BIGINT) + j * CAST(19349663 AS BIGINT)) % 95783) % 2 = 0
              |             THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)))""".stripMargin).as("y"))
    val probe = proj.filter(col("vec_id") === ProbeId).select(col("y").as("py"))
    proj.filter(col("vec_id") =!= ProbeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        expr("aggregate(zip_with(y, py, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(20)
  }

  override val queries: Map[String, Q] = Map(
    "q_sim_search"      -> simSearch,
    "q_sim_ann_sq8"     -> annSq8,
    "q_sim_ann_lsh"     -> annLsh,
    "q_sim_ann_multiprobe" -> annMultiprobe,
    "q_sim_ann_indexed_multiprobe" -> annIndexedMultiprobe,
    "q_sim_ann_ivf"     -> annIvf,
    "q_sim_ann_ivf_sq8" -> annIvfSq8,
    "q_sim_ann_pq" -> annPq,
    "q_sim_ann_ivf_pq" -> annIvfPq,
    "q_sim_ann_nsw"     -> annNsw,
    "q_sim_ann_pq_persisted" -> annPqPersisted,
    "q_sim_ann_ivf_pq_persisted" -> annIvfPqPersisted,
    "q_sim_ann_ivf_persisted" -> annIvfPersisted,
    "q_sim_ann_indexed" -> annIndexed,
    "q_kmeans"          -> kmeans,
    "q_embed_project"   -> embedProject,
    "q_knn_classify"    -> knnClassify,
  )

  /** Unrolled-CTE Lloyd oracle (the PageRank technique applied to
    * k-means): each of the KmeansRounds rounds is one assignment CTE
    * (distance = list_sum over the zipped (float→double) pairs —
    * sequential double accumulation, bit-matching DistArray's fused
    * loop; argmin = ROW_NUMBER ordered by (d2, cluster), reproducing
    * array_position's first-wins tie-break) plus one update CTE
    * (DECIMAL(18,6)-exact per-(cluster,pos) means — Det.dsum's
    * arithmetic — with a LEFT JOIN COALESCE keeping an empty
    * cluster's previous centroid, as the Scala loop's getOrElse
    * does). Deterministic init = the k lowest vec_ids, so the whole
    * fixed point is reproducible from the spec. Verified bitwise
    * (cluster AND r4 dist2) against the Spark output at sf0.01 and
    * sf0.1. */
  private def kmeansSql: String = {
    import LloydSql.{assign, update}
    val head =
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |init AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS mv
         |         FROM e ORDER BY vec_id LIMIT $KmeansK),
         |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, mv FROM init)""".stripMargin
    val rounds = (1 to KmeansRounds).flatMap { r =>
      Seq(assign(s"c${r - 1}", s"a$r"), update(s"a$r", s"c${r - 1}", s"c$r"))
    }
    (Seq(head) ++ rounds ++ Seq(assign(s"c$KmeansRounds", "fin"))).mkString(",\n") +
      s"""
         |SELECT vec_id, CAST(cluster AS INT) AS cluster,
         |       ${graft.Det.r4Sql("d2")} AS dist2
         |FROM fin WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** Hyperplane-LSH ANN oracle (r7): hyperplaneBucket was always pure
    * spec-stated arithmetic — plane coefficient (i,j) =
    * ((i·1609587929392839161 + j·2654435761) mod 1000003)/1000003·2−1,
    * exact integer ops then one correctly-rounded division — so the
    * bucket is SQL-computable: 4 sign bits of sequential-fold double
    * dots (list_sum matches the Spark fold order, the q_sim_search
    * precedent), probe joins its own bucket, cosine r4 top-5.
    * q_sim_ann_indexed returns the same rows through the
    * partitioned-parquet + DPP physical path (SimilaritySpec asserts
    * row-equality), so the same oracle checks both keys. */
  private def annLshSql: String = {
    val cos =
      """list_sum(list_transform(list_zip(e.embedding, p.probe),
        |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
        |      / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * SQRT(list_sum(list_transform(p.probe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |bk AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN d >= 0 THEN 1 << i ELSE 0 END) AS INT) AS bucket
       |  FROM (
       |    SELECT vec_id, i,
       |           list_sum(list_transform(range(1, 65),
       |             j -> CAST(embedding[j] AS DOUBLE) *
       |                  (((i * 1609587929392839161 + (j - 1) * 2654435761) % 1000003) / 1000003.0 * 2.0 - 1.0)
       |           )) AS d
       |    FROM e, range(0, 4) t(i))
       |  GROUP BY vec_id),
       |p AS (
       |  SELECT e.embedding AS probe, bk.bucket AS p_bucket
       |  FROM e JOIN bk USING (vec_id) WHERE vec_id = $ProbeId)
       |SELECT vec_id, label,
       |       ${graft.Det.r4Sql(s"($cos)")} AS cos
       |FROM e JOIN bk USING (vec_id), p
       |WHERE e.vec_id <> $ProbeId AND bk.bucket = p.p_bucket
       |ORDER BY cos DESC, vec_id ASC
       |LIMIT 5""".stripMargin
  }

  /** NSW graph-ANN oracle: the ENTIRE structure unrolled in SQL —
    * LSH buckets (the annLshSql arithmetic), per-node top-M
    * same-bucket links + top-2 hub links (ROW_NUMBER argmins over
    * the bit-stable cosine fold), then the R beam rounds as CTE
    * pairs (vᵣ = vᵣ₋₁ ∪ neighbors(fᵣ₋₁) via UNION's dedup, fᵣ =
    * top-B of vᵣ) — the unrolled-iteration technique q_kmeans and
    * q_pagerank established. Every ordering ties by id, so graph,
    * trajectory and answer are all gated, not just the final rows. */
  private def annNswSql: String = {
    def cosf(a: String, b: String) = ivfCosf(a, b)
    val rounds = (1 to NswRounds).map { r =>
      s"""v$r AS (SELECT vec_id FROM v${r - 1} UNION
         |  SELECT ed.v AS vec_id FROM edges ed JOIN f${r - 1} ON ed.u = f${r - 1}.vec_id),
         |f$r AS (SELECT e.vec_id FROM e JOIN v$r USING (vec_id), p
         |  ORDER BY ${cosf("e.embedding", "p.probe")} DESC, e.vec_id ASC LIMIT $NswBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |bk AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN d >= 0 THEN 1 << i ELSE 0 END) AS INT) AS bucket
       |  FROM (
       |    SELECT vec_id, i,
       |           list_sum(list_transform(range(1, 65),
       |             j -> CAST(embedding[j] AS DOUBLE) *
       |                  (((i * 1609587929392839161 + (j - 1) * 2654435761) % 1000003) / 1000003.0 * 2.0 - 1.0)
       |           )) AS d
       |    FROM e, range(0, 4) t(i))
       |  GROUP BY vec_id),
       |hubs AS (SELECT vec_id AS h, embedding AS hvec FROM e
       |         WHERE vec_id % $NswHubStride = 0),
       |bedges AS (
       |  SELECT u, v FROM (
       |    SELECT eu.vec_id AS u, ev.vec_id AS v,
       |           ROW_NUMBER() OVER (PARTITION BY eu.vec_id
       |             ORDER BY ${cosf("eu.embedding", "ev.embedding")} DESC, ev.vec_id ASC) AS rn
       |    FROM e eu JOIN bk bu ON bu.vec_id = eu.vec_id
       |         JOIN bk bv ON bv.bucket = bu.bucket
       |         JOIN e ev ON ev.vec_id = bv.vec_id
       |    WHERE eu.vec_id <> ev.vec_id)
       |  WHERE rn <= $NswM),
       |hedges AS (
       |  SELECT u, v FROM (
       |    SELECT eu.vec_id AS u, h.h AS v,
       |           ROW_NUMBER() OVER (PARTITION BY eu.vec_id
       |             ORDER BY ${cosf("eu.embedding", "h.hvec")} DESC, h.h ASC) AS rn
       |    FROM e eu, hubs h WHERE eu.vec_id <> h.h)
       |  WHERE rn <= $NswHubM),
       |edges AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM bedges UNION ALL
       |  SELECT v AS u, u AS v FROM bedges UNION ALL
       |  SELECT u, v FROM hedges)),
       |p AS (SELECT embedding AS probe FROM e WHERE vec_id = $ProbeId),
       |v0 AS (SELECT h AS vec_id FROM hubs),
       |f0 AS (SELECT e.vec_id FROM e JOIN v0 USING (vec_id), p
       |  ORDER BY ${cosf("e.embedding", "p.probe")} DESC, e.vec_id ASC LIMIT $NswBeam),
       |$rounds
       |SELECT e.vec_id, e.label,
       |       ${graft.Det.r4Sql(s"(${cosf("e.embedding", "p.probe")})")} AS cos
       |FROM e JOIN v$NswRounds USING (vec_id), p
       |WHERE e.vec_id <> $ProbeId
       |ORDER BY cos DESC, e.vec_id ASC
       |LIMIT 5""".stripMargin
  }

  /** IVF oracle (r7): the one-round coarse quantizer in SQL — stride
    * seeds (ORDER BY pins which k when the stride over-generates),
    * ROW_NUMBER cosine argmax assignment, DECIMAL-exact centroid
    * means cast to FLOAT (Det.davg's arithmetic — the Spark side
    * moved off plain avg for exactly this), probe's top-2 clusters,
    * cosine r4 top-5 within them. */
  private def ivfCosf(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |      / (SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |         * SQRT(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** The IVF pipeline's shared CTE chain through `pc` (the probe's 2
    * nearest partitions) — both the exact and the int8-scored finals
    * build on it. */
  private def ivfCtes: String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS cid0, embedding AS cvec0 FROM e
       |  WHERE vec_id % 250 = 0 ORDER BY vec_id LIMIT 8),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid0 AS cluster FROM (
       |    SELECT e.vec_id, e.label, e.embedding, s.cid0,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${ivfCosf("e.embedding", "s.cvec0")} DESC, s.cid0 ASC) AS rn
       |    FROM e, seeds s)
       |  WHERE rn = 1),
       |cent AS (
       |  SELECT cluster, list(CAST(m AS FLOAT) ORDER BY pos) AS cvec
       |  FROM (
       |    SELECT cluster, pos,
       |           CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(CAST(v AS DOUBLE)) AS m
       |    FROM (SELECT cluster, unnest(embedding) AS v,
       |                 generate_subscripts(embedding, 1) - 1 AS pos
       |          FROM assigned)
       |    GROUP BY cluster, pos)
       |  GROUP BY cluster),
       |p AS (SELECT embedding AS probe FROM e WHERE vec_id = $ProbeId),
       |pc AS (
       |  SELECT cluster FROM cent, p
       |  ORDER BY ${ivfCosf("p.probe", "cent.cvec")} DESC, cluster ASC
       |  LIMIT 2)""".stripMargin

  /** PQ oracle: the identical subspace split (list slices), stride
    * seeds, one Lloyd round with decimal-exact means, nearest-code
    * encoding, and the decimal-summed ADC scoring — the same
    * fixed-order double L2 both engines fold identically. */
  private def pqL2(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |        t -> (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))
       |           * (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))))""".stripMargin

  private def annPqSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |sub AS (
       |  SELECT vec_id, label, CAST(s AS INT) AS s,
       |         embedding[CAST(s * $PqSub + 1 AS INT) : CAST(s * $PqSub + $PqSub AS INT)] AS sv
       |  FROM e, range(0, $PqM) t(s)),
       |seeds AS (
       |  SELECT s, vec_id AS cid0, sv AS cvec0 FROM (
       |    SELECT s, vec_id, sv,
       |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) AS rn
       |    FROM sub WHERE vec_id % $PqStride = 0)
       |  WHERE rn <= $PqK),
       |assigned AS (
       |  SELECT vec_id, s, sv, cid0 AS cid FROM (
       |    SELECT sub.vec_id, sub.s, sub.sv, seeds.cid0,
       |           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
       |             ORDER BY ${pqL2("sub.sv", "seeds.cvec0")} ASC, seeds.cid0 ASC) AS rn
       |    FROM sub JOIN seeds USING (s))
       |  WHERE rn = 1),
       |cb AS (
       |  SELECT s, cid, list(CAST(mv AS FLOAT) ORDER BY pos) AS cvec
       |  FROM (
       |    SELECT s, cid, pos,
       |           CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(CAST(v AS DOUBLE)) AS mv
       |    FROM (SELECT s, cid, unnest(sv) AS v,
       |                 generate_subscripts(sv, 1) - 1 AS pos
       |          FROM assigned)
       |    GROUP BY s, cid, pos)
       |  GROUP BY s, cid),
       |codes AS (
       |  SELECT vec_id, label, s, cid FROM (
       |    SELECT sub.vec_id, sub.label, sub.s, cb.cid,
       |           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
       |             ORDER BY ${pqL2("sub.sv", "cb.cvec")} ASC, cb.cid ASC) AS rn
       |    FROM sub JOIN cb USING (s))
       |  WHERE rn = 1),
       |p AS (SELECT s, sv AS psv FROM sub WHERE vec_id = $ProbeId),
       |dtab AS (
       |  SELECT cb.s, cb.cid, ${pqL2("p.psv", "cb.cvec")} AS dist
       |  FROM cb JOIN p USING (s))
       |SELECT c.vec_id, c.label,
       |       ${graft.Det.r4Sql("CAST(SUM(CAST(dist AS DECIMAL(18,9))) AS DOUBLE)")} AS adist
       |FROM codes c JOIN dtab USING (s, cid)
       |WHERE c.vec_id <> $ProbeId
       |GROUP BY 1, 2
       |ORDER BY adist ASC, vec_id ASC
       |LIMIT 5""".stripMargin

  /** Residual IVF+PQ oracle: the shared IVF CTE chain through `pc`,
    * then the residual PQ pipeline — residual lists, per-subspace
    * stride seeds, one decimal-exact Lloyd round, nearest-code
    * encoding, per-probed-cluster probe residual tables, decimal-
    * summed ADC — every fold the same fixed-order double arithmetic
    * the Spark side runs. */
  private def annIvfPqSql: String =
    s"""$ivfCtes,
       |r AS (
       |  SELECT a.vec_id, a.label, a.cluster,
       |         list_transform(list_zip(a.embedding, c.cvec),
       |           t -> CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) AS rvec
       |  FROM assigned a JOIN cent c USING (cluster)),
       |rsub AS (
       |  SELECT vec_id, label, cluster, CAST(s AS INT) AS s,
       |         rvec[CAST(s * $PqSub + 1 AS INT) : CAST(s * $PqSub + $PqSub AS INT)] AS sv
       |  FROM r, range(0, $PqM) t(s)),
       |pseeds AS (
       |  SELECT s, vec_id AS cid0, sv AS cvec0 FROM (
       |    SELECT s, vec_id, sv,
       |           ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) AS rn
       |    FROM rsub WHERE vec_id % $PqStride = 0)
       |  WHERE rn <= $PqK),
       |passigned AS (
       |  SELECT vec_id, s, sv, cid0 AS cid FROM (
       |    SELECT rsub.vec_id, rsub.s, rsub.sv, pseeds.cid0,
       |           ROW_NUMBER() OVER (PARTITION BY rsub.vec_id, rsub.s
       |             ORDER BY ${pqL2("rsub.sv", "pseeds.cvec0")} ASC, pseeds.cid0 ASC) AS rn
       |    FROM rsub JOIN pseeds USING (s))
       |  WHERE rn = 1),
       |pcb AS (
       |  SELECT s, cid, list(mv ORDER BY pos) AS cvec
       |  FROM (
       |    SELECT s, cid, pos,
       |           CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(v) AS mv
       |    FROM (SELECT s, cid, unnest(sv) AS v,
       |                 generate_subscripts(sv, 1) - 1 AS pos
       |          FROM passigned)
       |    GROUP BY s, cid, pos)
       |  GROUP BY s, cid),
       |pcodes AS (
       |  SELECT vec_id, label, cluster, s, cid FROM (
       |    SELECT rsub.vec_id, rsub.label, rsub.cluster, rsub.s, pcb.cid,
       |           ROW_NUMBER() OVER (PARTITION BY rsub.vec_id, rsub.s
       |             ORDER BY ${pqL2("rsub.sv", "pcb.cvec")} ASC, pcb.cid ASC) AS rn
       |    FROM rsub JOIN pcb USING (s))
       |  WHERE rn = 1),
       |prr AS (
       |  SELECT pc.cluster,
       |         list_transform(list_zip(p.probe, cent.cvec),
       |           t -> CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) AS prv
       |  FROM pc JOIN cent USING (cluster), p),
       |prsub AS (
       |  SELECT cluster, CAST(s AS INT) AS s,
       |         prv[CAST(s * $PqSub + 1 AS INT) : CAST(s * $PqSub + $PqSub AS INT)] AS psv
       |  FROM prr, range(0, $PqM) t(s)),
       |dtab AS (
       |  SELECT prsub.cluster, pcb.s, pcb.cid,
       |         ${pqL2("prsub.psv", "pcb.cvec")} AS dist
       |  FROM pcb JOIN prsub USING (s))
       |SELECT c.vec_id, c.label,
       |       ${graft.Det.r4Sql("CAST(SUM(CAST(dist AS DECIMAL(18,9))) AS DOUBLE)")} AS adist
       |FROM pcodes c
       |JOIN dtab ON c.cluster = dtab.cluster AND c.s = dtab.s AND c.cid = dtab.cid
       |WHERE c.vec_id <> $ProbeId
       |GROUP BY 1, 2
       |ORDER BY adist ASC, vec_id ASC
       |LIMIT 5""".stripMargin

  private def annIvfSql: String =
    s"""$ivfCtes
       |SELECT vec_id, label, ${graft.Det.r4Sql(s"(${ivfCosf("a.embedding", "p.probe")})")} AS cos
       |FROM assigned a JOIN pc USING (cluster), p
       |WHERE a.vec_id <> $ProbeId
       |ORDER BY cos DESC, vec_id ASC
       |LIMIT 5""".stripMargin

  /** IVF + int8 oracle: the shared candidate CTEs, then the sq8
    * quantize/score arithmetic (q_sim_ann_sq8's) over ONLY the
    * probed partitions' vectors. */
  private def annIvfSq8Sql: String =
    s"""$ivfCtes,
       |cand AS (
       |  SELECT a.vec_id, a.label, a.embedding
       |  FROM assigned a JOIN pc USING (cluster)
       |  WHERE a.vec_id <> $ProbeId),
       |cq AS (
       |  SELECT vec_id, label, qv,
       |         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm
       |  FROM (
       |    SELECT vec_id, label,
       |           CASE WHEN amax = 0
       |                THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
       |                ELSE list_transform(embedding,
       |                  x -> CAST(FLOOR(CAST(x AS DOUBLE) / amax * 127.0 + 0.5) AS BIGINT))
       |           END AS qv
       |    FROM (SELECT vec_id, label, embedding,
       |                 list_max(list_transform(embedding,
       |                          x -> abs(CAST(x AS DOUBLE)))) AS amax
       |          FROM cand))),
       |pq AS (
       |  SELECT qv AS pqv,
       |         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS pqnorm
       |  FROM (
       |    SELECT CASE WHEN amax = 0
       |                THEN list_transform(probe, x -> CAST(0 AS BIGINT))
       |                ELSE list_transform(probe,
       |                  x -> CAST(FLOOR(CAST(x AS DOUBLE) / amax * 127.0 + 0.5) AS BIGINT))
       |           END AS qv
       |    FROM (SELECT probe,
       |                 list_max(list_transform(probe,
       |                          x -> abs(CAST(x AS DOUBLE)))) AS amax
       |          FROM p)))
       |SELECT cq.vec_id, cq.label,
       |       FLOOR((CASE WHEN cq.qnorm = 0 OR pq.pqnorm = 0 THEN 0.0
       |         ELSE CAST(list_sum(list_transform(list_zip(cq.qv, pq.pqv),
       |                t -> t[1] * t[2])) AS DOUBLE)
       |              / SQRT(CAST(cq.qnorm * pq.pqnorm AS DOUBLE)) END)
       |         * 10000 + 0.5) / 10000 AS qcos
       |FROM cq, pq
       |ORDER BY qcos DESC, vec_id ASC
       |LIMIT 5""".stripMargin

  /** JL-projection oracle: the identical quantize → ±1-sign →
    * integer-sum arithmetic, stated set-wise (GROUP BY j over the
    * unrolled (i, j) grid) — exact BIGINT sums need no fold-order
    * agreement, so a grid regrouping is safe where a double sum would
    * not be. DuckDB's SUM(BIGINT) → HUGEINT is cast back (values
    * bounded by 8·(64·1000)² ≪ 2⁶³). */
  private def embedProjectSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |proj AS (
       |  SELECT vec_id, label, j,
       |         CAST(SUM(q[CAST(i AS INT) + 1] *
       |           (CASE WHEN ((i * 73856093 + j * 19349663) % 95783) % 2 = 0
       |            THEN 1 ELSE -1 END)) AS BIGINT) AS y
       |  FROM q, range(0, $ProjDims) rj(j), range(0, 64) ri(i)
       |  GROUP BY 1, 2, 3),
       |p AS (SELECT j, y FROM proj WHERE vec_id = $ProbeId)
       |SELECT pr.vec_id, pr.label, CAST(SUM(pr.y * p.y) AS BIGINT) AS dot
       |FROM proj pr JOIN p USING (j)
       |WHERE pr.vec_id <> $ProbeId
       |GROUP BY 1, 2
       |ORDER BY dot DESC, vec_id LIMIT 20""".stripMargin

  /** Multi-probe oracle: the annLshSql bucket CTE plus the flip
    * sequence stated declaratively — the probe's per-plane dots
    * ordered by (|d|, i), the MultiProbeExtra smallest XOR-flipped
    * into the probed-bucket set, candidates = bucket membership. */
  private def annMultiprobeSql: String = {
    val cos =
      """list_sum(list_transform(list_zip(e.embedding, p.probe),
        |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
        |      / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * SQRT(list_sum(list_transform(p.probe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |dots AS (
       |  SELECT vec_id, i,
       |         list_sum(list_transform(range(1, 65),
       |           j -> CAST(embedding[j] AS DOUBLE) *
       |                (((i * 1609587929392839161 + (j - 1) * 2654435761) % 1000003) / 1000003.0 * 2.0 - 1.0)
       |         )) AS d
       |  FROM e, range(0, 4) t(i)),
       |bk AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN d >= 0 THEN 1 << i ELSE 0 END) AS INT) AS bucket
       |  FROM dots GROUP BY vec_id),
       |p AS (
       |  SELECT e.embedding AS probe, bk.bucket AS p_bucket
       |  FROM e JOIN bk USING (vec_id) WHERE vec_id = $ProbeId),
       |flips AS (
       |  SELECT i FROM dots WHERE vec_id = $ProbeId
       |  ORDER BY ABS(d), i LIMIT $MultiProbeExtra),
       |probed AS (
       |  SELECT p_bucket AS pb FROM p
       |  UNION ALL
       |  SELECT CAST(xor(p_bucket, 1 << i) AS INT) FROM p, flips)
       |SELECT vec_id, label,
       |       ${graft.Det.r4Sql(s"($cos)")} AS cos
       |FROM e JOIN bk USING (vec_id), p
       |WHERE e.vec_id <> $ProbeId AND bk.bucket IN (SELECT pb FROM probed)
       |ORDER BY cos DESC, vec_id ASC
       |LIMIT 10""".stripMargin
  }

  override val oracles: Map[String, String] = Map(
    "q_kmeans" -> kmeansSql,
    "q_sim_ann_multiprobe" -> annMultiprobeSql,
    "q_sim_ann_indexed_multiprobe" -> annMultiprobeSql,
    "q_embed_project" -> embedProjectSql,
    "q_sim_ann_lsh" -> annLshSql,
    "q_sim_ann_indexed" -> annLshSql,
    "q_sim_ann_ivf" -> annIvfSql,
    "q_sim_ann_ivf_sq8" -> annIvfSq8Sql,
    "q_sim_ann_pq" -> annPqSql,
    "q_sim_ann_ivf_pq" -> annIvfPqSql,
    // the persisted twins run the SAME training + scoring math through
    // the committed index (order-preserving byte remap, exact float/
    // double parquet round-trips), so the same oracles gate them
    "q_sim_ann_nsw" -> annNswSql,
    "q_sim_ann_pq_persisted" -> annPqSql,
    "q_sim_ann_ivf_pq_persisted" -> annIvfPqSql,
    // the persisted path is the SAME quantizer + scoring with the
    // index round-tripped through parquet — the identical oracle
    // gates that the round trip is bit-exact
    "q_sim_ann_ivf_persisted" -> annIvfSql,
    "q_sim_search" ->
      """WITH p AS (SELECT embedding AS probe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       FLOOR((
        |         list_sum(list_transform(list_zip(e.embedding, p.probe),
        |                  t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
        |         / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |            * SQRT(list_sum(list_transform(p.probe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |       ) * 10000 + 0.5) / 10000 AS cos
        |FROM embeddings e, p
        |WHERE e.vec_id <> 0
        |ORDER BY cos DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "q_sim_ann_sq8" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |         list_max(list_transform(embedding,
        |                  x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, label,
        |         CASE WHEN amax = 0
        |              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(embedding,
        |                x -> CAST(FLOOR(CAST(x AS DOUBLE) / amax * 127.0 + 0.5) AS BIGINT))
        |         END AS qv
        |  FROM base),
        |n AS (
        |  SELECT vec_id, label, qv,
        |         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm
        |  FROM qq),
        |p AS (SELECT qv AS pq, qnorm AS pqnorm FROM n WHERE vec_id = 0)
        |SELECT n.vec_id, n.label,
        |       FLOOR((CASE WHEN n.qnorm = 0 OR p.pqnorm = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(list_zip(n.qv, p.pq),
        |                t -> t[1] * t[2])) AS DOUBLE)
        |              / SQRT(CAST(n.qnorm * p.pqnorm AS DOUBLE)) END)
        |         * 10000 + 0.5) / 10000 AS qcos
        |FROM n, p
        |WHERE n.vec_id <> 0
        |ORDER BY qcos DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "q_knn_classify" ->
      s"""WITH p AS (SELECT embedding AS probe FROM embeddings WHERE vec_id = 0),
         |top AS (
         |  SELECT vec_id, label,
         |         FLOOR((
         |           list_sum(list_transform(list_zip(e.embedding, p.probe),
         |                    t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
         |           / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |              * SQRT(list_sum(list_transform(p.probe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         |         ) * 10000 + 0.5) / 10000 AS cos
         |  FROM embeddings e, p
         |  WHERE e.vec_id <> 0
         |  ORDER BY cos DESC, vec_id ASC
         |  LIMIT 10)
         |SELECT label AS pred_label, COUNT(*) AS votes,
         |       ${graft.Det.r4Sql(graft.Det.davgSql("cos"))} AS mean_cos
         |FROM top
         |GROUP BY label
         |ORDER BY votes DESC, label ASC
         |LIMIT 1""".stripMargin,
  )
}

/** Shared DuckDB CTE builders for unrolled Lloyd oracles (q_kmeans,
  * q_dedup_semantic): one assignment CTE (sequential-fold squared
  * distance + first-wins argmin via ROW_NUMBER) and one update CTE
  * (DECIMAL(18,6)-exact per-(cluster,pos) means, empty clusters keep
  * their previous centroid). Requires a CTE `e(vec_id, embedding)`
  * in scope. */
private[ops] object LloydSql {
  def assign(cprev: String, name: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, cluster, d2,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |  FROM (SELECT e.vec_id, e.embedding, c.cluster,
       |               list_sum(list_transform(list_zip(e.embedding, c.mv),
       |                 t -> (CAST(t[1] AS DOUBLE) - t[2]) * (CAST(t[1] AS DOUBLE) - t[2]))) AS d2
       |        FROM e, $cprev c))""".stripMargin
  def update(aname: String, cprev: String, cname: String): String =
    s"""$cname AS (
       |  SELECT p.cluster, COALESCE(ml.mv, p.mv) AS mv
       |  FROM $cprev p LEFT JOIN (
       |    SELECT cluster, list(m ORDER BY pos) AS mv
       |    FROM (SELECT cluster, pos,
       |                 CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
       |          FROM (SELECT cluster, unnest(embedding) AS x,
       |                       generate_subscripts(embedding, 1) AS pos
       |                FROM $aname WHERE rn = 1)
       |          GROUP BY cluster, pos)
       |    GROUP BY cluster) ml ON ml.cluster = p.cluster)""".stripMargin
}
