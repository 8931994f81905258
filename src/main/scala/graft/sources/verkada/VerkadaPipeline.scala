package graft.sources.verkada

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException}
import scala.jdk.CollectionConverters._

/** The reference pipeline (/root/reference/task.ts:93-286) re-expressed
  * as a Spark job over the DSv2 sources. Stage map (SURVEY.md §3.3):
  *
  *  1. OAuth + stream-token fetches (task.ts:97-106, 129-141) —
  *     driver-side setup, results broadcast via literals/isin.
  *  2. Lease scan (A2) — LeaseSource, parallel page partitions;
  *     filter to this layer + non-null source_id (A6, task.ts:122).
  *     Every matching lease is kept with its page; the dedup runs in
  *     stage 6.
  *  3. Camera scan (A3) — CameraSource cursor reader; FAILFAST
  *     from_json decode (A5).
  *  4. GeoJSON Feature projection (A8, task.ts:168-195).
  *  5. Permission semi-join (A10, task.ts:209-212).
  *  6. Left join against leases (A11), last-page-wins pick per
  *     camera row (A7, task.ts:121-125) → upsert PATCH-or-POST per
  *     camera (A15, task.ts:228-271) inside mapPartitions — all in
  *     one task with no shuffle; the reference's 20-concurrent
  *     fan-out (A14) becomes one async window of `concurrency`
  *     requests on the shared HTTP client.
  *  7. HLS enrichment of the feature (A16, task.ts:245-249).
  *  8. submit(): POST the FeatureCollection (A17, task.ts:280-285).
  */
object VerkadaPipeline {

  case class Config(
    apiBase: String,       // Verkada API base (reference API_Region host)
    serverBase: String,    // CloudTAK server base
    apiKey: String,
    layerId: Long,
    concurrency: Int = 20, // reference batch size, task.ts:201
    leasePageSize: Int = 50, // reference page size, task.ts:119
    orgId: String = "org",
    debug: Boolean = false, // reference DEBUG flag, task.ts:23-26
    // None = reference-faithful single FeatureCollection POST
    // (task.ts:280-285); Some(n) = chunked per-partition POSTs of at
    // most n features each — the scale path with no driver collect
    submitChunkSize: Option[Int] = None)

  object Config {
    /** The reference's API_Region enum (task.ts:15-22). */
    val Regions: Set[String] = Set("api", "api.eu", "api.au")

    /** Construction-time-validated counterpart of the reference's
      * TypeBox InputSchema (task.ts:8-27): API_KEY + API_ORG_ID
      * required, API_Region an enum with default 'api', DEBUG default
      * false. Fails fast on an invalid region instead of issuing
      * requests against a garbage host. */
    def fromInput(apiKey: String, orgId: String, serverBase: String, layerId: Long,
        region: String = "api", debug: Boolean = false): Config = {
      require(Regions.contains(region),
        s"API_Region must be one of ${Regions.toSeq.sorted.mkString(", ")}; got '$region'")
      require(apiKey.nonEmpty, "API_KEY must be non-empty")
      require(orgId.nonEmpty, "API_ORG_ID must be non-empty")
      Config(apiBase = s"https://$region.verkada.com", serverBase = serverBase,
        apiKey = apiKey, layerId = layerId, orgId = orgId, debug = debug)
    }
  }

  case class StreamGrant(accessibleCameras: Seq[String], accessibleSites: Seq[String], jwt: String)

  /** A1: OAuth token fetch (task.ts:97-106). */
  def fetchToken(cfg: Config): String = {
    val body = Json.parse(Json.send("POST", s"${cfg.apiBase}/token", "{}",
      Map("x-api-key" -> cfg.apiKey)))
    body.get("token").asText()
  }

  /** A4: stream-token fetch → permission sets + jwt (task.ts:129-141). */
  def fetchStreamGrant(cfg: Config): StreamGrant = {
    val body = Json.parse(Json.get(s"${cfg.apiBase}/cameras/v1/footage/token",
      Map("x-api-key" -> cfg.apiKey)))
    StreamGrant(
      body.get("accessibleCameras").elements().asScala.map(_.asText()).toSeq,
      body.get("accessibleSites").elements().asScala.map(_.asText()).toSeq,
      body.get("jwt").asText())
  }

  /** A2+A6: lease scan, filtered to this layer and a non-null
    * source_id — (lease_id, source_id, lease_page), every page fetched
    * in parallel. A camera may still have several leases here: the
    * last-page-wins pick (A7) runs in [[upsertAndEnrich]], on the
    * upsert's own partition, so the scan plans no shuffle. */
  def leases(spark: SparkSession, cfg: Config, token: String): DataFrame =
    spark.read.format(classOf[LeaseSource].getName)
      .option("url", s"${cfg.serverBase}/video/lease")
      .option("token", token)
      .option("pageSize", cfg.leasePageSize)
      .load()
      .filter(col("layer") === cfg.layerId && col("source_id").isNotNull)
      .select(col("id").as("lease_id"), col("source_id"), col("page").as("lease_page"))

  /** A5: FAILFAST schema-validated decode of raw camera JSON rows —
    * the one decode both the batch scan ([[cameras]]) and the
    * streaming micro-batches ([[runStream]]) go through. */
  def decodeCameras(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("json"), CameraSource.cameraSchema,
        Map("mode" -> "FAILFAST").asJava).as("c"))
      .select(col("c.*"))

  /** A3+A5: camera scan + FAILFAST schema-validated decode. */
  def cameras(spark: SparkSession, cfg: Config, token: String): DataFrame =
    decodeCameras(
      spark.read.format(classOf[CameraSource].getName)
        .option("url", s"${cfg.apiBase}/cameras/v1/devices")
        .option("token", token)
        .load())

  /** A5 PERMISSIVE twin of [[cameras]]: schema-mismatching records
    * are QUARANTINED (decoded struct null, raw json retained in a
    * side output) instead of failing the job — the posture a 100 TB
    * scan needs when one bad record must not kill the run. Returns
    * (valid decoded rows, quarantined raw rows). */
  def camerasQuarantine(spark: SparkSession, cfg: Config, token: String)
      : (DataFrame, DataFrame) = {
    // PERMISSIVE marks partially-decodable records via the declared
    // corrupt-record column (a bad field alone does NOT null the
    // whole struct, so a sentinel field test would miss it)
    val schema = CameraSource.cameraSchema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val decoded = spark.read.format(classOf[CameraSource].getName)
      .option("url", s"${cfg.apiBase}/cameras/v1/devices")
      .option("token", token)
      .load()
      .select(col("json"),
        from_json(col("json"), schema,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record").asJava).as("c"))
    val valid = decoded.filter(col("c._corrupt_record").isNull)
      .select(col("c.*")).drop("_corrupt_record")
    val quarantined = decoded.filter(col("c._corrupt_record").isNotNull)
      .select(col("json"))
    (valid, quarantined)
  }

  /** A8: camera → GeoJSON Feature projection (task.ts:168-195). */
  def toFeatures(cams: DataFrame): DataFrame =
    cams.select(
      col("camera_id").as("id"),
      lit("Feature").as("type"),
      struct(
        lit("b-m-p-s-p-loc").as("type"),
        lit("m-g").as("how"),
        col("name").as("callsign"),
        col("location_angle").as("course"),
        struct(
          lit(50).as("range"),
          col("location_angle").as("azimuth"),
          lit("Verkada").as("type"),
          col("model").as("model")).as("sensor"),
        concat_ws(",", array(lit(""))).as("remarks"),
        struct(cams.columns.map(col): _*).as("metadata")).as("properties"),
      struct(
        lit("Point").as("type"),
        array(col("location_lon"), col("location_lat")).as("coordinates")).as("geometry"),
      col("site_id"), col("model"), col("name").as("cam_name"))

  /** Above this many grant keys, [[streamable]] stops inlining them
    * as isin literals (plan bloat) and switches to the broadcast
    * semi-join formulation. */
  val GrantInlineLimit = 1000

  /** A10: streamable iff site or camera is in the grant
    * (task.ts:209-212). Small sets → isin compiles to an inline
    * membership test; large sets → [[streamableSemi]]. */
  def streamable(features: DataFrame, grant: StreamGrant): DataFrame =
    if (grant.accessibleSites.size + grant.accessibleCameras.size > GrantInlineLimit)
      streamableSemi(features, grant)
    else features.filter(
      col("site_id").isin(grant.accessibleSites: _*) ||
      col("id").isin(grant.accessibleCameras: _*))

  /** Large-grant variant of A10: the OR of two memberships as two
    * shuffle-free broadcast left-outer HASH joins against the distinct
    * site and camera keys, kept where either key matched — rather
    * than a single OR-condition join (which would plan as a
    * nested-loop) or a union of two branches (which would scan
    * `features` twice). Distinct keys match each row at most once, so
    * this is row-equivalent to the isin form for any grant. */
  def streamableSemi(features: DataFrame, grant: StreamGrant): DataFrame = {
    val s = features.sparkSession
    import s.implicits._
    val sites = broadcast(grant.accessibleSites.distinct.toDF("site_key"))
    val cams = broadcast(grant.accessibleCameras.distinct.toDF("cam_key"))
    features
      .join(sites, col("site_id") === col("site_key"), "left_outer")
      .join(cams, col("id") === col("cam_key"), "left_outer")
      .filter(col("site_key").isNotNull || col("cam_key").isNotNull)
      .drop("site_key", "cam_key")
  }

  /** A13: the stream proxy URL — 6 constant params + url-encoded jwt,
    * camera_id, org_id (task.ts:216-226) — built as a codegen'd
    * column expression, evaluated per row on executors. */
  def proxyUrl(cfg: Config, jwt: String): org.apache.spark.sql.Column =
    concat(
      lit(s"${cfg.apiBase}/stream/cameras/v1/footage/stream/stream.m3u8" +
        "?start_time=0&end_time=0&codec=hevc&resolution=high_res" +
        "&type=stream&transcode=false&jwt="),
      url_encode(lit(jwt)),
      lit("&camera_id="), url_encode(col("id")),
      lit("&org_id="), url_encode(lit(cfg.orgId)))

  /** The reference's TypeBox InputSchema (task.ts:8-27) as a Spark
    * StructType: required API_KEY / API_ORG_ID, the API_Region enum
    * and DEBUG defaults carried as field metadata. */
  val inputSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val regionMeta = new MetadataBuilder()
      .putString("default", "api")
      .putStringArray("enum", Config.Regions.toArray.sorted).build()
    val debugMeta = new MetadataBuilder().putBoolean("default", false).build()
    StructType(Seq(
      StructField("API_KEY", StringType, nullable = false),
      StructField("API_ORG_ID", StringType, nullable = false),
      StructField("API_Region", StringType, nullable = true, regionMeta),
      StructField("DEBUG", BooleanType, nullable = true, debugMeta)))
  }

  /** A18: schema discovery (task.ts:78-91) — (type, flow) dispatch
    * exactly as the reference: incoming+input → the config input
    * schema, incoming+output → the camera schema, any outgoing flow →
    * empty. */
  def discoverSchema(schemaType: String, flow: String = "incoming")
      : org.apache.spark.sql.types.StructType =
    if (flow != "incoming") new org.apache.spark.sql.types.StructType()
    else if (schemaType == "input") inputSchema
    else CameraSource.cameraSchema

  /** The two outputs of [[upsertAndEnrich]]: the enriched features
    * (successful upserts) and a quarantine side output of the rows
    * whose upsert failed — (camera_id, lease_id, error) — so a
    * caller can retry or alert on exactly what failed instead of just
    * knowing a tally (reference `task.ts:276` "TODO Surface errors"
    * swallows even that). `failureCount` is the executor-side
    * accumulator tally (cheap to read without running the quarantine
    * branch). Both frames read one cached upsert stage; [[unpersist]]
    * releases it once neither is needed. */
  case class UpsertResult(features: DataFrame, failed: DataFrame,
      failureCount: org.apache.spark.util.LongAccumulator)(stage: DataFrame) {
    def unpersist(): Unit = stage.unpersist()
  }

  /** A7+A11+A14+A15+A16: left-join leases, pick the last-page lease,
    * PATCH-or-POST upsert per camera, enrich the feature with the HLS
    * URL when the response carries one. The whole stage is one task:
    * `features` is coalesced to one partition (the camera scan is
    * already one, a cursor) and every row gets a key
    * before the broadcast left join; `row_number` over that key,
    * ordered by (lease_page desc, lease_id desc), keeps the lease on
    * the latest page, then the larger id (A7, task.ts:121-125). A
    * window over one partition plans no exchange, and a camera row
    * that appears twice stays two rows. The reference's 20-wide
    * `Promise.allSettled` batches (A14, task.ts:201-278) become a
    * sliding window of at most `cfg.concurrency` requests in flight on
    * the shared async [[Json.client]], emitting rows in input order as
    * the oldest request settles: the task thread only builds bodies
    * and parses replies, so the window, not the task count, sets the
    * throughput. Failures are counted AND captured row-by-row in a
    * quarantine side output (the reference swallows them — task.ts:276
    * TODO). The upsert stage is cached: both returned frames derive
    * from one pass, so consuming both never replays the HTTP calls. */
  def upsertAndEnrich(features: DataFrame, leasesDf: DataFrame, cfg: Config,
      token: String, jwt: String): UpsertResult = {
    require(cfg.concurrency > 0, s"upsert concurrency must be positive; got ${cfg.concurrency}")
    val spark = features.sparkSession
    val failures = spark.sparkContext.longAccumulator("graft.verkada.upsertFailures")
    val keyed = features.coalesce(1).withColumn("row_key", monotonically_increasing_id())
    val lastPage = Window.partitionBy("row_key")
      .orderBy(col("lease_page").desc, col("lease_id").desc)
    val joined = keyed
      .join(broadcast(leasesDf), keyed("id") === leasesDf("source_id"), "left_outer")
      .withColumn("rn", row_number().over(lastPage))
      .filter(col("rn") === 1)
      .drop("rn", "row_key", "lease_page")
      .withColumn("proxy", proxyUrl(cfg, jwt))

    val stringField = (n: String) => org.apache.spark.sql.types.StructField(
      n, org.apache.spark.sql.types.StringType, nullable = true)
    val schema = org.apache.spark.sql.types.StructType(
      joined.schema.fields :+ stringField("hls_url") :+ stringField("upsert_error"))
    val enc = org.apache.spark.sql.Encoders.row(schema)

    val raw = joined.mapPartitions { rows =>
      val headers = Json.bearer(token)
      def start(r: Row): CompletableFuture[String] = {
        // identical 7-field body for PATCH and POST (task.ts:230-260)
        val body = Json.mapper.createObjectNode()
        body.put("name", r.getAs[String]("cam_name"))
        body.put("duration", 3600L)
        body.put("source_id", r.getAs[String]("id"))
        body.put("source_type", "fixed")
        body.put("source_model", s"Verkada ${r.getAs[String]("model")}")
        body.put("proxy", r.getAs[String]("proxy"))
        try Option(r.getAs[String]("lease_id")) match {
          case Some(idv) => Json.sendAsync("PATCH",
            s"${cfg.serverBase}/video/lease/$idv", body.toString, headers)
          case None => Json.sendAsync("POST",
            s"${cfg.serverBase}/video/lease", body.toString, headers)
        } catch { case e: Exception => CompletableFuture.failedFuture[String](e) }
      }
      // allSettled per row: a failed request still emits its row
      def settle(r: Row, f: CompletableFuture[String]) = {
        val (hls, err) =
          try {
            val node = Json.parse(f.get())
            val h = if (node.has("protocols") && node.get("protocols").hasNonNull("hls"))
              node.get("protocols").get("hls").get("url").asText()
            else null
            (h, null: String)
          } catch { case e0: Exception =>
            // the exception send would have thrown, not its wrapper
            val e = e0 match {
              case w @ (_: ExecutionException | _: CompletionException) if w.getCause != null =>
                w.getCause
              case other => other
            }
            failures.add(1)
            (null: String, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
          }
        Row.fromSeq(r.toSeq :+ hls :+ err)
      }
      val inFlight = scala.collection.mutable.Queue.empty[(Row, CompletableFuture[String])]
      new Iterator[Row] {
        private def fill(): Unit =
          while (inFlight.size < cfg.concurrency && rows.hasNext) {
            val r = rows.next()
            inFlight.enqueue(r -> start(r))
          }
        override def hasNext: Boolean = { fill(); inFlight.nonEmpty }
        override def next(): Row = {
          fill()
          val (r, f) = inFlight.dequeue()
          settle(r, f)
        }
      }
    }(enc).cache()

    // reference semantics: a failed upsert still leaves its feature in
    // the output (Promise.allSettled, task.ts:278 — nothing is
    // removed), just without video enrichment; the quarantine is an
    // ADDITIONAL side output, not an exclusion
    val ok = raw
      .withColumn("properties",
        col("properties").withField("video",
          when(col("hls_url").isNotNull, struct(col("hls_url").as("url")))
            .otherwise(lit(null).cast("struct<url:string>"))))
      .select("id", "type", "properties", "geometry")
    val failed = raw.filter(col("upsert_error").isNotNull)
      .select(col("id").as("camera_id"), col("lease_id"),
        col("upsert_error").as("error"))
    UpsertResult(ok, failed, failures)(raw)
  }

  /** A17: submit the FeatureCollection to the layer endpoint
    * (task.ts:280-285). Two modes, selected by
    * [[Config.submitChunkSize]]:
    *  - None (default): reference-faithful single POST of the whole
    *    collection, materialized on the driver — fine at
    *    camera-inventory cardinality, and the only mode whose wire
    *    behavior matches task.ts exactly.
    *  - Some(n): [[submitPartitioned]] — each partition POSTs its
    *    features as chunked FeatureCollections of ≤ n, nothing ever
    *    crosses the driver. The mode a 100 TB feature set needs.
    * README ("Design for scale") surfaces this choice so large
    * deployments don't inherit the driver path silently.
    * Returns the number of features submitted. */
  def submit(features: DataFrame, cfg: Config, token: String): Int =
    cfg.submitChunkSize match {
      case Some(n) => submitPartitioned(features, cfg, token, n)
      case None =>
        val rows = features.toJSON.collect()
        val fc = s"""{"type":"FeatureCollection","features":[${rows.mkString(",")}]}"""
        Json.send("POST", s"${cfg.serverBase}/layer/${cfg.layerId}/features",
          fc, Json.bearer(token))
        rows.length
    }

  /** Scale variant of A17: executor-side chunked submit. The union of
    * all POSTed chunks is exactly the single-POST feature set (each
    * row lands in exactly one chunk of one partition). */
  def submitPartitioned(features: DataFrame, cfg: Config, token: String,
      chunk: Int): Int = {
    require(chunk > 0, s"submit chunk size must be positive; got $chunk")
    val sent = features.sparkSession.sparkContext
      .longAccumulator("graft.verkada.submittedFeatures")
    val url = s"${cfg.serverBase}/layer/${cfg.layerId}/features"
    val auth = Json.bearer(token)
    features.toJSON.foreachPartition { (it: Iterator[String]) =>
      it.grouped(chunk).foreach { batch =>
        val fc = s"""{"type":"FeatureCollection","features":[${batch.mkString(",")}]}"""
        Json.send("POST", url, fc, auth)
        sent.add(batch.size)
      }
    }
    sent.value.toInt
  }

  /** Full control() replay. Returns the enriched features. */
  def run(spark: SparkSession, cfg: Config): DataFrame = {
    val token = fetchToken(cfg)
    val grant = fetchStreamGrant(cfg)
    val ls = leases(spark, cfg, token)
    val cams = cameras(spark, cfg, token)
    val feats = toFeatures(cams)
    val live = streamable(feats, grant)
    val res = upsertAndEnrich(live, ls, cfg, token, grant.jwt)
    // a projection over the cached upsert stage: the submit and any
    // later action read that cache and never replay the HTTP calls
    val enriched = res.features
    submit(enriched, cfg, token)
    if (cfg.debug) // reference DEBUG=true prints results (task.ts:23-26)
      enriched.toJSON.collect().foreach(println)
    // always set (including 0) so a clean run clears a prior tally
    spark.sparkContext.setLocalProperty("graft.verkada.lastFailures",
      res.failureCount.value.toString)
    enriched
  }

  /** Last run's upsert-failure tally (0 if none). */
  def lastFailures(spark: SparkSession): Long =
    Option(spark.sparkContext.getLocalProperty("graft.verkada.lastFailures"))
      .map(_.toLong).getOrElse(0L)

  /** Streaming twin of [[run]]: the cursor device scan as a
    * MicroBatchStream (one API page per micro-batch,
    * [[CameraStreamSource]]) feeding THE SAME stage functions —
    * [[decodeCameras]] → [[toFeatures]] → [[streamable]] →
    * [[upsertAndEnrich]] — via foreachBatch, so the reference's
    * scheduled whole-snapshot job (task.ts:93) and the incremental
    * path cannot drift: there is one pipeline, batch chooses the
    * snapshot source and streaming chooses the cursor source. The
    * token and grant are fetched once per stream start; the lease
    * table is a lazy frame, so each micro-batch re-scans every lease
    * page and upserts against the current leases. `onBatch` receives
    * each micro-batch's enriched features (the caller submits, sinks,
    * or accumulates — a standing stream has no single end-of-run
    * FeatureCollection). `onBatch` must consume them before it
    * returns: its return releases the batch's cached upsert stage, so
    * a later action on them would send the upserts again.
    */
  def runStream(spark: SparkSession, cfg: Config, checkpoint: String)(
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val token = fetchToken(cfg)
    val grant = fetchStreamGrant(cfg)
    val ls = leases(spark, cfg, token)
    spark.readStream.format(classOf[CameraStreamSource].getName)
      .option("url", s"${cfg.apiBase}/cameras/v1/devices")
      .option("token", token)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batchUpsertSink(spark, cfg, checkpoint, ls, token, grant)(onBatch))
      .start()
  }

  /** The per-micro-batch sink of [[runStream]], factored out so the
    * replay contract is testable in isolation: foreachBatch is
    * at-least-once (a crash between the sink returning and Spark
    * writing the batch's commit log entry replays the batch with the
    * SAME batchId on recovery), and a replayed upsert of a camera
    * that POSTed last time would POST again — a duplicate lease, the
    * streaming analog of the duplicate-lease bug the reference fixed
    * in v1.17.0 (reference CHANGELOG.md:16). [[onceOnly]] closes the
    * window: the sink runs the upsert once per batchId and records
    * completion durably in the checkpoint, so replaying a COMPLETED
    * micro-batch performs zero HTTP calls and never re-delivers the
    * batch downstream (exactly-once from the sink's perspective; the
    * residual window — a crash inside the upsert itself — stays
    * at-least-once against the remote API, which only the API's own
    * transactionality could close). */
  private[verkada] def batchUpsertSink(spark: SparkSession, cfg: Config,
      checkpoint: String, ls: DataFrame, token: String, grant: StreamGrant)(
      onBatch: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => onceOnly(spark, checkpoint, batchId) {
      val live = streamable(toFeatures(decodeCameras(batch)), grant)
      val res = upsertAndEnrich(live, ls, cfg, token, grant.jwt)
      try onBatch(res.features) finally res.unpersist()
    }

  /** Run `body` once per (checkpoint, batchId): a completion marker is
    * committed via create-exclusive AFTER the body returns, and a
    * marked batch is skipped on replay. Markers live in the
    * checkpoint (one empty metadata file per micro-batch, the same
    * lifecycle as Spark's own commit log) and go through the Hadoop
    * FileSystem API so the ledger works wherever the checkpoint does
    * (local, HDFS, object store). */
  private[verkada] def onceOnly(spark: SparkSession, checkpoint: String,
      batchId: Long)(body: => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint, "graft-batch-commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, batchId.toString)
    if (!fs.exists(marker)) {
      body
      fs.mkdirs(dir)
      try fs.create(marker, false).close()
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
      // retention: a marker is only needed while Spark can still
      // replay its batch (bounded by the engine's own commit-log
      // retention, default ~100 batches) — without pruning, a
      // long-lived stream accretes one file per trigger forever.
      // Best-effort: a failed delete just retries next batch.
      val horizon = batchId - MarkerRetention
      if (horizon > 0 && fs.exists(dir)) {
        try fs.listStatus(dir).foreach { st =>
          val id = st.getPath.getName.toLongOption
          if (id.exists(_ < horizon)) fs.delete(st.getPath, false)
        } catch { case _: Throwable => () }
      }
    }
  }

  /** Markers older than this many batches behind the current one are
    * pruned — generously above Spark's default commit-log retention
    * (minBatchesToRetain = 100), the window within which a replay can
    * still occur. */
  private val MarkerRetention = 1000L
}
