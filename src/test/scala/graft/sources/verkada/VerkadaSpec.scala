package graft.sources.verkada

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Connector end-to-end tests against a stub HTTP server replaying
  * the FIXTURES.md §B fixtures: paginated leases (wrong-layer,
  * missing-source_id, duplicate-source_id rows), cursor-paginated
  * cameras including a NON-ADVANCING token page (task.ts:160-166
  * guard), permission grant with site-only/camera-only/unreachable
  * cameras, and upsert responses with and without protocols.hls.
  */
class VerkadaSpec extends SparkSpec {

  private def camJson(id: String, site: String, name: String, lat: Double, lon: Double): String =
    s"""{"camera_id":"$id","cloud_retention":30,"date_added":1700000000,
       |"device_retention":null,"firmware":"1.0","firmware_update_schedule":"auto",
       |"last_online":1700000500,"local_ip":null,"location":"hq","location_angle":45.0,
       |"location_lat":$lat,"location_lon":$lon,"mac":"aa:bb","model":"CD52",
       |"name":"$name","people_history_enabled":true,"serial":"S-$id","site":"Site $site",
       |"site_id":"$site","status":"online","timezone":"UTC",
       |"vehicle_history_enabled":false}""".stripMargin.replaceAll("\n", "")

  private val devicePages = new AtomicInteger(0)
  private val deviceQueries = new ConcurrentLinkedQueue[String]()
  private val patches = new ConcurrentLinkedQueue[String]()
  private val posts = new AtomicInteger(0)
  private val submitted = new ConcurrentLinkedQueue[String]()
  private val upsertBodies = new ConcurrentLinkedQueue[String]()
  // lease ids whose PATCH should 500 (failure-injection tests)
  private val failPatches = new ConcurrentLinkedQueue[String]()

  private def resetCounters(): Unit = {
    devicePages.set(0); deviceQueries.clear(); patches.clear(); posts.set(0)
    submitted.clear(); upsertBodies.clear(); failPatches.clear()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b); ex.close()
  }

  private def startServer(): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/token", ex => respond(ex, 200, """{"token":"tok123"}"""))
    server.createContext("/cameras/v1/footage/token", ex => respond(ex, 200,
      """{"accessibleCameras":["cam-3"],"accessibleSites":["site-A"],
        |"expiration":2000000000,"expiresAt":2000000000,"jwt":"jwt+x/y==",
        |"permission":["live"]}""".stripMargin.replaceAll("\n", "")))
    // cursor-paginated devices: p1 -> "p 2+/=" (reserved chars — must
    // arrive URL-encoded), p2 -> "p3", p3 -> "p3" (non-advancing: the
    // guard must stop the scan)
    server.createContext("/cameras/v1/devices", ex => {
      devicePages.incrementAndGet()
      // raw query string: encoded cursor must appear encoded on the wire
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      deviceQueries.add(q)
      val body =
        if (!q.contains("page_token"))
          s"""{"cameras":[${camJson("cam-1", "site-A", "Lobby", 39.1, -104.8)},
             |${camJson("cam-2", "site-B", "Dock", 39.2, -104.9)}],
             |"next_page_token":"p 2+/="}""".stripMargin.replaceAll("\n", "")
        else if (q.contains("page_token=p+2%2B%2F%3D"))
          s"""{"cameras":[${camJson("cam-3", "site-B", "Gate", 39.3, -105.0)},
             |${camJson("cam-4", "site-C", "Roof", 39.4, -105.1)}],
             |"next_page_token":"p3"}""".stripMargin.replaceAll("\n", "")
        else if (q.contains("page_token=p3"))
          s"""{"cameras":[${camJson("cam-5", "site-A", "Yard", 39.5, -105.2)}],
             |"next_page_token":"p3"}""".stripMargin.replaceAll("\n", "")
        else // unencoded/garbled cursor reached the server: fail loudly
          s"""{"cameras":[],"next_page_token":null}"""
      respond(ex, 200, body)
    })
    // offset-paginated leases: total=5 over pageSize=2 -> 3 pages.
    // Includes wrong-layer, null source_id, and duplicate source_id
    // (cam-1 on pages 1 and 3 — last page wins).
    server.createContext("/video/lease", ex => {
      ex.getRequestMethod match {
        case "GET" =>
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
          val page = "page=(\\d+)".r.findFirstMatchIn(q).map(_.group(1).toInt).getOrElse(1)
          val items = page match {
            case 1 => """{"id":"L1","layer":7,"source_id":"cam-1"},
                        |{"id":"L2","layer":99,"source_id":"cam-2"}""" // wrong layer
            case 2 => """{"id":"L3","layer":7,"source_id":null},
                        |{"id":"L4","layer":7,"source_id":"cam-3"}"""
            case _ => """{"id":"L9","layer":7,"source_id":"cam-1"}""" // dup, last wins
          }
          respond(ex, 200,
            s"""{"items":[${items.stripMargin.replaceAll("\n", "")}],"total":5}""")
        case "POST" =>
          posts.incrementAndGet()
          upsertBodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
          respond(ex, 200, """{"protocols":{"hls":{"url":"https://hls/new.m3u8"}}}""")
        case m => respond(ex, 405, s"""{"err":"$m"}""")
      }
    })
    // PATCH /video/lease/{id} — L9 responds WITHOUT protocols.hls
    // (enrichment guard, task.ts:245)
    server.createContext("/video/lease/", ex => {
      val id = ex.getRequestURI.getPath.split("/").last
      patches.add(id)
      upsertBodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      if (failPatches.contains(id)) respond(ex, 500, """{"err":"boom"}""")
      else if (id == "L9") respond(ex, 200, """{}""")
      else respond(ex, 200, s"""{"protocols":{"hls":{"url":"https://hls/$id.m3u8"}}}""")
    })
    server.createContext("/layer/", ex => {
      submitted.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      respond(ex, 200, """{}""")
    })
    // a devices endpoint with a type-corrupt camera row for FAILFAST
    server.createContext("/bad/cameras/v1/devices", ex => respond(ex, 200,
      """{"cameras":[{"camera_id":"cam-x","location_lat":"not-a-number"}],
        |"next_page_token":null}""".stripMargin.replaceAll("\n", "")))
    server.start()
    server
  }

  private def cfg(server: HttpServer) = {
    val base = s"http://localhost:${server.getAddress.getPort}"
    VerkadaPipeline.Config(apiBase = base, serverBase = base, apiKey = "k", layerId = 7,
      concurrency = 4, leasePageSize = 2)
  }

  test("full pipeline: scan, dedup, semi-join, upsert, enrich, submit") {
    val server = startServer()
    try {
      val c = cfg(server)
      val out = VerkadaPipeline.run(spark, c).collect().sortBy(_.getAs[String]("id"))

      // streamable: site-A cameras (cam-1, cam-5) + cam-3 by camera id;
      // cam-2/cam-4 excluded (A10 branches)
      assert(out.map(_.getAs[String]("id")).toSeq == Seq("cam-1", "cam-3", "cam-5"))

      // cursor guard: exactly 3 device pages fetched despite p3
      // repeating its token
      assert(devicePages.get() == 3)

      // upsert split: cam-1 has lease L9 (last-wins over L1!) -> PATCH;
      // cam-3 has L4 -> PATCH; cam-5 -> POST
      assert(patches.asScala.toSet == Set("L9", "L4"))
      assert(posts.get() == 1)

      // enrichment: L9's PATCH response had no protocols.hls -> cam-1
      // has no video field; cam-3 and cam-5 do
      def video(r: org.apache.spark.sql.Row): Option[String] = {
        val props = r.getAs[org.apache.spark.sql.Row]("properties")
        if (props.schema.fieldNames.contains("video") && props.getAs[AnyRef]("video") != null)
          Some(props.getAs[org.apache.spark.sql.Row]("video").getAs[String]("url"))
        else None
      }
      assert(video(out(0)).isEmpty)
      assert(video(out(1)).contains("https://hls/L4.m3u8"))
      assert(video(out(2)).contains("https://hls/new.m3u8"))

      // A13: proxy URL carries the 6 constants + url-encoded jwt,
      // camera_id, org_id (task.ts:216-226)
      val aBody = upsertBodies.asScala.find(_.contains("cam-3")).get
      val proxy = Json.parse(aBody).get("proxy").asText()
      assert(proxy.contains("/stream/cameras/v1/footage/stream/stream.m3u8?"))
      assert(proxy.contains("start_time=0") && proxy.contains("end_time=0")
        && proxy.contains("codec=hevc") && proxy.contains("resolution=high_res")
        && proxy.contains("type=stream") && proxy.contains("transcode=false"))
      assert(proxy.contains("jwt=jwt%2Bx%2Fy%3D%3D"))
      assert(proxy.contains("camera_id=cam-3"))
      // A18: schema discovery — (type, flow) dispatch as task.ts:78-91
      assert(VerkadaPipeline.discoverSchema("output") == CameraSource.cameraSchema)
      assert(VerkadaPipeline.discoverSchema("input") == VerkadaPipeline.inputSchema)
      assert(VerkadaPipeline.discoverSchema("input", "outgoing").isEmpty)
      assert(VerkadaPipeline.inputSchema("API_Region").metadata.getString("default") == "api")

      // submit: one FeatureCollection with the 3 features
      assert(submitted.size() == 1)
      val fc = Json.parse(submitted.peek())
      assert(fc.get("type").asText() == "FeatureCollection")
      assert(fc.get("features").size() == 3)
      // feature order is partition-dependent — look cam-1 up by id
      val f0 = fc.get("features").elements().asScala
        .find(_.get("id").asText() == "cam-1").get
      assert(f0.get("properties").get("type").asText() == "b-m-p-s-p-loc")
      assert(f0.get("geometry").get("coordinates").get(0).asDouble() == -104.8)
    } finally server.stop(0)
  }

  test("lease source plans one partition per page and keeps every lease") {
    val server = startServer()
    try {
      val c = cfg(server)
      val df = VerkadaPipeline.leases(spark, c, "tok123")
      assert(df.rdd.getNumPartitions == 3)
      val ls = df.collect()
      // layer filter drops L2; null source_id drops L3; both cam-1
      // leases stay, each with its page (the upsert picks L9)
      assert(ls.map(r => (r.getAs[String]("lease_id"), r.getAs[String]("source_id"),
        r.getAs[Int]("lease_page"))).toSet ==
        Set(("L1", "cam-1", 1), ("L4", "cam-3", 2), ("L9", "cam-1", 3)))
    } finally server.stop(0)
  }

  test("the upsert stage plans no shuffle: only broadcast exchanges") {
    val server = startServer()
    try {
      val c = cfg(server)
      val token = VerkadaPipeline.fetchToken(c)
      val grant = VerkadaPipeline.fetchStreamGrant(c)
      val live = VerkadaPipeline.streamable(
        VerkadaPipeline.toFeatures(VerkadaPipeline.cameras(spark, c, token)), grant)
      val res = VerkadaPipeline.upsertAndEnrich(live,
        VerkadaPipeline.leases(spark, c, token), c, token, grant.jwt)
      try {
        assert(res.features.collect().length == 3)
        // the plan string includes the cached stage's own plan
        val plan = res.features.queryExecution.executedPlan.toString
        val shuffles = plan.split("\n").filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
        assert(shuffles.isEmpty, plan)
        assert(plan.contains("InMemoryRelation") && plan.contains("BroadcastExchange"), plan)
      } finally res.unpersist()
    } finally server.stop(0)
  }

  test("a camera row listed twice stays two rows, both PATCH the last-page lease") {
    val server = startServer()
    try {
      resetCounters()
      import spark.implicits._
      val c = cfg(server)
      val row = camJson("cam-1", "site-A", "Lobby", 39.1, -104.8)
      val feats = VerkadaPipeline.toFeatures(VerkadaPipeline.decodeCameras(Seq(row, row).toDF("json")))
      val res = VerkadaPipeline.upsertAndEnrich(feats,
        VerkadaPipeline.leases(spark, c, "tok123"), c, "tok123", "jwt")
      try {
        // cam-1 has L1 (page 1) and L9 (page 3): one output row per input row
        assert(res.features.select("id").collect().map(_.getString(0)).toSeq == Seq("cam-1", "cam-1"))
        assert(patches.asScala.toSeq == Seq("L9", "L9"), patches.asScala.toSeq)
        assert(posts.get() == 0)
      } finally res.unpersist()
    } finally server.stop(0)
  }

  test("streaming cursor source: one page per micro-batch, guard drains the stream") {
    val server = startServer()
    resetCounters()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val stream = spark.readStream
        .format(classOf[CameraStreamSource].getName)
        .option("url", s"$base/cameras/v1/devices")
        .option("token", "tok123")
        .load()
      val q = stream.writeStream
        .format("memory")
        .queryName("cam_stream")
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        // the non-advancing p3 token must DRAIN the stream: exactly 3
        // HTTP pages fetched (the task.ts:160-166 guard, now in
        // latestOffset), never a 4th probe of the stuck cursor
        assert(devicePages.get() == 3, s"pages fetched: ${devicePages.get()}")
        val rows = spark.table("cam_stream").collect()
        assert(rows.length == 5)
        // one page per micro-batch: page ordinals 1..3 with 2/2/1 rows
        val byPage = rows.groupBy(_.getAs[Int]("page")).view.mapValues(_.length).toMap
        assert(byPage == Map(1 -> 2, 2 -> 2, 3 -> 1), byPage.toString)
        // payloads are the raw camera JSON, decodable by the batch schema
        val ids = rows.map(r => Json.parse(r.getAs[String]("json")).get("camera_id").asText())
        assert(ids.sorted.toSeq == Seq("cam-1", "cam-2", "cam-3", "cam-4", "cam-5"))
        // incremental: at least 3 distinct micro-batches committed
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
      } finally q.stop()
    } finally server.stop(0)
  }

  test("streaming cursor source: restart from checkpoint does not drop fresh pages") {
    val server = startServer()
    resetCounters()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "cam-ckpt").toString
      val seen = new ConcurrentLinkedQueue[Int]()
      def startQuery() = spark.readStream
        .format(classOf[CameraStreamSource].getName)
        .option("url", s"$base/cameras/v1/devices")
        .option("token", "tok123")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => seen.add(r.getAs[Int]("page")))
        }
        .start()
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      assert(seen.asScala.toSet == Set(1, 2, 3), seen.asScala.toSeq.toString)
      assert(seen.size() == 5)
      seen.clear()

      // Restart against the live cursor head (the API is not seekable,
      // so the stub re-serves its pages). The committed offset (page 3)
      // is restored from the checkpoint while a fresh stream instance
      // would start counting at 0: without seeding, every re-read page
      // lands at an ordinal <= 3, is never planned into a batch, and is
      // silently dropped. The fix numbers fresh pages 4, 5, 6.
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
      assert(seen.size() == 5,
        s"fresh pages dropped after restart: got ${seen.asScala.toSeq}; " +
          s"stub queries: ${deviceQueries.asScala.toSeq}")
      assert(seen.asScala.toSet == Set(4, 5, 6), seen.asScala.toSeq.toString)
      // both runs hit the non-advancing-token guard: 3 fetches each
      assert(devicePages.get() == 6, s"pages fetched: ${devicePages.get()}")
    } finally server.stop(0)
  }

  test("runStream composes the batch stages per micro-batch and converges to run()'s output") {
    val server = startServer()
    resetCounters()
    try {
      val c = cfg(server)
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "pipe-ckpt").toString
      val batches = new ConcurrentLinkedQueue[Seq[(String, Option[String])]]()
      def video(r: org.apache.spark.sql.Row): Option[String] = {
        val props = r.getAs[org.apache.spark.sql.Row]("properties")
        if (props.schema.fieldNames.contains("video") && props.getAs[AnyRef]("video") != null)
          Some(props.getAs[org.apache.spark.sql.Row]("video").getAs[String]("url"))
        else None
      }
      val cachedBefore = spark.sparkContext.getPersistentRDDs.size
      val q = VerkadaPipeline.runStream(spark, c, ckpt) { feats =>
        batches.add(feats.collect().toSeq.map(r => (r.getAs[String]("id"), video(r))))
      }
      try q.processAllAvailable() finally q.stop()
      // each micro-batch releases its cached upsert stage after onBatch
      val cachedAfter = spark.sparkContext.getPersistentRDDs.size
      assert(cachedAfter == cachedBefore, s"cached RDDs: $cachedBefore before, $cachedAfter after")
      // one micro-batch per API page; each page's streamable cameras
      // surface in ITS batch (page1: cam-1; page2: cam-3; page3: cam-5)
      val perBatch = batches.asScala.toSeq.filter(_.nonEmpty).map(_.map(_._1))
      assert(perBatch == Seq(Seq("cam-1"), Seq("cam-3"), Seq("cam-5")), perBatch.toString)
      // the union of micro-batch outputs IS the batch run's output:
      // same ids, same upsert split (cam-1's L9 PATCH returns no hls ->
      // unenriched; cam-3 PATCH; cam-5 POST), same enrichment
      val all = batches.asScala.flatten.toMap
      assert(all == Map(
        "cam-1" -> None,
        "cam-3" -> Some("https://hls/L4.m3u8"),
        "cam-5" -> Some("https://hls/new.m3u8")), all.toString)
      assert(patches.asScala.toSet == Set("L9", "L4"))
      assert(posts.get() == 1)
    } finally server.stop(0)
  }

  test("replaying a completed micro-batch into the stream upsert sink is exactly-once (no duplicate leases)") {
    val server = startServer()
    resetCounters()
    try {
      val c = cfg(server)
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "replay-ckpt").toString
      val token = VerkadaPipeline.fetchToken(c)
      val grant = VerkadaPipeline.fetchStreamGrant(c)
      val ls = VerkadaPipeline.leases(spark, c, token)
      val delivered = new AtomicInteger(0)
      val sink = VerkadaPipeline.batchUpsertSink(spark, c, ckpt, ls, token, grant)(
        feats => { feats.collect(); delivered.incrementAndGet(); () })
      // a micro-batch carrying cam-5 — NOT in the lease table, so the
      // upsert path POSTs a new lease for it
      import org.apache.spark.sql.Row
      val batch = spark.createDataFrame(
        java.util.List.of(Row(camJson("cam-5", "site-A", "Yard", 39.5, -105.2), 1)),
        CameraSource.schema)
      sink(batch, 42L)
      assert(posts.get() == 1, s"expected the first run to POST cam-5: ${posts.get()}")
      assert(delivered.get() == 1)
      val (postsAfterFirst, patchesAfterFirst) = (posts.get(), patches.size())
      // the crash window: Spark wrote our sink marker but died before
      // its own commit log entry — recovery re-runs foreachBatch with
      // the SAME batchId. Without the ledger this POSTs cam-5 AGAIN
      // (duplicate lease, the v1.17.0 bug's streaming analog).
      sink(batch, 42L)
      assert(posts.get() == postsAfterFirst,
        s"replayed batch re-POSTed a lease: ${posts.get()} vs $postsAfterFirst")
      assert(patches.size() == patchesAfterFirst,
        s"replayed batch re-PATCHed: ${patches.asScala.toSeq}")
      assert(delivered.get() == 1, "replayed batch re-delivered downstream")
      // a NEW batch id still processes (the ledger keys on batchId)
      sink(batch, 43L)
      assert(delivered.get() == 2)
      assert(posts.get() == postsAfterFirst + 1)
    } finally server.stop(0)
  }

  test("FAILFAST decode rejects a type-corrupt camera row") {
    val server = startServer()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/bad"
      val c = VerkadaPipeline.Config(base, base, "k", 7)
      val ex = intercept[Exception] {
        VerkadaPipeline.cameras(spark, c, "tok123").collect()
      }
      assert(ex.toString.contains("Malformed") || ex.getCause != null)
    } finally server.stop(0)
  }

  test("PERMISSIVE decode quarantines the corrupt row instead of failing") {
    val server = startServer()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/bad"
      val c = VerkadaPipeline.Config(base, base, "k", 7)
      val (valid, quarantined) = VerkadaPipeline.camerasQuarantine(spark, c, "tok123")
      assert(quarantined.count() == 1)
      // the raw json is preserved for replay/debugging
      assert(quarantined.head().getString(0).contains("not-a-number"))
      assert(valid.count() == 0)
    } finally server.stop(0)
  }

  test("chunked submit: N>1 POSTs reassemble to the single-POST feature set") {
    val server = startServer()
    try {
      resetCounters()
      val c = cfg(server).copy(submitChunkSize = Some(1))
      VerkadaPipeline.run(spark, c).collect()
      assert(submitted.size() > 1, s"expected chunked POSTs, got ${submitted.size()}")
      val ids = submitted.asScala.flatMap { fc =>
        val node = Json.parse(fc)
        assert(node.get("type").asText() == "FeatureCollection")
        node.get("features").elements().asScala.map(_.get("id").asText()).toSeq
      }.toSeq
      // exactly the single-POST set, each feature in exactly one chunk
      assert(ids.sorted == Seq("cam-1", "cam-3", "cam-5"))
    } finally server.stop(0)
  }

  test("upsert failure lands in the quarantine side output with its error") {
    val server = startServer()
    try {
      resetCounters()
      failPatches.add("L4") // cam-3's PATCH will 500
      val c = cfg(server)
      val token = VerkadaPipeline.fetchToken(c)
      val grant = VerkadaPipeline.fetchStreamGrant(c)
      val live = VerkadaPipeline.streamable(
        VerkadaPipeline.toFeatures(VerkadaPipeline.cameras(spark, c, token)), grant)
      val res = VerkadaPipeline.upsertAndEnrich(live,
        VerkadaPipeline.leases(spark, c, token), c, token, grant.jwt)
      val out = res.features.collect().sortBy(_.getAs[String]("id"))
      // reference semantics: the failed feature is still emitted (just
      // unenriched) — allSettled drops nothing
      assert(out.map(_.getAs[String]("id")).toSeq == Seq("cam-1", "cam-3", "cam-5"))
      val failedRows = res.failed.collect()
      assert(failedRows.length == 1)
      val f = failedRows.head
      assert(f.getAs[String]("camera_id") == "cam-3")
      assert(f.getAs[String]("lease_id") == "L4")
      // the async send raises send's own message, unwrapped from the
      // CompletionException: "<SimpleName>: PATCH <url> -> 500: <body>"
      assert(f.getAs[String]("error").startsWith(
        s"RuntimeException: PATCH ${c.serverBase}/video/lease/L4 -> 500"), f.getAs[String]("error"))
      assert(res.failureCount.value == 1L)
      // and cam-3 got no video enrichment
      val cam3 = out(1).getAs[org.apache.spark.sql.Row]("properties")
      assert(cam3.getAs[AnyRef]("video") == null)
    } finally server.stop(0)
  }

  test("upsert rejects a non-positive concurrency up front") {
    val c = VerkadaPipeline.Config("http://unused", "http://unused", "k", 7, concurrency = 0)
    val ex = intercept[IllegalArgumentException] {
      VerkadaPipeline.upsertAndEnrich(spark.emptyDataFrame, spark.emptyDataFrame, c, "t", "j")
    }
    assert(ex.getMessage.contains("upsert concurrency must be positive; got 0"), ex.getMessage)
  }

  test("upsert fan-out: more than one request in flight per task, never more than concurrency") {
    // its own stub with a pool wider than the window: the shared stub
    // has no executor, so it serves one request at a time
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.setExecutor(pool)
    server.createContext("/video/lease", ex => {
      val now = inFlight.incrementAndGet()
      maxInFlight.accumulateAndGet(now, math.max)
      try {
        val cam = Json.parse(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
          .get("source_id").asText()
        Thread.sleep(30)
        respond(ex, 200, s"""{"protocols":{"hls":{"url":"https://hls/$cam.m3u8"}}}""")
      } finally inFlight.decrementAndGet()
    })
    server.start()
    try {
      import spark.implicits._
      val dp = spark.sparkContext.defaultParallelism
      val base = s"http://localhost:${server.getAddress.getPort}"
      val c = VerkadaPipeline.Config(base, base, "k", 7, concurrency = 2 * dp)
      val ids = (0 until 64).map(i => f"cam-$i%02d")
      val feats = VerkadaPipeline.toFeatures(VerkadaPipeline.decodeCameras(
        ids.map(id => camJson(id, "site-A", s"Cam $id", 39.0, -105.0)).toDF("json")))
      val noLeases = Seq.empty[(String, String, Int)].toDF("lease_id", "source_id", "lease_page")
      val res = VerkadaPipeline.upsertAndEnrich(feats, noLeases, c, "tok", "jwt")
      val out = res.features.select(col("id"), col("properties.video.url")).collect()
        .map(r => r.getString(0) -> r.getString(1))
      assert(out.map(_._1).sorted.toSeq == ids)
      assert(out.forall { case (id, url) => url == s"https://hls/$id.m3u8" }, out.toSeq)
      assert(res.failureCount.value == 0L)
      assert(maxInFlight.get() <= c.concurrency, s"max in flight ${maxInFlight.get()}")
      // one sequential stream per task could not exceed the task slots
      assert(maxInFlight.get() > dp, s"max in flight ${maxInFlight.get()} with $dp slots")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("two syncs share one HTTP client") {
    // a client's selector thread dies once the client is collected, so
    // sample the live ones during the syncs instead of counting after
    def selectors(): Set[String] = Thread.getAllStackTraces.keySet.asScala
      .map(_.getName).filter(_.matches("HttpClient-\\d+-SelectorManager")).toSet
    val before = selectors()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) { selectors().foreach(seen.add); Thread.sleep(2) })
    sampler.setDaemon(true)
    val server = startServer()
    try {
      resetCounters()
      val c = cfg(server)
      sampler.start()
      VerkadaPipeline.run(spark, c).collect()
      VerkadaPipeline.run(spark, c).collect()
      assert(submitted.size() == 2)
    } finally { sampling = false; sampler.join(); server.stop(0) }
    val created = seen.asScala.toSet -- before
    assert(created.size <= 1, s"HTTP clients started by two syncs: ${created.toSeq.sorted}")
  }

  test("Config.fromInput validates the region enum and defaults") {
    val c = VerkadaPipeline.Config.fromInput("key", "org-1", "https://srv", 7)
    assert(c.apiBase == "https://api.verkada.com") // default region 'api'
    assert(!c.debug)                               // DEBUG default false
    val eu = VerkadaPipeline.Config.fromInput("key", "org-1", "https://srv", 7,
      region = "api.eu", debug = true)
    assert(eu.apiBase == "https://api.eu.verkada.com" && eu.debug)
    val bad = intercept[IllegalArgumentException] {
      VerkadaPipeline.Config.fromInput("key", "org-1", "https://srv", 7, region = "api.cn")
    }
    assert(bad.getMessage.contains("API_Region"))
    intercept[IllegalArgumentException] {
      VerkadaPipeline.Config.fromInput("", "org-1", "https://srv", 7)
    }
  }

  test("streamableSemi ≡ isin streamable, via broadcast hash joins") {
    val server = startServer()
    try {
      val c = cfg(server)
      val grant = VerkadaPipeline.fetchStreamGrant(c)
      val feats = VerkadaPipeline.toFeatures(
        VerkadaPipeline.cameras(spark, c, "tok123"))
      val viaIsin = VerkadaPipeline.streamable(feats, grant)
        .select("id").collect().map(_.getString(0)).toSet
      val semi = VerkadaPipeline.streamableSemi(feats, grant)
      resetCounters()
      val viaSemi = semi.select("id").collect().map(_.getString(0)).toSet
      assert(viaSemi == viaIsin && viaSemi == Set("cam-1", "cam-3", "cam-5"))
      // one walk of the camera cursor, not one per membership branch
      assert(devicePages.get() == 3, s"pages fetched: ${devicePages.get()}")
      // both memberships must plan as broadcast HASH joins — an
      // OR-condition formulation would degrade to nested-loop
      val plan = semi.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      // dispatch: a grant wider than the inline limit takes the semi path
      val wide = grant.copy(accessibleCameras =
        grant.accessibleCameras ++ (1 to VerkadaPipeline.GrantInlineLimit).map(i => s"x-$i"))
      val disp = VerkadaPipeline.streamable(feats, wide)
      assert(disp.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      assert(disp.select("id").collect().map(_.getString(0)).toSet == viaIsin)
    } finally server.stop(0)
  }

  test("camera source honors limit pushdown") {
    val server = startServer()
    try {
      val c = cfg(server)
      val n = VerkadaPipeline.cameras(spark, c, "tok123").limit(3).count()
      assert(n == 3)
    } finally server.stop(0)
  }
}
