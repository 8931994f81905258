package repobench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList, Executors, ExecutorService}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.verkada.{Json, VerkadaPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A seeded camera inventory, its lease list and stream grant, and
  * what one sync over them must do. */
final class Inventory(seed: Long) {
  import Inventory._
  private val r = new java.util.SplittableRandom(seed)
  private def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  val cameraIds: IndexedSeq[String] = (0 until Cameras).map(i => f"cam-$seed%x-$i%05d")
  val siteOf: Map[String, String] = {
    val order = shuffled(cameraIds.indices)
    cameraIds.indices.map(i => cameraIds(i) -> s"site-${order(i) % Sites}").toMap
  }
  val cameraJson: IndexedSeq[String] = cameraIds.map { id =>
    val site = siteOf(id)
    val lat = 30 + r.nextDouble() * 15
    val lon = -120 + r.nextDouble() * 40
    val ip = if (r.nextInt(4) == 0) "null" else s""""10.0.${r.nextInt(256)}.${r.nextInt(256)}""""
    s"""{"camera_id":"$id","cloud_retention":${30 * (1 + r.nextInt(3))},"date_added":${1600000000L + r.nextInt(100000000)},""" +
      s""""device_retention":${if (r.nextBoolean()) "null" else r.nextInt(90).toString},"firmware":"2.${r.nextInt(9)}",""" +
      s""""firmware_update_schedule":"auto","last_online":${1700000000L + r.nextInt(1000000)},"local_ip":$ip,""" +
      s""""location":"bldg ${r.nextInt(20)}","location_angle":${r.nextInt(360)}.0,"location_lat":$lat,""" +
      s""""location_lon":$lon,"mac":"aa:bb:${r.nextInt(100)}","model":"CD${40 + r.nextInt(30)}",""" +
      s""""name":"Camera $id","people_history_enabled":${r.nextBoolean()},"serial":"S-$id","site":"Site $site",""" +
      s""""site_id":"$site","status":"online","timezone":"UTC","vehicle_history_enabled":${r.nextBoolean()}}"""
  }

  /** Grant: whole sites, single cameras of other sites, and stale ids. */
  val grantSites: Set[String] = shuffled((0 until Sites).map(i => s"site-$i")).take(GrantedSites).toSet
  val grantCameras: Seq[String] = shuffled(cameraIds.filterNot(c => grantSites(siteOf(c))))
    .take(GrantedCameras) ++ (0 until 5).map(i => s"cam-gone-$i")
  val streamable: Set[String] =
    cameraIds.filter(c => grantSites(siteOf(c)) || grantCameras.contains(c)).toSet

  /** Initial lease list: valid, duplicate (a later lease for the same
    * camera), wrong-layer, and null-source_id leases. */
  final case class Lease(id: String, layer: Long, sourceId: Option[String])
  val leases: IndexedSeq[Lease] = {
    val cams = shuffled(cameraIds)
    val valid = cams.take(ValidLeases)
    val wrong = cams.slice(ValidLeases, ValidLeases + WrongLayer)
    val dups = shuffled(valid).take(Duplicates)
    val base = shuffled(valid.map(c => (LayerId, Option(c))) ++ wrong.map(c => (LayerId + 1, Option(c))) ++
      (0 until NullSource).map(_ => (LayerId, Option.empty[String])))
    (base ++ shuffled(dups.map(c => (LayerId, Option(c))))).zipWithIndex.map {
      case ((layer, src), i) => Lease(f"L$i%05d", layer, src)
    }
  }

  /** The lease a PATCH goes to: last page wins, then the larger id,
    * as the pipeline's dedup orders them. */
  val leaseOf: Map[String, String] = leases.zipWithIndex
    .collect { case (l, i) if l.layer == LayerId && l.sourceId.isDefined => (l, i / LeasePage + 1) }
    .groupBy(_._1.sourceId.get)
    .map { case (c, ls) => c -> ls.maxBy { case (l, page) => (page, l.id) }._1.id }

  /** Predicted (patch, post, hls-enriched) of a sync; the first sync
    * POSTs the streamable cameras without a lease, later ones PATCH. */
  def predict(first: Boolean): (Long, Long, Long) = {
    val leaseFor = streamable.toSeq.map(c => c -> (if (first) leaseOf.get(c) else Some(leaseOf.getOrElse(c, newLeaseId(c)))))
    val patch = leaseFor.count(_._2.isDefined)
    val hls = leaseFor.count { case (_, l) => l.forall(hasHls) } // a POST always enriches
    (patch.toLong, (streamable.size - patch).toLong, hls.toLong)
  }
}

object Inventory {
  val Cameras = 400
  val Sites = 10
  val GrantedSites = 3
  val GrantedCameras = 20
  val ValidLeases = 200
  val Duplicates = 30
  val WrongLayer = 40
  val NullSource = 10
  val LayerId = 7L
  val DevicePage = 100
  val LeasePage = 50

  def newLeaseId(camera: String): String = s"N-$camera"
  /** PATCH responses carry an HLS url unless the lease id hashes to 0 mod 5. */
  def hasHls(leaseId: String): Boolean = {
    val c = new java.util.zip.CRC32; c.update(leaseId.getBytes("UTF-8")); c.getValue % 5 != 0
  }
}

/** In-process stand-in for the Verkada and CloudTAK endpoints, with at
  * most `threads` handler threads. POSTed leases persist. */
final class Stub(inv: Inventory, threads: Int) {
  import Inventory._
  val devicePages = new AtomicLong
  val leasePages = new AtomicLong
  val patches = new AtomicLong
  val posts = new AtomicLong
  val submits = new AtomicLong
  val submitBytes = new AtomicLong
  val submittedFeatures = new AtomicLong
  val busyNs = new AtomicLong
  private val leases = new CopyOnWriteArrayList[inv.Lease](inv.leases.asJava)
  private val byId = new ConcurrentHashMap[String, inv.Lease]()
  inv.leases.foreach(l => byId.put(l.id, l))

  def counts: Seq[Long] = Seq(devicePages, leasePages, patches, posts, submits, submitBytes,
    submittedFeatures).map(_.get)
  def reset(): Unit = Seq(devicePages, leasePages, patches, posts, submits, submitBytes,
    submittedFeatures, busyNs).foreach(_.set(0))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b); ex.close()
  }
  private def handle(path: String)(f: HttpExchange => Unit): Unit =
    server.createContext(path, ex => {
      val t0 = System.nanoTime()
      try f(ex)
      catch { case e: Exception => respond(ex, 500, s"""{"err":"${e.getClass.getSimpleName}"}""") }
      finally busyNs.addAndGet(System.nanoTime() - t0)
    })
  /** PATCH response; POST responses always carry an HLS url. */
  private def hlsBody(leaseId: String) =
    if (hasHls(leaseId)) s"""{"protocols":{"hls":{"url":"https://hls.test/$leaseId.m3u8"}}}""" else "{}"

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)

  handle("/token")(ex => respond(ex, 200, """{"token":"tok-bench"}"""))
  handle("/cameras/v1/footage/token") { ex =>
    val cams = inv.grantCameras.map(c => s""""$c"""").mkString(",")
    val sites = inv.grantSites.toSeq.sorted.map(s => s""""$s"""").mkString(",")
    respond(ex, 200, s"""{"accessibleCameras":[$cams],"accessibleSites":[$sites],""" +
      """"expiration":2000000000,"expiresAt":2000000000,"jwt":"jwt+bench/=","permission":["live"]}""")
  }
  // cursor pages; the last page repeats its own token (the guard case)
  handle("/cameras/v1/devices") { ex =>
    devicePages.incrementAndGet()
    val q = java.net.URLDecoder.decode(Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
    val page = "page_token=cur (\\d+)\\+/=".r.findFirstMatchIn(q).map(_.group(1).toInt).getOrElse(1)
    val nPages = (Cameras + DevicePage - 1) / DevicePage
    val cams = inv.cameraJson.slice((page - 1) * DevicePage, page * DevicePage).mkString(",")
    val next = s"cur ${math.min(page + 1, nPages)}+/="
    respond(ex, 200, s"""{"cameras":[$cams],"next_page_token":${Json.mapper.writeValueAsString(next)}}""")
  }
  handle("/video/lease") { ex =>
    ex.getRequestMethod match {
      case "GET" =>
        leasePages.incrementAndGet()
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        def param(n: String) = s"$n=(\\d+)".r.findFirstMatchIn(q).map(_.group(1).toInt)
        val limit = param("limit").getOrElse(LeasePage)
        val page = param("page").getOrElse(1)
        val all = leases.asScala.toIndexedSeq
        val items = all.slice((page - 1) * limit, page * limit).map { l =>
          val src = l.sourceId.map(s => s""""$s"""").getOrElse("null")
          s"""{"id":"${l.id}","layer":${l.layer},"source_id":$src}"""
        }
        respond(ex, 200, s"""{"items":[${items.mkString(",")}],"total":${all.size}}""")
      case "POST" =>
        posts.incrementAndGet()
        val body = Json.parse(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        val cam = body.get("source_id").asText()
        val l = inv.Lease(newLeaseId(cam), LayerId, Some(cam))
        if (byId.putIfAbsent(l.id, l) == null) leases.add(l)
        respond(ex, 200, s"""{"protocols":{"hls":{"url":"https://hls.test/${l.id}.m3u8"}}}""")
      case _ => respond(ex, 405, "{}")
    }
  }
  handle("/video/lease/") { ex =>
    patches.incrementAndGet()
    ex.getRequestBody.readAllBytes()
    respond(ex, 200, hlsBody(ex.getRequestURI.getPath.split("/").last))
  }
  handle("/layer/") { ex =>
    val b = ex.getRequestBody.readAllBytes()
    submits.incrementAndGet()
    submitBytes.addAndGet(b.length)
    submittedFeatures.addAndGet(Json.mapper.readTree(b).get("features").size())
    respond(ex, 200, "{}")
  }
  server.start()

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** One scheduled Verkada sync as an item of the query mix: a full
  * `VerkadaPipeline.run` against the in-process stub. Its HTTP calls
  * and output are checked against what the generator predicts. */
final class Sync(ctx: Ctx) {
  import Inventory._
  private val spark = ctx.spark
  private var inv: Inventory = _
  private var stub: Stub = _
  private var cfg: VerkadaPipeline.Config = _
  private var syncs = 0
  private val totals = Array.fill(8)(0L)
  private var streamableSeen = 0L

  def prepare(): Unit = {
    inv = new Inventory(ctx.args.seed)
    stub = new Stub(inv, ctx.args.nproc)
    cfg = VerkadaPipeline.Config(apiBase = stub.base, serverBase = stub.base, apiKey = "bench",
      layerId = LayerId, leasePageSize = LeasePage)
  }

  def inputHash: String = QueryMix.sha256(
    (inv.cameraJson ++ inv.leases.map(_.toString) ++ inv.grantCameras ++ inv.grantSites.toSeq.sorted)
      .mkString("\n"))

  /** `run`'s stage functions in `run`'s own order, each in a span;
    * intermediate results are cached so each stage's HTTP happens
    * inside its own span and exactly once. */
  private def tracedRun(): (DataFrame, Long) = {
    val token = ctx.span("verkada.token")(VerkadaPipeline.fetchToken(cfg))
    val grant = ctx.span("verkada.grant")(VerkadaPipeline.fetchStreamGrant(cfg))
    val (ls, live) = ctx.span("verkada.scan") {
      val ls = VerkadaPipeline.leases(spark, cfg, token).cache()
      val cams = VerkadaPipeline.cameras(spark, cfg, token)
      val live = VerkadaPipeline.streamable(VerkadaPipeline.toFeatures(cams), grant).cache()
      ls.count(); live.count()
      (ls, live)
    }
    val res = ctx.span("verkada.upsert") {
      val res = VerkadaPipeline.upsertAndEnrich(live, ls, cfg, token, grant.jwt)
      res.features.cache().count()
      res
    }
    val enriched = res.features.cache()
    ctx.span("verkada.submit")(VerkadaPipeline.submit(enriched, cfg, token))
    (enriched, res.failureCount.value)
  }

  /** The timed part: one sync; returns its output and upsert failures. */
  def run(): (DataFrame, Long) = {
    stub.reset()
    ctx.span("verkada.sync") {
      if (ctx.args.trace) tracedRun()
      else { val o = VerkadaPipeline.run(spark, cfg); (o, VerkadaPipeline.lastFailures(spark)) }
    }
  }

  /** Checks the sync `run` just did; `timed` adds its stub counts to
    * the totals of the measured phase. */
  def check(out: DataFrame, upsertFailures: Long, timed: Boolean): Seq[String] = {
    val first = syncs == 0
    syncs += 1
    val (patch, post, hls) = inv.predict(first)
    val r = out.agg(count(lit(1)), count(col("properties.video")),
      sum(crc32(col("id").cast("binary")))).head()
    val idSum = inv.streamable.toSeq.map { c =>
      val h = new java.util.zip.CRC32; h.update(c.getBytes("UTF-8")); h.getValue
    }.sum
    val n = inv.streamable.size.toLong
    val checks = Seq(
      "device_pages" -> (stub.devicePages.get, ((Cameras + DevicePage - 1) / DevicePage).toLong),
      "patch" -> (stub.patches.get, patch), "post" -> (stub.posts.get, post),
      "submits" -> (stub.submits.get, 1L), "submitted_features" -> (stub.submittedFeatures.get, n),
      "output_rows" -> (r.getLong(0), n), "hls_enriched" -> (r.getLong(1), hls),
      "output_id_crc_sum" -> (r.getLong(2), idSum),
      "upsert_failures" -> (upsertFailures, 0L))
    if (timed) {
      val c = stub.counts
      for (j <- c.indices) totals(j) += c(j)
      totals(7) += stub.busyNs.get
      streamableSeen += n
    }
    checks.collect { case (k, (got, want)) if got != want => s"verkada_sync $k=$got expected $want" }
  }

  def layerMetrics(c: Ctx): Map[String, Double] = Map(
    "verkada.token_ms" -> c.tracer.spanMs("verkada.token"),
    "verkada.grant_ms" -> c.tracer.spanMs("verkada.grant"),
    "verkada.scan_ms" -> c.tracer.spanMs("verkada.scan"),
    "verkada.upsert_ms" -> c.tracer.spanMs("verkada.upsert"),
    "verkada.submit_ms" -> c.tracer.spanMs("verkada.submit"),
    "stub.device_pages" -> totals(0).toDouble,
    "stub.lease_pages" -> totals(1).toDouble,
    "stub.patch" -> totals(2).toDouble,
    "stub.post" -> totals(3).toDouble,
    "stub.submit_bytes" -> totals(5).toDouble,
    "stub.busy_ms" -> totals(7) / 1e6,
    "verkada.upserts_per_streamable" ->
      (if (streamableSeen == 0) 0.0 else (totals(2) + totals(3)).toDouble / streamableSeen))

  def report: Seq[String] = Seq(
    s"verkada inventory: cameras=$Cameras streamable=${inv.streamable.size} leases=${inv.leases.size} " +
      s"stub threads=${ctx.args.nproc}",
    s"stub totals over timed syncs: device_pages=${totals(0)} lease_pages=${totals(1)} " +
      s"patch=${totals(2)} post=${totals(3)} submits=${totals(4)} submit_bytes=${totals(5)} " +
      f"submitted_features=${totals(6)} busy_ms=${totals(7) / 1e6}%.1f")

  def close(): Unit = if (stub != null) stub.stop()
}
