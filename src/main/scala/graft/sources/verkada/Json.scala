package graft.sources.verkada

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.CompletableFuture

/** Minimal HTTP + JSON plumbing for the connector (driver and
  * executor side). Jackson ships on Spark's classpath; the JDK
  * HttpClient needs no extra dependency.
  */
object Json {
  val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** The bearer `Authorization` header for `token`; no header when
    * the token is empty. */
  private[verkada] def bearer(token: String): Map[String, String] =
    if (token.isEmpty) Map.empty else Map("Authorization" -> s"Bearer $token")

  /** The one HTTP client of this JVM, shared by every driver-side
    * call and every task. The JDK client is thread-safe and pools
    * connections; its selector and worker threads are daemons, so it
    * needs no shutdown. */
  lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  def get(url: String, headers: Map[String, String]): String = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    checked("GET", url, client.send(b.build(), HttpResponse.BodyHandlers.ofString()))
  }

  def send(method: String, url: String, body: String, headers: Map[String, String]): String =
    checked(method, url, client.send(request(method, url, body, headers),
      HttpResponse.BodyHandlers.ofString()))

  /** [[send]] without blocking: the future fails with the exception
    * `send` would throw, wrapped by `get`/`join`. Building the request
    * may throw synchronously. */
  def sendAsync(method: String, url: String, body: String,
      headers: Map[String, String]): CompletableFuture[String] =
    client.sendAsync(request(method, url, body, headers), HttpResponse.BodyHandlers.ofString())
      .thenApply(resp => checked(method, url, resp))

  private def request(method: String, url: String, body: String,
      headers: Map[String, String]): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
    headers.foreach { case (k, v) => b.header(k, v) }
    b.build()
  }

  private def checked(method: String, url: String, resp: HttpResponse[String]): String = {
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"$method $url -> ${resp.statusCode()}: ${resp.body().take(200)}")
    resp.body()
  }
}
