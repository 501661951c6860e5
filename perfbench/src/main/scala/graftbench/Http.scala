package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** One load-generating client: its own HTTP/1.1 connection pool, so each
  * client thread holds one keep-alive connection to the facade. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  private val base = s"http://127.0.0.1:$port"

  def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(120)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  def post(path: String, body: String,
      contentType: String = "application/json"): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(120))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
}

object Http {
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
}
