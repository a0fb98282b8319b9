package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's HTTP client and its reply checks. */
object Http {
  val TimeoutS = 60

  /** One blocking GET on the calling thread (kept-alive connections are
    * reused), so a request costs the client no hand-off to other threads.
    */
  def get(port: Int, path: String): (Int, String) = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(TimeoutS * 1000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }

  /** The body of a 200 reply; anything else fails the op. */
  def expect200(reply: (Int, String)): String = reply match {
    case (200, body) => body
    case (code, body) => throw new IllegalStateException(s"HTTP $code: ${body.take(200)}")
  }

  /** A 200 reply byte-equal to `expected`. */
  def expectBody(reply: (Int, String), expected: String): String = {
    val body = expect200(reply)
    if (body != expected)
      throw new IllegalStateException("body differs from the 1-client body")
    body
  }
}
