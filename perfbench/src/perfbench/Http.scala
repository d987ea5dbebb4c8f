package perfbench

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI}

/** A blocking loopback HTTP client (keep-alive through the JDK's connection
  * cache). */
object Http {
  final case class Reply(code: Int, body: String)

  def get(url: String, timeoutMs: Int): Reply = call("GET", url, Map.empty, null, timeoutMs)

  def post(url: String, headers: Map[String, String], body: Array[Byte], timeoutMs: Int): Reply =
    call("POST", url, headers, body, timeoutMs)

  private def call(method: String, url: String, headers: Map[String, String],
      body: Array[Byte], timeoutMs: Int): Reply = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(timeoutMs)
    c.setReadTimeout(timeoutMs)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val out = c.getOutputStream
      try out.write(body) finally out.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val buf = new ByteArrayOutputStream()
    if (in != null) try in.transferTo(buf) finally in.close()
    Reply(code, buf.toString("UTF-8"))
  }
}
