package graft

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{HttpIngest, WeatherIngest}

/** S16 end-to-end: HTTP POST front door → spool dir → file streaming source
  * → the §3.1 ingest fan-out. Loopback only; mirrors the reference's
  * curl-able HttpDataFeedActor contract (plain and gz entities,
  * X-DATA-FEED feed naming). */
class HttpIngestSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def post(port: Int, body: Array[Byte],
      headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/weather/data"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    HttpClient.newHttpClient.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8")); gz.close()
    bos.toByteArray
  }

  test("front door: plain + gz POSTs spool atomically and feed the ingest pipeline") {
    val spool = Files.createTempDirectory("http-spool").toString
    val ingest = new HttpIngest(spool)
    val port = ingest.start()
    try {
      // plain entity, default feed name
      val r1 = post(port,
        ("724940:23234,2008,01,01,00,11.7,-0.6,1023.8,50,7.2,2,0.5,0.0\n" +
          "724940:23234,2008,01,01,01,11.9,-0.7,1023.9,60,7.1,2,0.25,0.0\n").getBytes("UTF-8"))
      assert(r1.statusCode() == 200 && r1.body().contains("accepted 2"))
      // gzip entity named by X-DATA-FEED, mixed with one corrupt line
      val r2 = post(port,
        gzip("725030:14732,2008,01,02,00,3.0,-2.0,1011.1,200,4.6,4,1.0,0.0\ngarbage\n"),
        Map("X-DATA-FEED" -> "2008.csv.gz", "Content-Encoding" -> "gzip"))
      assert(r2.statusCode() == 200 && r2.body().contains("accepted 2"))
      assert(ingest.acceptedLines == 4)
      // contract guards
      assert(HttpClient.newHttpClient.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/weather/data")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 405)
      assert(post(port, Array.emptyByteArray).statusCode() == 400)
      // spool files are visible (renamed into place), none in-flight
      val files = new java.io.File(spool).listFiles.map(_.getName)
      assert(files.length == 2 && files.forall(f => !f.startsWith(".")))

      // the spool dir IS the stream: run the §3.1 fan-out over it
      val rawOut = Files.createTempDirectory("http-raw").toString
      val qOut = Files.createTempDirectory("http-quar").toString
      val ckpt = Files.createTempDirectory("http-ckpt").toString
      val tables = Files.createTempDirectory("http-tables").toString
      val run = WeatherIngest.start(
        spark.readStream.format("text").load(spool), rawOut, qOut, ckpt, tables)
      run.awaitAll()
      assert(spark.read.parquet(rawOut).count() == 3) // 3 valid readings
      assert(spark.read.parquet(qOut).collect().map(_.getString(0)).toSeq == Seq("garbage"))
      val daily = run.dailySink.read(spark).collect()
        .map(r => (r.getAs[String]("wsid"), r.getAs[Int]("day")) ->
          r.getAs[Double]("precipitation")).toMap
      assert(daily(("724940:23234", 1)) == 0.75)
      assert(daily(("725030:14732", 2)) == 1.0)
    } finally ingest.stop()
  }

  test("front door: 413 over the cap, as sent or decoded; the next POST gets 200") {
    val spool = Files.createTempDirectory("http-spool-cap")
    val ingest = new HttpIngest(spool.toString)
    val port = ingest.start()
    try {
      val cap = HttpIngest.MaxEntityBytes
      // over the cap as sent: refused before any decode
      val r1 = post(port, new Array[Byte](cap + 1), Map("Content-Encoding" -> "gzip"))
      assert(r1.statusCode() == 413, r1.body())
      // a small gzip of zeros that decodes past the cap
      val zeros = {
        val bos = new ByteArrayOutputStream()
        val gz = new GZIPOutputStream(bos)
        val chunk = new Array[Byte](1 << 20)
        (0 to cap / chunk.length).foreach(_ => gz.write(chunk))
        gz.close()
        bos.toByteArray
      }
      assert(zeros.length < cap / 100)
      val r2 = post(port, zeros, Map("Content-Encoding" -> "gzip"))
      assert(r2.statusCode() == 413, r2.body())
      assert(Files.list(spool).count() == 0, "a refused POST spools nothing")
      val r3 = post(port, "724940:23234,2008,01,01,00,11.7,-0.6,1023.8,50,7.2,2,0.5,0.0\n".getBytes("UTF-8"))
      assert(r3.statusCode() == 200 && r3.body().contains("accepted 1"), r3.body())
      assert(ingest.acceptedLines == 1)
    } finally ingest.stop()
  }
}
