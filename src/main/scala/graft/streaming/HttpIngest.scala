package graft.streaming

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPInputStream

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.LoopbackServer

/** S16 — the HTTP ingest front door (KafkaDataIngestionApp.scala:71-159,
  * HttpDataFeedActor + ClientHelper.scala:46-90): the reference accepts
  * `POST /weather/data` whose entity is raw CSV lines (or whose
  * `X-DATA-FEED` header names gz files), and publishes each line to the
  * Kafka topic its streaming app consumes.
  *
  * The Spark-first analog keeps the exact same contract on the wire —
  * `POST /weather/data`, plain or gzip entity, optional `X-DATA-FEED` feed
  * name — and lands each accepted body as an atomically-renamed file in a
  * SPOOL DIRECTORY that a `text` file streaming source watches (the repo's
  * declared zero-egress Kafka stand-in; the production form swaps the spool
  * write for a Kafka producer and [[WeatherIngest.kafkaLines]] on the
  * consuming side — the engine-side pipeline is identical either way).
  *
  * Scale/ops notes, mirroring the reference's design pressure points:
  *  - The front door does NO parsing — bad lines flow through to the
  *    stream's quarantine channel, so ingestion latency is IO-bound and a
  *    poison line can't 500 the feed (the reference's parser threw
  *    mid-batch instead, Weather.scala:93).
  *  - Spool files are written to a hidden temp name and atomically renamed
  *    into place: Spark's file source lists the directory between
  *    micro-batches, and a half-written visible file would be consumed
  *    truncated. Rename-into-place is the standard file-source handoff.
  *  - Binds the loopback interface only (this is a demo front door, not an
  *    authenticated service); JDK built-in HttpServer, zero dependencies,
  *    made by [[graft.LoopbackServer]] with TCP no-delay on.
  */
final class HttpIngest(spoolDir: String) {
  private val dir: Path = {
    val p = Paths.get(spoolDir)
    Files.createDirectories(p)
    p
  }
  private val seq = new AtomicLong(0L)
  private val accepted = new AtomicLong(0L)
  // Per-instance token baked into every spool filename: Spark's file source
  // tracks seen files BY PATH, so a restarted front door regenerating
  // `feed-0.csv` would atomically REPLACE a file the source already consumed
  // and the new content would never be ingested. Unique names per instance
  // make restarts append-only.
  private val instanceTag: String =
    java.lang.Long.toHexString(System.nanoTime()) +
      java.lang.Integer.toHexString(System.identityHashCode(this))
  @volatile private var server: HttpServer = _

  /** Lines accepted since start (across all feeds). */
  def acceptedLines: Long = accepted.get()

  /** Start on an ephemeral (or given) loopback port; returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "already started")
    server = LoopbackServer.create(port)
    server.createContext("/weather/data", new HttpHandler {
      override def handle(x: HttpExchange): Unit =
        try handleFeed(x)
        catch {
          // A truncated/garbage gzip body or an IO hiccup mid-read must
          // produce a clean 400, not an aborted connection with no status.
          case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
            try respond(x, 400, s"bad request: ${e.getClass.getSimpleName}")
            catch { case _: java.io.IOException => () } // response stream gone
        }
        finally x.close()
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  private def handleFeed(x: HttpExchange): Unit = {
    if (x.getRequestMethod != "POST") { respond(x, 405, "POST only"); return }
    val feed = Option(x.getRequestHeaders.getFirst("X-DATA-FEED"))
      .getOrElse("feed")
    val gz = Option(x.getRequestHeaders.getFirst("Content-Encoding"))
      .exists(_.equalsIgnoreCase("gzip")) || feed.endsWith(".gz")
    val raw = readCapped(x.getRequestBody, HttpIngest.MaxEntityBytes)
    if (raw == null) { respond(x, 413, "entity too large"); return }
    // the cap bounds the decoded body too: a small gzip can expand without
    // bound
    val decoded = if (!gz) raw else {
      val in = new GZIPInputStream(new ByteArrayInputStream(raw))
      try readCapped(in, HttpIngest.MaxEntityBytes) finally in.close()
    }
    if (decoded == null) { respond(x, 413, "decoded entity too large"); return }
    val body = new String(decoded, StandardCharsets.UTF_8)
    val lines = body.split("\n").iterator.map(_.stripSuffix("\r"))
      .filter(_.nonEmpty).toSeq
    if (lines.isEmpty) { respond(x, 400, "empty feed"); return }
    // atomic spool handoff: hidden temp name, then rename into place
    val n = seq.getAndIncrement()
    val safeFeed = feed.replaceAll("[^A-Za-z0-9._-]", "_").stripSuffix(".gz")
    val tmp = dir.resolve(s".inflight-$safeFeed-$instanceTag-$n")
    Files.write(tmp, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"$safeFeed-$instanceTag-$n.csv"),
      StandardCopyOption.ATOMIC_MOVE)
    accepted.addAndGet(lines.length)
    respond(x, 200, s"accepted ${lines.length}")
  }

  /** Buffer at most `cap` bytes; null signals the entity exceeded the cap
    * (distinguishable from an empty body, which is a valid 400 case).
    */
  private def readCapped(in: InputStream, cap: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8192)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size() > cap) return null
      n = in.read(buf)
    }
    out.toByteArray
  }

  private def respond(x: HttpExchange, code: Int, msg: String): Unit = {
    val b = (msg + "\n").getBytes(StandardCharsets.UTF_8)
    x.sendResponseHeaders(code, b.length)
    x.getResponseBody.write(b)
  }
}

object HttpIngest {
  /** Entity-size ceiling (64 MiB), on the bytes received and again on the
    * decoded body — the front door buffers both, so an unbounded POST is an
    * OOM vector.
    */
  val MaxEntityBytes: Int = 64 * 1024 * 1024
}
