package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.LocalHttp

/** The LIVE transport leg of the Heroku HTTPS log drain (S29,
  * `input/system/heroku/http_handler.go:13-32`): logplex POSTs
  * octet-framed syslog bodies to `/logs/<token>`; the reference's
  * handler pushes each body's messages onto a BOUNDED channel and
  * drops with a warning when the buffer is full
  * (`LogStreamBufferLen`, "Channel buffer exceeded, skipping
  * message").
  *
  * Spark shape: a receiver cannot be a Spark source directly, so the
  * handler appends each request body to a durable SPOOL (one file per
  * request, tmp-write + atomic move so the streaming file source never
  * sees a half-written body) and Spark tails the spool with a
  * `wholetext` file stream — the standard receiver → durable log →
  * stream bridge (at scale the spool is Kafka/Kinesis; everything
  * downstream of [[stream]] is unchanged). The channel bound maps to a
  * pending-spool cap: requests arriving while the spool backlog is at
  * `maxPending` are dropped and counted, the reference's backpressure
  * policy (W6: drop, don't buffer unboundedly). De-framing stays the
  * existing octet-counting walk ([[Syslog.herokuFrames]]). */
object HttpDrain {

  /** One spool file per accepted POST body; `.tmp` then atomic move. */
  final class Receiver(spoolDir: Path, maxPending: Int = 64) {
    Files.createDirectories(spoolDir)
    private val server = LocalHttp.server()
    val port: Int = server.getAddress.getPort
    private val seq = new AtomicLong(0L)
    private val droppedCount = new AtomicInteger(0)

    server.createContext("/logs/", (ex: HttpExchange) => {
      val out = new ByteArrayOutputStream()
      val is = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      val pending = spoolDir.toFile.listFiles((_, name) => name.endsWith(".body"))
      if (pending != null && pending.length >= maxPending) {
        // the reference's bounded-channel policy: drop, warn, move on
        droppedCount.incrementAndGet()
      } else {
        val id = seq.incrementAndGet()
        val tmp = spoolDir.resolve(f"drain-$id%012d.tmp")
        Files.write(tmp, out.toByteArray)
        Files.move(tmp, spoolDir.resolve(f"drain-$id%012d.body"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()

    def dropped: Int = droppedCount.get()
    def stop(): Unit = server.stop(0)
  }

  /** Tail the spool: one row (`value` = whole request body) per
    * accepted POST. */
  def stream(s: SparkSession, spoolDir: Path): DataFrame =
    s.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.body")
      .text(spoolDir.toString)

  /** POST one octet-framed body to a running receiver (test client). */
  def post(port: Int, path: String, body: String): Int = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val bytes = body.getBytes(UTF_8)
      conn.setFixedLengthStreamingMode(bytes.length)
      conn.getOutputStream.write(bytes)
      conn.getOutputStream.close()
      conn.getResponseCode
    } finally conn.disconnect()
  }
}
