package graft.tools

import org.apache.spark.sql.streaming.OutputMode

import graft.sources.SyslogSocket
import graft.streaming.Stitch

/** Throughput probe for the LIVE syslog leg (S27): N RFC5424 frames
  * over one real TCP connection → socket source → de-frame → stitch →
  * memory sink, reporting end-to-end lines/sec on the single receiver.
  * `runMain graft.tools.SocketBench [nLines]` (default 200000). At
  * production scale this slot is Kafka partitions; the number here is
  * the one-receiver ceiling of the socket path itself. */
object SocketBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = graft.Harness.session(defaultCpus = 8)
    import spark.implicits._

    def fr(i: Int): String = {
      val sec = i % 50 // event-time spread so the watermark advances
      f"<134>1 2024-01-01T00:${sec / 60}%02d:${sec % 60}%02dZ host postgres ${100 + i % 512} - - [$i-1] LOG:  statement $i executed"
    }
    // one closing wave far in the future drags the watermark past all
    // timeouts so every group flushes
    val waves = Seq(
      (0 until n).map(fr),
      Seq("<134>1 2024-01-01T01:00:00Z host postgres 9999 - - [0-1] LOG:  closer"))
    val server = new SyslogSocket.LineServer(waves, gapMs = 300L)
    val raw = SyslogSocket.stream(spark, "127.0.0.1", server.port)
    val stitched = Stitch(
      SyslogSocket.rawLines(raw)
        .withWatermark("ts", "3 seconds").as[Stitch.RawLine]).toDF()
    val t0 = System.nanoTime()
    val q = stitched.writeStream.format("memory").queryName("sock_bench")
      .outputMode(OutputMode.Append).start()
    try {
      val deadline = System.currentTimeMillis + 300000
      var count = 0L
      while (count < n && System.currentTimeMillis < deadline) {
        Thread.sleep(250)
        count = spark.table("sock_bench").count()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"SOCKET_BENCH lines=$count wall=$secs%.2f s rate=${count / secs}%.0f lines/s")
    } finally {
      q.stop()
      server.stop()
      spark.stop()
    }
  }
}
