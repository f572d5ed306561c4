package graft.tools

import java.util.concurrent.ConcurrentHashMap

import graft.streaming.{DaemonSoak, Scheduler}

/** Per-tick deadline-headroom measurement for the daemon soak (round-15
  * verdict item #7): runs the real four-cadence soak against a given sf
  * dir (default the 10× ScaleUp corpus) at the DEPLOYMENT budget of one
  * real second per virtual second (`tickBudgetMs = 1000`, i.e. a 10 s
  * activity tick must finish inside 10 s), and reports per cadence the
  * tick-wall distribution against the cadence period — the evidence that
  * the ~180 ms/tick optimize+plan cost the soak deliberately keeps (no
  * physical-plan caching across ticks) still leaves real headroom with
  * realistic payloads.
  *
  * Usage: `runMain graft.tools.DaemonHeadroom [sfDir]`; writes
  * /tmp/daemon_headroom.json.
  */
object DaemonHeadroom {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val spark = graft.Harness.session(defaultCpus = 32)

    val periods = Map(
      Scheduler.Activity -> Scheduler.ActivityPeriod,
      Scheduler.HighFreq -> Scheduler.HighFreqPeriod,
      Scheduler.Full -> Scheduler.FullPeriod,
      Scheduler.LogDownload -> Scheduler.LogDownloadPeriod)

    val tickWalls = new ConcurrentHashMap[String, Vector[Double]]()
    val (rows, reports) = DaemonSoak.run(spark, sfDir, tickBudgetMs = 1000L,
      onTickNanos = (t, n) =>
        tickWalls.merge(t.cadence, Vector(n / 1e9), (a, b) => a ++ b))

    val timedOut = reports.count(_.outcome == Scheduler.TimedOut)
    val sb = new StringBuilder(
      s"""{"sf":"$sfDir","tick_budget_ms_per_s":1000,""" +
        s""""n_ticks":${rows.size},"timed_out":$timedOut,"cadences":{""")
    var first = true
    tickWalls.forEach { (cad, walls) =>
      val s = walls.sorted
      def pct(p: Double) = s(math.min(s.size - 1, (p * s.size).toInt))
      val budget = periods(cad).toDouble
      if (!first) sb.append(",")
      first = false
      sb.append(f""""$cad":{"n":${s.size},"budget_s":$budget%.0f,""" +
        f""""p50_s":${pct(0.5)}%.3f,"p95_s":${pct(0.95)}%.3f,""" +
        f""""max_s":${s.last}%.3f,""" +
        f""""min_headroom_s":${budget - s.last}%.3f,""" +
        f""""p95_headroom_s":${budget - pct(0.95)}%.3f}""")
      println(f"HEADROOM $cad%-14s n=${s.size}%3d budget=$budget%5.0f s " +
        f"p50=${pct(0.5)}%6.3f s p95=${pct(0.95)}%6.3f s max=${s.last}%6.3f s " +
        f"min_headroom=${budget - s.last}%7.3f s")
    }
    sb.append("}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/daemon_headroom.json"),
      sb.toString + "\n")
    println(s"HEADROOM map written: /tmp/daemon_headroom.json " +
      s"(timed_out=$timedOut of ${rows.size} ticks)")
    spark.stop()
  }
}
