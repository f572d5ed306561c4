package graft

import java.nio.file.{Files, Paths}

/** Benchmark entrypoint. Forces FULL materialization of every query
  * ([[Harness.force]]). A warmup query amortizes session / codegen
  * startup out of the per-query numbers, and queries run in
  * deterministic (sorted) order so per-round deltas are comparable.
  * `SPARK_GRAFT_ONLY` / `SPARK_GRAFT_SKIP` select entries
  * ([[Harness.selection]]); a one-entry run is the quick way to time a
  * single query.
  *
  * A throwing entry is recorded as failed, never timed: it is left out
  * of the timing maps and totals, listed under `failed` in the artifact
  * and counted as `n_failed` on the printed lines.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)

    def run(name: String): Unit =
      try { Harness.force(SparkEntry.queries(name)(spark, sfDir)); () }
      finally Harness.release(spark)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(Harness.selection())
    // a wall figure means something only next to the host state it was
    // measured under (load, throttled clock)
    val host = hostJson()
    println(s"""{"host":$host}""")
    // warmup: run the first query once to pay session/codegen startup
    names.headOption.foreach(n => try run(n) catch { case _: Throwable => () })

    // executor CPU / GC / shuffle-bytes alongside wall: wall on this
    // host is throttle-hostage (1.5-2x swings under identical code);
    // the executor-side deltas move only when the plan moves
    val metrics = new BenchMetrics(spark)
    val runs = names.map { name =>
      val before = metrics.snapshot()
      val t0 = System.nanoTime()
      val failure =
        try { run(name); None } catch { case e: Throwable => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      failure.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      (name, wall, metrics.snapshot() - before, failure.isEmpty)
    }
    val (ok, bad) = runs.partition(_._4)
    val walls = ok.map(r => r._1 -> r._2)
    val snaps = ok.map(_._3)
    val failed = bad.map(_._1)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    // the full-map line carries EVERY timed entry (never remove/rename —
    // humans and round artifacts compare the map across rounds); the
    // artifact file additionally carries the per-entry metric maps
    println(fullLine(walls, snaps, failed, sfDir))
    val fullIn =
      try {
        Files.writeString(Paths.get(outFile),
          artifact(walls, snaps, failed, host, sfDir) + "\n")
        Some(outFile)
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
        None
      }
    spark.stop()
    // LAST stdout line: a bounded (<1800 char) summary the per-round log
    // capture can actually hold — the capture keeps only a ~2,000-char
    // stdout tail, and the full-map line above (~7 KB at 212 entries)
    // starts outside that window every round (r13/r14 both unparsed).
    // Printed after spark.stop() so no Spark output can follow it.
    println(summaryLine(walls, snaps, failed, host, sfDir, fullIn))
  }

  /** Host state at run start: nproc, 1-min loadavg, and the mean current
    * CPU clock from /proc/cpuinfo (null where the file is unavailable). */
  def hostJson(): String = {
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val mhz = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines().filter(_.startsWith("cpu MHz"))
        .map(_.split(":")(1).trim.toDouble).toVector
      finally src.close()
    }.toOption.filter(_.nonEmpty)
      .fold("null")(v => f"${v.sum / v.size}%.0f")
    f"""{"nproc":${Runtime.getRuntime.availableProcessors},""" +
      f""""loadavg_1m":$load%.2f,"cpu_mhz":$mhz}"""
  }

  private def mapJson(rs: Seq[(String, String)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def toJson(rs: Seq[(String, Double)]): String =
    mapJson(rs.map { case (k, v) => k -> f"$v%.3f" })

  def totalsJson(ms: Seq[BenchMetrics.Snap]): String = {
    val cpu = ms.map(_.cpuSec).sum
    val gc = ms.map(_.gcSec).sum
    val sr = ms.map(_.shufReadMb).sum
    val sw = ms.map(_.shufWriteMb).sum
    f""""cpu_sec_total":$cpu%.3f,"gc_sec_total":$gc%.3f,""" +
      f""""shuffle_read_mb_total":$sr%.1f,"shuffle_write_mb_total":$sw%.1f"""
  }

  /** The fields every line starts with: total, counts and totals. */
  private def header(walls: Seq[(String, Double)],
      ms: Seq[BenchMetrics.Snap], failed: Seq[String]): String =
    s"""{"metric":"total","value":${walls.map(_._2).sum},"unit":"sec",""" +
      s""""n_queries":${walls.size},"n_failed":${failed.size},""" +
      s"""${totalsJson(ms)},"""

  def fullLine(walls: Seq[(String, Double)], ms: Seq[BenchMetrics.Snap],
      failed: Seq[String], sfDir: String): String =
    header(walls, ms, failed) +
      s""""queries":${toJson(walls)},"sf":"$sfDir"}"""

  /** The artifact: the full line plus one per-entry map per metric, the
    * failed entries and the host state. */
  def artifact(walls: Seq[(String, Double)], ms: Seq[BenchMetrics.Snap],
      failed: Seq[String], host: String, sfDir: String): String = {
    val names = walls.map(_._1)
    def doubles(f: BenchMetrics.Snap => Double) = toJson(names.zip(ms.map(f)))
    def counts(f: BenchMetrics.Snap => Long) =
      mapJson(names.zip(ms.map(m => f(m).toString)))
    header(walls, ms, failed) +
      s""""queries":${toJson(walls)},""" +
      s""""cpu_sec":${doubles(_.cpuSec)},""" +
      s""""gc_sec":${doubles(_.gcSec)},""" +
      s""""shuffle_read_mb":${doubles(_.shufReadMb)},""" +
      s""""shuffle_write_mb":${doubles(_.shufWriteMb)},""" +
      s""""input_mb":${doubles(_.inputMb)},""" +
      s""""jobs":${counts(_.jobs)},""" +
      s""""stages":${counts(_.stages)},""" +
      s""""tasks":${counts(_.tasks)},""" +
      s""""mem_spill_mb":${doubles(_.memSpillMb)},""" +
      s""""disk_spill_mb":${doubles(_.diskSpillMb)},""" +
      s""""peak_exec_mem_mb":${doubles(_.peakMemMb)},""" +
      s""""failed":${failed.map(Harness.jsonString)
        .mkString("[", ",", "]")},""" +
      s""""host":$host,"sf":"$sfDir"}"""
  }

  /** Bounded driver-facing summary: total + totals + the slowest entries
    * that fit under the length budget (at most 20), + the host state and
    * the artifact path carrying the complete per-entry maps (null when
    * the artifact could not be written, so the line never points at a
    * stale file). Guaranteed under 1,800 chars (asserted in
    * BenchLineSpec) so the whole line survives a ~2,000-char stdout tail
    * capture. */
  def summaryLine(walls: Seq[(String, Double)], ms: Seq[BenchMetrics.Snap],
      failed: Seq[String], host: String, sfDir: String,
      outFile: Option[String]): String = {
    val fullIn = outFile.fold("null")("\"" + _ + "\"")
    def line(k: Int): String = {
      val slowest = walls.sortBy(-_._2).take(k).sortBy(_._1)
      header(walls, ms, failed) +
        s""""queries":${toJson(slowest)},"host":$host,""" +
        s""""full_queries_in":$fullIn,"sf":"$sfDir"}"""
    }
    // shrink the map until the line fits; the fixed part alone is ~500
    // chars so k never has to reach 0 for realistic paths
    Iterator.range(20, -1, -1).map(line).find(_.length < 1800)
      .getOrElse(line(0))
  }
}
