package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's per-round log capture keeps only a ~2,000-char stdout
  * tail; the LAST line Bench prints must therefore be bounded, valid
  * JSON, and self-contained (rounds 13 and 14 both lost their PERF
  * ground truth to an over-long or prefixed contract line). */
class BenchLineSpec extends AnyFunSuite {

  // a 212-entry suite with deliberately long names and a zeroed
  // metrics row per entry (lengths are what is under test)
  private val walls: Seq[(String, Double)] =
    (1 to 212).map(i => (f"some_rather_long_query_name_family_$i%03d", i / 7.0))
  private val snaps: Seq[BenchMetrics.Snap] =
    walls.map(w => BenchMetrics.Snap((w._2 * 2e9).toLong, 12L, 1L << 20,
      1L << 21, 1L << 22))
  private val sf = "/root/testdata/sf0.1"
  private val out = "/tmp/bench.json"
  private val host = """{"nproc":4,"loadavg_1m":0.52,"cpu_mhz":2450}"""

  test("summary line stays under the 1800-char budget") {
    val line = Bench.summaryLine(walls, snaps, Nil, host, sf, Some(out))
    assert(line.length < 1800, s"line was ${line.length} chars")
  }

  test("summary line is a single JSON object with the contract fields") {
    val line = Bench.summaryLine(walls, snaps, Nil, host, sf, Some(out))
    assert(!line.contains("\n"))
    assert(line.startsWith("{") && line.endsWith("}"))
    for (f <- Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"",
        "\"n_queries\":212", "\"cpu_sec_total\":", "\"gc_sec_total\":",
        "\"shuffle_read_mb_total\":", "\"shuffle_write_mb_total\":",
        "\"queries\":{", s""""full_queries_in":"$out"""",
        s""""sf":"$sf""""))
      assert(line.contains(f), s"missing $f in $line")
    // balanced braces => the object closes (no truncation mid-map)
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("summary map holds the slowest entries, name-sorted") {
    val line = Bench.summaryLine(walls, snaps, Nil, host, sf, Some(out))
    val m = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(line).get.group(1)
    val keys = "\"([a-z_0-9]+)\":".r.findAllMatchIn(m).map(_.group(1)).toSeq
    assert(keys.size <= 20 && keys.nonEmpty)
    assert(keys == keys.sorted)
    val slowest = walls.sortBy(-_._2).take(keys.size).map(_._1).toSet
    assert(keys.toSet == slowest)
  }

  test("full line still carries every entry") {
    val line = Bench.fullLine(walls, snaps, Nil, sf)
    walls.foreach { case (k, _) => assert(line.contains("\"" + k + "\":")) }
  }

  test("pathologically long names still yield a sub-1800-char line") {
    val huge = (1 to 212).map(i => ("q" * 190 + i.toString, i / 7.0))
    val line = Bench.summaryLine(huge, snaps, Nil, host, sf, Some(out))
    assert(line.length < 1800, s"line was ${line.length} chars")
  }

  test("failed entries are counted and listed, never timed") {
    val failed = Seq("broken_entry", "other_broken")
    val line = Bench.summaryLine(walls, snaps, failed, host, sf, Some(out))
    assert(line.length < 1800, s"line was ${line.length} chars")
    assert(line.contains("\"n_failed\":2,"))
    assert(!line.contains("broken_entry"))
    val art = Bench.artifact(walls, snaps, failed, host, sf)
    assert(art.contains("\"failed\":[\"broken_entry\",\"other_broken\"]"))
    assert(art.contains("\"n_queries\":212,\"n_failed\":2,"))
    for (k <- Seq("queries", "cpu_sec", "jobs", "stages", "tasks",
        "mem_spill_mb", "disk_spill_mb", "peak_exec_mem_mb"))
      assert(art.contains(s"\"$k\":{\"${walls.head._1}\":"), s"no $k map")
    assert(art.count(_ == '{') == art.count(_ == '}'))
  }

  test("a failed artifact write nulls full_queries_in") {
    val line = Bench.summaryLine(walls, snaps, Nil, host, sf, None)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("full_queries_in").isNull)
    assert(!line.contains(out))
  }

  test("summary line carries the host state as one object") {
    val line = Bench.summaryLine(walls, snaps, Nil, host, sf, Some(out))
    assert(line.contains(s"\"host\":$host,"))
    assert(line.contains("\"n_failed\":0,"))
    val h = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.hostJson())
    assert(h.get("nproc").asInt > 0)
    assert(h.has("loadavg_1m") && h.has("cpu_mhz"))
  }
}
