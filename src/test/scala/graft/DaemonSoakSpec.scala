package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, GraftNative, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.streaming.{DaemonSoak, Scheduler}

/** The concurrent daemon composition (`runner/run.go:285-309`): ≥3 full
  * 600 s cycles of all four cadences from one SparkSession, with the
  * overlap-skip observed in the executed run, per-tick wire integrity,
  * deadline cancellation under an injected stall, session-level
  * memory stability across cycles, full snapshots that generate no
  * code once warm, and the prepared tick frames. */
class DaemonSoakSpec extends SparkSpec {

  // the JVM-wide generated-class count at the end of each full tick
  private val compilesAfterFull =
    new java.util.concurrent.ConcurrentSkipListMap[Long, Long]()

  // one full 3-cycle soak, shared by the assertions below
  private lazy val soak = {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    System.gc()
    val rt = Runtime.getRuntime
    val heapBefore = rt.totalMemory() - rt.freeMemory()
    val (rows, reports) = DaemonSoak.run(spark, Sf, onTickNanos = (t, _) =>
      if (t.cadence == Scheduler.Full) compilesAfterFull.put(t.fireAt,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
    // read before the GC: once its objects are collected, the context
    // cleaner would free an RDD the program left persisted
    val rddsAfter = sc.getPersistentRDDs.keySet
    System.gc()
    val heapAfter = rt.totalMemory() - rt.freeMemory()
    (rows, reports, rddsBefore, rddsAfter, heapBefore, heapAfter)
  }

  test("3 cycles: every planned tick of all four cadences ran to completion") {
    val (rows, reports, _, _, _, _) = soak
    val byCad = rows.groupBy(_.cadence).view.mapValues(_.size).toMap
    assert(byCad == Map(
      Scheduler.Activity -> 180, Scheduler.HighFreq -> 27,
      Scheduler.Full -> 3, Scheduler.LogDownload -> 60))
    assert(reports.size == 270)
    assert(rows.forall(_.outcome == "completed"))
    assert(rows.forall(_.wireOk), rows.filterNot(_.wireOk).take(3).toString)
  }

  test("overlap-skip fired: no high-freq tick on a full boundary; post-skip scrapes cover the doubled gap") {
    val (rows, _, _, _, _, _) = soak
    val hf = rows.filter(_.cadence == Scheduler.HighFreq).map(_.fireAt).sorted
    assert(hf.size == 27)
    assert(hf.forall(_ % Scheduler.FullPeriod != 0))
    // the fires right after the two interior skips exist (660, 1260):
    // their scrape windows span 120 s — the diff-against-previous-scrape
    // semantics under a skipped firing
    assert(hf.contains(660L) && hf.contains(1260L))
    assert(!hf.contains(600L) && !hf.contains(1200L))
  }

  test("memory stable across cycles: caches released, heap returns to baseline") {
    val (_, _, rddsBefore, rddsAfter, heapBefore, heapAfter) = soak
    // the soak's cached bases are released, and a full snapshot
    // releases what it caches: no RDD the soak persisted is left
    val left = rddsAfter -- rddsBefore
    assert(left.isEmpty, s"persistent RDDs left by the soak: $left")
    val growthMb = (heapAfter - heapBefore) / 1024 / 1024
    assert(growthMb < 512, s"driver heap grew ${growthMb} MB over 3 cycles")
  }

  test("full snapshots after the first generate no code") {
    soak
    val compiles = compilesAfterFull.values.asScala.toSeq
    assert(compiles.size == 3)
    // the assembly runs interpreted: from the end of the first full tick
    // to the end of the third, no cadence compiled a class
    assert(compiles.last == compiles.head,
      s"compilation count at the end of each full tick: $compiles")
  }

  test("deadline cancellation: a stalled tick is cancelled at its budget, later ticks still run") {
    // one 60 s window of the plan, tight budgets, first activity tick stalls
    val (rows, reports) = DaemonSoak.run(spark, Sf, tickBudgetMs = 100L,
      horizon = 60L, slowTick = Some(t =>
        t.cadence == Scheduler.Activity && t.fireAt == 10L))
    val act = rows.filter(_.cadence == Scheduler.Activity)
    assert(act.size == 6)
    assert(act.find(_.fireAt == 10L).get.outcome == "timed_out")
    // the stall neither starved nor failed the rest of the cadence
    assert(act.filter(_.fireAt > 10L).forall(_.outcome == "completed"))
    assert(reports.count(_.outcome == Scheduler.TimedOut) == 1)
  }

  test("compiled tick frames return the freshly planned rows of every tick, generating no code") {
    val horizon = 600L
    val sf001 = java.nio.file.Paths.get(Sf).resolveSibling("sf0.01").toString
    val live = new DaemonSoak.LiveServer(spark, sf001, horizon)
    try {
      val (ticks, windowStart) = DaemonSoak.plan(horizon)
      def sorted(rows: Array[Row]): Seq[Row] = rows.toSeq.sortBy(_.toString)
      Seq[(String, (Column, Column) => DataFrame)](
        Scheduler.Activity -> live.activity,
        Scheduler.HighFreq -> live.highFreq,
        Scheduler.LogDownload -> live.logs).foreach { case (cad, build) =>
        val windows = ticks.filter(_.cadence == cad).sortBy(_.fireAt)
          .map(t => (windowStart(t), t.fireAt))
        val rowsOf = DaemonSoak.prepared(build)
        // the tick session's conf reaches the tasks: interpreted
        // evaluation, so no tick compiles a class
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val got = windows.map { case (lo, hi) => rowsOf(lo, hi) }
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
          s"$cad ticks generated code")
        assert(got.exists(_.nonEmpty))
        windows.zip(got).foreach { case ((lo, hi), rows) =>
          assert(sorted(rows) == sorted(build(lit(lo), lit(hi)).collect()),
            s"$cad [$lo, $hi)")
        }
      }
    } finally live.release()
  }

  test("prepared ticks build no RDD and run one job each") {
    val sc = spark.sparkContext
    val live = new DaemonSoak.LiveServer(spark, Sf, 600L)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.properties.getProperty("spark.job.description"))
    }
    sc.addSparkListener(listener)
    try {
      Seq[(String, (Column, Column) => DataFrame)](
        Scheduler.Activity -> live.activity,
        Scheduler.HighFreq -> live.highFreq,
        Scheduler.LogDownload -> live.logs).foreach { case (cad, build) =>
        val rowsOf = DaemonSoak.prepared(build)
        rowsOf(0L, 10L)
        sc.setJobDescription(s"ticks $cad")
        val rddId = sc.emptyRDD[Int].id
        (1 to 10).foreach(i => rowsOf(10L * i, 10L * i + 10L))
        assert(sc.emptyRDD[Int].id == rddId + 1, s"$cad ticks built RDDs")
        // the listener bus is asynchronous: wait for a marker job
        sc.setJobDescription(s"marker $cad")
        sc.emptyRDD[Int].count()
        val deadline = System.nanoTime() + 30000000000L
        while (!started.contains(s"marker $cad") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(started.toArray.count(_ == s"ticks $cad") == 10, cad)
      }
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
      live.release()
    }
  }

  test("an unset job parameter fails the run, naming its key") {
    val k = "graft.test.unset"
    val frame = GraftNative.prepare(
      spark.range(5).toDF().filter(col("id") < GraftNative.param(k)), k)
    assert(frame.collect(k -> 3L).length == 3)
    val e = intercept[Exception](frame.collect())
    assert(org.apache.commons.lang3.exception.ExceptionUtils
      .getThrowableList(e).toArray.exists(_.toString.contains(s"'$k'")), e)
  }

  test("a build that ignores a bound, or reads one below an exchange, fails at prepare time") {
    val ignored = intercept[IllegalArgumentException](DaemonSoak.prepared(
      (_, hi) => spark.range(5).toDF().filter(col("id") < hi)))
    assert(ignored.getMessage.contains("holds no graft.soak.window.lo"),
      ignored.getMessage)
    val k = "graft.test.shuffled"
    // an adaptive plan (the spec's session), then a planned exchange
    Seq(spark, BoundedSession(spark)).foreach { s =>
      val e = intercept[IllegalArgumentException](GraftNative.prepare(
        s.range(5).toDF().filter(col("id") < GraftNative.param(k))
          .groupBy(col("id") % 2).count(), k))
      assert(e.getMessage.contains(s"one RDD computes $k once"), e.getMessage)
    }
  }
}
