package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.sys.process._
import scala.util.Try

import org.apache.spark.{ExecutorLostFailure, FetchFailed}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerExecutorRemoved, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent

import graft.{Harness, SparkEntry}

/** Executor-loss drill over registered entries. Each entry that
  * `SPARK_GRAFT_ONLY` / `SPARK_GRAFT_SKIP` select runs once clean, then
  * once more while one executor JVM is SIGKILLed as soon as the faulted
  * run has started half as many tasks as the clean run did. A finished
  * map output dies with its executor, so downstream stages hit
  * `FetchFailed` and re-run the lost map tasks on survivors; a
  * `localCheckpoint`ed block has no lineage to re-run and fails the
  * query. The standalone worker respawns the executor before the next
  * entry. One `DRILL <entry> PASS|FAIL …` line per entry ([[verdict]]);
  * the exit status is 1 on any FAIL.
  *
  * Executors need the packaged jar, so it runs under spark-submit:
  * {{{
  * sbt package
  * SPARK_GRAFT_ONLY=dedup_stream_index SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   /opt/spark/bin/spark-submit --master "local-cluster[2,2,2048]" \
  *   --driver-memory 2g --conf spark.executor.memory=1536m \
  *   --class graft.tools.Drill target/scala-2.13/collectorspark_2.13-0.1.0.jar
  * }}}
  */
object Drill {

  /** What a faulted run showed. Times are epoch ms; `lostTasks` counts
    * the run's tasks that ended in `ExecutorLostFailure` or
    * `FetchFailed`. */
  final case class Fault(killedPid: Option[Long], killedAt: Long,
      finishedAt: Long, execsRemoved: Int, lostTasks: Int)

  /** Why a faulted run does not prove recovery (empty: PASS). The kill
    * must land while the run is in flight and cost it tasks, and the
    * result must hash like the clean run's. */
  def verdict(clean: String, faulted: Either[String, String], f: Fault)
      : Seq[String] = Seq(
    Option.when(f.killedPid.isEmpty)("no executor killed"),
    Option.when(f.killedPid.nonEmpty && f.killedAt > f.finishedAt)(
      "kill landed after the run finished"),
    Option.when(f.execsRemoved == 0)("no executor-removed event"),
    Option.when(f.lostTasks == 0)("no task lost to the kill"),
    faulted match {
      case Left(e) => Some(s"faulted run failed: $e")
      case Right(h) => Option.when(h != clean)(s"hash $h != clean $clean")
    }).flatten

  /** Counts the events of tasks launched, and executors removed, since
    * the last `reset`. Task events are keyed on launch time, not on
    * delivery, so a late event of an earlier run is never counted. */
  private final class Probe extends SparkListener {
    @volatile private var since = Long.MaxValue
    val started, lost, removed, failedQueries = new AtomicInteger
    /** Running tasks per executor id. */
    val running = new ConcurrentHashMap[String, AtomicInteger]

    def reset(): Unit = {
      Seq(started, lost, removed, failedQueries).foreach(_.set(0))
      running.clear()
      since = System.currentTimeMillis()
    }
    override def onTaskStart(t: SparkListenerTaskStart): Unit =
      if (t.taskInfo.launchTime >= since) {
        started.incrementAndGet()
        running.computeIfAbsent(t.taskInfo.executorId,
          _ => new AtomicInteger).incrementAndGet()
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo.launchTime >= since) {
        Option(running.get(t.taskInfo.executorId)).foreach(_.decrementAndGet())
        t.reason match {
          case _: ExecutorLostFailure | _: FetchFailed => lost.incrementAndGet()
          case _ =>
        }
      }
    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
      if (e.time >= since) removed.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: QueryTerminatedEvent if q.exception.nonEmpty =>
        failedQueries.incrementAndGet()
      case _ =>
    }
  }

  /** Executor id → pid of this application's executor JVMs. */
  private def executorPids(appId: String): Map[String, Long] = {
    def arg(a: Seq[String], k: String) = a.indexOf(k) match {
      case -1 => None
      case i => a.lift(i + 1)
    }
    "jps -lm".!!.linesIterator.map(_.trim.split("\\s+").toSeq)
      .filter(a => a.lift(1).exists(_.endsWith(".CoarseGrainedExecutorBackend")) &&
        arg(a, "--app-id").contains(appId))
      .flatMap(a => arg(a, "--executor-id").map(_ -> a.head.toLong))
      .toMap
  }

  /** Polls `cond` for up to `secs`; whether it came true. */
  private def await(secs: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + secs * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
    cond
  }

  private def firstLine(e: Throwable): String =
    String.valueOf(e).linesIterator.nextOption().getOrElse("")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 4)
    val sc = spark.sparkContext
    require(sc.master.startsWith("local-cluster"),
      s"the drill needs separate executor JVMs, got ${sc.master}")
    val workers = sc.master.stripPrefix("local-cluster[").takeWhile(_ != ',')
      .trim.toInt
    def executors = sc.statusTracker.getExecutorInfos.length - 1 // the driver
    val probe = new Probe
    sc.addSparkListener(probe)

    val passed = SparkEntry.queries.keys.toSeq.sorted
      .filter(Harness.selection()).map { name =>
        def run(): String =
          try String.valueOf(Harness.force(SparkEntry.queries(name)(spark, sfDir)))
          finally Harness.release(spark)
        require(await(120)(executors == workers),
          s"$executors of $workers executors up before $name")
        probe.reset()
        val clean = Try(run())
        val cleanTasks = probe.started.get
        val (why, detail) = clean.fold(
          e => (Seq(s"clean run failed: ${firstLine(e)}"), ""), { h =>
          // resolved before the run, so the kill costs no process listing
          val pids = executorPids(sc.applicationId)
          val killAt = math.max(1, cleanTasks / 2)
          val done = new AtomicBoolean(false)
          var killed = Option.empty[Long]
          var killedAt = Long.MaxValue
          val killer = new Thread(() => {
            while (!done.get && probe.started.get < killAt) Thread.sleep(5)
            // the executor running the most of this run's tasks
            val busiest = pids.keys.maxByOption(id =>
              Option(probe.running.get(id)).fold(0)(_.get))
            if (!done.get) busiest.map(pids).foreach { pid =>
              killedAt = System.currentTimeMillis()
              if (ProcessHandle.of(pid).map(_.destroyForcibly()).orElse(false))
                killed = Some(pid)
            }
          }, "drill-executor-killer")
          killer.setDaemon(true)
          probe.reset()
          killer.start()
          val faulted = Try(run()).toEither.left.map(firstLine)
          val finishedAt = System.currentTimeMillis()
          done.set(true)
          killer.join()
          // the removed event and the respawn trail the kill by seconds
          if (killed.nonEmpty)
            await(60)(probe.removed.get > 0 && executors == workers)
          val fault = Fault(killed, killedAt, finishedAt, probe.removed.get,
            probe.lost.get)
          (verdict(h, faulted, fault),
            s" tasks=$cleanTasks kill_at=$killAt " +
            s"pid=${killed.getOrElse("-")} removed=${fault.execsRemoved} " +
            s"lost_tasks=${fault.lostTasks} " +
            s"query_failures=${probe.failedQueries.get} hash=$h")
        })
        println(s"DRILL $name " +
          (if (why.isEmpty) "PASS" else "FAIL") + detail +
          why.map("; " + _).mkString)
        why.isEmpty
      }
    spark.stop()
    if (passed.contains(false)) sys.exit(1)
  }
}
