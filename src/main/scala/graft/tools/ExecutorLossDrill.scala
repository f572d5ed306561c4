package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.functions._

/** Executor-loss drill — run under a multi-JVM master:
  *
  * {{{
  * sbt package
  * /opt/spark/bin/spark-submit --master "local-cluster[3,4,4096]" \
  *   --driver-memory 4g --class graft.tools.ExecutorLossDrill \
  *   target/scala-2.13/collectorspark_2.13-0.1.0.jar
  * }}}
  *
  * At 1000 executors, losing WHOLE executors mid-query is routine (spot
  * reclamation, OOM kills, hardware) and costs more than a task retry:
  * the dead executor's finished shuffle map outputs die with it, so
  * downstream reducers hit FetchFailed and Spark must re-run the lost
  * map tasks on survivors. [[graft.TaskRetrySpec]] proves single-task
  * retry invariance; this drill proves the bigger fault: it computes a
  * baseline result, re-runs the same query while SIGKILLing a live
  * executor JVM mid-stage, and requires (a) the executor-removed event,
  * (b) the job to finish on survivors (standalone workers respawn the
  * executor), and (c) a bit-identical result hash.
  *
  * The query is a shuffle-heavy self-join aggregate over synthesized
  * data (deterministic, needs no testdata mount on executors), sized so
  * the map stage runs long enough for the kill to land mid-flight.
  */
object ExecutorLossDrill {

  def main(args: Array[String]): Unit = {
    // the kill loses finished map outputs → FetchFailed → stage retry;
    // keep the defaults for task/stage retry so the drill exercises the
    // production recovery path
    val spark = graft.Harness.session(defaultCpus = 4,
      Seq("spark.sql.shuffle.partitions" -> "24"),
      fallbackMaster = Some("local-cluster[3,4,4096]"))
    val master = spark.sparkContext.master
    require(master.startsWith("local-cluster"),
      s"drill needs separate executor JVMs, got $master")

    val tasksStarted = new AtomicInteger
    val tasksFailed = new AtomicInteger
    val execsRemoved = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        tasksStarted.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason.toString != "Success") tasksFailed.incrementAndGet()
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        execsRemoved.incrementAndGet()
    })

    def query(): java.math.BigDecimal = {
      // two shuffle stages (groupBy, then join+agg) over 2M synthetic
      // rows; md5 payloads defeat shuffle compression so map outputs
      // are big enough that losing them visibly costs a stage re-run
      val base = spark.range(0, 2000000, 1, 48).select(
        pmod(col("id"), lit(9973)).as("k"),
        md5(col("id").cast("string")).as("p"))
      val agg = base.groupBy("k")
        .agg(count(lit(1)).as("n"), max("p").as("mx"))
      base.join(agg, "k")
        .agg(sum(xxhash64(col("k"), col("p"), col("n"), col("mx"))
          .cast("decimal(38,0)")).as("h"))
        .head().getDecimal(0)
    }

    println("DRILL baseline run...")
    val baseline = query()

    // the killer: wait for the re-run's map stage to be in flight, then
    // SIGKILL one executor JVM (never the driver — match the backend
    // main class, which only executor JVMs run)
    val startedAt = tasksStarted.get
    val killed = new AtomicBoolean(false)
    val killedPid = new AtomicLong(-1L)
    val killer = new Thread(() => {
      while (tasksStarted.get < startedAt + 8) Thread.sleep(20)
      import scala.sys.process._
      val pids = "jps -l".!!.linesIterator
        .filter(_.contains("CoarseGrainedExecutorBackend"))
        .flatMap(_.trim.split("\\s+").headOption.flatMap(_.toLongOption))
        .toVector
      pids.headOption.foreach { pid =>
        killedPid.set(pid)
        s"kill -9 $pid".!
        killed.set(true)
        println(s"DRILL killed executor pid=$pid " +
          s"(of ${pids.size} executor JVMs)")
      }
    }, "executor-killer")
    killer.setDaemon(true)

    println("DRILL fault run...")
    killer.start()
    val faulted = query()
    killer.join(10000)

    require(killed.get, "drill did not land: no executor JVM was killed " +
      "(query finished before the killer found a pid?)")
    require(execsRemoved.get >= 1,
      s"no executor-removed event after killing pid=${killedPid.get}")
    require(faulted.compareTo(baseline) == 0,
      s"result diverged after executor loss: $baseline vs $faulted")
    println(s"DRILL PASS executor pid=${killedPid.get} killed mid-query; " +
      s"execs_removed=${execsRemoved.get} task_failures=${tasksFailed.get} " +
      s"hash=$faulted == baseline")
    spark.stop()
  }
}
