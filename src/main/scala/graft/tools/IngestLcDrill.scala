package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved,
  SparkListenerTaskStart}
import org.apache.spark.sql.functions._

/** Executor-loss drill for the persisted-LSH streaming ingest loop —
  * the multi-JVM counterpart of LshIndexSpec's single-JVM idempotence
  * drill. Runs the dedup_stream_index drain (5 mtime-pinned
  * micro-batches probing + appending one persisted index) twice under
  * `local-cluster[2,16,8192]`: once clean, once with an executor JVM
  * SIGKILLed while a middle batch is in flight (its shuffle map
  * outputs die with it → FetchFailed → stage re-run on the survivor,
  * which the standalone worker backfills). Requires (a) the
  * executor-removed event, (b) the drain to finish, and (c) verdicts
  * AND final index state byte-equal to the clean run — the
  * commit-marker protocol and the deterministic probe/append plans
  * must make executor loss invisible in the output.
  *
  * {{{
  * sbt package
  * /opt/spark/bin/spark-submit --master "local-cluster[2,16,8192]" \
  *   --driver-memory 4g --class graft.tools.IngestLcDrill \
  *   target/scala-2.13/collectorspark_2.13-0.1.0.jar
  * }}}
  */
object IngestLcDrill {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(defaultCpus = 8,
      Seq("spark.sql.shuffle.partitions" -> "8"),
      fallbackMaster = Some("local-cluster[2,16,8192]"))
    val master = spark.sparkContext.master
    require(master.startsWith("local-cluster"),
      s"drill needs separate executor JVMs, got $master")
    import org.apache.spark.sql.streaming.Trigger

    val tasksStarted = new AtomicInteger
    val execsRemoved = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        tasksStarted.incrementAndGet()
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        execsRemoved.incrementAndGet()
    })

    val docs = graft.Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("batch", expr("(doc_id DIV 10) % 5").cast("int"))

    /** One full drain into a fresh scratch tree; returns (verdict set,
      * index sig set, index band count). */
    def drain(tag: String): (Set[String], Set[Long], Long) = {
      val tmp = java.nio.file.Files.createTempDirectory(
        new java.io.File("/dev/shm").toPath, s"graft_lcdrill_$tag").toFile
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"
      val ckpt = s"$tmp/ckpt"; val idx = s"$tmp/index"
      new java.io.File(outDir).mkdirs()
      graft.operators.LshIndex.save(base, "doc_id", "text", idx)
      (0 until 5).foreach { k =>
        delta.filter(col("batch") === k).coalesce(1)
          .write.mode("overwrite").parquet(s"$inDir/b$k")
      }
      new java.io.File(inDir).listFiles().filter(_.isDirectory).foreach { d =>
        val t = 1000000L * (1 + d.getName.stripPrefix("b").toInt)
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => require(f.setLastModified(t), s"mtime pin: $f"))
      }
      val stream = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true").parquet(inDir)
      // executor loss can kill the in-flight batch outright (the batch
      // localCheckpoints lineage, and those blocks die with the
      // executor) — production recovery is RESTART, where the
      // checkpoint re-delivers the batch and the commit-marker
      // protocol erases its partial writes and re-runs it
      var attempts = 0
      var doneOk = false
      while (!doneOk) {
        attempts += 1
        val q = stream.writeStream
          .foreachBatch(graft.QueriesLog.ingestBatch(spark, idx, outDir) _)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); doneOk = true }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            require(attempts < 6, s"drain kept failing: ${e.getMessage}")
            val cause = Option(e.getCause)
              .map(_.getClass.getSimpleName).getOrElse("<no cause>")
            println(s"DRILL drain attempt $attempts failed " +
              s"($cause) — restarting (marker-protocol recovery)")
        }
      }
      val verdicts = spark.read.option("recursiveFileLookup", "true")
        .parquet(outDir)
        .select(col("doc_id"), col("batch"), col("is_dup"),
          col("dup_of"), col("est_jaccard"))
        .collect().map(_.toString).toSet
      val sigs = spark.read.parquet(s"$idx/sigs")
        .select("id").collect().map(_.getLong(0)).toSet
      val deltaBandsDir = new java.io.File(s"$idx/delta_bands")
      val bandRows = spark.read.parquet(s"$idx/bands").count() + (
        if (deltaBandsDir.isDirectory &&
            deltaBandsDir.listFiles().exists(_.getName.startsWith("seg=")))
          spark.read.parquet(s"$idx/delta_bands").count()
        else 0L)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      (verdicts, sigs, bandRows)
    }

    println("DRILL clean drain...")
    val clean = drain("clean")

    // killer: wait until the drain is well into its batches (past the
    // index build), then SIGKILL one executor JVM
    val startedAt = tasksStarted.get
    val killed = new AtomicBoolean(false)
    val killedPid = new AtomicLong(-1L)
    val killer = new Thread(() => {
      while (tasksStarted.get < startedAt + 120) Thread.sleep(20)
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
          s"(of ${pids.size} executor JVMs) mid-drain")
      }
    }, "executor-killer")
    killer.setDaemon(true)

    println("DRILL fault drain...")
    killer.start()
    val faulted = drain("fault")
    killer.join(10000)

    require(killed.get, "drill did not land: no executor JVM was killed")
    require(execsRemoved.get >= 1,
      s"no executor-removed event after killing pid=${killedPid.get}")
    require(faulted._1 == clean._1,
      s"verdicts diverged after executor loss: " +
        s"${(faulted._1 diff clean._1).take(3)} vs ${(clean._1 diff faulted._1).take(3)}")
    require(faulted._2 == clean._2, "index sig ids diverged after executor loss")
    require(faulted._3 == clean._3,
      s"index band rows diverged: ${clean._3} vs ${faulted._3}")
    println(s"DRILL PASS executor pid=${killedPid.get} killed mid-drain; " +
      s"execs_removed=${execsRemoved.get} " +
      s"verdicts=${clean._1.size} sigs=${clean._2.size} bands=${clean._3} " +
      "byte-equal to clean run")
    spark.stop()
  }
}
