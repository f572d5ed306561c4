package graft.tools

import java.nio.file.{Files, Paths}

import graft.Harness

/** Resumable, budgeted variant of [[graft.Verify]] for large-SF sweeps:
  *
  * {{{ runMain graft.tools.VerifySweep <sfDir> <outDir> [budgetSec] }}}
  *
  * Differences from Verify (whose semantics the DRIVER's gate needs and
  * which therefore stays put):
  *   - SKIPS entries whose `<outDir>/<name>/_SUCCESS` already exists, so
  *     an interrupted multi-hour sweep resumes instead of recomputing;
  *   - runs entries alphabetically with a PER-ENTRY wall budget
  *     (default 600 s) enforced via job-group cancellation — one
  *     pathological entry can't eat the whole sweep; a timed-out
  *     entry's partial dir is removed and recorded `TIMEOUT` so a
  *     re-run with a bigger budget picks it up;
  *   - prints one `SWEEP <name> <status> <sec>` line per entry.
  *
  * Writes the same oracle_sql.json contract so tools/check_scale.py
  * runs unchanged against the output.
  */
object VerifySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val budgetSec = if (args.length > 2) args(2).toInt else 600
    val spark = Harness.session(defaultCpus = 32,
      Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()

    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val dest = s"$outDir/$name"
      if (Files.exists(Paths.get(dest, "_SUCCESS")))
        println(s"SWEEP $name SKIP 0.0")
      else {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        val cancel = watchdog.schedule(new Runnable {
          def run(): Unit = spark.sparkContext.cancelJobGroup(name)
        }, budgetSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
        val t0 = System.nanoTime()
        val status =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dest)
            "OK"
          } catch {
            case e: Throwable =>
              org.apache.commons.io.FileUtils
                .deleteQuietly(new java.io.File(dest))
              val sec = (System.nanoTime() - t0) / 1e9
              if (sec >= budgetSec - 1) "TIMEOUT"
              else { System.err.println(s"[sweep] $name: ${e.getMessage}")
                "ERROR" }
          } finally {
            cancel.cancel(false)
            spark.sparkContext.clearJobGroup()
            Harness.release(spark)
          }
        println(f"SWEEP $name $status ${(System.nanoTime() - t0) / 1e9}%.1f")
      }
    }
    watchdog.shutdownNow()
    Harness.writeOracles(outDir, _ => true)
    println("SWEEP done")
    spark.stop()
  }
}
