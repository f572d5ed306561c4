package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.logsys.LogSynth
import graft.streaming.LogStreamPipeline
import graft.QueriesLog

/** End-to-end streaming smoke: renders the synthetic log corpus to text
  * files, tails them with the file streaming source (S26 analogue), runs
  * parse → stitch → classify → windowed counts, prints the result.
  * Usage: runMain graft.tools.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session(defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")

    val logDir = Files.createTempDirectory("graft_logs").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    LogSynth.renderedLines(spark, sfDir)
      .select("line").coalesce(1)
      .write.mode("overwrite").text(logDir)

    LogStreamPipeline.configureFor(spark)
    val raw = spark.readStream.text(logDir)
    val analyzed = LogStreamPipeline.analyzed(raw, QueriesLog.Compiled)
    val counts = LogStreamPipeline.windowedClassCounts(analyzed)
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()

    val out = spark.table("win_counts")
      .groupBy("class_name").agg(sum("n").as("n"))
      .orderBy(desc("n"))
    out.show(20, truncate = false)
    println(s"total classified windows rows: ${spark.table("win_counts").count()}")
    spark.stop()
  }
}
