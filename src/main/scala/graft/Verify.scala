package graft

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json / oracle_sampled.json, for the driver's DuckDB
  * compare. Under `SPARK_GRAFT_ONLY` / `SPARK_GRAFT_SKIP` it dumps only
  * the selected entries and writes only their oracles, so the checker
  * checks just those; a full run writes every oracle. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(defaultCpus = 4,
      Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()
    val selected = Harness.selection()
    val entries = SparkEntry.queries.filter(kv => selected(kv._1))
    entries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.release(spark)
    }
    Harness.writeOracles(outDir, selected)
    spark.stop()
  }
}
