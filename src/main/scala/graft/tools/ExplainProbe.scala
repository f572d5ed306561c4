package graft.tools

import org.apache.spark.sql.functions._

/** Print `explain("formatted")` of the PERSISTED-LSH-INDEX probe frame
  * itself — the plan the dedup_incremental / dedup_stream_index
  * entries execute internally but hide behind their result
  * localCheckpoint (their outer explain is a degenerate ExistingRDD
  * scan). Builds a scratch index from the sf dir's base split and
  * explains a delta probe, exactly the entries' shape. */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Harness.session(defaultCpus = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_explain_probe_")
      .toString
    try {
      val docs = graft.Tables.documents(spark, sfDir)
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.LshIndex.save(base, "doc_id", "text", tmp)
      val dSigs = graft.operators.Dedup
        .minhashSignatures(delta, "doc_id", "text").localCheckpoint()
      println("===== lsh_probe")
      graft.operators.LshIndex.probe(spark, tmp, dSigs).explain("formatted")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(tmp))
      ()
    }
    spark.stop()
  }
}
