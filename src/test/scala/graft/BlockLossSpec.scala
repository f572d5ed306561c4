package graft

/** Entries recover a lost cached block by lineage: their intermediates
  * are `persist`ed (text_bm25, dedup_substrings) or their result keeps
  * reading a spool that lives until [[Harness.release]]
  * (w11_stream_diff). The tier-1 stand-in for `tools.Drill`, which
  * needs spark-submit. */
class BlockLossSpec extends SparkSpec {

  for ((name, cached) <- Seq("text_bm25" -> true, "dedup_substrings" -> true,
      "w11_stream_diff" -> false))
    test(s"$name hashes the same after every cached block is lost") {
      Harness.release(spark)
      try {
        val df = SparkEntry.queries(name)(spark, Sf)
        val h = Harness.force(df)
        if (cached) assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
        org.apache.spark.BlockLoss.dropAll(spark.sparkContext)
        assert(Harness.force(df) == h)
      } finally Harness.release(spark)
    }
}
