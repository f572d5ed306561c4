package graft.tools

import org.apache.spark.sql.functions._

/** Recall-vs-appends drift measurement for the persisted IVF index —
  * the evidence behind [[graft.operators.IvfIndex.refit]]: appends
  * assign against the BASE-fit centroids, so as the appended fraction
  * grows the quantizer drifts away from the true corpus distribution
  * and recall through the index degrades; a refit re-fits the
  * centroids from the persisted vectors and must restore the
  * from-scratch recall exactly (refit ≡ save over the union,
  * IvfIndexSpec). Protocol: fit on the first half, append the rest in
  * 5 waves, measure top-5 recall (100 fixed queries, nprobe=4) through
  * the index after each wave, then refit and measure once more.
  * Writes ivf_refit_drift JSON (→ SURVEY table).
  *
  * {{{ sbt -batch "runMain graft.tools.IvfDrift" }}}
  */
object IvfDrift {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(defaultCpus = 8)

    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .localCheckpoint()
    val n = e.count()
    val waves = 5
    val tmp = java.nio.file.Files.createTempDirectory(
      new java.io.File("/dev/shm").toPath, "graft_ivfdrift").toFile
    val idx = s"$tmp/index"

    // base = first half by id; waves split the rest round-robin
    val base = e.filter(col("id") < n / 2)
    graft.operators.IvfIndex.save(base, idx, nClusters = 16, iters = 2, dim = 64)

    val queries = e.filter(col("id") < 100)
      .select(col("id").as("q_id"), col("vec").as("q_vec"))
      .localCheckpoint()

    /** Top-5 recall of the index against brute force over the CURRENT
      * indexed corpus (the truth side re-reads the ids in the index, so
      * each wave is measured against exactly what it serves). */
    def recall(): Double = {
      val inIdx = spark.read.parquet(s"$idx/lists")
        .select(col("id").as("n_id"), col("vec").as("n_vec"))
      val truth = graft.operators.Similarity
        .bruteForceTopK(queries, inIdx, k = 5).select("q_id", "n_id")
      val approx = graft.operators.IvfIndex
        .topK(spark, idx, queries, k = 5, nprobe = 4)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("q_id", "n_id"), "left")
        .agg((coalesce(sum("hit"), lit(0L)).cast("double") /
          count(lit(1))).as("recall"))
        .head().getDouble(0)
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    results += (("base_fit_0pct_appended", recall()))
    (0 until waves).foreach { w =>
      val wave = e.filter(col("id") >= n / 2 &&
        ((col("id") - n / 2) % waves) === w)
      graft.operators.IvfIndex.append(spark, idx, wave)
      val pct = ((w + 1) * 100) / waves
      results += ((s"appended_${pct}pct_of_delta", recall()))
    }

    // ---- distribution-shifted arm: iid deltas barely move the
    // quantizer (the table above), so ALSO measure the realistic drift
    // case — a BURST delta concentrated around one point (a new domain
    // arriving): under stale centroids the whole burst crams into one
    // inverted list, so nprobe lists cover a corpus-scale fraction
    // (probe-cost explosion); refit re-partitions the burst across
    // clusters of its own.
    val shiftIdx = s"$tmp/index_shift"
    // the burst keeps each vector's own variation but moves the whole
    // half-corpus into a region the base fit never saw (+0.5 on the
    // first 8 coords): a new DOMAIN, not a point blob — so a re-fit
    // CAN meaningfully re-partition it
    val eShift = e.filter(col("id") >= n / 2)
      .select((col("id") + 1000000L).as("id"),
        expr("cast(transform(vec, (x, j) -> x + " +
          "(case when j < 8 then 0.5d else 0d end)) as array<float>)")
          .as("vec"))
      .unionByName(base).localCheckpoint()
    val qShift = eShift.filter(col("id") < 100 ||
        (col("id") >= 1000000L && col("id") < 1000000L + n / 2 + 100))
      .limit(100)
      .select(col("id").as("q_id"), col("vec").as("q_vec"))
      .localCheckpoint()
    def recallAt(p: String, qs: org.apache.spark.sql.DataFrame): Double = {
      val inIdx = spark.read.parquet(s"$p/lists")
        .select(col("id").as("n_id"), col("vec").as("n_vec"))
      val truth = graft.operators.Similarity
        .bruteForceTopK(qs, inIdx, k = 5).select("q_id", "n_id")
      val approx = graft.operators.IvfIndex
        .topK(spark, p, qs, k = 5, nprobe = 4)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("q_id", "n_id"), "left")
        .agg((coalesce(sum("hit"), lit(0L)).cast("double") /
          count(lit(1))).as("recall"))
        .head().getDouble(0)
    }
    // list balance: the axis staleness actually degrades — an OOD
    // delta crams into the few least-bad lists, so nprobe lists can
    // cover half the corpus (probe cost explosion) even while recall
    // looks fine; refit rebalances. max/mean list population.
    def balance(p: String): Double = {
      val sizes = spark.read.parquet(s"$p/lists")
        .groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(max("n").cast("double").as("mx"), avg("n").as("mean"))
        .head()
      sizes.getDouble(0) / sizes.getDouble(1)
    }
    graft.operators.IvfIndex.save(base, shiftIdx,
      nClusters = 16, iters = 2, dim = 64)
    graft.operators.IvfIndex.append(spark, shiftIdx,
      eShift.filter(col("id") >= 1000000L))
    results += (("burst_delta_appended_stale_centroids",
      recallAt(shiftIdx, qShift)))
    results += (("burst_delta_stale_list_imbalance", balance(shiftIdx)))
    graft.operators.IvfIndex.refit(spark, shiftIdx,
      nClusters = 16, iters = 2, dim = 64)
    results += (("burst_delta_after_refit", recallAt(shiftIdx, qShift)))
    results += (("burst_delta_refit_list_imbalance", balance(shiftIdx)))
    graft.operators.IvfIndex.refit(spark, idx,
      nClusters = 16, iters = 2, dim = 64)
    results += (("after_refit", recall()))

    // the from-scratch reference: a fresh fit over everything must
    // equal the refit recall exactly (refit ≡ save over the union)
    val idx2 = s"$tmp/index_scratch"
    graft.operators.IvfIndex.save(e, idx2, nClusters = 16, iters = 2, dim = 64)
    val scratch = {
      val inIdx = spark.read.parquet(s"$idx2/lists")
        .select(col("id").as("n_id"), col("vec").as("n_vec"))
      val truth = graft.operators.Similarity
        .bruteForceTopK(queries, inIdx, k = 5).select("q_id", "n_id")
      graft.operators.IvfIndex.topK(spark, idx2, queries, k = 5, nprobe = 4)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
        .join(truth.select(col("q_id"), col("n_id"), lit(1L).as("t")),
          Seq("q_id", "n_id"), "right")
        .agg((coalesce(sum("hit"), lit(0L)).cast("double") /
          count(lit(1))).as("recall"))
        .head().getDouble(0)
    }
    results += (("from_scratch_reference", scratch))

    val json = results.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"metric":"ivf_refit_drift","sf":"$sfDir","n_vectors":$n,""",
        ",", "}")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_DRIFT_OUT",
      "/tmp/ivf_refit_drift.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(s"DRIFT $json")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    spark.stop()
  }
}
