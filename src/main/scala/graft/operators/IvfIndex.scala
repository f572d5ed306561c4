package graft.operators

import org.apache.spark.sql.{DataFrame, GraftNative, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index: the build-once / probe-many serving shape a
  * 100 TB embedding lake actually runs (the in-memory
  * [[Similarity.ivfTopK]] re-fits per query batch — right for a
  * verification entry, wrong for a serving system).
  *
  * Layout (all plain parquet, readable by any engine):
  *  - `<path>/centroids` — the k fitted k-means centroids (k tiny rows,
  *    double vectors): the only piece a query router needs resident.
  *  - `<path>/lists` — the corpus inverted lists, written
  *    `partitionBy(cluster)`: one filesystem partition per list, so a
  *    probe of `nprobe` lists is a PARTITION-PRUNED scan that never
  *    touches the other k − nprobe directories. At 100 TB this is the
  *    difference between reading ~nprobe/k of the corpus per query
  *    batch and re-scanning everything.
  *  - `<path>/stats/seg=…` — per-list population METADATA
  *    (cluster, n): ≤ k rows per build (`seg=base`) / append
  *    (`seg=delta`), so the [[IndexMaintenance.ivfPolicy]] refit
  *    trigger is a k-row metadata read — never a corpus re-score —
  *    and pure INTEGER counts, deterministic under any partitioning.
  *
  * The fit/assign chain is byte-identical to [[Similarity.ivfTopK]]'s
  * (same seeding, same Lloyd fold, same tie-breaks) and parquet
  * round-trips float/double arrays losslessly, so a probe through the
  * persisted index returns EXACTLY the in-memory path's rows — pinned
  * by IvfIndexSpec and by the `embed_ivf_persisted` gate entry sharing
  * `embed_ivf_recall`'s oracle.
  */
object IvfIndex {

  /** Fit `nClusters` centroids on `emb` (columns `id`, `vec`) and
    * persist centroids + cluster-partitioned inverted lists. */
  def save(emb: DataFrame, path: String, nClusters: Int = 16,
      iters: Int = 2, dim: Int = 64): Unit = {
    val cents = Similarity.ivfFit(emb, nClusters, iters, dim)
    val lists = Similarity.ivfAssign(emb, cents)
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/centroids")
    // one directory per inverted list; within a list the scan stays
    // splittable (multiple part files at scale), so a hot list is
    // still read by many tasks
    lists.write.mode(SaveMode.Overwrite).partitionBy("cluster")
      .parquet(s"$path/lists")
    writeBaseStats(emb.sparkSession, path)
  }

  /** Per-list population of `assigned` (id, vec, cluster): ≤ k rows
    * (cluster, n) — pure integer counts, so the persisted metadata is
    * deterministic under any partitioning. */
  private def statsOf(assigned: DataFrame): DataFrame =
    assigned.groupBy("cluster").agg(count(lit(1)).as("n"))

  /** Recompute the `stats/seg=base` metadata from the (already
    * persisted) lists under `root` — used by [[save]] on the live
    * layout and by [[refit]] on the staged one. The read back is
    * column-pruned to the `cluster` partition column, so this touches
    * file metadata, not vector data. */
  private def writeBaseStats(s: SparkSession, root: String): Unit =
    statsOf(s.read.parquet(s"$root/lists"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$root/stats/seg=base")

  /** Append a delta shard (columns `id`, `vec`) to the persisted
    * layout WITHOUT re-fitting: each delta vector is assigned to its
    * nearest EXISTING centroid (the k-row resident frame — a constant
    * broadcast at any corpus size) and its row appended to that
    * cluster's list directory. The lifecycle counterpart of
    * [[LshIndex.append]]: a 100 TB embedding lake absorbs a daily
    * shard at delta-proportional cost and serves base ∪ delta
    * immediately; centroid drift is repaired by the periodic [[refit]],
    * the standard IVF maintenance trade. */
  def append(s: SparkSession, path: String, delta: DataFrame): Unit = {
    // land on the POST-recovery layout: after a crash between a refit's
    // marker and its swap the staged index is authoritative — appending
    // into the superseded live lists would be silently erased by the
    // next reader's roll-forward (ADVICE r13)
    AtomicSwap.recover(path)
    val cents = s.read.parquet(s"$path/centroids")
    // feeds the lists append AND the stats append — assign once
    val assigned = GraftNative.persistRows(Similarity.ivfAssign(delta, cents))
    try {
      assigned.write.mode(SaveMode.Append).partitionBy("cluster")
        .parquet(s"$path/lists")
      // appended-shard list populations accumulate under seg=delta (≤ k
      // rows per append): the [[IndexMaintenance.ivfPolicy]] refit
      // trigger reads THESE instead of re-scoring the corpus — a shard
      // that collapses into a few lists under the stale centroids
      // (domain shift: a new source sharing a dominant direction) is
      // exactly the case the drift artifact showed losing 27 recall
      // points, and the skew ALSO predicts the probe-cost hot-list
      // failure
      statsOf(assigned)
        .coalesce(1).write.mode(SaveMode.Append)
        .parquet(s"$path/stats/seg=delta")
    } finally GraftNative.unpersistRows(assigned)
  }

  /** Re-fit — the IVF maintenance counterpart of
    * [[LshIndex.compact]]: appends assign against STALE centroids, so
    * recall drifts as the appended fraction grows (measured in the
    * drift artifact — see SURVEY §2.12's IVF lifecycle notes); the
    * periodic refit re-fits the centroids from the persisted vectors
    * (the lists carry full vectors — no external corpus read), rewrites
    * the inverted lists, and also re-coalesces the per-append small
    * files. The fit/assign chain is the id-ordered deterministic one
    * ([[Similarity.ivfFit]]: id-ordered seeding, id-ordered chunk
    * folds), so the result is BIT-IDENTICAL to [[save]] over the union
    * corpus regardless of how many appends preceded it (IvfIndexSpec).
    * Published via the crash-safe [[AtomicSwap]] staging swap. */
  def refit(s: SparkSession, path: String, nClusters: Int = 16,
      iters: Int = 2, dim: Int = 64): Unit = {
    val staging = AtomicSwap.begin(path)
    val all = s.read.parquet(s"$path/lists").select("id", "vec")
    val cents = Similarity.ivfFit(all, nClusters, iters, dim)
    val lists = Similarity.ivfAssign(all, cents)
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$staging/centroids")
    lists.write.mode(SaveMode.Overwrite).partitionBy("cluster")
      .parquet(s"$staging/lists")
    // post-refit everything is base again: one seg=base stats row over
    // the union corpus, bit-equal to save's (the refit==save pin)
    writeBaseStats(s, staging)
    AtomicSwap.commit(path, Seq("centroids", "lists", "stats"))
  }

  /** Top-k cosine neighbors for `queries` (columns `q_id`, `q_vec`)
    * through the persisted index: score the k resident centroids per
    * query (broadcast, k tiny rows), probe each query's `nprobe`
    * nearest lists, exact-score only those candidates.
    *
    * The probed list ids are collected to the driver — bounded by
    * `nClusters` ints, the query-router pattern — and pushed as a
    * LITERAL partition filter on the lists scan, so pruning is
    * guaranteed static partition elimination (visible as
    * `PartitionFilters: [cluster IN (…)]`), not dependent on DPP
    * heuristics; the per-query candidate routing then happens in the
    * broadcast equi-join on the pruned scan. */
  def topK(s: SparkSession, path: String, queries: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    AtomicSwap.recover(path) // roll FORWARD an interrupted refit
    val cents = s.read.parquet(s"$path/centroids")
    val qScored = queries.crossJoin(broadcast(cents))
      .withColumn("sim", Similarity.cosineFD(col("q_vec"), col("centroid")))
    val wq = Window.partitionBy("q_id").orderBy(col("sim").desc, col("cluster"))
    val probes = qScored.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select("q_id", "q_vec", "cluster")
      // feeds the router collect AND the candidate join — tiny
      // (queries × nprobe rows); persisted so the centroid scoring runs
      // once
      .transform(GraftNative.persistRows)
    val probedLists = probes.select("cluster").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = s.read.parquet(s"$path/lists")
      .filter(col("cluster").isin(probedLists.map(Integer.valueOf): _*))
      .select(col("id").as("n_id"), col("vec").as("n_vec"), col("cluster"))
    // no dedup needed: every n_id lives in exactly ONE list (argmax
    // assignment) and a query's probed clusters are distinct, so the
    // equi-join yields each (q_id, n_id) at most once — a
    // dropDuplicates here would plan as a SortAggregate dragging both
    // vectors through first() (the non-fixed-width aggregate trap)
    val scored = broadcast(probes).join(lists, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", Similarity.cosine(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }
}
