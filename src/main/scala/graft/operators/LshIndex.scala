package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftNative, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index: the build-once / probe-per-shard
  * shape of APPEND-ONLY corpus maintenance. Every batch dedup entry
  * re-signatures the whole lake per run — right for a verification
  * suite, wrong for a production corpus that grows by a daily shard.
  * With a persisted index the daily cost is proportional to the DELTA,
  * not the lake:
  *
  *  - the index side is only ever SCANNED, and only its probe-touched
  *    cells ever ride a shuffle: the delta-side joins are UNHINTED, so
  *    AQE broadcasts the delta while it is genuinely small and falls
  *    back to shuffled joins when a corpus-proportional delta would
  *    blow the broadcast cap — at 100 TB the index is corpus-sized and
  *    re-shuffling it whole per shard is the whole cost being avoided;
  *  - base signatures are computed once at build time and parquet
  *    round-trips the long arrays losslessly, so probes agree
  *    bit-for-bit with a from-scratch [[Dedup.lshCandidates]] run over
  *    base ∪ delta (pinned by LshIndexSpec);
  *  - accepted (non-duplicate) delta rows APPEND to the same layout —
  *    the index stays valid for tomorrow's shard without a rebuild.
  *
  * Layout (plain parquet, readable by any engine):
  *  - `<path>/sigs/seg=…`  — (id, sig: array<long>[64]) per doc.
  *  - `<path>/bands/seg=base/bucket=…` — (id, band, band_sig) exploded
  *    8× per doc, dir-partitioned by bucket = hash(band_sig) %
  *    [[NumBuckets]] and SORTED by band within each file, so narrow
  *    probes statically prune to their touched bucket dirs and
  *    row-group min/max stats on `band` prune within them. Written
  *    only at build/compact: dynamic-partition dirs cost ~20 ms each
  *    in commit overhead per write (measured 10-17 s at 512 dirs vs
  *    ~1.5 s at 64 for a 36k-row segment), a price worth paying once
  *    per compaction but NOT per ingest batch. LSH buckets with more
  *    than `maxBucket` base members are dropped at BUILD time
  *    (degenerate buckets — the all-empty-doc bucket is the
  *    canonical case — carry no dedup signal but quadratic probe
  *    cost; same cap semantics as [[Dedup.lshCandidates]], applied
  *    once at write instead of per run).
  *  - `<path>/delta_bands/seg=…` — the APPEND half of the bands data:
  *    plain files (no bucket dirs — appends must not pay the
  *    per-dir commit overhead every batch), with `bucket` as a data
  *    column and files sorted by (bucket, band) so parquet row-group
  *    min/max stats give the same pruning the base side gets from
  *    its dirs. Segments here are bounded by the compaction policy
  *    ([[IndexMaintenance]]); compact folds them back into the
  *    dir-partitioned base.
  *  - `<path>/keycounts/seg=…` — (band, band_sig, n, bucket): the
  *    per-key row counts of the bands data, persisted as METADATA
  *    at build/append/compact time so the probe-time hot-key guard
  *    sums a counts table instead of re-aggregating the corpus-sized
  *    bands dataset on every probe (a key's rows all live in one
  *    segment, so summing the per-segment counts IS the key's
  *    current index population). Plain sorted files for the same
  *    reason as delta_bands: at lake scale keycounts is the same
  *    order as bands (one row per distinct key), so probes prune it
  *    by row-group stats on the sorted (bucket, band) prefix.
  */
object LshIndex {

  val MaxBucket = 1000

  /** Physical dir fan per segment: band rows are laid out `bucket=…`
    * with bucket = hash(band_sig) % NumBuckets, so a probe whose delta
    * touches few distinct band keys PRUNES to the touched bucket dirs
    * instead of scanning the whole index (the IvfIndex-router
    * pattern; a wide delta touching every bucket degrades gracefully
    * to the full — still shuffle-free — scan). Layout-internal only:
    * bucket is derived from band_sig, so candidate semantics (and the
    * oracle) are unchanged. */
  val NumBuckets = 64

  private def bucketOf(bandSig: Column): Column =
    pmod(xxhash64(bandSig), lit(NumBuckets.toLong)).cast("int")

  /** Whether any append segments exist (compact leaves the
    * `delta_bands` root behind as an empty dir — reading it then would
    * fail schema inference, and there is nothing to read). */
  private def hasDeltaBands(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/delta_bands")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
  }

  /** Explode (id, sig) into the 8 per-band signature slices. */
  private[graft] def banded(sigs: DataFrame): DataFrame =
    sigs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(Dedup.Bands - 1))).as("band"))
      .withColumn("band_sig",
        slice(col("sig"), col("band") * Dedup.Rows + 1, lit(Dedup.Rows)))
      .select("id", "band", "band_sig")

  /** Signature + band the base corpus and persist both datasets.
    * Signatures are written first and the band explode reads them BACK
    * from parquet, so the (expensive) minhash pass over the text runs
    * exactly once.
    *
    * Layout: both datasets are SEGMENTED (`seg=base` from the build,
    * `seg=delta…` from appends) — segments are ordinary k=v partition
    * directories, so one read of `<path>/sigs` / `<path>/bands` serves
    * the whole index while a segment remains individually droppable
    * (the unit of idempotent-ingest rollback and of compaction). */
  def save(docs: DataFrame, idCol: String, textCol: String, path: String,
      maxBucket: Int = MaxBucket): Unit = {
    val s = docs.sparkSession
    AtomicSwap.rmTree(path) // stale delta segments must not survive
    Dedup.minhashSignatures(docs, idCol, textCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/sigs/seg=base")
    val b = banded(s.read.parquet(s"$path/sigs/seg=base"))
    writeBandsAndCounts(b, path, "base", maxBucket)
  }

  /** Build/compact write path for bands + keycounts: count every key
    * ONCE, drop keys over the cap, and persist both the surviving band
    * rows (bucket-dir-partitioned — the once-per-compaction price) and
    * their counts (plain sorted files). */
  private def writeBandsAndCounts(b: DataFrame, root: String, seg: String,
      cap: Int): Unit = {
    val counts = b.groupBy("band", "band_sig")
      .agg(count(lit(1)).as("n"))
      // both the anti-join filter and the keycounts write read this;
      // one aggregation pass, not two
      .transform(GraftNative.persistRows)
    val hot = counts.filter(col("n") > cap).select("band", "band_sig")
    // one exchange keyed on the physical partition column (each bucket
    // dir gets one file per write, still row-group-splittable), then an
    // in-task sort that ALSO satisfies the writer's dynamic-partition
    // required ordering (prefix `bucket`), so no second sort runs and
    // the `band` order survives into row-group min/max stats — the
    // within-bucket pruning under each bucket dir
    try {
      b.join(broadcast(hot), Seq("band", "band_sig"), "left_anti")
        .withColumn("bucket", bucketOf(col("band_sig")))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "band")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"$root/bands/seg=$seg")
      writeCounts(counts.filter(col("n") <= cap), root, seg,
        SaveMode.Overwrite)
    } finally GraftNative.unpersistRows(counts)
  }

  /** Append write path: plain sorted files only — no dynamic partition
    * dirs, so a per-batch append pays file-write cost proportional to
    * the DELTA, not ~20 ms × 64 dirs of commit overhead. Row-group
    * stats on the (bucket, band) sort prefix stand in for the base
    * side's dir pruning. */
  private def writeDeltaBandsAndCounts(b: DataFrame, root: String,
      seg: String): Unit = {
    b.withColumn("bucket", bucketOf(col("band_sig")))
      .sortWithinPartitions("bucket", "band")
      .write.mode(SaveMode.Append)
      .parquet(s"$root/delta_bands/seg=$seg")
    writeCounts(
      b.groupBy("band", "band_sig").agg(count(lit(1)).as("n")),
      root, seg, SaveMode.Append)
  }

  private def writeCounts(counts: DataFrame, root: String, seg: String,
      mode: SaveMode): Unit =
    counts
      .withColumn("bucket", bucketOf(col("band_sig")))
      .select("band", "band_sig", "n", "bucket")
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "band")
      .write.mode(mode)
      .parquet(s"$root/keycounts/seg=$seg")

  /** Probe the index with a delta shard's signatures (`delta`: columns
    * `id`, `sig`). Returns one row per (delta, base) candidate pair —
    * docs sharing at least one surviving band bucket — with the
    * minhash-agreement similarity estimate:
    * (delta_id, base_id, est_jaccard).
    *
    * Plan shape (the point of the layout): every index-side join is an
    * UNHINTED equi-join — AQE broadcasts the delta side while it is
    * small (the daily-shard case: the index datasets are then read
    * once, with only their touched cells riding a shuffle) and falls
    * back to shuffled joins once the delta is corpus-proportional,
    * where a forced broadcast would exceed the 8 GB cap and the driver
    * (the doc_decontaminate failure shape). Pinned both ways by
    * LshIndexSpec.
    *
    * Probe-time hot-key guard: index keys whose CURRENT population
    * (across all segments, in the probed cells) exceeds `maxBucket`
    * yield no candidates — the build-time cap re-checked at probe, so
    * a bucket that went hot through appends between compactions costs
    * nothing instead of candidate-exploding until the next compact.
    * Right after a build or compact the guard is a no-op (every
    * surviving key is already ≤ the cap); the SQL oracle re-derives
    * the same recap per ingest batch. The population comes from the
    * persisted `keycounts` METADATA (summed across segments, pruned to
    * the probed cells) — the bands dataset itself is scanned exactly
    * once per probe, by the candidate join. */
  def probe(s: SparkSession, path: String, delta: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    AtomicSwap.recover(path) // roll FORWARD an interrupted compact
    // read by the router collect AND the candidate join; not persisted:
    // banding is a per-row slice of `delta`, which callers persist
    val dBands = banded(delta)
      .select(col("id").as("delta_id"), col("band"), col("band_sig"))
    // router: the delta's touched (band, bucket) cells — bounded by
    // Bands × NumBuckets (512) regardless of delta size. The bucket
    // projection of the cells is pushed as a LITERAL partition filter
    // (static elimination over the bucket dirs, the IvfIndex-router
    // pattern); the exact cell membership rides as a residual data
    // filter, where the in-file band sort lets row-group min/max stats
    // prune within each touched dir. A wide delta touching EVERY cell
    // skips both outright (the full — still shuffle-free — scan, with
    // no 512-term predicate to evaluate per row group)
    val touched = dBands
      .select((col("band") * NumBuckets + bucketOf(col("band_sig"))).as("cell"))
      .distinct().collect().map(_.getInt(0)).sorted
    val touchedBuckets = touched.map(_ % NumBuckets).distinct.sorted
    val cellOf = (df: DataFrame) =>
      if (touched.length >= Dedup.Bands * NumBuckets) df
      else df
        .filter(col("bucket").isin(touchedBuckets.map(Integer.valueOf): _*))
        .filter((col("band") * NumBuckets + col("bucket"))
          .isin(touched.map(Integer.valueOf): _*))
    // index-side band rows: the dir-partitioned base (bucket router →
    // static partition elimination) plus any append segments (plain
    // files, same cell filter lands as a data filter pruned by the
    // row-group stats their (bucket, band) sort produces)
    val baseBands = cellOf(s.read.parquet(s"$path/bands"))
      .select(col("id").as("base_id"), col("band"), col("band_sig"))
    val pruned =
      if (hasDeltaBands(s, path)) baseBands.unionByName(
        cellOf(s.read.parquet(s"$path/delta_bands"))
          .select(col("id").as("base_id"), col("band"), col("band_sig")))
      else baseBands
    // hot keys come from the persisted keycounts metadata, pruned to
    // the probed cells and summed across segments — a key's rows all
    // live in one (band, bucket) cell per segment, so the sum IS the
    // key's full index population; the > cap survivors are a tiny
    // frame (rare by the build-time cap) that AQE broadcasts
    val hot = cellOf(s.read.parquet(s"$path/keycounts"))
      .groupBy("band", "band_sig")
      .agg(sum("n").as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("band", "band_sig")
    val cand = pruned
      .join(hot, Seq("band", "band_sig"), "left_anti")
      .join(dBands, Seq("band", "band_sig"))
      .select("delta_id", "base_id")
      .dropDuplicates("delta_id", "base_id")
    val withBase = s.read.parquet(s"$path/sigs")
      .select(col("id").as("base_id"), col("sig").as("base_sig"))
      .join(cand, Seq("base_id"))
    withBase
      .join(delta.select(col("id").as("delta_id"),
        col("sig").as("delta_sig")), Seq("delta_id"))
      .select(col("delta_id"), col("base_id"),
        org.apache.spark.sql.GraftNative.column(
          graft.functions.expressions.SigAgreeExpr(
            org.apache.spark.sql.GraftNative.expression(col("delta_sig")),
            org.apache.spark.sql.GraftNative.expression(col("base_sig"))))
          .as("est_jaccard"))
  }

  /** Append accepted (non-duplicate) delta rows to the persisted
    * layout: tomorrow's shard probes today's corpus without a rebuild.
    * Band rows for buckets the BUILD dropped as hot stay dropped
    * (append joins against the existing hot set is deliberately NOT
    * done — a bucket that goes hot through appends is skipped by the
    * PROBE-time guard the moment it crosses the cap, and physically
    * dropped at the next compaction, the standard LSM-style
    * maintenance split). */
  def append(s: SparkSession, path: String, accepted: DataFrame): Unit =
    appendSeg(s, path, accepted, "delta")

  /** [[append]] into a caller-tagged segment — the unit an idempotent
    * ingest loop can roll back ([[dropSeg]]) after a mid-write crash
    * before re-running the batch. */
  def appendTagged(s: SparkSession, path: String, accepted: DataFrame,
      batchId: Long): Unit =
    appendSeg(s, path, accepted, s"delta_$batchId")

  /** Remove one append segment (all three datasets) — a no-op if
    * absent. */
  def dropSeg(path: String, batchId: Long): Unit = {
    AtomicSwap.rmTree(s"$path/sigs/seg=delta_$batchId")
    AtomicSwap.rmTree(s"$path/delta_bands/seg=delta_$batchId")
    AtomicSwap.rmTree(s"$path/keycounts/seg=delta_$batchId")
  }

  /** Compaction — the LSM-style maintenance step appends defer to:
    * collapse every segment into a fresh `seg=base`, RE-APPLYING the
    * hot-bucket cap across the merged population (buckets that went
    * hot through appends are dropped, exactly as a from-scratch build
    * over the same documents would drop them) and re-coalescing the
    * many small append part-files. Works from the persisted SIGNATURES
    * alone — no document text is re-read. After compact, the index is
    * bit-equivalent to `save` over the union corpus (LshIndexSpec). */
  def compact(s: SparkSession, path: String,
      maxBucket: Int = MaxBucket): Unit = {
    compactStage(s, path, maxBucket)
    // crash-safe publish: marker first, then per-dataset rename-aside
    // swap — an interrupted swap is rolled FORWARD by any reader's
    // AtomicSwap.recover, or rolled back (pre-marker) by the next
    // writer's begin (ADVICE r12: the old delete-then-rename left a
    // crash window with NO live index)
    AtomicSwap.commit(path, Seq("sigs", "bands", "delta_bands", "keycounts"))
  }

  /** The staged (side-effect-free w.r.t. the live index) half of
    * [[compact]] — split out so the crash drill can exercise
    * [[AtomicSwap.repair]] from every intermediate state. */
  private[graft] def compactStage(s: SparkSession, path: String,
      maxBucket: Int = MaxBucket): Unit = {
    val staging = AtomicSwap.begin(path)
    s.read.parquet(s"$path/sigs").select("id", "sig")
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/sigs/seg=base")
    val b = banded(s.read.parquet(s"$staging/sigs/seg=base"))
    writeBandsAndCounts(b, staging, "base", maxBucket)
    // staged delta_bands is an EMPTY dir: the swap publishes it over
    // the live one, clearing the append segments the rebuilt base has
    // just absorbed
    val emptyDelta = new org.apache.hadoop.fs.Path(s"$staging/delta_bands")
    emptyDelta.getFileSystem(s.sessionState.newHadoopConf())
      .mkdirs(emptyDelta)
    ()
  }

  private def appendSeg(s: SparkSession, path: String, accepted: DataFrame,
      seg: String): Unit = {
    // appends must land on the POST-recovery layout: after a crash
    // between a maintenance writer's marker and its swap, the staged
    // index is authoritative — appending into the superseded live
    // directories would be silently erased by the next reader's
    // roll-forward (ADVICE r13)
    AtomicSwap.recover(path)
    accepted.select("id", "sig")
      .write.mode(SaveMode.Append).parquet(s"$path/sigs/seg=$seg")
    writeDeltaBandsAndCounts(banded(accepted.select("id", "sig")), path, seg)
  }
}
