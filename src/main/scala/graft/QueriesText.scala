package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftNative, Row, SparkSession}
import org.apache.spark.sql.GraftNative.persistRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, StructField, StructType}

import graft.operators.{Dedup, DimEncode, Similarity}
import graft.functions.TextFns

/** Training-data pipeline query surface: dedup, similarity search and
  * text analysis over the `documents` / `embeddings` tables.
  */
object QueriesText {

  /** Build-probe bracket: `body` gets a fresh index path under a
    * [[Harness.scratch]] dir, which outlives the returned frame's reads. */
  private def withScratchIndex(prefix: String)(body: String => DataFrame)
      : DataFrame =
    body(s"${Harness.scratch(prefix)}/index")

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.fanOut(Tables.documents(s, dir)), "doc_id", "text")

  /** Exact token-set Jaccard pairs, bounded to a fixed id range so the
    * verification query stays O(bounded²) at any scale factor; the
    * unbounded scale path is dedup_minhash_lsh. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      Tables.fanOut(Tables.documents(s, dir)).filter(col("doc_id") < 300),
      "doc_id", "text", threshold = 0.8)

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidates(
      Dedup.minhashSignatures(Tables.fanOut(Tables.documents(s, dir)), "doc_id", "text"))
      .filter(col("est_jaccard") >= 0.7)
      // k/64 terminates within 6 decimals, so round-6 is exact in both
      // engines (no HALF_UP vs half-even boundary risk)
      .withColumn("est_jaccard", round(col("est_jaccard"), 6))

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
      Dedup.simhash(Tables.fanOut(Tables.documents(s, dir)), "doc_id", "text"),
      maxHamming = 3)

  def embedCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    Similarity.bruteForceTopK(queries, corpus, k = 5)
  }

  def embedAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    Similarity.lshTopK(queries, corpus, k = 5, bits = 4, sigs = 15, dim = 64)
  }

  /** ANN retrieval quality, measured: top-5 recall of [[embedAnnLsh]]
    * against the exact [[Similarity.bruteForceTopK]] ground truth —
    * one row (n_truth, n_hit, recall). */
  def embedAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "n_id")
    val approx = Similarity.lshTopK(queries, corpus, k = 5,
        bits = 4, sigs = 15, dim = 64)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** IVF retrieval quality: top-5 recall of the coarse-quantized path
    * (16 deterministic k-means lists, probe 4) against exact brute
    * force — one row (n_truth, n_hit, recall). */
  def embedIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "n_id")
    val approx = Similarity.ivfTopK(queries, corpus, k = 5,
        nClusters = 16, iters = 2, nprobe = 4)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** [[embedIvfRecall]] measured THROUGH a persisted index
    * ([[graft.operators.IvfIndex]]): the corpus inverted lists are
    * written as cluster-partitioned parquet and the probe runs as a
    * partition-pruned scan — the build-once / probe-many serving shape
    * of a 100 TB embedding lake. The fit/assign/score chain is
    * byte-identical to the in-memory path and parquet round-trips the
    * vectors losslessly, so this entry shares `embed_ivf_recall`'s
    * oracle SQL verbatim — the persisted index must reproduce the
    * in-memory recall frame bit-for-bit to pass. */
  def embedIvfPersisted(s: SparkSession, dir: String): DataFrame =
    withScratchIndex("graft_ivf_index_") { idx =>
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    graft.operators.IvfIndex.save(
      e.select(col("vec_id").as("id"), col("embedding").as("vec")),
      idx, nClusters = 16, iters = 2, dim = 64)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "n_id")
    val approx = graft.operators.IvfIndex.topK(s, idx, queries, k = 5, nprobe = 4)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** Incremental ANN maintenance through the persisted IVF index: the
    * base shard (vec_id % 10 != 0) is fitted + indexed once, the delta
    * shard (vec_id % 10 == 0) is assigned to the EXISTING centroids
    * and appended ([[graft.operators.IvfIndex.append]] — no re-fit),
    * and retrieval quality is measured THROUGH the appended index:
    * top-5 recall against exact brute force over base ∪ delta. The
    * lifecycle counterpart of `dedup_incremental` on the ANN side —
    * daily-shard cost is delta-proportional, the index keeps serving.
    * One row (n_truth, n_hit, recall). */
  def embedIvfAppend(s: SparkSession, dir: String): DataFrame =
    withScratchIndex("graft_ivf_append_") { idx =>
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    graft.operators.IvfIndex.save(base, idx, nClusters = 16, iters = 2, dim = 64)
    graft.operators.IvfIndex.append(s, idx, delta)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "n_id")
    val approx = graft.operators.IvfIndex.topK(s, idx, queries, k = 5, nprobe = 4)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** The ANN maintenance half ([[graft.operators.IvfIndex.refit]]):
    * base fitted + indexed, delta APPENDED against the stale centroids,
    * then the periodic REFIT re-fits the centroids from the persisted
    * vectors and rewrites the lists — after which the index must be
    * bit-identical to a from-scratch build over the union corpus
    * (id-ordered deterministic k-means), which is exactly why this
    * entry shares `embed_ivf_recall`'s oracle SQL verbatim: the
    * refit-after-appends recall frame has to reproduce the
    * fit-everything-at-once frame bit-for-bit. The reference's
    * analogue is the statement-reset rebaseline policy
    * (input/postgres/statements.go:78-110) — the maintenance loop is
    * part of the operator, not an ops afterthought. */
  def embedIvfRefit(s: SparkSession, dir: String): DataFrame =
    withScratchIndex("graft_ivf_refit_") { idx =>
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    graft.operators.IvfIndex.save(base, idx, nClusters = 16, iters = 2, dim = 64)
    graft.operators.IvfIndex.append(s, idx, delta)
    graft.operators.IvfIndex.refit(s, idx, nClusters = 16, iters = 2, dim = 64)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val truth = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select("q_id", "n_id")
    val approx = graft.operators.IvfIndex.topK(s, idx, queries, k = 5, nprobe = 4)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall"))
  }

  /** Banded LSH near-dups: 8 signatures × 4 bits → recall ≈ 0.75 at
    * sim 0.4 (p=0.63), with per-bucket caps bounding the self-join. The
    * sim column is left unrounded: the oracle reproduces the identical
    * IEEE double (sequential-order sums), as embed_cosine_topk proved. */
  def embedNearDups(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDups(
      Tables.fanOut(Tables.embeddings(s, dir)), "vec_id", "embedding",
      threshold = 0.4, bits = 4, sigs = 8, dim = 64)

  /** The production scale path: `bits` sized from the live corpus count
    * (autoBits), so bucket population stays near the per-cell target at
    * ANY corpus size instead of flooding the hot-bucket cap when a fixed
    * `bits` under-partitions a grown corpus (fixed 4 bits = 16 buckets
    * → every bucket over the 1000-row cap at ~50 k vectors, dropping
    * true pairs). The gate runs at sf0.01 where autoBits(500, 8) = 2;
    * the oracle pins that same value (see OraclesGen.embedNearDupsAuto). */
  def embedNearDupsAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupsAuto(
      Tables.fanOut(Tables.embeddings(s, dir)), "vec_id", "embedding",
      threshold = 0.4, sigs = 8, dim = 64)

  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
    val ws = TextFns.words(col("text"))
    val nWords = size(ws)
    val alpha = length(regexp_replace(col("text"), "\\s", ""))
    d.select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      nWords.as("n_words"),
      when(nWords > 0, alpha.cast("double") / nWords).otherwise(0.0)
        .as("avg_word_len"),
      TextFns.punctRatio(col("text")).as("punct_ratio"),
      when(nWords > 0,
        TextFns.stopwordHits(ws, "en").cast("double") / nWords)
        .otherwise(0.0).as("stopword_ratio"))
  }

  def textTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir)).select(
      col("doc_id"),
      TextFns.tokenCount(col("text")).as("n_tokens"),
      size(TextFns.words(col("text"))).as("n_ws_tokens"))

  def textLangId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
    val ws = TextFns.wordSet(col("text"))
    val scored = d.select(
      col("doc_id"),
      TextFns.stopwordHits(ws, "en").as("en_hits"),
      TextFns.stopwordHits(ws, "es").as("es_hits"),
      TextFns.stopwordHits(ws, "de").as("de_hits"),
      TextFns.stopwordHits(ws, "fr").as("fr_hits"))
    scored.withColumn("lang_guess",
      when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits")
        && col("en_hits") >= col("fr_hits"), "en")
        .when(col("es_hits") >= col("de_hits")
          && col("es_hits") >= col("fr_hits"), "es")
        .when(col("de_hits") >= col("fr_hits"), "de")
        .otherwise("fr"))
  }

  /** Media stand-in: documents as opaque binary payloads with a type
    * dimension (image/audio/video by doc_id). */
  private def media(s: SparkSession, dir: String) =
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END").as("media_type"),
      col("text").cast("binary").as("payload"))

  // Multimodal: REAL codecs behind the batched partition-local
  // contract — executors synthesize genuine PNG (ImageIO) and RIFF/WAV
  // (javax.sound) documents plus raw-frame video containers, then
  // decode them back and emit pixel/sample-derived features; the
  // oracle reproduces every feature analytically from the synthesis
  // formulas, so a wrong decode (channel swap, sign error, dropped
  // sample) hash-fails. n_bytes is excluded: PNG/zlib encoded size is
  // codec-version detail, not data.
  def mmDecodeFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = graft.operators.Multimodal
    val typed = Tables.documents(s, dir).select(
      col("doc_id"),
      expr("CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END").as("media_type"))
      .as[(Long, String)]
    val feats = M.decodeFeatures(M.encodeMedia(typed)).toDF()
    val dims = (0 until M.FeatureDim).map(i => col("features")(i).as(s"f$i"))
    feats.select(col("doc_id") +: col("media_type") +: dims: _*)
  }

  // Multimodal: video frame sampling as pure binary column algebra.
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.frameSample(
      media(s, dir).filter(col("media_type") === "video"),
      "doc_id", "payload")
      // binary frame re-projected to hex for the driver comparator
      .select(col("doc_id"), col("frame_idx"),
        hex(col("frame_bytes")).as("frame_hex"))

  /** Winnowing fingerprints per document (8-gram rolling hash, window
    * 4), re-projected to a joined string for the driver comparator. */
  def docWinnow(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir)).select(
      col("doc_id"),
      TextFns.winnowFingerprints(col("text")).as("fps_arr"))
      .select(col("doc_id"),
        expr("array_join(cast(fps_arr as array<string>), ',')").as("fingerprints"),
        size(col("fps_arr")).as("n_fp"))

  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir)).select(
      col("doc_id"),
      TextFns.contentFingerprint(col("text")).as("fingerprint"))

  /** Dedup cluster assignment: connected components over the bounded
    * exact-Jaccard pair graph (the scale path feeds
    * [[Dedup.lshCandidates]] pairs instead — same operator). Output:
    * (doc_id, component = min id in cluster, cluster_size). */
  def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(
      Tables.fanOut(Tables.documents(s, dir)).filter(col("doc_id") < 300),
      "doc_id", "text", threshold = 0.8)
    Dedup.connectedComponents(pairs)
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("component"))))
      .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
  }

  /** Token-window document chunking for context-bounded training
    * samples: 64-token chunks on a 48-token stride (16-token overlap),
    * per-row `sequence`+`explode` — no shuffle, no UDF. */
  def docChunking(s: SparkSession, dir: String): DataFrame = {
    val chunkLen = 64
    val stride = 48
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") > 0)
    d.select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0),
          ceil(col("n").cast("double") / stride).cast("int") - 1)).as("chunk_idx"))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("ws"), col("chunk_idx") * stride + 1,
          lit(chunkLen)), " ").as("chunk_text"),
        least(lit(chunkLen), col("n") - col("chunk_idx") * stride)
          .cast("long").as("n_tokens"))
  }

  /** Corpus vocabulary: top-100 tokens by document frequency —
    * map-side-combining partial aggregation into a global
    * TakeOrderedAndProject (no full sort at any scale); ties broken by
    * token so the top-k is a deterministic total order. */
  def textVocabTopK(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.wordSet(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(100)

  /** Semantic dedup (SemDeDup): the deterministic k-means coarse
    * quantizer ([[Similarity.ivfFit]], bit-reproduced in the oracle)
    * partitions the embedding corpus into clusters; WITHIN each
    * cluster, any vector whose cosine to a lower-id member meets the
    * threshold is dropped (lowest id survives as the exemplar).
    *
    * Scale shape: the pairwise comparison is confined to clusters — at
    * corpus scale k grows with n so cluster sizes stay bounded
    * (n/k ≈ constant), which is the SemDeDup design point; the
    * cluster-keyed self-join is an equi-join, never a global cross
    * product. Output: every vector with its cluster and kept flag.
    *
    * VERIFICATION-SCOPED (like `dedup_ngram_jaccard` is for the LSH
    * path): the paper's k ∝ n sizing law makes even two-level
    * assignment n^1.5 (measured 34×/38× at 10× data — the declared
    * algorithm, not a plan defect), so this entry and `sem_dedup_2l`
    * are paper-faithful check arms, NOT 100 TB lake paths; the
    * declared production configuration is [[semDedupBounded]]
    * (fixed k, capped witnesses, measured linear). */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    semDedupImpl(s, dir, minK = 16)

  /** The two-level assignment path of [[semDedup]] pinned at gate scale:
    * a floor of 80 clusters keeps k above [[Similarity.TwoLevelMinK]]
    * even on the 500-vector sf0.01 corpus, so the coarse-routed
    * assignment is hash-checked against the oracle every round.
    * VERIFICATION-SCOPED like [[semDedup]] (k ∝ n ⇒ n^1.5 by the
    * declared sizing law); the lake path is [[semDedupBounded]]. */
  def semDedup2L(s: SparkSession, dir: String): DataFrame =
    semDedupImpl(s, dir, minK = 80)

  /** SemDeDup, the bounded-k lake configuration. [[semDedup]] follows
    * the paper's sizing law k ∝ n, which makes assignment inherently
    * n·√k = n^1.5 even on the two-level path (measured 34× at 10×
    * data) — production deployments instead FIX the cluster count
    * (~50k clusters over 5B embeddings) and accept a coarser
    * partition. With k constant every stage here is LINEAR in the
    * corpus:
    *
    *  - assignment: n·k dot products under a k-row broadcast
    *    ([[Similarity.ivfAssign]], flat path — k = 64 never grows);
    *  - dup collapse: one (cluster, vec) group-by shuffle;
    *  - witness scan: each vector scores only its cluster's first
    *    [[Similarity.WitnessCap]] representatives by rep id — the
    *    witness frame is ≤ k·cap rows TOTAL regardless of corpus
    *    size, broadcast against a single corpus pass (n·cap work,
    *    zero pair shuffle).
    *
    * The cap is part of the operator's DECLARED semantics — a vector
    * is dropped iff an identical lower-id vector shares its cluster,
    * or one of the cluster's first `cap` representatives is lower-id
    * and scores ≥ the threshold — and the oracle re-derives it
    * exactly, so this is gate-checked semantics, not an approximation
    * of [[semDedup]]. Zero-norm vectors score 0 against everything
    * (cosine contract): never collapsed, never witnesses, never
    * dropped. */
  def semDedupBounded(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.embeddings(s, dir))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .transform(persistRows) // feeds the k-means passes + assignment
    val assigned = Similarity.ivfAssign(
        e, Similarity.ivfFit(e, k = Similarity.BoundedK, iters = 2, dim = 64))
      .transform(persistRows) // feeds the drop arms + the final join
    val dropped = Similarity.cappedWitnessDrop(assigned,
      threshold = 0.3, cap = Similarity.WitnessCap)
    assigned.join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        (!coalesce(col("dup"), lit(false))).as("kept"))
  }

  /** [[semDedup]] and [[semDedup2L]]. While k stays flat (≤
    * [[Similarity.TwoLevelMinK]]) and the vectors fit the driver budget
    * ([[Similarity.ivfFit]]'s cap, `driverBytes` at 4·dim B a vector),
    * one `coalesce(1).limit(cap + 1)` collect gathers them and
    * [[Similarity.semDedupOnDriver]] runs the fit, the assignment and
    * the pairwise on the driver into a local relation: same rows, same
    * schema, no persisted blocks. Past either bound the distributed plan
    * below runs. */
  private[graft] def semDedupImpl(s: SparkSession, dir: String, minK: Int,
      driverBytes: Long = DimEncode.BroadcastBudgetBytes): DataFrame = {
    val threshold = 0.3
    val dim = 64
    def emb(df: DataFrame) =
      df.select(col("vec_id").as("id"), col("embedding").as("vec"))
    // k scales with the corpus so cluster sizes stay ~300 and the
    // within-cluster pairwise stays bounded (quadratic in cluster
    // size × k clusters = LINEAR total when k ∝ n) — the SemDeDup
    // sizing law, same shape as Similarity.autoBits. At the sf0.01
    // gate (500 vectors) this floors to the oracle's k = 16.
    def kFor(n: Long) = math.max(minK, math.ceil(n / 300.0).toInt)
    // past 300 · TwoLevelMinK vectors k leaves the flat path
    val cap =
      if (minK > Similarity.TwoLevelMinK) -1L
      else math.min(driverBytes / (4L * dim), 300L * Similarity.TwoLevelMinK)
    val raw = emb(Tables.embeddings(s, dir))
    Similarity.vectorsUnder(raw, cap) match {
      case Some(vs) =>
        val ck = Similarity.semDedupOnDriver(vs, kFor(vs.length), iters = 2,
          dim, threshold)
        s.createDataFrame(vs.indices.map(i => Row(vs(i)._1, ck(i)._1, ck(i)._2)).asJava,
          StructType(Seq(raw.schema("id").copy(name = "vec_id"),
            StructField("cluster", IntegerType),
            StructField("kept", BooleanType, nullable = false))))
      case None => semDedupDistributed(emb(Tables.fanOut(Tables.embeddings(s, dir))),
        kFor, threshold, dim, driverBytes)
    }
  }

  private def semDedupDistributed(emb: DataFrame, kFor: Long => Int,
      threshold: Double, dim: Int, driverBytes: Long): DataFrame = {
    val e = emb
      // feeds count + ivfFit's k-means passes + ivfAssign + the final
      // join — without it the auto-k count() re-runs the embeddings scan
      // (r7 verdict finding #1); MEMORY_AND_DISK, so it stays bounded at
      // scale
      .transform(persistRows)
    val k = kFor(e.count())
    // flat assignment is n·k work under a k-row broadcast — fine while
    // k is bounded, a scale-killer once k ∝ n; strictly above
    // TwoLevelMinK the coarse-routed two-level assignment takes over
    // (n·√k·nprobe work, √k broadcast). Same threshold in the oracle.
    // persisted: the assignment feeds THREE arms of one action (both
    // pairwise sides + the kept-flag join) — without it Spark re-runs
    // the whole fit+assign subtree once per arm (the dominant term of
    // the r10 sf10 wall time)
    val assigned = (
      if (k > Similarity.TwoLevelMinK)
        Similarity.ivfFitAssign2L(e, k = k, iters = 2, dim = dim)
      else
        Similarity.ivfAssign(e,
          Similarity.ivfFit(e, k = k, iters = 2, dim = dim, driverBytes = driverBytes))
    ).transform(persistRows)
    // Duplicate-heavy corpora collapse identical vectors into one
    // cluster (measured at sf10: one cluster holds 41% of the corpus),
    // making the bare within-cluster pairwise intrinsically quadratic.
    // Two semantics-preserving execution rewrites:
    //
    //  1. EXACT-DUP COLLAPSE — identical vectors always co-cluster
    //     (same sims, same tie-break), and cosine(v, v) = 1 ≥ the 0.3
    //     threshold for any non-zero v: every non-minimum member of an
    //     identical-vector group is dropped by its group minimum. Only
    //     group REPRESENTATIVES (min id per distinct (cluster, vec))
    //     need pairwise scoring: a rep b has a lower-id witness iff
    //     some OTHER rep with smaller min-id scores ≥ threshold (any
    //     witness's whole group shares its vec, and "some member below
    //     b" ⟺ "group min below b"). Zero-norm vectors score 0
    //     against everything (cosine contract) — excluded from the
    //     collapse, never dropped, never witnesses.
    //  2. SALTED rep pairwise — distinct-heavy corpora leave reps ≈
    //     members, so the rep self-join still salts (id%32 one side,
    //     32× replication of the other) to keep any hot cluster's pair
    //     grid off a single task (measured 33-min straggler).
    //
    // The dropped SET — and therefore the oracle — is untouched.
    val m = 32
    val nzAssigned = assigned.withColumn("nz",
      graft.functions.expressions.Norm2FExpr.column(col("vec")) > 0d)
    val groups = nzAssigned.filter(col("nz"))
      .groupBy(col("cluster"), col("vec"))
      .agg(min(col("id")).as("rep_id"))
      .transform(persistRows) // feeds the dup-drop arm AND the rep pairwise
    val dupDropped = nzAssigned.filter(col("nz"))
      .join(groups, Seq("cluster", "vec"))
      .filter(col("id") > col("rep_id"))
      .select(col("id"))
    val a = groups.select(col("cluster"), col("rep_id").as("id_a"),
      col("vec").as("vec_a"))
      .withColumn("salt", pmod(col("id_a"), lit(m)).cast("int"))
    val b = groups.select(col("cluster"), col("rep_id").as("id_b"),
      col("vec").as("vec_b"))
      .withColumn("salt", explode(sequence(lit(0), lit(m - 1))))
    val repDropped = a.join(b, Seq("cluster", "salt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as("id"))
    val dropped = dupDropped.unionByName(repDropped).distinct()
    assigned.join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cluster"),
        (!coalesce(col("dup"), lit(false))).as("kept"))
  }

  /** TF-IDF top-3 terms per document (smooth idf, sklearn form:
    * ln((N+1)/(df+1)) + 1). Plan shape: one shuffle to (doc, term)
    * counts, one shuffle to term document-frequencies, a term-keyed
    * join back (vocab scales with corpus — a shuffled hash join, NOT a
    * broadcast), and a per-doc top-k window. The corpus size enters as
    * a broadcast 1-row aggregate, not a driver collect. Scores round-6:
    * tf/df/N are integers, so both engines compute ln on identical
    * doubles (last-ULP log divergence is sub-1e-9 and vanishes at 6
    * decimals). */
  def textTfidfTopK(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
    // tf feeds both the df aggregation and the scoring join: persist
    // it (vocab × docs rows, far smaller than the token stream) so the
    // corpus is exploded and counted once, not once per consumer.
    val tf = d.select(col("doc_id"), explode(TextFns.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(persistRows) // feeds df agg + scoring join
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score", round(
        col("tf") * (log((col("n_docs") + 1).cast("double") /
          (col("df") + 1)) + 1), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tf", "df", "score")
  }

  /** BM25 retrieval over the corpus for a fixed 3-term query
    * (k1 = 1.2, b = 0.75, Robertson idf with the +1 floor): per-doc
    * term frequencies for ONLY the query terms (the filter prunes
    * before the first shuffle), document frequencies per term, length
    * normalization against the corpus-average doc length — computed as
    * exact-integer sum/count, not a float `avg`, so both engines
    * divide the same operands — and a global top-50 that plans as
    * TakeOrderedAndProject. */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("hash", "table", "scan")
    val k1 = 1.2; val b = 0.75
    // ONE tokenization pass: per-doc length and the pruned-to-3-terms
    // hit list come out of the same projection, persisted
    // doc-count-sized so the stats branch and the tf branch don't each
    // re-tokenize the corpus — tokenizing 100 TB twice is the avoidable
    // cost here.
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"),
        filter(col("ws"), w => w.isInCollection(terms)).as("hits"))
      .transform(persistRows) // feeds tf branch + corpus stats branch
    val tf = d.select(col("doc_id"), col("dl"),
      explode(col("hits")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val dfreq = tf.groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf") /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    // contribs fold in TERM order (one row per term per doc), not an
    // unordered `sum`: float addition order must match the oracle's
    // operand order exactly or a last-ULP difference can flip the 6th
    // decimal under the hash gate — the native kernel replays
    // aggregate(array_sort(...)) bit-exactly without the interpreted
    // comparator + lambda per group
    scored.groupBy("doc_id")
      .agg(round(graft.functions.expressions.SortedStructSumExpr.column(
        collect_list(struct(col("term"), col("contrib")))),
        6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
  }

  /** PII-bearing text synthesized deterministically from doc_id (the
    * corpus itself is PII-free word soup): every 2nd doc gains an email,
    * every 3rd an IPv4, every 5th a phone number — the oracle re-derives
    * the same fragments from the generation rule, so nonzero match
    * counts are actually exercised. */
  private def piiText: Column = concat(
    col("text"),
    when(col("doc_id") % 2 === 0,
      concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
      .otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit(" from 10."), (col("doc_id") % 200) + 1, lit(".0."),
        (col("doc_id") % 250) + 1)).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  /** PII scrubbing for training corpora: per-pattern match counts and
    * the scrubbed text (placeholders spliced over every match). Pure
    * per-row codegen'd regex work — no shuffle, no UDF; the patterns
    * are the engine-owned [[TextFns.piiPatterns]] table, shared verbatim
    * with the oracle. */
  def docPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), piiText.as("pii_text"))
    val counts = TextFns.piiPatterns.map { case (name, re, _) =>
      TextFns.piiCount(col("pii_text"), re).as(s"n_$name")
    }
    d.select(
      Seq(col("doc_id")) ++ counts ++ Seq(
        TextFns.piiScrub(col("pii_text")).as("scrubbed")): _*)
  }

  /** Gopher-style repetition signals, all computed per-row with
    * higher-order functions (no shuffle): duplicate-word fraction, most
    * frequent word's share, most frequent bigram's share. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .withColumn("bs", TextFns.bigrams(col("ws")))
    d.select(
      col("doc_id"),
      size(col("ws")).as("n_words"),
      TextFns.dupWordFrac(col("ws")).as("dup_word_frac"),
      when(size(col("ws")) > 0,
        TextFns.topElementCount(col("ws")).cast("double") / size(col("ws")))
        .otherwise(0.0).as("top_word_frac"),
      when(size(col("bs")) > 0,
        TextFns.topElementCount(col("bs")).cast("double") / size(col("bs")))
        .otherwise(0.0).as("top_bigram_frac"))
  }

  /** The rest of the Gopher repetition family (Rae et al., Table A1):
    * fraction of characters inside the MOST FREQUENT {2,3,4}-gram
    * (count × chars, ties to the lexicographically smallest gram) and
    * fraction of characters covered by ANY duplicated {5..10}-gram
    * (position coverage — overlapping occurrences count each character
    * once). Per-row only, zero shuffle at any corpus size: the gram
    * arrays are HOF-built (O(L·n)) and the occurrence counts come from
    * the native O(L) hash-pass [[TextFns.elementCounts]], so the whole
    * row is O(L·n) — a 100k-token document is ~10⁶ ops, not the ~10¹⁰
    * of the quadratic transform/filter form this replaced. Every
    * fraction is exact-integer-over-integer in one division, so no
    * float-order hazard and no rounding needed. */
  def textDupNgramFrac(s: SparkSession, dir: String): DataFrame =
    textDupNgramFracOf(Tables.fanOut(Tables.documents(s, dir)))

  /** Core of [[textDupNgramFrac]] over any `(doc_id, text)` frame —
    * split out so specs can push a pathological long document (≥100k
    * tokens) through the exact production pipeline. */
  def textDupNgramFracOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      // ONE fused native pass per row for all nine signals (tc, the
      // {2,3,4}-gram top fractions, the {5..10}-gram coverage
      // fractions) — same gram strings, same argmin/coverage/ANSI-int
      // semantics as the HOF pipeline it replaces (the DuckDB oracle
      // keeps that form; equivalence is property-pinned in
      // KernelProps and hash-gated)
      .select(col("doc_id"),
        graft.functions.expressions.GopherRepetitionExpr.column(col("ws"))
          .as("g"))
      .select(
        Seq(col("doc_id"), col("g.tc").as("n_chars")) ++
          (2 to 4).map(n => col(s"g.t$n").as(s"top${n}_gram_frac")) ++
          (5 to 10).map(n => col(s"g.d$n").as(s"dup${n}_gram_frac")): _*)

  /** Composed C4/Gopher-style quality gating: every rule evaluated
    * per document in ONE pass (all signals are per-row higher-order
    * functions — no shuffle, no UDF), with per-rule pass flags kept in
    * the output so downstream can attribute drops to rules. `keep` is
    * the conjunction. Thresholds chosen against the corpus quartiles
    * so each rule genuinely fires. */
  def corpusQualityGates(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id") +: qualitySignals(col("ws")): _*)
      .select(col("doc_id") +: qualityRules.map { case (n, r) => r.as(n) } :+
        qualityKeep.as("keep"): _*)

  /** [[corpusQualityGates]]' per-document signals over a word array. */
  private def qualitySignals(ws: Column): Seq[Column] = Seq(
    size(ws).as("n_words"),
    TextFns.dupWordFrac(ws).as("dup_frac"),
    when(size(ws) > 0, TextFns.topElementCount(ws).cast("double") / size(ws))
      .otherwise(0.0).as("top_frac"),
    when(size(ws) > 0,
      TextFns.stopwordHits(array_distinct(ws), "en").cast("double") / size(ws))
      .otherwise(0.0).as("stop_frac"))

  /** [[corpusQualityGates]]' rules over the [[qualitySignals]] columns. */
  private val qualityRules: Seq[(String, Column)] = Seq(
    "pass_min_words" -> (col("n_words") >= 30),
    "pass_dup_words" -> (col("dup_frac") <= 0.65),
    "pass_top_word" -> (col("top_frac") <= 0.2),
    "pass_stopwords" -> (col("stop_frac") >= 0.02))

  /** The keep conjunction of [[qualityRules]], shared with the funnel. */
  private def qualityKeep: Column = qualityRules.map(_._2).reduce(_ && _)

  /** Temperature-based source mixing against a token budget (the
    * UniMax/multilingual-sampling shape): per-source token counts are
    * exact integer sums; sampling shares p_s = tokens^τ / Σ tokens^τ
    * (τ = 0.7) flatten the source distribution; expected tokens and
    * epochs follow from a 100k-token budget. The per-source rollup is
    * one shuffle on `source`; the share denominator is a broadcast
    * 1-row aggregate. */
  def corpusTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 100000.0
    val tau = 0.7
    val perSource = Tables.fanOut(Tables.documents(s, dir))
      .select(col("source"), TextFns.tokenCount(col("text")).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("wt", pow(col("n_tokens").cast("double"), tau))
    // source-ordered sequential fold, not a parallel sum: the handful
    // of per-source weights must add in the same order in both engines
    val denom = perSource.agg(
      graft.functions.expressions.SortedStructSumExpr.column(
        collect_list(struct(col("source"), col("wt")))).as("wt_sum"))
    perSource.crossJoin(broadcast(denom))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("wt") / col("wt_sum"), 6).as("p_sample"),
        round(lit(budget) * col("wt") / col("wt_sum"), 2)
          .as("expected_tokens"),
        round(lit(budget) * col("wt") / col("wt_sum")
          / col("n_tokens"), 6).as("epochs"))
  }

  /** Int8 scalar quantization of the embedding corpus (the way you
    * compress 100 TB of vectors before ANN serving): one single-pass
    * aggregate computes per-dimension global bounds (128 agg
    * expressions, no explode/shuffle of the vectors), a broadcast join
    * ships the 1-row bounds everywhere, and quantize / dequantize /
    * reconstruction-error are per-row sequential folds — deterministic
    * regardless of partitioning. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val e = Tables.fanOut(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val bounds = e.agg(
      array((0 until dims).map(i =>
        min(element_at(col("v"), i + 1))): _*).as("mns"),
      array((0 until dims).map(i =>
        max(element_at(col("v"), i + 1))): _*).as("mxs"))
    e.crossJoin(broadcast(bounds))
      .withColumn("deq", expr(
        s"""transform(sequence(0, $dims - 1), i ->
           |  CASE WHEN mxs[i] > mns[i] THEN
           |    (round((v[i] - mns[i]) / (mxs[i] - mns[i]) * 254) / 254)
           |      * (mxs[i] - mns[i]) + mns[i]
           |  ELSE mns[i] END)""".stripMargin))
      .select(
        col("vec_id"),
        round(expr(s"""aggregate(sequence(0, $dims - 1), 0D,
          |(acc, i) -> acc + abs(v[i] - deq[i])) / $dims""".stripMargin), 9)
          .as("mean_abs_err"),
        round(expr(s"""aggregate(sequence(0, $dims - 1), 0D,
          |(acc, i) -> greatest(acc, abs(v[i] - deq[i])))""".stripMargin), 9)
          .as("max_abs_err"))
  }

  /** Benchmark decontamination: flag training documents sharing ≥ 3
    * winnowing fingerprints with any benchmark document (stand-in
    * benchmark set: doc_id % 97 = 0). Scale shape: a real benchmark
    * suite is FIXED-size, so AQE broadcasts it at runtime from its
    * measured shuffle stats and the training corpus never shuffles —
    * but the join is declared UNHINTED, because the synthetic stand-in
    * scales as corpus/97 and a forced broadcast of a
    * corpus-proportional side is exactly the 100 TB driver-OOM shape
    * (observed as a 300 MB task at sf10 before this was unhinted); the
    * fallback is a plain fp-keyed shuffle equi-join, linear at any SF.
    * Per-doc fingerprints are distinct, so count(*) of the join IS the
    * intersection size. [[decontamBloom]] is the constant-memory
    * 100 TB path. */
  def docDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.winnowFingerprints(col("text")).as("fps")))

  /** [[docDecontaminate]]'s join over a `(doc_id, fps)` frame, shared
    * with the funnel. */
  private def decontaminate(d: DataFrame): DataFrame = {
    val fp = d.select(col("doc_id"), explode(col("fps")).as("fp"))
    // Discriminative-fingerprint gate (the anti-hot-bucket analog of
    // Dedup.maxBucket): a fingerprint present in > 256 documents is
    // boilerplate/template material, not contamination evidence, and
    // its join pairs grow QUADRATICALLY with corpus size — measured on
    // the synthetic corpus: ungated pairs 23.7M at sf1 → 4.3B at sf10
    // (181x for 10x data, vowel-free shingles recur across ScaleUp
    // replicas); df <= 256 keeps growth linear (1.5M → 3.5M). The gate
    // is a shuffle-side semi-join on fp — NOT a broadcast: the hot-fp
    // complement is corpus-proportional, but the qualified-fp frame
    // shares the pair join's hash partitioning, so the exchange is
    // reused and nothing corpus-sized crosses to the driver.
    val ok = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 256).select("fp")
    val train = fp.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_id"), col("fp"))
    val bench = fp.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("fp"))
    train.join(ok, Seq("fp"), "left_semi")
      .join(bench, Seq("fp"))
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** Deterministic source-mixing: each source gets a keep-fraction from
    * the mixing recipe (here: source index mod 4 → 100/50/25/10 %), and
    * each document routes through an FNV bucket — reproducible across
    * engines, partitionings and reruns, unlike `rand()`-based sampling.
    * Pure map-side row work. */
  def sampleMixSources(s: SparkSession, dir: String): DataFrame = {
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(
          concat(lit("mix:"), col("doc_id").cast("string")))))
    val bucket = h.bitwiseAND(lit(255L))
    val srcIdx = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
    val threshold = when(srcIdx % 4 === 0, 256)
      .when(srcIdx % 4 === 1, 128)
      .when(srcIdx % 4 === 2, 64)
      .otherwise(26)
    Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      bucket.as("bucket"),
      (bucket < threshold).as("kept"))
  }

  /** Corpus composition rollup: (source, lang) cells plus per-source
    * subtotals and the grand total in one pass — Spark's ROLLUP lowers
    * to a single expanded aggregate, not one job per level. */
  def corpusStatsRollup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .rollup("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 6).as("avg_chars"))

  /** BPE tokenizer training over the corpus word counts: 5 merge
    * rounds learned with [[graft.operators.BpeTrain]] — weighted pair
    * counts, lexicographic tie-breaks, greedy left-to-right merge
    * application. The only corpus-scale stage is the initial word
    * count; every round runs over the Zipf-bounded vocab table. */
  def tokenizerBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    graft.operators.BpeTrain.merges(words, rounds = 5)
  }

  /** Content-defined chunking (the Rabin/FastCDC family): rolling-hash
    * cut points (same 8-gram polynomial as winnowing) with min 16 /
    * max 64 byte bounds, divisor 16 — boundaries survive local edits,
    * so shifted content re-aligns and chunk hashes dedup across the
    * corpus (the `n_occurrences` window). One native expression per
    * row for the scan; one shuffle on chunk_hash for the dedup count. */
  def docCdcChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.CdcChunksExpr(
        org.apache.spark.sql.GraftNative.expression(col("text")),
        k = 8, divisor = 16L, minLen = 16, maxLen = 64))
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"),
        col("c.start").as("start"), col("c.end").as("end"),
        (col("c.end") - col("c.start")).as("chunk_len"),
        col("c.hash").as("chunk_hash"))
      .withColumn("n_occurrences", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk_hash")))
  }

  /** Fuzzy-dedup e2e — the production near-dup pipeline as ONE chain:
    * MinHash(64) signatures → 8×8 banded LSH candidates (≥ 0.7
    * estimated Jaccard) → connected components over the candidate
    * graph → canonical selection per cluster (most words, lowest id).
    * Every stage is the already-verified operator; this entry verifies
    * their COMPOSITION — the keep/drop decision a crawl pipeline
    * actually ships. Singleton docs are their own cluster. One extra
    * shuffle on component for the size/rank window. */
  def dedupFuzzyE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(docs, "doc_id", "text"))
      .filter(col("est_jaccard") >= 0.7)
    val comp = Dedup.connectedComponents(pairs)
    val nw = docs.select(col("doc_id"),
      size(TextFns.words(col("text"))).as("n_words"))
    val allc = nw
      .join(comp.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("component")
    val wr = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col("n_words").desc, col("doc_id"))
    allc.select(col("doc_id"), col("component"),
      count(lit(1)).over(wc).as("n_members"),
      col("n_words"),
      (row_number().over(wr) === 1).as("is_canonical"))
  }

  /** Bigram language-model quality scoring (the CCNet/KenLM-style
    * perplexity filter): fit an add-α bigram LM on the corpus itself
    * (context counts + smoothed conditionals, α = 0.5), then score
    * every document by its average token log-probability and
    * perplexity. Scale shape: bigram/context count tables are
    * Zipf-bounded; the corpus-scale work is one bigram explode and two
    * equi-joins against those tables. The per-doc log-prob sum is an
    * ORDER-FIXED fold (position-sorted), so float addition order —
    * and therefore the round-6 gate hash — is identical in the
    * oracle. */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val bg = docs
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      // native adjacent-pair kernel — same (w1, w2) structs as the
      // transform(sequence…) HOF, without the per-row interpreted build
      .select(col("doc_id"), posexplode(
        graft.functions.expressions.BigramsExpr.column(col("ws")))
        .as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // feeds counts + scoring join: three branches of one final action
      .transform(persistRows)
    val cBig = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cCtx = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = docs
      .select(explode(TextFns.words(col("text"))).as("w"))
      .agg(countDistinct("w").as("v"))
    // conditional-prob table built SMALL-side first: cBig ⋈ cCtx ⋈ v are
    // all Zipf-bounded, so the corpus-sized bigram stream rides exactly
    // ONE equi-join (vs the previous bg⋈cBig then bg⋈cCtx — two full
    // corpus shuffles), and log() runs once per DISTINCT bigram instead
    // of once per corpus bigram instance. logp per (w1, w2) is the same
    // double expression over the same cb/cu/v values — bit-identical.
    val probs = cBig.join(cCtx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), log(
        (col("cb") + lit(0.5)) /
          (col("cu") + lit(0.5) * col("v"))).as("logp"))
    bg.join(probs, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        collect_list(struct(col("pos"), col("logp"))).as("ls"))
      .select(col("doc_id"), col("n_bigrams"),
        graft.functions.expressions.SortedStructSumExpr.column(col("ls"))
          .as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s"), 6).as("sum_logprob"),
        round(exp(-col("s") / col("n_bigrams")), 6).as("perplexity"))
  }

  /** CCNet-style perplexity bucketing: the scored corpus split into
    * head / middle / tail thirds by LM perplexity — the classic
    * quality-stratification step before mixing. The split is
    * SCALE-HONEST: no global rank/sort — thresholds come from an
    * integer-floor perplexity histogram (k-bounded, map-side
    * combinable, the [[quantileSketch]] shape) with exact-integer
    * tertile targets ceil(n/3) = (n+2) div 3, then bucket assignment
    * is a per-row compare against the two broadcast thresholds. All
    * compares run on the ROUNDED perplexity (bit-identical in both
    * engines), so the bucketing is deterministic. */
  def corpusPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val lm = textLmScore(s, dir)
      .select(col("doc_id"), col("perplexity"),
        floor(col("perplexity") * 16).cast("long").as("pf"))
      .transform(persistRows) // feeds the histogram AND the assignment
    val hist = lm.groupBy("pf").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        W.orderBy("pf").rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("tot", sum("cnt").over(
        W.orderBy("pf").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val th = hist
      .select(col("pf"), col("cum"),
        ((col("tot") + 2) / 3).cast("long").as("t1"),
        ((col("tot") * 2 + 2) / 3).cast("long").as("t2"))
      .agg(
        min(when(col("cum") >= col("t1"), col("pf"))).as("th1"),
        min(when(col("cum") >= col("t2"), col("pf"))).as("th2"))
    lm.crossJoin(broadcast(th))
      .select(col("doc_id"), col("perplexity"), col("pf").as("ppl_floor"),
        when(col("pf") <= col("th1"), "head")
          .when(col("pf") <= col("th2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Exact substring dedup (the Lee et al. "Deduplicating Training
    * Data" operator): find every 5-token window whose token sequence
    * occurs MORE THAN ONCE anywhere in the corpus, and strip the
    * covered tokens from each document. Scale shape is all equi-joins:
    * windows carry only (doc_id, pos, fnv64) — an 8-byte hash, not the
    * n-gram text — into the duplicate count; duplicated windows expand
    * to their covered positions (×5 rows, `explode(sequence)`), so
    * coverage is a distinct + equi-join, never a per-doc range probe.
    * Output per doc: token/window counts and the surviving token
    * stream (lowercased, whitespace-normalized, in document order). */
  def dedupSubstrings(s: SparkSession, dir: String): DataFrame = {
    val W = 5
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val tokens = docs.select(col("doc_id"),
        posexplode(TextFns.words(col("text"))).as(Seq("i", "tok")))
      // these tables feed two branches of ONE action each: persisted,
      // so both branches read one computed copy
      .transform(persistRows)
    val windows = docs
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      // size < W would make sequence(0, negative) run DESCENDING in
      // Spark, not empty — filter first
      .filter(size(col("ws")) >= W)
      // fused window hashes: FNV-1a is a streaming byte fold, so
      // hashing word bytes with 0x20 between equals hashing the joined
      // gram string — the per-window strings (and the interpreted
      // transform HOF that built them) are gone
      .select(col("doc_id"), posexplode(
        graft.functions.expressions.NgramFnv64Expr.column(col("ws"), W))
        .as(Seq("pos", "h")))
      .transform(persistRows) // feeds dup count + the dup join (see above)
    val dupHashes = windows.groupBy("h")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).select("h")
    val dupw = windows.join(dupHashes, Seq("h"))
      .select(col("doc_id"), col("pos"))
      .transform(persistRows) // feeds coverage + per-doc count (see above)
    val covered = dupw
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + $W - 1)")).as("i"))
      .distinct()
    val flagged = tokens
      .join(covered.withColumn("cov", lit(true)), Seq("doc_id", "i"), "left")
      .withColumn("cov", coalesce(col("cov"), lit(false)))
    val perDoc = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("cov"), 1L).otherwise(0L)).as("n_tokens_removed"),
      collect_list(when(!col("cov"), struct(col("i"), col("tok")))).as("ks"))
    val dupCounts = dupw.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"))
    perDoc.join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_tokens_removed"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        concat_ws(" ", expr("transform(array_sort(ks), x -> x.tok)"))
          .as("kept_text"))
  }

  /** BPE tokenizer ENCODE — the inference half of
    * [[tokenizerBpeMerges]]: train 5 merges, then tokenize every
    * document with the learned table. Encoding replays the merge list
    * in rank order per word — exactly the trainer's own vocab
    * evolution — so the encoder table IS the trained vocab state
    * ([[graft.operators.BpeTrain.trainWithVocab]]), computed once per
    * DISTINCT word (Zipf-bounded); the corpus-scale work is one word
    * explode + one equi-join + one per-doc regroup. Output per doc:
    * word/token counts and the full token stream in document order. */
  def tokenizerBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val words = docs.select(explode(TextFns.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val (_, vocab) = graft.operators.BpeTrain.trainWithVocab(words, rounds = 5)
    docs.select(col("doc_id"),
        posexplode(TextFns.words(col("text"))).as(Seq("pos", "w")))
      .join(vocab.select("w", "s"), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("s"))).as("n_tokens"),
        collect_list(struct(col("pos"), col("s"))).as("ps"))
      .withColumn("tokens_str", concat_ws(" ",
        flatten(expr("transform(array_sort(ps), x -> x.s)"))))
      .drop("ps")
  }

  /** Per-source document cap (the per-domain cap of crawl pipelines):
    * keep at most 15 documents per source, prioritized by a
    * deterministic FNV hash of the doc id (an unbiased, reproducible
    * "random" order — no rand(), no seed drift), ties broken by id.
    * One shuffle on source; the per-group top-k window never sees more
    * than one source per partition. */
  def sampleDomainCap(s: SparkSession, dir: String): DataFrame = {
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(
          concat(lit("cap:"), col("doc_id").cast("string")))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("priority"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), h.as("priority"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 15)
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"))
  }

  /** Product-quantization retrieval quality: top-5 recall of the
    * ADC-over-4-byte-codes path ([[graft.operators.ProductQuant]],
    * 8 subspaces x 16 centroids) against exact squared-L2 brute force
    * — one row (n_truth, n_hit, recall, bytes_per_vec). The whole
    * chain (per-subspace deterministic k-means, code assignment,
    * per-query distance tables, subspace-ordered ADC folds) is
    * bit-reproduced in the DuckDB oracle. */
  def embedPqRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuant
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val emb = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cents = ProductQuant.fit(emb, m = 8, k = 16, iters = 2, dim = 64)
    val codes = ProductQuant.encode(emb, cents, m = 8, dim = 64)
    // ADC over the compressed corpus, twice: raw top-5 (the pure
    // 4-byte-per-vector read path) and a top-50 candidate set that an
    // exact re-rank refines — the standard PQ deployment, which reads
    // only 50 full vectors per query instead of the corpus
    val adc50 = ProductQuant.adcTopK(queries, codes, cents,
      k = 50, m = 8, dim = 64, nCodes = 16)
      // feeds raw top-5 AND the re-rank — unpersisted, the whole ADC chain
      // would re-run once per branch
      .transform(persistRows)
    val adc5 = adc50.filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2"), col("n_id"))
    def exact(pairs: DataFrame): DataFrame = pairs
      .withColumn("qd", col("q_vec").cast("array<double>"))
      .withColumn("nd", col("n_vec").cast("array<double>"))
      .withColumn("d2", ProductQuant.sqDist("qd", "nd"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "n_id")
    val rerank5 = exact(
      corpus.join(broadcast(adc50.select("q_id", "n_id")), Seq("n_id"))
        .join(broadcast(queries), Seq("q_id")))
      .withColumn("rhit", lit(1L))
    val truth = exact(broadcast(queries).crossJoin(corpus)
      .filter(col("q_id") =!= col("n_id")))
    truth
      .join(adc5, Seq("q_id", "n_id"), "left")
      .join(rerank5, Seq("q_id", "n_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit_adc"),
        coalesce(sum("rhit"), lit(0L)).as("n_hit_rerank"))
      .select(col("n_truth"), col("n_hit_adc"), col("n_hit_rerank"),
        (col("n_hit_adc").cast("double") / col("n_truth")).as("recall_adc"),
        (col("n_hit_rerank").cast("double") / col("n_truth")).as("recall_rerank"),
        lit(4L).as("bytes_per_vec"))
  }

  /** IVF-PQ retrieval quality ([[graft.operators.ProductQuant.ivfPqTopK]],
    * 16 coarse lists × nprobe 4, residual PQ 8×16, exact re-rank of
    * the ADC top-50): top-5 recall vs exact L2 for both the raw ADC
    * path and the re-ranked path, plus the probed-vector count against
    * the exhaustive scan size — the measured statement of the index's
    * scale win (ADC reads ~nprobe/nClusters of the corpus at
    * 4 bytes/vector; the refine stage reads 50 full vectors/query). */
  def embedIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuant
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val emb = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val r = ProductQuant.ivfPqTopK(queries, emb, k = 50,
      nClusters = 16, nprobe = 4, m = 8, nCodes = 16, iters = 2, dim = 64)
    // feeds raw + rerank — unpersisted, the full IVF-PQ ADC chain
    // would re-run once per branch
    val adc50 = r.topK.transform(persistRows)
    val adc5 = adc50.filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2"), col("n_id"))
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    def exact(pairs: DataFrame): DataFrame = pairs
      .withColumn("qd", col("q_vec").cast("array<double>"))
      .withColumn("nd", col("n_vec").cast("array<double>"))
      .withColumn("d2", ProductQuant.sqDist("qd", "nd"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "n_id")
    // the refine stage of the production index: exact re-rank of the 50
    // ADC candidates — 50 full-vector reads per query, not the corpus
    val rerank5 = exact(
      corpus.join(broadcast(adc50.select("q_id", "n_id")), Seq("n_id"))
        .join(broadcast(queries), Seq("q_id")))
      .withColumn("rhit", lit(1L))
    val truth = exact(broadcast(queries).crossJoin(corpus)
      .filter(col("q_id") =!= col("n_id")))
    truth.join(adc5, Seq("q_id", "n_id"), "left")
      .join(rerank5, Seq("q_id", "n_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit_adc"),
        coalesce(sum("rhit"), lit(0L)).as("n_hit_rerank"))
      .crossJoin(broadcast(r.nProbed))
      .crossJoin(broadcast(
        corpus.agg(count(lit(1)).as("nc"))
          .crossJoin(queries.agg(count(lit(1)).as("nq")))
          .select((col("nc") * col("nq")).as("n_exhaustive"))))
      .select(col("n_truth"), col("n_hit_adc"), col("n_hit_rerank"),
        (col("n_hit_adc").cast("double") / col("n_truth")).as("recall_adc"),
        (col("n_hit_rerank").cast("double") / col("n_truth"))
          .as("recall_rerank"),
        col("n_probed"), col("n_exhaustive"))
  }

  /** DSIR-style data selection (hashed n-gram importance resampling,
    * the public "Data Selection for Language Models via Importance
    * Resampling" recipe): word BIGRAMS hash into B = 1024 buckets; the
    * target distribution is fit on the English slice, the raw
    * distribution on the whole corpus (add-one smoothing over the
    * bucket space), and every document scores the sum of its features'
    * log-likelihood ratios. Selection = global top-100 by weight.
    *
    * Scale shape: the only corpus-scale stage is one shuffle to
    * (doc, bucket) counts; both distribution tables are B-sized and
    * broadcast; selection is a TakeOrderedAndProject + broadcast semi
    * join — no global window ever sees per-doc rows in one partition.
    * Determinism: the ratio is ONE division of two exact integer
    * products (fits a double's 53-bit mantissa at these totals; at
    * lake scale compute the two divisions separately), the per-doc
    * fold runs in bucket order on both engines, and ties at the
    * selection boundary break by doc_id. */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val B = 1024L
    val d = Tables.fanOut(Tables.documents(s, dir))
    // fused window hashes (see dedupSubstrings): FNV-1a is a streaming
    // byte fold, so seeding with the folded "dsir:" prefix and hashing
    // word bytes with 0x20 between equals fnv('dsir:' || w1 || ' ' || w2)
    // — the bigram strings are never materialized
    val bg = d
      .select(col("doc_id"), col("lang"), TextFns.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"), explode(
        graft.functions.expressions.NgramFnv64Expr.column(
          col("ws"), 2, "dsir:")).as("h"))
    // B divides 2^64, so the signed pmod equals the oracle's unsigned mod.
    // ONE corpus-scale shuffle: the hashed bigram stream rolls straight
    // up to (doc, bucket) counts; the raw/target distributions and both
    // totals are rollups of THAT (doc×B-bounded) table, so the token
    // stream is scanned exactly once and never materialized
    val docFeat = bg
      .select(col("doc_id"), col("lang"), pmod(col("h"), lit(B)).as("bucket"))
      .groupBy("doc_id", "lang", "bucket").agg(count(lit(1)).as("n"))
      .transform(persistRows) // feeds raw + target + per-doc weights
    val raw = docFeat.groupBy("bucket").agg(sum("n").as("cr"))
    val tgt = docFeat.filter(col("lang") === "en")
      .groupBy("bucket").agg(sum("n").as("ct"))
    val totals = raw.agg(sum("cr").as("tr"))
      .crossJoin(tgt.agg(sum("ct").as("tt")))
    val lr = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"), log(
        ((coalesce(col("ct"), lit(0L)) + 1L) * (col("tr") + B)).cast("double") /
          ((col("cr") + 1L) * (col("tt") + B)).cast("double")).as("log_ratio"))
    val wts = docFeat
      .join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(round(graft.functions.expressions.SortedStructSumExpr.column(
        collect_list(struct(col("bucket"), col("n") * col("log_ratio")))), 6)
        .as("dsir_weight"),
        sum("n").as("n_bigrams"))
    val top = wts.orderBy(col("dsir_weight").desc, col("doc_id")).limit(100)
      .select(col("doc_id"), lit(true).as("sel"))
    wts.join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"), col("dsir_weight"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** Engine-owned deterministic HyperLogLog (m = 256 registers, FNV
    * hash, linear-counting small-range correction) — the 100 TB answer
    * to "how many distinct tokens" when an exact count-distinct
    * shuffle is unaffordable: register state is 256 bytes regardless
    * of corpus size and merges associatively (map-side combine does
    * the work). The estimate is bit-reproduced in the DuckDB oracle:
    * same hash, same registers, same register-ordered 2^-rank fold,
    * same literal-derived alpha — no tolerance comparison needed. The
    * exact count is included alongside to expose the sketch error (at
    * lake scale you would compute only the sketch). */
  def corpusDistinctHll(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.words(col("text"))).as("w"))
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(col("w"))))
    val withV = toks.select(
      h.bitwiseAND(lit(255L)).cast("int").as("reg"),
      shiftrightunsigned(h, 8).as("v"))
    val ranks = withV
      .select(col("reg"),
        when(col("v") === 0, 57)
          .otherwise(lit(57) - length(bin(col("v")))).as("rank"))
      .groupBy("reg").agg(max("rank").as("mr"))
    val regs = s.range(256).select(col("id").cast("int").as("reg"))
      .join(ranks, Seq("reg"), "left")
      .select(col("reg"), coalesce(col("mr"), lit(0)).as("rank0"))
    val sketch = regs.agg(
      expr("""aggregate(array_sort(collect_list(struct(reg, rank0))),
        |0D, (acc, x) ->
        |  acc + 1.0 / cast(shiftleft(cast(1 as bigint), x.rank0) as double))"""
        .stripMargin).as("sum2"),
      sum(when(col("rank0") === 0, 1).otherwise(0)).cast("long").as("zeros"))
    val tot = toks.agg(count(lit(1)).as("n_tokens"),
      count_distinct(col("w")).as("exact_distinct"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val rawE = alpha * lit(65536.0) / col("sum2")
    tot.crossJoin(broadcast(sketch))
      .select(col("n_tokens"), col("exact_distinct"), col("zeros"),
        round(when(rawE <= 640.0 && col("zeros") > 0,
          lit(256.0) * log(lit(256.0) / col("zeros")))
          .otherwise(rawE), 4).as("hll_estimate"))
  }

  /** Stratified sampling with exact largest-remainder (Hamilton)
    * quotas: a K-document budget split across sources proportionally —
    * floor allocations from integer division ((K·n_s) div N), then the
    * leftover seats go to the strata with the largest integer
    * remainders (K·n_s − f_s·N, ties to source name) — and each
    * stratum fills its quota with its hash-smallest documents
    * (deterministic "random", ties to doc_id). Every compare is
    * integer-exact; the only per-stratum state is one rank window over
    * that stratum's rows. The quota table is #sources-bounded and
    * broadcast. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val K = 100L
    // stratify by lang, whose sizes are UNEVEN (en dominates): nonzero
    // remainders mean the leftover seats and the remainder-then-name
    // tie-break genuinely decide quotas (source strata are uniform and
    // would never exercise the Hamilton branch)
    val docs = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang").as("source"))
      .withColumn("h", org.apache.spark.sql.GraftNative.column(
        graft.functions.expressions.Fnv64Expr(
          org.apache.spark.sql.GraftNative.expression(
            concat(lit("strat:"), col("doc_id"))))))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val total = counts.agg(sum("n_s").as("n_total"))
    val quotas0 = counts.crossJoin(broadcast(total))
      .withColumn("f_s", expr(s"($K * n_s) div n_total"))
      .withColumn("r_s", expr(s"$K * n_s - f_s * n_total"))
    val leftover = quotas0.agg((lit(K) - sum("f_s")).as("l"))
    val quotas = quotas0.crossJoin(broadcast(leftover))
      .withColumn("rr", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("r_s").desc, col("source"))))
      .withColumn("quota", expr("f_s + CAST(rr <= l AS INT)"))
      .select("source", "n_s", "quota")
    docs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .join(broadcast(quotas), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_s"), col("quota"),
        (col("rn") <= col("quota")).as("picked"))
  }

  /** Mixture diagnostic: per-source KL divergence against the corpus
    * unigram distribution, over DSIR-style hashed buckets (B = 1024)
    * rather than the raw vocabulary — per-source state is B-bounded at
    * any corpus size, add-one smoothing makes every bucket defined,
    * and the bucket grid is dense so the fold shape is fixed. ONE
    * corpus-scale shuffle to (source, bucket) counts; everything after
    * is a rollup of that k×B table. The float chain (p·ln(p/q) summed
    * in bucket order) is bit-reproduced by the oracle's ordered
    * list_reduce — same discipline as [[dsirSelect]]/[[textLmScore]]. */
  def mixKlDivergence(s: SparkSession, dir: String): DataFrame = {
    val B = 1024L
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(col("source"), explode(TextFns.words(col("text"))).as("w"))
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(
          concat(lit("kl:"), col("w")))))
    // B divides 2^64 → signed pmod equals the oracle's unsigned mod
    val sb = toks.select(col("source"), pmod(h, lit(B)).as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
      .transform(persistRows) // feeds corpus totals AND the grid
    val cb = sb.groupBy("bucket").agg(sum("n").as("cbn"))
    val totals = sb.agg(sum("n").as("nn"))
    val srcs = sb.groupBy("source").agg(sum("n").as("ns"))
    val grid = srcs
      .crossJoin(s.range(B).select(col("id").as("bucket")))
      .join(sb.select(col("source"), col("bucket"), col("n")),
        Seq("source", "bucket"), "left")
      .join(broadcast(cb), Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("source"), col("bucket"), col("ns"),
        expr(s"(CAST(coalesce(n, 0) + 1 AS DOUBLE) / (ns + $B)) * " +
          s"ln((CAST(coalesce(n, 0) + 1 AS DOUBLE) / (ns + $B)) / " +
          s"(CAST(coalesce(cbn, 0) + 1 AS DOUBLE) / (nn + $B)))").as("term"))
    grid.groupBy("source", "ns")
      .agg(round(graft.functions.expressions.SortedStructSumExpr.column(
        collect_list(struct(col("bucket"), col("term")))), 6)
        .as("kl_unigram"))
      .select(col("source"), col("ns").as("n_tokens"), col("kl_unigram"))
  }

  /** Per-group HLL — [[corpusDistinctHll]] generalized to a grouping
    * key (distinct tokens per source): register state is 256 bytes PER
    * GROUP regardless of corpus size, so the per-group distinct
    * question that makes exact count-distinct shuffles explode at lake
    * scale (every token rides the wire once per group) costs one
    * (source, reg) aggregation. Same FNV hash, register fold and
    * small-range correction as the global sketch — bit-reproduced in
    * the oracle per group; exact included to expose the error. */
  def corpusDistinctBySource(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(col("source"), explode(TextFns.words(col("text"))).as("w"))
    // ONE corpus pass: the (source, w) rollup the exact count already
    // needs also feeds the register build (max rank per register is
    // idempotent, so distinct-token ranks give the same maxima as
    // per-instance ranks) and the source list — previously three
    // separate corpus-wide explode passes
    val g = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      .transform(persistRows) // feeds ranks + sources + tot
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(col("w"))))
    val ranks = g.select(col("source"),
        h.bitwiseAND(lit(255L)).cast("int").as("reg"),
        shiftrightunsigned(h, 8).as("v"))
      .select(col("source"), col("reg"),
        when(col("v") === 0, 57)
          .otherwise(lit(57) - length(bin(col("v")))).as("rank"))
      .groupBy("source", "reg").agg(max("rank").as("mr"))
    val sources = g.select("source").distinct()
    val regs = sources
      .crossJoin(s.range(256).select(col("id").cast("int").as("reg")))
      .join(ranks, Seq("source", "reg"), "left")
      .select(col("source"), col("reg"), coalesce(col("mr"), lit(0)).as("rank0"))
    val sketch = regs.groupBy("source").agg(
      expr("""aggregate(array_sort(collect_list(struct(reg, rank0))),
        |0D, (acc, x) ->
        |  acc + 1.0 / cast(shiftleft(cast(1 as bigint), x.rank0) as double))"""
        .stripMargin).as("sum2"),
      sum(when(col("rank0") === 0, 1).otherwise(0)).cast("long").as("zeros"))
    val tot = g.groupBy("source").agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("exact_distinct"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val rawE = alpha * lit(65536.0) / col("sum2")
    tot.join(broadcast(sketch), Seq("source"))
      .select(col("source"), col("n_tokens"), col("exact_distinct"),
        col("zeros"),
        round(when(rawE <= 640.0 && col("zeros") > 0,
          lit(256.0) * log(lit(256.0) / col("zeros")))
          .otherwise(rawE), 4).as("hll_estimate"))
  }

  /** Exact heavy hitters via a Misra–Gries candidate pass — the 100 TB
    * two-pass pattern: pass 1 runs the k=200-counter
    * [[graft.functions.expressions.MisraGriesAgg]] sketch (bounded
    * state per partial, associative merges, map-side combine), pass 2
    * exact-counts ONLY the surviving candidates (broadcast semi join —
    * the corpus never shuffles on the long tail) and keeps items above
    * the n/(k+1) guarantee threshold. The sketch's candidate set may
    * vary with partitioning; the guarantee makes the FINAL answer
    * partitioning-independent, so a plain GROUP BY oracle gates it.
    * The threshold compare is integer-exact (`cnt * 201 > n`). */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val K = 200
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.words(col("text"))).as("w"))
    val mg = graft.functions.expressions.MisraGriesAgg(
      org.apache.spark.sql.GraftNative.expression(col("w")), K)
    val cands = toks
      .agg(org.apache.spark.sql.GraftNative.column(mg.toAggregateExpression())
        .as("cand"))
      .select(explode(col("cand")).as("c"))
      .select(col("c.w").as("w"))
    val tot = toks.agg(count(lit(1)).as("n_tokens"))
    toks.join(broadcast(cands), Seq("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * (K + 1) > col("n_tokens"))
      .select(col("w"), col("cnt"),
        (col("cnt").cast("double") / col("n_tokens")).as("share"))
  }

  /** Shard-packing manifest: documents routed to 16 training shards by
    * deterministic FNV (a reproducible global shuffle — 16 divides
    * 2^64, so the unsigned-mod oracle and the signed-pmod engine
    * agree), with per-shard doc/token counts and id ranges. The writer
    * itself ([[graft.sinks.ShardWriter.write]]) lays each shard out as
    * one internally-ordered file; ShardWriterSpec covers it. */
  def sampleShardManifest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.sinks.ShardWriter.manifest(d, "doc_id", "n_tok", nShards = 16)
  }

  /** Sequence packing: greedy next-fit packing of documents into
    * ≤512-token training examples, independently per FNV-routed shard
    * in deterministic pack_key order — exactly how production packers
    * run (per-worker sequential packing over a sharded stream; a
    * GLOBAL greedy pack is inherently sequential and unscalable).
    * A document longer than the budget gets its own example. The fold
    * is a per-shard aggregate HOF; only the shard rollup shuffles.
    * Output: one row per packed example with its fill. */
  def sampleSeqPack(s: SparkSession, dir: String): DataFrame = {
    val (shard, order) = graft.sinks.ShardWriter.shardOf("doc_id", 16)
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("shard", shard)
      .withColumn("pack_key", order)
    d.groupBy("shard")
      .agg(sort_array(collect_list(
        struct(col("pack_key"), col("doc_id"), col("n_tok")))).as("ms"))
      .select(col("shard"), explode(expr(
        """aggregate(ms,
          |  struct(cast(0 as bigint) as fill, cast(0 as bigint) as ex,
          |    cast(array() as array<struct<doc_id: bigint, ex: bigint,
          |      n_tok: bigint>>) as out),
          |  (acc, m) -> CASE
          |    WHEN acc.fill + m.n_tok > 512 AND acc.fill > 0 THEN
          |      struct(m.n_tok as fill, acc.ex + 1 as ex,
          |        concat(acc.out, array(struct(m.doc_id as doc_id,
          |          acc.ex + 1 as ex, m.n_tok as n_tok))) as out)
          |    ELSE
          |      struct(acc.fill + m.n_tok as fill, acc.ex as ex,
          |        concat(acc.out, array(struct(m.doc_id as doc_id,
          |          acc.ex as ex, m.n_tok as n_tok))) as out) END,
          |  acc -> acc.out)""".stripMargin)).as("a"))
      .groupBy(col("shard"), col("a.ex").as("example_id"))
      .agg(count(lit(1)).as("n_docs"), sum("a.n_tok").as("n_tokens"))
      .withColumn("fill_ratio", round(col("n_tokens") / 512.0, 6))
  }

  /** Matryoshka-style dimension-truncation recall: top-5 retrieval
    * using only the first 8 / 16 / 32 dimensions of the embedding,
    * measured against the full-64-dim exact top-5 — the
    * "shorten the vectors before sharding the index" decision, with
    * its cost measured rather than assumed. Truncation is a per-row
    * `slice`; each arm is the proven brute-force shape. One row per
    * prefix width. */
  def embedMrlRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val truth = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      e.select(col("vec_id").as("n_id"), col("embedding").as("n_vec")),
      k = 5).select("q_id", "n_id")
      .transform(persistRows) // joined against all three arms
    val arms = Seq(8, 16, 32).map { d =>
      val approx = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"),
            slice(col("embedding"), 1, d).as("q_vec")),
        e.select(col("vec_id").as("n_id"),
          slice(col("embedding"), 1, d).as("n_vec")),
        k = 5).select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("q_id", "n_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          coalesce(sum("hit"), lit(0L)).as("n_hit"))
        .select(lit(d).as("dims"), col("n_truth"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth")).as("recall"))
    }
    arms.reduce(_.union(_))
  }

  /** Mergeable histogram quantiles — the bounded-state quantile path
    * (the 4th sketch family member next to Misra–Gries / HLL / CMS):
    * token counts fold into width-4 integer buckets (k-bounded state,
    * map-side combine — the shape that replaces a full sort at lake
    * scale), the quantile estimate is the upper edge of the first
    * bucket whose cumulative count reaches ceil(q·n), and the EXACT
    * quantile under the same rule (min v with cum ≥ target) is
    * computed alongside so the bucket-width error is measured — est ≥
    * exact always (one-sided, like CMS). Every compare is
    * integer-exact; ceil(q·n) is the same IEEE product in both
    * engines. */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val vals = Tables.fanOut(Tables.documents(s, dir))
      .select(TextFns.tokenCount(col("text")).cast("long").as("v"))
    val hist = vals.groupBy(expr("v div 4").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("tot", sum("cnt").over(
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val exact = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)))
    val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val grid = vals.sparkSession.createDataFrame(
      qs.map(Tuple1.apply)).toDF("q")
    val est = grid.crossJoin(broadcast(hist))
      .filter(col("cum") >= ceil(col("q") * col("tot")))
      .groupBy("q").agg(min(col("bucket") * 4 + 3).as("est_hist"),
        first(col("tot")).as("n"))
    val exv = grid.crossJoin(broadcast(
        exact.crossJoin(broadcast(hist.agg(max("tot").as("tot"))))))
      .filter(col("cum") >= ceil(col("q") * col("tot")))
      .groupBy("q").agg(min("v").as("exact_val"))
    est.join(exv, Seq("q"))
      .select(col("q"), col("n"), col("est_hist"), col("exact_val"),
        (col("est_hist") - col("exact_val")).as("err"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (the RAG-corpus
    * construction pattern): two independent retrievers — BM25 over the
    * query document's 3 RAREST terms (min corpus df, ties
    * lexicographic: rare-term candidate generation keeps the inverted-
    * index join sparse at scale) and exact cosine over the embedding
    * column — each produce a per-query top-20, fused by
    * RRF(60): score = Σ 1/(60 + rank), missing rank contributes 0.
    * The corpus is documents ⨝ embeddings on id (co-partitioned
    * equi-join at scale); the ONE tokenization pass is persisted
    * because stats / df / tf / query-terms all branch from it.
    * BM25 contributions fold in term order and cosine is the proven
    * brute-force shape, so every rank — and therefore the fused
    * ordering — is bit-reproduced by the oracle.
    *
    * The query set is a FIXED budget (first 128 ids on the %101 grid),
    * not corpus-proportional: a retrieval eval workload doesn't grow
    * with the corpus, and |Q| ∝ n would turn the exact vector arm into
    * n²/101 scoring work and the query-term frame into a
    * corpus-proportional broadcast (the doc_decontaminate failure
    * shape). With the budget both arms are |Q|·n = O(n). The term-df
    * lookup streams the corpus-sized dfreq side and broadcasts the
    * bounded query-term side, never the vocabulary. */
  def hybridSearchRrf(s: SparkSession, dir: String): DataFrame = {
    val k1 = 1.2; val b = 0.75; val K = 20
    val QBudget = 128 // queries = doc_id % 101 == 0, capped to 128 ids
    val W = org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val corpus = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("ws"), col("embedding"))
      .transform(persistRows) // feeds stats + df + tf + queries + vector side
    val stats = corpus.agg(count(lit(1)).as("n_docs"),
      sum(size(col("ws"))).as("sum_dl"))
    val toks = corpus.select(col("doc_id"), size(col("ws")).as("dl"),
      explode(col("ws")).as("term"))
    val dfreq = corpus
      .select(col("doc_id"), explode(array_distinct(col("ws"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val qdocs = corpus.filter(col("doc_id") % 101 === 0 &&
      col("doc_id") < 101L * QBudget)
    val wq = W.partitionBy("q_id").orderBy(col("df").asc, col("term").asc)
    val qterms = dfreq
      .join(broadcast(qdocs.select(col("doc_id").as("q_id"),
        explode(array_distinct(col("ws"))).as("term"))), "term")
      .withColumn("trk", row_number().over(wq)).filter(col("trk") <= 3)
      .select("q_id", "term", "df")
    val tf = toks.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id", "dl", "term", "df")
      .agg(count(lit(1)).as("tf"))
    val wl = W.partitionBy("q_id").orderBy(col("bm25").desc, col("doc_id"))
    val lex = tf.crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf") /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("q_id", "doc_id")
      .agg(graft.functions.expressions.SortedStructSumExpr.column(
        collect_list(struct(col("term"), col("contrib"))))
        .as("bm25"))
      .withColumn("rank_lex", row_number().over(wl))
      .filter(col("rank_lex") <= K)
      .select(col("q_id"), col("doc_id").as("n_id"), col("rank_lex"))
    val vec = Similarity.bruteForceTopK(
      qdocs.select(col("doc_id").as("q_id"), col("embedding").as("q_vec")),
      corpus.select(col("doc_id").as("n_id"), col("embedding").as("n_vec")),
      k = K).select(col("q_id"), col("n_id"), col("rank").as("rank_vec"))
    val wf = W.partitionBy("q_id").orderBy(col("rrf_score").desc, col("n_id"))
    lex.join(vec, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0)), 6))
      .withColumn("rank_rrf", row_number().over(wf))
      .filter(col("rank_rrf") <= 10)
      .select("q_id", "n_id", "rank_lex", "rank_vec", "rrf_score", "rank_rrf")
  }

  /** Bloom-filter decontamination — the 100 TB scale path for
    * [[docDecontaminate]]: instead of equi-joining the corpus
    * fingerprint stream against the benchmark set, the benchmark's
    * winnow fingerprints are folded into a 4096-position Bloom filter
    * (3 seeded FNV probes per fingerprint) that travels as a REAL
    * 64-word bitset in one broadcast array — membership is two shifts
    * and an AND per probe; the corpus never shuffles except the
    * per-doc rollup. The exact intersection is computed alongside (a
    * broadcast hash join on fp) to MEASURE the one-sided error: Bloom
    * has no false negatives, so `n_maybe - n_exact >= 0` row-wise —
    * surfaced as `n_false_pos` rather than asserted. 4096 divides
    * 2^64, so the engine's signed pmod equals the oracle's unsigned
    * mod (the oracle states membership as IN over the set positions —
    * same predicate, scan-shaped only on the oracle side). */
  def decontamBloom(s: SparkSession, dir: String): DataFrame = {
    val M = 4096L
    def fnvOf(prefix: String, c: Column): Column =
      org.apache.spark.sql.GraftNative.column(
        graft.functions.expressions.Fnv64Expr(
          org.apache.spark.sql.GraftNative.expression(
            concat(lit(prefix), c.cast("string")))))
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.winnowFingerprints(col("text")).as("fps"))
      .transform(persistRows) // feeds the bench bit-set AND the train scan
    val benchFps = d.filter(col("doc_id") % 97 === 0)
      .select(explode(col("fps")).as("fp")).distinct()
    // the filter travels as a REAL bitset: 4096 bits = 64 words,
    // assembled by a bit_or aggregate over a dense word grid and
    // broadcast as one 64-long array — membership is two shifts and an
    // AND per probe, not a scan
    val words = benchFps
      .select(explode(array((0 until 3).map(j =>
        pmod(fnvOf(s"b$j:", col("fp")), lit(M))): _*)).as("pos"))
      .groupBy(expr("pos div 64").as("w"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(pos % 64 as int)))")
        .as("b"))
    val mask = s.range(M / 64).select(col("id").as("w"))
      .join(words, Seq("w"), "left")
      .agg(expr("transform(array_sort(collect_list(struct(w, " +
        "coalesce(b, cast(0 as bigint)) as b))), x -> x.b)").as("mask"))
    def bitTest(p: String): Column = expr(
      s"(shiftright(element_at(mask, cast($p div 64 as int) + 1), " +
        s"cast($p % 64 as int)) & 1) = 1")
    val tr = d.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_id"), explode(col("fps")).as("fp"))
      .crossJoin(broadcast(mask))
      .withColumn("p0", pmod(fnvOf("b0:", col("fp")), lit(M)))
      .withColumn("p1", pmod(fnvOf("b1:", col("fp")), lit(M)))
      .withColumn("p2", pmod(fnvOf("b2:", col("fp")), lit(M)))
      .withColumn("maybe_in",
        bitTest("p0") && bitTest("p1") && bitTest("p2"))
      // exact side: broadcast HASH join (O(1) per row), not a scan
      .join(broadcast(benchFps.withColumn("eh", lit(1))), Seq("fp"), "left")
      .withColumn("exact_in", col("eh").isNotNull)
    tr.groupBy("train_id")
      .agg(
        count(lit(1)).as("n_fps"),
        sum(when(col("exact_in"), 1).otherwise(0)).as("n_exact"),
        sum(when(col("maybe_in"), 1).otherwise(0)).as("n_maybe"))
      .select(col("train_id"), col("n_fps"), col("n_exact"), col("n_maybe"),
        (col("n_maybe") - col("n_exact")).as("n_false_pos"),
        (col("n_maybe") >= 3).as("flagged"))
  }

  /** Scalar-quantization (int8) ANN recall — the 4th member of the
    * vector-compression family (full-vector LSH / IVF / PQ / SQ8):
    * corpus vectors are dequantized through the SAME 254-level
    * per-dimension grid as [[embedQuantize]] (one 1-row bounds
    * aggregate, broadcast everywhere), queries stay full-precision
    * (asymmetric distance), and top-5-by-reconstructed-cosine is
    * measured against exact brute force. Dequantization is projected
    * BELOW the broadcast nested-loop join, so each corpus vector is
    * reconstructed once, not once per query; all cosine folds run in
    * index order (bit-reproduced by the oracle's list_reduce). */
  def embedSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val eRaw = Tables.fanOut(Tables.embeddings(s, dir))
    val e = eRaw.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val bounds = e.agg(
      array((0 until dims).map(i =>
        min(element_at(col("v"), i + 1))): _*).as("mns"),
      array((0 until dims).map(i =>
        max(element_at(col("v"), i + 1))): _*).as("mxs"))
    val deq = e.crossJoin(broadcast(bounds))
      .select(col("vec_id").as("n_id"), expr(
        s"""transform(sequence(0, $dims - 1), i ->
           |  CASE WHEN mxs[i] > mns[i] THEN
           |    (round((v[i] - mns[i]) / (mxs[i] - mns[i]) * 254) / 254)
           |      * (mxs[i] - mns[i]) + mns[i]
           |  ELSE mns[i] END)""".stripMargin).as("dv"))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // native DD cosine replaces the three interpreted sdot folds per
    // (query × candidate) pair: dot and both norms accumulate in index
    // order inside ONE codegen loop, denominator-zero → 0.0 — the same
    // values and the same contract as the dot/sqrt(na)*sqrt(nb) form
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val approx = broadcast(queries).crossJoin(deq)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", org.apache.spark.sql.GraftNative.column(
        graft.functions.expressions.CosineSimilarityDD(
          org.apache.spark.sql.GraftNative.expression(col("qv")),
          org.apache.spark.sql.GraftNative.expression(col("dv")))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    val truth = Similarity.bruteForceTopK(
      eRaw.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      eRaw.select(col("vec_id").as("n_id"), col("embedding").as("n_vec")),
      k = 5).select("q_id", "n_id")
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .agg(
        count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth")).as("recall_sq8"))
  }

  /** Line-level exact dedup (the C4 / RefinedWeb rule: a line occurring
    * more than once corpus-wide keeps only its FIRST occurrence),
    * adapted to this corpus's newline-free texts by treating each
    * non-overlapping 5-word segment as a "line". Segmentation is pure
    * per-row HOF work (slice over the words array — the corpus is never
    * exploded to one row per token); the only corpus-scale shuffle is
    * the first-occurrence window, and it shuffles (doc_id, seg_id,
    * fnv64) — a slim fixed-width key, not the segment text. First
    * occurrence = lowest (doc_id, seg_id) per segment hash, so the
    * answer is partitioning-independent. Skew is bounded by the max
    * duplicate count of a single segment (hot segments at crawl scale
    * would take the same key-salted two-level rank as the LSH hot
    * bucket caps). Per-doc rollup: dropped-segment count and the
    * removed-token fraction (tail <5-word fragments are always kept,
    * exactly like C4's partial-line remainder). */
  def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val W = 5
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        expr(s"""transform(sequence(0, size(ws) div $W - 1),
          |  i -> concat_ws(' ', slice(ws, i * $W + 1, $W)))""".stripMargin)
          .as("segs"))
    val seg = d.select(col("doc_id"), col("n_words"),
        posexplode_outer(col("segs")).as(Seq("seg_id", "seg")))
      .select(col("doc_id"), col("n_words"), col("seg_id"),
        when(col("seg").isNotNull, org.apache.spark.sql.GraftNative.column(
          graft.functions.expressions.Fnv64Expr(
            org.apache.spark.sql.GraftNative.expression(
              concat(lit("line:"), col("seg")))))).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("doc_id", "seg_id")
    seg.withColumn("rn",
        when(col("h").isNotNull, row_number().over(w)).otherwise(lit(1)))
      .groupBy("doc_id", "n_words")
      .agg(
        sum(when(col("h").isNotNull, 1).otherwise(0)).as("n_segs"),
        sum(when(col("rn") > 1, 1).otherwise(0)).as("n_dup_segs"))
      .select(col("doc_id"), col("n_words"), col("n_segs"), col("n_dup_segs"),
        round(col("n_dup_segs") * lit(W) /
          greatest(col("n_words"), lit(1)).cast("double"), 6)
          .as("frac_removed"))
  }

  /** Count–Min sketch token-frequency estimation — the third member of
    * the bounded-state sketch family (Misra–Gries for heavy hitters,
    * HLL for distincts, CMS for point frequencies): depth 4 × width
    * 1024 counters (32 KiB total, associative merges, map-side
    * combinable), estimate = min over rows of the hashed-bucket sums,
    * which can only OVERcount — the output carries the exact count next
    * to the estimate so the one-sided error is measured, not asserted.
    * 1024 divides 2^64, so the engine's signed pmod equals the oracle's
    * unsigned mod. Shape at scale: one corpus shuffle to word counts
    * (needed for the error column anyway; the sketch itself never needs
    * it — streaming ingest would fold rows directly into the 4×1024
    * grid), a 4096-row sketch table, and a broadcast join to the
    * candidate top-30. */
  def freqCms(s: SparkSession, dir: String): DataFrame = {
    val D = 4; val Wd = 1024L
    val wc = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .transform(persistRows) // feeds sketch build + candidates + output
    def bucket(dRow: Column, word: Column): Column =
      pmod(org.apache.spark.sql.GraftNative.column(
        graft.functions.expressions.Fnv64Expr(
          org.apache.spark.sql.GraftNative.expression(
            concat(dRow.cast("string"), lit(":"), word)))), lit(Wd))
    val sketch = wc
      .select(col("cnt"), explode(sequence(lit(0), lit(D - 1))).as("d"),
        col("w"))
      .select(col("d"), bucket(col("d"), col("w")).as("b"), col("cnt"))
      .groupBy("d", "b").agg(sum("cnt").as("cell"))
    val cands = wc.orderBy(col("cnt").desc, col("w")).limit(30)
    cands
      .select(col("w"), col("cnt"),
        explode(sequence(lit(0), lit(D - 1))).as("d"))
      .select(col("w"), col("cnt"), col("d"),
        bucket(col("d"), col("w")).as("b"))
      .join(broadcast(sketch), Seq("d", "b"))
      .groupBy("w", "cnt").agg(min("cell").as("cms_est"))
      .select(col("w"), col("cnt").as("cnt_exact"), col("cms_est"),
        (col("cms_est") - col("cnt")).as("overcount"))
  }

  /** Best-fit-decreasing sequence packing — the quality-packer
    * companion to [[sampleSeqPack]]'s next-fit: per FNV shard, docs
    * sorted by (n_tok DESC, doc_id) each land in the OPEN example with
    * the highest feasible fill (ties → lowest example id), opening a
    * new example only when none fits; an over-budget doc still gets
    * its own example. Like production packers this runs over BOUNDED
    * buffers: BFD within 512-doc batches per shard (an unbounded BFD
    * is O(docs × open examples) per shard — measured 190 s at 10×sf0.1
    * before batching, 2 s after; real packers bound their open-bin
    * set for exactly this reason). The batch key comes off the same
    * shard partitioning the rollup uses, so batching adds no extra
    * exchange, and per-group work is ≤512² regardless of corpus size.
    * The oracle replays the identical fold as a DuckDB list_reduce
    * with the repo's sentinel-flat-list encoding (struct accumulators
    * corrupt in DuckDB 1.0). */
  def packBestfit(s: SparkSession, dir: String): DataFrame = {
    val (shard, _) = graft.sinks.ShardWriter.shardOf("doc_id", 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("n_tok").desc, col("doc_id"))
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("shard", shard)
      .withColumn("batch",
        ((row_number().over(w) - 1).cast("long") / 512).cast("long"))
    d.groupBy("shard", "batch")
      .agg(sort_array(collect_list(struct((-col("n_tok")).as("neg"),
        col("doc_id"), col("n_tok")))).as("ms"))
      .withColumn("asg", expr(
        """aggregate(ms,
          |  struct(cast(array() as array<bigint>) as fills,
          |         cast(array() as array<bigint>) as asg),
          |  (acc, m) -> CASE
          |    WHEN size(filter(acc.fills, f -> f + m.n_tok <= 512)) = 0 THEN
          |      struct(concat(acc.fills, array(m.n_tok)) as fills,
          |        concat(acc.asg, array(cast(size(acc.fills) as bigint)))
          |          as asg)
          |    ELSE
          |      struct(
          |        transform(acc.fills, (f, i) -> CASE
          |          WHEN i = array_position(acc.fills,
          |            array_max(filter(acc.fills,
          |              f2 -> f2 + m.n_tok <= 512))) - 1
          |          THEN f + m.n_tok ELSE f END) as fills,
          |        concat(acc.asg, array(array_position(acc.fills,
          |          array_max(filter(acc.fills,
          |            f2 -> f2 + m.n_tok <= 512))) - 1)) as asg)
          |    END,
          |  acc -> acc.asg)""".stripMargin))
      .select(col("shard"), col("batch"),
        explode(arrays_zip(col("ms"), col("asg"))).as("z"))
      .groupBy(col("shard"), col("batch"), col("z.asg").as("example_id"))
      .agg(count(lit(1)).as("n_docs"), sum("z.ms.n_tok").as("n_tokens"))
      .withColumn("fill_ratio", round(col("n_tokens") / 512.0, 6))
  }

  /** Unigram-LM tokenizer (SentencePiece family), one full E+M pass —
    * see [[graft.operators.UnigramLm]]: seed substring vocabulary
    * (top-200 multi-char pieces + all chars), Viterbi-best
    * segmentation of every distinct word, M-step usage recount. The
    * only corpus-scale stage is the word count. */
  def tokenizerUnigram(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    graft.operators.UnigramLm.emRound(wc, vocabTop = 200)
  }

  /** Top principal component of the embedding corpus by power
    * iteration — see [[graft.operators.Pca]]: 3 rounds from the
    * deterministic (x₀ − μ) start, every corpus reduction on the
    * two-level ordered chunk fold. Output: per-dim loadings + λ₁ and
    * the explained-variance ratio. */
  def embedPcaPower(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.powerTop1(
      Tables.fanOut(Tables.embeddings(s, dir))
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      dim = 64)

  /** One-pass corpus profile — HLL registers, the Count–Min grid and
    * the token-length histogram computed as
    * [[graft.functions.expressions.HllRegistersAgg]] /
    * [[graft.functions.expressions.CmsGridAgg]] /
    * [[graft.functions.expressions.LongHistAgg]] TypedImperativeAggregates
    * in a SINGLE aggregation over the token stream: bounded partial
    * buffers combine map-side and one tiny state rides one shuffle —
    * vs one shuffle per sketch when each is its own query. Hash and
    * fold semantics match the SQL-expression entries exactly, so the
    * same oracle constructions gate this. Probe positions for the CMS
    * point estimates are computed at plan-build time with the same
    * seeded FNV. */
  def corpusProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftNative
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(TextFns.words(col("text"))).as("w"))
    val prof = toks.agg(
      count(lit(1)).as("n_tokens"),
      GraftNative.column(graft.functions.expressions.HllRegistersAgg(
        GraftNative.expression(col("w"))).toAggregateExpression()).as("hll"),
      GraftNative.column(graft.functions.expressions.CmsGridAgg(
        GraftNative.expression(col("w"))).toAggregateExpression()).as("cms"),
      GraftNative.column(graft.functions.expressions.LongHistAgg(
        GraftNative.expression(length(col("w")).cast("long")), 1L)
        .toAggregateExpression()).as("hist"))
    def cmsEst(word: String): Column =
      least((0 until 4).map { j =>
        val pos = j * 1024 + java.lang.Math.floorMod(
          graft.functions.Hashing.fnv1a64(j, word), 1024L).toInt
        element_at(col("cms"), pos + 1)
      }: _*)
    def histQ(q: Double): Column = expr(
      s"""aggregate(hist,
         |  struct(cast(0 as bigint) as cum, cast(-1 as bigint) as ans),
         |  (acc, h) -> CASE WHEN acc.ans >= 0 THEN acc
         |    WHEN acc.cum + h.cnt >= ceil($q * n_tokens) THEN
         |      struct(acc.cum + h.cnt as cum, h.bucket as ans)
         |    ELSE struct(acc.cum + h.cnt as cum, acc.ans as ans) END,
         |  acc -> acc.ans)""".stripMargin)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val rawE = alpha * lit(65536.0) / col("hll.sum2")
    prof.select(
      col("n_tokens"),
      round(when(rawE <= 640.0 && col("hll.zeros") > 0,
        lit(256.0) * log(lit(256.0) / col("hll.zeros")))
        .otherwise(rawE), 4).as("distinct_hll"),
      cmsEst("table").as("cms_table"),
      cmsEst("row").as("cms_row"),
      cmsEst("zebra").as("cms_zebra"),
      histQ(0.5).as("len_p50"),
      histQ(0.9).as("len_p90"))
  }

  /** All-but-the-top whitening over the embedding corpus: remove the
    * measured top component, re-run the identical power iteration on
    * the whitened vectors — (lambda1, evr1, lambda2, evr2, traces) in
    * one row. */
  def embedWhiten(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.whitenTop1(
      Tables.fanOut(Tables.embeddings(s, dir))
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      dim = 64)

  /** The corpus-curation funnel — the composed production pipeline as
    * ONE accountable artifact: benchmark holdout → quality gate →
    * exact-dedup canonical keep → decontamination, with per-stage
    * attrition counts. Each rule REUSES the verified operator
    * ([[corpusQualityGates]]'s keep conjunction,
    * [[TextFns.contentFingerprint]]'s canonical-min window,
    * [[docDecontaminate]]'s ≥3-shared-fingerprints flag), so the
    * funnel and its stage entries can never drift apart. Canonicals
    * are computed AMONG stage-2 survivors (a dropped doc must not
    * shadow a surviving duplicate). One fan-out and one projection give
    * each document (doc_id being the documents key) its content
    * fingerprint, winnow fingerprints and quality keep; its blocks are
    * freed before the 4-row result returns as a local relation. */
  def corpusCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"),
        TextFns.contentFingerprint(col("text")).as("fp"),
        TextFns.winnowFingerprints(col("text")).as("fps"),
        TextFns.words(col("text")).as("ws"))
      .select(Seq(col("doc_id"), col("fp"), col("fps")) ++
        qualitySignals(col("ws")): _*)
      .select(col("doc_id"), col("fp"), col("fps"), qualityKeep.as("q_keep"))
      .transform(persistRows) // feeds the decontamination join AND the flags
    // funnel threshold ≥20 shared fingerprints (vs the pairwise
    // entry's ≥3): calibrated so the stage genuinely partitions this
    // heavily-overlapping corpus — the production decontamination knob
    val contam = decontaminate(docs.select("doc_id", "fps"))
      .filter(col("n_shared") >= 20)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val flags = docs.select("doc_id", "fp", "q_keep")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("is_bench", col("doc_id") % 97 === 0)
      .withColumn("s1", !col("is_bench"))
      .withColumn("s2", col("s1") && col("q_keep"))
      .withColumn("canon2", min(when(col("s2"), col("doc_id"))).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .withColumn("s3", col("s2") && col("doc_id") === col("canon2"))
      .withColumn("s4",
        col("s3") && !coalesce(col("contaminated"), lit(false)))
    val stages = flags.agg(
        count(lit(1)).as("n_all"),
        sum(when(col("s1"), 1).otherwise(0)).as("n1"),
        sum(when(col("s2"), 1).otherwise(0)).as("n2"),
        sum(when(col("s3"), 1).otherwise(0)).as("n3"),
        sum(when(col("s4"), 1).otherwise(0)).as("n4"))
      .select(explode(array(
        struct(lit(1).as("stage"), lit("benchmark_holdout").as("stage_name"),
          col("n_all").as("n_in"), col("n1").as("n_kept")),
        struct(lit(2).as("stage"), lit("quality_gate").as("stage_name"),
          col("n1").as("n_in"), col("n2").as("n_kept")),
        struct(lit(3).as("stage"), lit("exact_dedup").as("stage_name"),
          col("n2").as("n_in"), col("n3").as("n_kept")),
        struct(lit(4).as("stage"), lit("decontaminate").as("stage_name"),
          col("n3").as("n_in"), col("n4").as("n_kept")))).as("r"))
      .select(col("r.stage"), col("r.stage_name"), col("r.n_in"),
        col("r.n_kept"), (col("r.n_in") - col("r.n_kept")).as("n_dropped"))
    try s.createDataFrame(stages.collect().toSeq.asJava, stages.schema)
    finally GraftNative.unpersistRows(docs)
  }

  /** URL canonicalization dedup — the crawl-pipeline rule set applied
    * per row (fragment dropped, utm_* params stripped with other
    * params kept in order, scheme+host lowercased, default :443 port
    * removed, trailing slash trimmed), then first-owner dedup on the
    * canonical form. URLs are synthesized from doc_id with variant
    * shapes engineered to COLLIDE post-canonicalization, so every
    * rule genuinely decides. One slim shuffle on the canonical key. */
  def dedupUrlCanonical(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("url", expr(
        """CASE CAST(doc_id % 6 AS INT)
          |  WHEN 0 THEN 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 div 8
          |  WHEN 1 THEN 'https://example' || doc_id % 80 % 8 || '.com:443/page/' || doc_id % 97
          |  WHEN 2 THEN 'https://EXAMPLE' || doc_id % 80 % 8 || '.COM/page/' || doc_id % 80 div 8
          |  WHEN 3 THEN 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 div 8 || '/'
          |  WHEN 4 THEN 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 div 8 || '?utm_source=feed&utm_campaign=x'
          |  ELSE 'https://example' || doc_id % 80 % 8 || '.com/page/' || doc_id % 80 div 8 || '?id=5&utm_medium=email#frag'
          |END""".stripMargin))
      .withColumn("nofrag", expr("regexp_replace(url, '#.*$', '')"))
      .withColumn("hostport", expr(
        "lower(regexp_extract(nofrag, '^[a-zA-Z]+://([^/?#]+)', 1))"))
      .withColumn("hostc", expr("regexp_replace(hostport, ':443$', '')"))
      .withColumn("path0", expr(
        "regexp_extract(nofrag, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1)"))
      .withColumn("pathc", expr(
        "CASE WHEN length(path0) > 1 AND path0 LIKE '%/' " +
          "THEN substring(path0, 1, length(path0) - 1) ELSE path0 END"))
      .withColumn("q0", expr("regexp_extract(nofrag, '\\\\?([^#]*)', 1)"))
      .withColumn("qkept", expr(
        """array_join(filter(split(q0, '&'),
          |  p -> p <> '' AND NOT p LIKE 'utm_%'), '&')""".stripMargin))
      .withColumn("canonical_url", expr(
        "'https://' || hostc || pathc || " +
          "CASE WHEN qkept <> '' THEN '?' || qkept ELSE '' END"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_url").orderBy("doc_id")
    d.withColumn("canonical_owner",
        first(col("doc_id")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .select(col("doc_id"), col("url"), col("canonical_url"),
        col("canonical_owner"),
        (col("doc_id") =!= col("canonical_owner")).as("is_dup"))
  }

  /** Character-level entropy — the Shannon quality signal (gibberish
    * and boilerplate both sit at entropy extremes): per-row char
    * counts over non-whitespace chars, -Σ p·ln p folded in SORTED
    * char order so both engines accumulate identically, rounded once
    * at the end. Pure per-row HOFs, zero shuffle. */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"),
        // native byte-walk — bit-identical to
        // regexp_extract_all(lower(text), '[^\s]', 0), see CharsExpr
        graft.functions.expressions.CharsExpr.column(lower(col("text")))
          .as("ch"))
      // native hash-count + sorted fold replaces the O(distinct × n)
      // per-distinct-char filter rescans (same sorted-char fold order,
      // same divide/ln per term — the DuckDB oracle keeps the
      // quadratic form); the - and round stay out here
      .select(col("doc_id"), size(col("ch")).as("n_chars"),
        graft.functions.expressions.CharEntropyFoldExpr.column(col("ch"))
          .as("ef"))
      .select(col("doc_id"),
        col("n_chars"),
        col("ef.nd").as("n_distinct_chars"),
        round(-col("ef.s"), 6).as("entropy"))

  /** Corpus encoded under the trained unigram vocab (the encode half,
    * mirroring tokenizer_bpe_encode): the Viterbi segmentation runs
    * once per DISTINCT word; the corpus is tokenized by ONE broadcast
    * join against that table. Per-doc piece counts are exact-integer
    * sums; the ratio is one division. */
  def tokenizerUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextFns.words(col("text"))).as("w"))
    val wc = toks.groupBy("w").agg(count(lit(1)).as("wc"))
    val vocab = graft.operators.UnigramLm.seedVocab(wc, vocabTop = 200)
    val seg = graft.operators.UnigramLm.viterbi(wc, vocab)
      .select(col("w"), size(col("pieces")).cast("long").as("np"))
    toks.join(broadcast(seg), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("np").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words"))
          .as("pieces_per_word"))
  }

  /** Trainable document-quality classifier: multinomial Naive Bayes
    * over a FIXED top-V vocabulary (V = 256) — the classifier-based
    * curation stage of LLM data pipelines (quality / educational-value
    * filters), with every source of nondeterminism removed so the gate
    * can hash-check it:
    *
    *  - weak labels from a declared heuristic (label 1 iff English
    *    stopword ratio ≥ 0.05 — the teacher rule a production pipeline
    *    would swap for human/LLM labels; the training/scoring plumbing
    *    is what this operator delivers);
    *  - train split `doc_id % 5 != 0`; held-out slice `% 5 == 0` is
    *    what gets scored;
    *  - vocabulary = top-V train tokens by (count DESC, term ASC):
    *    map-side-combined counts into a V-row TakeOrdered, so the
    *    MODEL IS CONSTANT-SIZE at any corpus scale and broadcasts;
    *    out-of-vocabulary tokens are ignored by declared semantics
    *    (fixed feature set — no unseen-token smoothing branch);
    *  - add-one smoothing within the vocab:
    *    P(t|c) = (cnt(t,c) + 1) / (tok_c + V);
    *  - per-doc scores fold tf·ln P(t|c) in TERM order (the ordered-sum
    *    discipline of [[textBm25]]) plus the ln class prior, rounded to
    *    6 decimals; prediction compares the ROUNDED scores (tie → 0).
    *
    * Scale shape: ONE corpus tokenization feeds both branches
    * (persisted); training is one map-side-combined count
    * shuffle; scoring is a corpus scan against the broadcast V-row
    * model plus one per-doc aggregation. Linear end-to-end with a
    * constant-size broadcast — no corpus-proportional state anywhere. */
  def textNbClassifier(s: SparkSession, dir: String): DataFrame = {
    val V = 256
    val d = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .withColumn("label",
        when(size(col("ws")) > 0 &&
          TextFns.stopwordHits(col("ws"), "en").cast("double") /
            size(col("ws")) >= 0.05, 1).otherwise(0))
      .transform(persistRows) // feeds the train branch + the eval branch
    val train = d.filter(col("doc_id") % 5 =!= 0)
    val toks = train.select(col("label"), explode(col("ws")).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(V)
      .select("term")
    val counts = toks.join(broadcast(vocab), Seq("term"))
      .groupBy("term").agg(
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("cnt_pos"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("cnt_neg"))
    val totals = counts.agg(
      sum("cnt_pos").as("tok_pos"), sum("cnt_neg").as("tok_neg"))
    val priors = train.agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).as("n_pos"),
      count(lit(1)).as("n_train"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("term"),
        log((col("cnt_pos") + 1).cast("double") /
          (col("tok_pos") + V).cast("double")).as("ll_pos"),
        log((col("cnt_neg") + 1).cast("double") /
          (col("tok_neg") + V).cast("double")).as("ll_neg"))
    val heldOut = d.filter(col("doc_id") % 5 === 0)
    val folded = heldOut
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .join(broadcast(model), Seq("term"))
      .select(col("doc_id"), col("term"),
        (col("tf") * col("ll_pos")).as("c_pos"),
        (col("tf") * col("ll_neg")).as("c_neg"))
      .groupBy("doc_id").agg(
        graft.functions.expressions.SortedStructSumExpr.column(
          collect_list(struct(col("term"), col("c_pos")))).as("sum_pos"),
        graft.functions.expressions.SortedStructSumExpr.column(
          collect_list(struct(col("term"), col("c_neg")))).as("sum_neg"),
        count(lit(1)).as("n_terms"))
    heldOut.select(col("doc_id"), col("label"))
      .join(folded, Seq("doc_id"), "left")
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("label"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        round(log(col("n_pos").cast("double") / col("n_train").cast("double"))
          + coalesce(col("sum_pos"), lit(0.0)), 6).as("score_pos"),
        round(log((col("n_train") - col("n_pos")).cast("double") /
            col("n_train").cast("double"))
          + coalesce(col("sum_neg"), lit(0.0)), 6).as("score_neg"))
      .withColumn("pred",
        when(col("score_pos") > col("score_neg"), 1).otherwise(0))
  }

  /** Near-dup cluster representative selection — the "keep the best
    * copy" policy production dedup uses instead of keep-min-id: within
    * each connected component of the exact-Jaccard pair graph (same
    * bounded slice + threshold as [[dedupComponents]]), the kept
    * document is the one with the most whitespace tokens (quality
    * proxy), ties to the smaller doc_id. The quality side is bounded
    * by the same id slice, so it broadcasts; the argmax is one window
    * per component — no extra corpus pass. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(s, dir))
      .filter(col("doc_id") < 300)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8)
    val comp = Dedup.connectedComponents(pairs)
    val quality = docs.select(col("doc_id"),
      size(TextFns.words(col("text"))).as("n_words"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("n_words").desc, col("doc_id"))
    comp.join(broadcast(quality), comp("id") === quality("doc_id"))
      .select(col("doc_id"), col("component"), col("n_words"))
      .withColumn("keep", row_number().over(w) === 1)
  }

  /** Incremental (append-only) fuzzy dedup through the persisted
    * MinHash-LSH band index ([[graft.operators.LshIndex]]): the base
    * corpus (doc_id % 10 != 0) is indexed ONCE, the delta shard
    * (doc_id % 10 == 0) probes it, and each delta doc gets a verdict —
    * duplicate of which base doc (best agreement ≥ 0.7, ties to the
    * smaller base id) or new. The daily-shard maintenance shape: work
    * is proportional to the delta, the corpus-sized index is scanned
    * but never shuffled (delta band keys and candidate ids broadcast —
    * see [[graft.operators.LshIndex.probe]]), and accepted docs append
    * to the index for the next shard. Output per delta doc:
    * (doc_id, n_cand, is_dup, dup_of, est_jaccard). */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame =
    withScratchIndex("graft_lsh_index_") { path =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    graft.operators.LshIndex.save(base, "doc_id", "text", path)
    val dSigs = Dedup.minhashSignatures(delta, "doc_id", "text")
      // probe fans the (small) delta side into three broadcasts — build
      // the signatures once, not once per consumer
      .transform(persistRows)
    val scored = graft.operators.LshIndex.probe(s, path, dSigs)
    val nCand = scored.groupBy("delta_id")
      .agg(count(lit(1)).as("n_cand"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("delta_id"))
      .orderBy(col("est_jaccard").desc, col("base_id"))
    val best = scored.filter(col("est_jaccard") >= 0.7)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("delta_id"), col("base_id").as("dup_of"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
    delta.select(col("doc_id"))
      .join(broadcast(nCand.withColumnRenamed("delta_id", "doc_id")),
        Seq("doc_id"), "left")
      .join(broadcast(best.withColumnRenamed("delta_id", "doc_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("est_jaccard"))
  }

  /** Maintenance-trigger policy over the persisted LSH index
    * ([[graft.operators.IndexMaintenance]]): base indexed once, the
    * delta shard appended as three tagged segments, then the policy
    * derives WHEN to compact from the index's own state — appended
    * band-row fraction (from the keycounts metadata, never a corpus
    * scan) and segment count — the reference's reset-policy shape
    * (statements rebaseline at ≥90% of max or >250 MB,
    * input/postgres/statements.go:78-110). Output one row per rule
    * plus the combined verdict: (metric, value, threshold, due). */
  def indexMaintenancePolicy(s: SparkSession, dir: String): DataFrame =
    withScratchIndex("graft_lsh_policy_") { path =>
    val docs = Tables.fanOut(Tables.documents(s, dir))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    graft.operators.LshIndex.save(base, "doc_id", "text", path)
    val dSigs = Dedup.minhashSignatures(delta, "doc_id", "text")
      .withColumn("b", expr("(id DIV 10) % 3").cast("int"))
      .transform(persistRows) // feeds the three appends
    try (0 until 3).foreach { k =>
      graft.operators.LshIndex.appendTagged(s, path,
        dSigs.filter(col("b") === k).select("id", "sig"), k.toLong)
    } finally GraftNative.unpersistRows(dSigs)
    graft.operators.IndexMaintenance.lshPolicyFrame(s, path,
      fracThreshold = 0.05, maxSegments = 16)
  }

  /** Refit-trigger policy over the persisted IVF index
    * ([[graft.operators.IndexMaintenance.ivfPolicy]]) — the ANN-side
    * counterpart of [[indexMaintenancePolicy]]: base fitted + indexed,
    * then a DOMAIN-SHIFTED delta shard (a constant bias on every
    * element — the deterministic stand-in for a new source whose
    * embeddings share a dominant direction, e.g. a different encoder
    * model) appended against the stale centroids. The policy derives
    * WHEN to refit from the index's own ≤ k-row `stats` metadata
    * alone: appended fraction (~0.1, below its 0.25 threshold — iid
    * aging is not the problem here) and the appended rows' inverted-
    * list imbalance factor (the shifted shard collapses into a few
    * lists, so THIS rule fires — simultaneously the drift-artifact
    * recall failure, 0.712 stale vs 0.984 refit, and the probe-time
    * hot-list failure). One metadata read, zero corpus re-scores.
    * Output one row per rule plus the verdict:
    * (metric, value, threshold, due). */
  def ivfRefitPolicy(s: SparkSession, dir: String): DataFrame =
    withScratchIndex("graft_ivf_policy_") { idx =>
    val e = Tables.fanOut(Tables.embeddings(s, dir))
    val base = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val delta = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x + lit(2.0f)).as("vec"))
    graft.operators.IvfIndex.save(base, idx, nClusters = 16, iters = 2,
      dim = 64)
    graft.operators.IvfIndex.append(s, idx, delta)
    graft.operators.IndexMaintenance.ivfPolicyFrame(s, idx,
      fracThreshold = 0.25, skewThreshold = 4.0)
  }

  /** Temperature-scaled source mixing (alpha = 0.5): the multilingual /
    * multi-domain re-balancing rule LM pipelines use — sampling weight
    * proportional to n_tokens^alpha, so low-resource sources are
    * up-weighted relative to their raw share. Entirely INTEGER
    * arithmetic end-to-end: s_i = floor(sqrt(tokens_i)) (exact — IEEE
    * sqrt is correctly rounded and the counts are far below 2^52),
    * quota_i = largest-remainder apportionment of a budget of half the
    * corpus tokens (floor(B*s_i/S) + 1 for the top remainders, ties by
    * source name), so there is NO cross-row float sum anywhere and the
    * result is deterministic under any partitioning. Selection fills
    * each source's quota in doc_id order (cumulative token sum ≤
    * quota). One corpus scan, one per-source aggregate; the 20-row
    * quota frame broadcasts back onto the selection scan. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(s, dir)).select(
      col("doc_id"), col("source"),
      TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
    val per = d.groupBy("source").agg(
      sum("n_tokens").as("src_tokens"), count(lit(1)).as("n_docs"))
    val weighted = per.withColumn("weight_sqrt",
      floor(sqrt(col("src_tokens"))).cast("long"))
    val tot = weighted.agg(
      sum("weight_sqrt").as("tot_w"), sum("src_tokens").as("tot_tokens"))
    // windows below are over the per-source frame: #sources rows, a
    // bounded dimension at any corpus scale
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val quotas = weighted.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot_tokens DIV 2"))
      // floor(budget*w/T) computed as floor(budget/T)*w +
      // floor((budget%T)*w/T): algebraically identical, but every
      // intermediate stays ≤ T*w ~ sqrt-scale instead of budget*w,
      // which wraps signed-64 once the lake holds ~7e12 tokens (the
      // oracle uses the same split form, so both engines stay exact)
      .withColumn("base_quota",
        expr("(budget DIV tot_w) * weight_sqrt + " +
          "((budget % tot_w) * weight_sqrt) DIV tot_w"))
      .withColumn("rem", expr("((budget % tot_w) * weight_sqrt) % tot_w"))
      // sum(rem) = budget*tot_w - tot_w*sum(base), so the leftover seat
      // count is exactly sum(rem)/tot_w — integer by construction
      .withColumn("rem_tot", sum(col("rem")).over(wAll))
      .withColumn("leftover", expr("rem_tot DIV tot_w"))
      .withColumn("quota_tokens",
        col("base_quota") +
          when(row_number().over(wRem) <= col("leftover"), 1L).otherwise(0L))
      .select("source", "n_docs", "src_tokens", "weight_sqrt", "quota_tokens")
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val sel = d.join(broadcast(quotas.select("source", "quota_tokens")), "source")
      .withColumn("cum", sum("n_tokens").over(wCum))
      .filter(col("cum") <= col("quota_tokens"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs_sel"), sum("n_tokens").as("n_tokens_sel"))
    quotas.join(sel, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("weight_sqrt"), col("quota_tokens"),
        coalesce(col("n_docs_sel"), lit(0L)).as("n_docs_sel"),
        coalesce(col("n_tokens_sel"), lit(0L)).as("n_tokens_sel"))
  }

  /** Hard-negative mining for contrastive/embedding training data: for
    * each anchor (a FIXED 32-query budget — eval workloads don't grow
    * with the corpus, the hybrid_search_rrf lesson) the top-5 most
    * similar CROSS-SOURCE vectors below a near-dup ceiling
    * (sim < 0.9): similar enough to be hard, guarded against disguised
    * positives (same source, or a near-duplicate). Scale shape: the
    * bounded anchor frame broadcasts, the corpus side streams through
    * one embeddings⋈documents equi-join (source metadata) — n·32 dot
    * products, one shuffle, top-k per anchor. */
  def embedHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val e = Tables.fanOut(Tables.embeddings(s, dir)).join(src, "vec_id")
    val anchors = e.filter(col("vec_id") < 32).select(
      col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      col("source").as("q_src"))
    val corpus = e.select(col("vec_id").as("n_id"),
      col("embedding").as("n_vec"), col("source").as("n_source"))
    val scored = corpus.crossJoin(broadcast(anchors))
      .filter(col("q_id") =!= col("n_id") && col("q_src") =!= col("n_source"))
      .withColumn("sim", Similarity.cosine(col("q_vec"), col("n_vec")))
      .filter(col("sim") < 0.9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "n_id", "n_source", "rank", "sim")
  }

  /** Deterministic train/validation/test split: FNV-1a over
    * `split:<doc_id>` routes each document to a bucket in [0, 256) —
    * 80/10/10 by bucket range, reproducible across engines and cluster
    * topologies (no `rand()`, no seed-dependent `hash()`). */
  def sampleSplit(s: SparkSession, dir: String): DataFrame = {
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(
          concat(lit("split:"), col("doc_id").cast("string")))))
    val bucket = h.bitwiseAND(lit(255L))
    Tables.documents(s, dir).select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < 204, "train")
        .when(bucket < 230, "validation")
        .otherwise("test").as("split"))
  }
}
