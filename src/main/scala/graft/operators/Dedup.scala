package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.{Hashing, TextFns}

/** Document deduplication family for training-data pipelines.
  *
  * Four tiers, cheapest-first — on a 100 TB corpus you run them in this
  * order and each tier prunes the next tier's input:
  *
  *  1. [[exact]] — hash group-by, one shuffle on the fingerprint.
  *  2. [[simhash]] + [[simhashPairs]] — per-row 64-bit sketch, near-dup
  *     candidates via 4×16-bit chunk banding (pigeonhole: hamming ≤ 3 ⇒
  *     at least one identical chunk), so the join is equi-join-shaped
  *     (shuffle on chunk value), never a cross join.
  *  3. [[minhashSignatures]] + [[lshCandidates]] — MinHash(64) banded
  *     8×8; candidate pairs share a (band, bandhash) bucket: again an
  *     equi-join, with skewed mega-buckets bounded by `maxBucket`.
  *  4. [[ngramJaccardPairs]] — exact verification on candidates (or,
  *     bounded, as its own operator): explode token sets, equi-join on
  *     token, count common tokens per pair. Scales as sum over tokens of
  *     df(token)^2 — cap hot
  *     tokens with `maxDocFreq` (stopword-like tokens carry no dedup
  *     signal but quadratic cost).
  *
  * All hashing is [[Hashing.fnv1a64]]: engine-owned and deterministic
  * across JVMs/partitionings (no reliance on JVM hashCode or Spark seed
  * internals).
  */
object Dedup {

  /** Exact duplicate groups by normalized-content fingerprint:
    * (fingerprint, canonical_id = min id, n_dups). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fingerprint", TextFns.contentFingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  // ---------------------------------------------------------------- minhash

  val NumPerms = 64
  val Bands = 8
  val Rows = 8 // NumPerms / Bands

  /** Per-permutation mixing constants — fixed engine constants, also
    * inlined into the DuckDB oracle so the signature family is verifiable
    * end-to-end. */
  val permConsts: Array[Long] =
    Array.tabulate(NumPerms)(p => Hashing.fnv1a64(p + ":perm"))

  /** h_p(w) = ((fnv1a64(w) xor c_p) * FnvPrime) with 64-bit wrap: one
    * content hash per word, then one xor+multiply per permutation —
    * 64× cheaper than re-hashing the word per permutation, and cheap to
    * reproduce in SQL (modular multiply via 128-bit intermediate).
    * Computed by a native expression over UTF8String bytes — no UDF
    * deserialization. */
  def minhashSig(words: Column): Column =
    org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.MinhashSignatureExpr(
        org.apache.spark.sql.GraftNative.expression(words),
        NumPerms, permConsts.toIndexedSeq))

  /** (id, sig: array<long>[64]) per doc. Per-row compute — no shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      minhashSig(TextFns.wordSet(col(textCol))).as("sig"))

  /** Candidate near-dup pairs (id_a < id_b) from LSH banding, with the
    * fraction of agreeing minhash components as `est_jaccard`.
    * Buckets key on the raw 8-long band slice (grouping on an array is an
    * ordinary shuffle key — no band-hash collisions to reason about).
    * `maxBucket` drops degenerate buckets (e.g. the all-empty-doc
    * bucket) whose quadratic blowup would dominate at scale. */
  def lshCandidates(sigs: DataFrame, maxBucket: Int = 1000): DataFrame = {
    // ONE materialization point for the expensive signatures: an
    // id-partitioned exchange reused (ReuseExchange) by the banding
    // branch and by both est-jaccard join-backs, so minhash runs once
    // and the full 64-long signature never rides the banding shuffle —
    // only the 8-long band slice does.
    val sigsP = sigs.select("id", "sig").repartition(col("id"))
    val banded = sigsP
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .withColumn("band_sig", slice(col("sig"), col("band") * Rows + 1, lit(Rows)))
      .select("id", "band", "band_sig")
      .repartition(col("band"), col("band_sig"))
    // cap via key-only counts + broadcast anti-join: unlike a window over
    // (band, band_sig), no task ever BUFFERS a hot bucket — over-cap rows
    // stream through the filter and drop
    val hot = banded.groupBy("band", "band_sig")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("band", "band_sig")
    val bucketed = banded.join(broadcast(hot), Seq("band", "band_sig"), "left_anti")
    val a = bucketed.select(col("band"), col("band_sig"), col("id").as("id_a"))
    val b = bucketed.select(col("band"), col("band_sig"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(sigsP.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsP.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.GraftNative.column(
          graft.functions.expressions.SigAgreeExpr(
            org.apache.spark.sql.GraftNative.expression(col("sig_a")),
            org.apache.spark.sql.GraftNative.expression(col("sig_b"))))
          .as("est_jaccard"))
  }

  // ---------------------------------------------------------------- simhash

  /** (id, simhash: long) per doc — per-row compute, no shuffle; native
    * expression over UTF8String bytes. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      org.apache.spark.sql.GraftNative.column(
        graft.functions.expressions.SimhashExpr(
          org.apache.spark.sql.GraftNative.expression(
            TextFns.wordSet(col(textCol))))).as("simhash"))

  /** Near-dup pairs with hamming(simhash) ≤ maxHamming (≤ 15 supported:
    * pigeonhole over 4 chunks guarantees recall for ≤ 3; keep 3).
    * `maxBucket` caps degenerate chunk buckets (e.g. the all-zero chunk
    * from empty docs) — without it one hot chunk value goes quadratic at
    * scale. */
  def simhashPairs(hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    // shared exchange + key-only hot-bucket cap (see lshCandidates)
    val chunked0 = hashes.select(col("id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("chunk"))
      .withColumn("chunk_val",
        expr("shiftrightunsigned(simhash, chunk * 16)")
          .bitwiseAND(lit(0xffffL)))
      .repartition(col("chunk"), col("chunk_val"))
    val hot = chunked0.groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("chunk", "chunk_val")
    val chunked = chunked0.join(broadcast(hot), Seq("chunk", "chunk_val"), "left_anti")
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  // ----------------------------------------------------- exact jaccard pairs

  /** Exact token-set Jaccard pairs ≥ `threshold` via token equi-join.
    * `maxDocFreq` caps per-token document frequency (a token present in
    * d docs contributes d² join rows — hot tokens are pruned, matching
    * the standard "stopwords carry no dedup signal" practice; pruned
    * tokens shrink BOTH the intersection and the set sizes, applied
    * symmetrically so Jaccard stays well-defined). The default cap of
    * 10k bounds the worst token at 10⁸ join rows regardless of corpus
    * size — unlimited is opt-in, never the default. */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxDocFreq: Long = 10000): DataFrame = {
    val toks0 = docs.select(col(idCol).as("id"),
      explode(TextFns.wordSet(col(textCol))).as("w"))
    val toks =
      if (maxDocFreq == Long.MaxValue) toks0
      else {
        val hot = toks0.groupBy("w").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select("w")
        toks0.join(broadcast(hot), Seq("w"), "left_anti")
      }
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = toks.select(col("w"), col("id").as("id_a"))
    val b = toks.select(col("w"), col("id").as("id_b"))
    val common = a.join(b, Seq("w")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------------------------------------------- connected components

  /** Dedup cluster assignment: connected components over a near-dup pair
    * graph — the step that turns pairwise candidates ([[lshCandidates]],
    * [[simhashPairs]], [[ngramJaccardPairs]]) into keep/drop decisions
    * (one canonical document per cluster). Returns (id, component) where
    * `component` is the smallest id in the cluster — deterministic
    * regardless of iteration order or partitioning. Only ids that appear
    * in a pair are returned (singletons are their own cluster trivially).
    *
    * One `limit(cap + 1)` collect of the (persisted) pairs probes their
    * count and gathers them; both paths give the same rows and schema.
    * Up to `maxDriverEdges` (the broadcast budget at 16 B a pair):
    * union-find on the driver, each root linked under the smaller, into
    * a local relation. Over it: min-label propagation with pointer
    * jumping — each round every node takes the least of (its label, its
    * neighbors' labels, its *label's* label), so it converges in O(log
    * diameter) rounds (2–3 on clique-like near-dup graphs); each round's
    * labels are `localCheckpoint`ed, the edge list is persisted once,
    * and labels still changing after `maxIters` rounds throw. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 25,
      maxDriverEdges: Long = DimEncode.BroadcastBudgetBytes / 16): DataFrame = {
    val ends = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val head = ends.coalesce(1)
      .limit(math.min(maxDriverEdges, Int.MaxValue - 1L).toInt + 1).collect()
    try {
      if (head.length <= maxDriverEdges && !head.exists(_.anyNull))
        unionFind(head, ends.schema.exists(_.nullable), pairs.sparkSession)
      else propagate(ends, maxIters)
    } finally ends.unpersist()
  }

  private def unionFind(ends: Array[Row], idNullable: Boolean,
      s: SparkSession): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    ends.foreach { e =>
      val (a, b) = (e.getLong(0), e.getLong(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rows = parent.keys.toArray.sorted.map(id => Row(id, find(id)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", LongType, idNullable),
      StructField("component", LongType, nullable = true))))
  }

  private def propagate(ends: DataFrame, maxIters: Int): DataFrame = {
    val edges = ends
      .unionByName(ends.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      // cache partitioned on the per-round join key, so every round's
      // edges⨝labels probe reuses the cached partitioning instead of
      // re-shuffling the (large) edge side
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init = node set + the first neighbor-min round in one aggregation
    // (both edge directions are present, so every node appears as src)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("id"), least(col("id"), col("nbr_min")).as("component"))
      .localCheckpoint(eager = false)
    // convergence check: labels only ever decrease, so the label sum is
    // strictly monotone and stationary exactly at the fixpoint — one
    // cheap aggregate over the materialized labels instead of a
    // join-against-previous per round
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      // one round = min over three message streams, fused into ONE
      // union + min-aggregate (4 exchanges/round) instead of the
      // nbrMin-groupBy + two left joins it replaces (6 exchanges/round;
      // same values: every id appears exactly once in `self` and once
      // in `jump` — labels are unique per id and a label's component is
      // itself a node id — and at least once in `nbr` via the
      // bidirectional edge list, so min(union) == least(coalesce(...))
      // of the per-stream minimums)
      val nbr = edges
        .join(labels.select(col("id").as("src"), col("component")), "src")
        .select(col("dst").as("id"), col("component"))
      val self = labels
      // pointer jumping: the label of my label (labels always carry node
      // ids, so the lookup always resolves)
      val jump = labels
        .join(labels.select(col("id").as("ptr_id"),
          col("component").as("ptr_min")), col("component") === col("ptr_id"))
        .select(col("id"), col("ptr_min").as("component"))
      val next = nbr.unionByName(self).unionByName(jump)
        .groupBy("id")
        .agg(min("component").as("component"))
        // lazy: the convergence aggregate right below is the first
        // action, so checkpoint materialization and the label-sum fold
        // happen in ONE job per round instead of two
        .localCheckpoint(eager = false)
      val curSum = labelSum(next)
      done = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels = next
      i += 1
    }
    edges.unpersist()
    if (!done) throw new IllegalStateException(
      s"connected components still changing after maxIters = $maxIters rounds")
    labels
  }
}
