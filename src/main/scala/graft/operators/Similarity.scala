package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.GraftNative
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.Hashing
import graft.functions.expressions.{CosineSimilarity, CosineSimilarityFD, Norm2FExpr,
  VecStructSumExpr}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *    set against the corpus, score with the codegen'd
  *    [[CosineSimilarity]] kernel, per-query top-k via a window. One
  *    pass over the corpus, no corpus shuffle — the 100 TB plan is
  *    scan-local scoring + per-query k-heaps.
  *  - [[lshTopK]] — scale path: random-hyperplane LSH signatures bucket
  *    the corpus; each query only scores its own bucket(s). Recall is
  *    tunable via `bits` (fewer bits → bigger buckets → higher recall,
  *    more compute). An IVF variant would swap the hyperplanes for
  *    k-means centroids; the plumbing is identical.
  */
object Similarity {

  /** Codegen'd cosine similarity of two array<float> columns. */
  def cosine(a: Column, b: Column): Column =
    GraftNative.column(CosineSimilarity(
      GraftNative.expression(a), GraftNative.expression(b)))

  /** float vector × double vector (IVF centroids). */
  def cosineFD(a: Column, b: Column): Column =
    GraftNative.column(graft.functions.expressions.CosineSimilarityFD(
      GraftNative.expression(a), GraftNative.expression(b)))

  /** Exact top-k: `queries`(q_id, q_vec) × `corpus`(n_id, n_vec) → rows
    * (q_id, n_id, sim, rank ≤ k), self-matches excluded. The query side
    * is broadcast; ties broken by n_id for determinism. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = broadcast(queries).crossJoin(corpus)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Deterministic pseudo-random hyperplane component: plane `p`,
    * dimension `j` → value in [-1, 1). All operations after the hash are
    * exact in IEEE doubles ((h>>>11) is a 53-bit integer; /2^53, *2, -1
    * are exact), so the constants round-trip losslessly through decimal
    * literals into the DuckDB oracle. */
  private def planeComponent(p: Int, j: Int): Double = {
    val h = Hashing.fnv1a64(p * 104729 + j, "plane")
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** The hyperplane matrix for `n` planes × `dim` dims — public so the
    * oracle generator can inline the identical constants. */
  def planeMatrix(n: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(n, dim)((p, j) => planeComponent(p, j))

  /** Sign-bit bucket column — native expression over the float array
    * (no UDF deserialization); the identical loop the old UDF ran. */
  private def signBits(v: Column, bits: Int, dim: Int): Column =
    GraftNative.column(graft.functions.expressions.SignBitsExpr(
      GraftNative.expression(v), bits, dim,
      planeMatrix(bits, dim).flatten.toIndexedSeq))

  /** LSH-bucketed ANN, banded multi-probe: both sides get `sigs`
    * independent signatures of `bits` bits each (signature s = planes
    * [s*bits, (s+1)*bits) of one [[signBits]] call); a corpus row is a
    * candidate for a query when ANY signature bucket matches — recall
    * 1-(1-p^bits)^sigs instead of a single p^bits — then per-query exact
    * top-k within candidates. `maxBucket` caps each (signature, bucket)
    * cell on the corpus side (key-only count + broadcast anti-join), so
    * a hot bucket never goes quadratic: worst case sigs × maxBucket
    * scored rows per query. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 4, sigs: Int = 8, dim: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    require(bits * sigs <= 62, "bits*sigs must fit in a long")
    def banded(df: DataFrame, vecCol: String, idCol: String): DataFrame = df
      .withColumn("allbits", signBits(col(vecCol), bits * sigs, dim))
      .withColumn("sig", explode(sequence(lit(0), lit(sigs - 1))))
      .withColumn("bucket",
        expr(s"shiftrightunsigned(allbits, sig * $bits)")
          .bitwiseAND(lit((1L << bits) - 1)))
      .select(idCol, "sig", "bucket")
    // candidate generation runs over SLIM (id, sig, bucket) rows — the
    // float vectors never enter the banding shuffle (a 15× duplication
    // of 256 B vectors at 100 TB); one explicit repartition on the
    // bucket key lets the hot-bucket count and the probe side reuse a
    // single exchange, so corpus sign-bits are computed once
    val cb0 = banded(corpus, "n_vec", "n_id").repartition(col("sig"), col("bucket"))
    val hotBuckets = cb0.groupBy("sig", "bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("sig", "bucket")
    val cb = cb0.join(broadcast(hotBuckets), Seq("sig", "bucket"), "left_anti")
    val qb = broadcast(banded(queries, "q_vec", "q_id"))
    val cand = qb.join(cb, Seq("sig", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .dropDuplicates("q_id", "n_id")
    // candidates are bounded by queries × sigs × maxBucket → broadcast
    // them back against a plain corpus scan to fetch vectors: no corpus
    // shuffle at all, scoring is scan-local
    val scored = corpus.join(broadcast(cand), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  // ------------------------------------------------------------------- IVF

  /** Level-1 fold width of [[ivfFit]]'s two-level centroid update —
    * a FIXED constant shared with the SQL oracle (the fold order is
    * part of the bit-reproducibility contract). */
  val DefaultChunkWidth = 1024L

  /** Deterministic k-means for IVF coarse quantization: centroids
    * initialize from the `k` lowest-id vectors and update with a
    * TWO-LEVEL ordered tree fold (not a parallel `sum`), so the fitted
    * centroids are bit-reproducible across partitionings — and in the
    * SQL oracle. Assignment is by cosine, ties broken by cluster id.
    * Empty clusters keep their previous centroid.
    *
    * The fold order is a pure function of ids — chunk `id div
    * chunkWidth`, members fold in ascending id within a chunk, chunk
    * partial sums fold in ascending chunk. Two paths give `==`
    * centroids. With k ≤ [[TwoLevelMinK]] and at most `driverBytes` of
    * vectors at 4·dim B each (≈ 37k at dim 64), one `limit(cap + 1)`
    * collect gathers them and all rounds run on the driver into a local
    * relation. Otherwise each round broadcasts the `k` centroids against
    * the corpus (per-row argmax, no corpus shuffle), shuffles once on
    * (cluster, chunk) and once on cluster — no task holds more than
    * `chunkWidth` vectors of a cluster — and checkpoints the centroids.
    * Set `chunkWidth` ≈ sqrt(id-range) at lake scale to balance the
    * levels; the default matches the oracle's constant. */
  def ivfFit(emb: DataFrame, k: Int, iters: Int, dim: Int,
      chunkWidth: Long = DefaultChunkWidth,
      driverBytes: Long = DimEncode.BroadcastBudgetBytes): DataFrame = {
    val s = emb.sparkSession
    val cap = if (k <= TwoLevelMinK) driverBytes / (4L * dim) else -1L
    vectorsUnder(emb, cap) match {
      case Some(vs) =>
        val cents = lloydOnDriver(vs, k, iters, dim, chunkWidth)
        s.createDataFrame(cents.indices.map(c => Row(c, cents(c))).asJava,
          StructType(Seq(StructField("cluster", IntegerType, nullable = false),
            StructField("centroid", ArrayType(DoubleType), emb.schema("vec").nullable))))
      case None => (0 until iters).foldLeft(seedCents(emb, k))((cents, _) =>
        lloydUpdate(ivfAssign(emb, cents), cents, dim, chunkWidth))
    }
  }

  /** The (id, vec) rows of `emb` sorted by id, if there are at most
    * `cap` of them; `None` otherwise. One `coalesce(1).limit(cap + 1)`
    * collect both probes the size and gathers the rows; a negative cap
    * runs nothing. The driver passes' gate, with `cap` derived from
    * [[DimEncode.BroadcastBudgetBytes]] at 4·dim B a vector. */
  def vectorsUnder(emb: DataFrame, cap: Long): Option[Array[(Long, Array[Float])]] =
    if (cap < 0) None
    else {
      import emb.sparkSession.implicits._
      val head = emb.select("id", "vec").as[(Long, Array[Float])]
        .coalesce(1).limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
      if (head.length <= cap) Some(head.sortBy(_._1)) else None
    }

  /** [[ivfFit]]'s rounds over id-sorted vectors, op for op: a vector
    * goes to its [[nearest]] centroid; sums fold as [[VecStructSumExpr]]
    * does. */
  private def lloydOnDriver(vs: Array[(Long, Array[Float])], k: Int,
      iters: Int, dim: Int, chunkWidth: Long): Array[Array[Double]] = {
    val data = vs.map(v => UnsafeArrayData.fromPrimitiveArray(v._2))
    val wide = vs.map(_._2.map(_.toDouble))
    def sum(xs: Iterable[Array[Double]]): Array[Double] =
      xs.foldLeft(new Array[Double](dim)) { (acc, x) =>
        var d = 0
        while (d < dim) { acc(d) += x(d); d += 1 }
        acc
      }
    var cents = wide.take(k)
    for (_ <- 0 until iters) {
      val cd = cents.map(c => UnsafeArrayData.fromPrimitiveArray(c))
      val members = vs.indices.groupBy(i => nearest(data(i), cd))
      cents = cents.indices.map { c =>
        members.get(c).fold(cents(c)) { ms =>
          val chunks = ms.groupBy(vs(_)._1 / chunkWidth).toSeq.sortBy(_._1)
          sum(chunks.map(ch => sum(ch._2.map(wide(_))))).map(_ / ms.size.toDouble)
        }
      }.toArray
    }
    cents
  }

  /** [[ivfAssign]]'s argmax on the driver: the cluster with the max
    * (sim, -cluster) as `max_by` orders it (-0.0 == 0.0, NaN on top),
    * so ties go to the lowest cluster. */
  private def nearest(v: ArrayData, cents: Array[UnsafeArrayData]): Int = {
    val sims = cents.map(CosineSimilarityFD.sim(v, _))
    sims.indices.foldLeft(0)((b, c) =>
      if (SQLOrderingUtil.compareDoubles(sims(c), sims(b)) > 0) c else b)
  }

  /** The flat SemDeDup of `QueriesText.semDedup` in one driver pass over
    * id-sorted vectors with unique ids: [[ivfFit]]'s rounds, the
    * [[ivfAssign]] argmax, then the distributed plan's drop rule. Every
    * non-zero-norm vector is dropped if a lower-id vector of its
    * cluster has the same grouping key (Spark normalizes float keys:
    * -0.0f is 0.0f, one NaN), or if its key's representative (the
    * lowest id holding it) scores ≥ `threshold` by [[CosineSimilarity]]
    * against a lower-id representative of its cluster. Comparisons
    * follow Spark SQL's double order, so a NaN norm counts as non-zero
    * and a NaN score as a match, as in the distributed plan. Returns
    * each vector's (cluster, kept), in `vs` order. */
  def semDedupOnDriver(vs: Array[(Long, Array[Float])], k: Int, iters: Int,
      dim: Int, threshold: Double): Array[(Int, Boolean)] = {
    val cents = lloydOnDriver(vs, k, iters, dim, DefaultChunkWidth)
      .map(c => UnsafeArrayData.fromPrimitiveArray(c))
    val data = vs.map(v => UnsafeArrayData.fromPrimitiveArray(v._2))
    val cluster = data.map(nearest(_, cents))
    val kept = Array.fill(vs.length)(true)
    val keys = scala.collection.mutable.HashSet.empty[(Int, Seq[Int])]
    val reps = Array.fill(cents.length)(Vector.empty[UnsafeArrayData])
    for (i <- vs.indices
         if SQLOrderingUtil.compareDoubles(Norm2FExpr.norm2(data(i)), 0d) > 0) {
      val c = cluster(i)
      val bits = vs(i)._2.map(x => if (x == 0f) 0 else java.lang.Float.floatToIntBits(x))
      if (!keys.add((c, bits.toSeq))) kept(i) = false
      else {
        val rep = UnsafeArrayData.fromPrimitiveArray(bits.map(java.lang.Float.intBitsToFloat))
        kept(i) = !reps(c).exists(a =>
          SQLOrderingUtil.compareDoubles(CosineSimilarity.sim(a, rep), threshold) >= 0)
        reps(c) = reps(c) :+ rep
      }
    }
    cluster.zip(kept)
  }

  /** Centroid init shared by the flat and two-level fits: the `k`
    * lowest-id vectors, widened to double, numbered 0..k-1 in id
    * order. */
  private def seedCents(emb: DataFrame, k: Int): DataFrame =
    emb.orderBy("id").limit(k)
      .orderBy("id")
      .select(col("id"), col("vec").cast("array<double>").as("centroid"))
      .withColumn("cluster",
        (row_number().over(Window.orderBy("id")) - 1).cast("int"))
      .select("cluster", "centroid")

  /** One Lloyd centroid update over an assignment, with the two-level
    * ordered tree fold (see [[ivfFit]]'s scale notes): level 1 folds
    * members in id order within chunk `id div chunkWidth`, level 2
    * folds chunk partial sums in chunk order. Empty clusters keep the
    * previous centroid. */
  private def lloydUpdate(assigned: DataFrame, cents: DataFrame,
      dim: Int, chunkWidth: Long): DataFrame = {
    // per-dim sums via the native ordered kernel (one pass over each
    // member list) instead of `transform(sequence(0, dim-1), d ->
    // aggregate(ms, …))` — dim separate interpreted HOF folds per row,
    // dim × |ms| boxed lambda calls (the dominant CPU of every k-means
    // consumer). Fold order per dimension is unchanged (members in
    // sorted-list order), so centroids stay bit-identical — pinned by
    // DedupSimilaritySpec and the unchanged oracle hashes.
    val updated = assigned
      .groupBy(col("cluster"), expr(s"id div $chunkWidth").as("chunk"))
      .agg(sort_array(collect_list(struct(col("id"), col("vec")))).as("ms"))
      .select(col("cluster"), col("chunk"),
        VecStructSumExpr.column(col("ms"), "vec", dim).as("psum"),
        size(col("ms")).cast("long").as("cnt"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("chunk"), col("psum"), col("cnt"))))
        .as("chunks"))
      .select(col("cluster"),
        VecStructSumExpr.column(col("chunks"), "psum", dim).as("num"),
        expr("aggregate(chunks, cast(0 as bigint), (acc, c) -> acc + c.cnt)")
          .as("den"))
      .select(col("cluster"),
        expr("transform(num, x -> x / den)").as("centroid"))
    cents.select(col("cluster"), col("centroid").as("prev"))
      .join(updated, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("centroid"), col("prev")).as("centroid"))
      // k tiny rows: checkpoint so iteration i+1 (and every downstream
      // consumer — list assignment AND query probing both re-reference
      // cents) doesn't re-run the whole k-means lineage; lazy, so the
      // next consumer's broadcast-collect materializes it in its own
      // job rather than paying a separate eager job per iteration
      .localCheckpoint(eager = false)
  }

  /** Nearest-centroid assignment: (id, vec, cluster). Per-id argmax via
    * `max_by` over (sim, -cluster) — a map-side-combining hash aggregate
    * instead of a sort window, same tie-break (highest sim, then lowest
    * cluster id). The aggregate carries ONLY fixed-width columns
    * (id, cluster, sim) so it plans as whole-stage-codegen
    * HashAggregate; a `first(vec)` alongside put the array in the
    * aggregation buffer, forcing SortAggregate over the full n·k
    * scored frame (external-sort spill storm on small executors at
    * sf10 — the lc drill's exit-52). The vector column joins back from
    * `emb` afterward (callers pass a persisted or plain-scan emb, so
    * the double reference is a cheap re-scan, not a recompute). */
  def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val scored = emb.select("id", "vec").crossJoin(broadcast(cents))
      .withColumn("sim", cosineFD(col("vec"), col("centroid")))
    val cl = scored.groupBy("id").agg(
      max_by(col("cluster"),
        struct(col("sim"), (-col("cluster")).cast("int"))).as("cluster"))
    emb.join(cl, Seq("id")).select("id", "vec", "cluster")
  }

  // -------------------------------------------- two-level IVF assignment
  //
  // When the cluster count scales with the corpus (k ∝ n, the SemDeDup
  // sizing law), flat [[ivfAssign]] is n·k dot products under a
  // corpus-proportional centroid broadcast — the r10-verdict 100 TB
  // scale-killer. The two-level path routes every vector through a
  // ⌈√k⌉-centroid coarse quantizer first (n·√k work, √k-sized
  // broadcast), then exact-assigns only against the fine centroids
  // living in the vector's `nprobe` nearest coarse lists — total work
  // n·√k·nprobe, and the fine-centroid join is an unhinted equi-join on
  // the coarse-list key that AQE broadcasts while small and shuffles
  // when k ∝ n makes it big. Bit-reproduced in the DuckDB oracle
  // (OraclesGen.ivf2lCtes).

  /** Flat assignment is kept below this cluster count; strictly above
    * it the two-level path engages. Shared with the SQL oracle. */
  val TwoLevelMinK = 64

  /** Coarse lists probed per vector in the two-level assignment. */
  val DefaultNProbe = 4

  /** Fixed cluster count of the bounded-k SemDeDup lake configuration
    * ([[graft.QueriesText]]`.semDedupBounded`) — production SemDeDup
    * bounds k instead of scaling it with the corpus. Shared with the
    * SQL oracle. */
  val BoundedK = 64

  /** Per-cluster witness budget of the bounded-k SemDeDup: each vector
    * scores only its cluster's first `WitnessCap` representatives (by
    * rep id), so the dedup arm is n·cap work under a ≤ k·cap-row
    * broadcast. Part of the operator's DECLARED semantics (the oracle
    * re-derives the cap), not an execution rewrite. */
  val WitnessCap = 128

  /** Bounded-witness SemDeDup drop set over an (id, vec, cluster)
    * assignment — the LINEAR dedup arm of the bounded-k lake
    * configuration. A vector is dropped iff
    *
    *  - an identical lower-id vector shares its cluster (exact-dup
    *    collapse via one (cluster, vec) group-by), or
    *  - one of its cluster's first `cap` representatives by rep id is
    *    lower-id and scores ≥ `threshold` by cosine.
    *
    * The witness frame is ≤ k·cap rows regardless of corpus size, so
    * it BROADCASTS and the scoring pass is one broadcast join over a
    * single corpus scan (n·cap work, no pair shuffle). Zero-norm
    * vectors score 0 against everything (cosine contract): excluded
    * from groups, never witnesses, never dropped. Returns the dropped
    * ids (column `id`). */
  def cappedWitnessDrop(assigned: DataFrame, threshold: Double,
      cap: Int): DataFrame = {
    val nzAssigned = assigned.withColumn("nz",
      Norm2FExpr.column(col("vec")) > 0d)
    val groups = nzAssigned.filter(col("nz"))
      .groupBy(col("cluster"), col("vec"))
      .agg(min(col("id")).as("rep_id"))
      // feeds the dup-drop arm AND the witness frame
      .transform(GraftNative.persistRows)
    val dupDropped = nzAssigned.filter(col("nz"))
      .join(groups, Seq("cluster", "vec"))
      .filter(col("id") > col("rep_id"))
      .select(col("id"))
    val wit = groups
      .withColumn("wrn",
        row_number().over(Window.partitionBy("cluster").orderBy("rep_id")))
      .filter(col("wrn") <= cap)
      .select(col("cluster").as("w_cluster"), col("rep_id"),
        col("vec").as("w_vec"))
    val members = nzAssigned.filter(col("nz"))
      .select(col("cluster"), col("id"), col("vec"))
    val capDropped = members.join(broadcast(wit),
        members("cluster") === wit("w_cluster") && col("rep_id") < col("id"))
      .filter(cosine(col("vec"), col("w_vec")) >= threshold)
      .select(col("id"))
    dupDropped.unionByName(capDropped).distinct()
  }

  /** ⌈√k⌉ with integer adjustment (no dependence on float rounding at
    * perfect squares) — mirrored exactly in the oracle SQL. */
  def isqrtCeil(k: Long): Int = {
    val m0 = math.floor(math.sqrt(k.toDouble)).toLong
    val m = if ((m0 - 1) * (m0 - 1) >= k) m0 - 1
            else if (m0 * m0 >= k) m0
            else m0 + 1
    m.toInt
  }

  /** Per-vector coarse probe lists: (id, vec, ccluster), `nprobe` rows
    * per id — the vector's nprobe nearest coarse centroids by cosine,
    * ties to the lowest coarse cluster id. The coarse side is a bounded
    * ⌈√k⌉-row broadcast. */
  def coarseProbes(emb: DataFrame, coarse: DataFrame, nprobe: Int): DataFrame = {
    val cc = coarse.select(col("cluster").as("ccluster"),
      col("centroid").as("ccentroid"))
    val w = Window.partitionBy("id").orderBy(col("csim").desc, col("ccluster"))
    emb.crossJoin(broadcast(cc))
      .withColumn("csim", cosineFD(col("vec"), col("ccentroid")))
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") <= nprobe)
      .select("id", "vec", "ccluster")
  }

  /** Cosine of two double vectors (fine centroid vs coarse centroid). */
  private def cosineDD(a: Column, b: Column): Column =
    GraftNative.column(graft.functions.expressions.CosineSimilarityDD(
      GraftNative.expression(a), GraftNative.expression(b)))

  /** Two-level nearest-centroid assignment: each fine centroid is
    * routed to its single nearest coarse list; each vector exact-scores
    * only the fine centroids in its probed coarse lists. Vectors whose
    * probed lists hold no fine centroid (rare by construction — k ≥ kc
    * fine centroids spread over kc coarse lists, and a vector probes
    * its nprobe NEAREST lists) fall back to the flat argmax, with the
    * tiny `missing` side broadcast so the centroid side streams.
    * Same (sim DESC, cluster ASC) tie-break as [[ivfAssign]]. */
  def ivfAssign2L(emb: DataFrame, probes: DataFrame, cents: DataFrame,
      coarse: DataFrame): DataFrame = {
    val cc = coarse.select(col("cluster").as("ccluster"),
      col("centroid").as("ccentroid"))
    val wc = Window.partitionBy("cluster").orderBy(col("csim").desc, col("ccluster"))
    val centsC = cents.crossJoin(broadcast(cc))
      .withColumn("csim", cosineDD(col("centroid"), col("ccentroid")))
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") === 1)
      .select("ccluster", "cluster", "centroid")
    // unhinted equi-join on the coarse-list key: AQE broadcasts centsC
    // while it is small and falls back to a shuffled hash join once
    // k ∝ n makes it big — no forced corpus-proportional broadcast
    // fixed-width aggregate (see ivfAssign's scale note): cluster-only
    // argmax keeps the n·√k·nprobe candidate frame in codegen
    // HashAggregate; vectors join back from emb once, below
    val cand = probes.join(centsC, "ccluster")
      .withColumn("sim", cosineFD(col("vec"), col("centroid")))
    val assigned0 = cand.groupBy("id").agg(
      max_by(col("cluster"),
        struct(col("sim"), (-col("cluster")).cast("int"))).as("cluster"))
    // a vector is UNASSIGNED iff none of its probed lists holds a fine
    // centroid — decidable from the (tiny) list-key sets alone, so the
    // expensive scored aggregate above is never referenced twice in one
    // plan (Spark duplicates shared subtrees; the 3×-recompute trap)
    val covered = probes
      .join(centsC.select("ccluster").distinct(), Seq("ccluster"))
      .select("id").distinct()
    val missing = emb.join(covered, Seq("id"), "left_anti")
    val fallback = cents.crossJoin(broadcast(missing))
      .withColumn("sim", cosineFD(col("vec"), col("centroid")))
      .groupBy("id").agg(
        max_by(col("cluster"),
          struct(col("sim"), (-col("cluster")).cast("int"))).as("cluster"))
    emb.join(assigned0.unionByName(fallback), Seq("id"))
      .select("id", "vec", "cluster")
  }

  /** Fit k ∝ n fine centroids and return the final (id, vec, cluster)
    * assignment, with every Lloyd iteration's assignment AND the final
    * one running two-level. The coarse quantizer (⌈√k⌉ centroids, flat
    * [[ivfFit]]) and the per-vector probe lists are computed once —
    * coarse centroids are fixed across fine iterations. */
  def ivfFitAssign2L(emb: DataFrame, k: Int, iters: Int, dim: Int,
      nprobe: Int = DefaultNProbe,
      chunkWidth: Long = DefaultChunkWidth): DataFrame = {
    val kc = isqrtCeil(k.toLong)
    val coarse = ivfFit(emb, kc, iters, dim, chunkWidth)
    // probes feed every fine iteration and the final assignment (and
    // appear TWICE per assignment: candidate scoring + coverage check)
    // — EAGER checkpoint so the n·√k coarse scoring runs once; lazy
    // marking would not dedup the plan-duplicated subtrees inside one
    // action (k-means is inherently iterative-eager, as MLlib's is)
    val probes = coarseProbes(emb, coarse, nprobe).localCheckpoint()
    var cents = seedCents(emb, k)
    var i = 0
    while (i < iters) {
      cents = lloydUpdate(ivfAssign2L(emb, probes, cents, coarse), cents,
        dim, chunkWidth)
      // cents feeds the next iteration twice (fine-centroid routing +
      // the fallback arm) — materialize the k tiny rows eagerly
      cents = cents.localCheckpoint()
      i += 1
    }
    ivfAssign2L(emb, probes, cents, coarse)
  }

  /** IVF top-k: fit `nClusters` centroids on the corpus, assign corpus
    * rows to their inverted lists, probe each query's `nprobe` nearest
    * lists, exact-score only those candidates. The scale path when
    * hyperplane LSH recall is insufficient: probing cost is
    * corpus/nClusters × nprobe per query instead of the full corpus. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
      dim: Int = 64): DataFrame = {
    val emb = corpus.select(col("n_id").as("id"), col("n_vec").as("vec"))
    val cents = ivfFit(emb, nClusters, iters, dim)
    val lists = ivfAssign(emb, cents)
      .select(col("id").as("n_id"), col("vec").as("n_vec"), col("cluster"))
    val qScored = queries.crossJoin(broadcast(cents))
      .withColumn("sim", cosineFD(col("q_vec"), col("centroid")))
    val wq = Window.partitionBy("q_id").orderBy(col("sim").desc, col("cluster"))
    val probes = qScored.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select("q_id", "q_vec", "cluster")
    // no dedup: every n_id lives in exactly ONE list (argmax
    // assignment) and a query's probed clusters are distinct, so the
    // equi-join yields each (q_id, n_id) at most once — dropDuplicates
    // here planned as a SortAggregate dragging both vectors through
    // first() (two extra sorts + an exchange over the candidate frame)
    val scored = broadcast(probes).join(lists, Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold via banded LSH
    * (the embedding-space member of the [[Dedup]] family).
    *
    * `sigs` independent signatures of `bits` bits each (signature s uses
    * planes [s*bits, (s+1)*bits)): a pair is a candidate when ANY
    * signature matches — recall 1-(1-p^bits)^sigs instead of a single
    * p^bits. `maxBucket` caps each (signature, bucket) cell, so no
    * degenerate bucket ever goes quadratic: the worst case is
    * sigs × maxBucket² per bucket value, independent of corpus size. */
  def embeddingNearDups(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4, sigs: Int = 8, dim: Int = 64,
      maxBucket: Int = 1000): DataFrame =
    embeddingNearDupsImpl(emb, idCol, vecCol, threshold, bits, sigs, dim, maxBucket)

  /** Banding width for a corpus of `n` vectors targeting ~`targetBucket`
    * rows per (signature, bucket) cell: bits ≈ log2(n / targetBucket).
    * The measured law from the 10× scale check (SURVEY §9): 2 k vectors
    * → 4 bits, 20 k → 7 bits; under-sizing floods the per-bucket cap
    * (dropping true pairs), over-sizing splits near-dups across buckets
    * (recovered by more signatures, at sigs × cost). Clamped so
    * `bits × sigs` fits the 62-bit signature packing. */
  def autoBits(n: Long, sigs: Int, targetBucket: Long = 125,
      minBits: Int = 2): Int = {
    val ideal = math.max(minBits,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
    math.min(ideal, 62 / math.max(1, sigs))
  }

  /** [[embeddingNearDups]] with `bits` auto-sized from the corpus count
    * (one cheap count job — at lake scale, feed a catalog row-count
    * estimate instead). */
  def embeddingNearDupsAuto(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, sigs: Int = 8, dim: Int = 64,
      maxBucket: Int = 1000): DataFrame =
    embeddingNearDupsImpl(emb, idCol, vecCol, threshold,
      autoBits(emb.count(), sigs), sigs, dim, maxBucket)

  private def embeddingNearDupsImpl(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 4, sigs: Int = 8, dim: Int = 64,
      maxBucket: Int = 1000): DataFrame = {
    require(bits * sigs <= 62, "bits*sigs must fit in a long")
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // candidate generation over SLIM (id, sig, bucket) rows — vectors
    // never enter the 8-way banding shuffle; shared exchange on the
    // bucket key (ReuseExchange: sign-bit compute runs once) + key-only
    // hot-bucket cap via broadcast anti-join, so no task ever buffers a
    // hot bucket the way a window would
    val banded0 = e
      .withColumn("allbits", signBits(col("vec"), bits * sigs, dim))
      .select(col("id"),
        explode(sequence(lit(0), lit(sigs - 1))).as("sig"),
        col("allbits"))
      .withColumn("bucket",
        expr(s"shiftrightunsigned(allbits, sig * $bits)")
          .bitwiseAND(lit((1L << bits) - 1)))
      .select("id", "sig", "bucket")
      .repartition(col("sig"), col("bucket"))
    val hot = banded0.groupBy("sig", "bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("sig", "bucket")
    val banded = banded0.join(broadcast(hot), Seq("sig", "bucket"), "left_anti")
    val a = banded.select(col("sig"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("sig"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("sig", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // vectors re-enter by joining the pairs back to the raw embedding
    // scan on each side: two id-keyed shuffles of ONE vector copy each,
    // instead of eight copies through the banding exchange
    pairs
      .join(e.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }
}
