package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),   // near dup
    (4L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized docs") {
    val groups = Dedup.exact(docs, "doc_id", "text")
      .select("canonical_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("minhash signatures: identical docs equal, disjoint docs differ") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("lsh candidates find the near-dup pair, not the disjoint one") {
    val cands = Dedup.lshCandidates(
      Dedup.minhashSignatures(docs, "doc_id", "text"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(cands.contains((1L, 3L)))
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical → hamming 0; near dup small; pairs found") {
    // simhash needs wide majority margins → longer docs than the jaccard
    // fixtures (with 8 words a single substitution flips ~half the bits)
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val near = base.replace("word30", "changed")
    val sdocs = Seq((1L, base), (2L, base), (3L, near),
      (4L, "entirely different short text")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(
      Dedup.simhash(sdocs, "doc_id", "text"), maxHamming = 16)
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).exists(h => h > 0 && h <= 16),
      s"near-dup hamming: $pairs")
    assert(!pairs.contains((1L, 4L)))
  }

  test("exact jaccard: dup pair = 1.0, near pair high, disjoint absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) == 7.0 / 9.0) // 7 shared of 8+8-7 distinct
    assert(!pairs.contains((1L, 4L)))
  }

  test("cosine expression: identity 1, orthogonal 0, known value") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 1L, Array(1.0f, 0.0f), 1.0),
      (2L, Array(1.0f, 0.0f), 2L, Array(0.0f, 1.0f), 0.0),
      (3L, Array(3.0f, 4.0f), 3L, Array(4.0f, 3.0f), 24.0 / 25.0)
    ).toDF("a_id", "a", "b_id", "b", "expected")
    val bad = vecs
      .withColumn("got", Similarity.cosine(col("a"), col("b")))
      .filter(abs(col("got") - col("expected")) > 1e-15).collect()
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("bruteForceTopK ranks by similarity with id tie-break") {
    val qs = Seq((1L, Array(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val corpus = Seq(
      (10L, Array(1.0f, 0.1f)),
      (11L, Array(1.0f, 1.0f)),
      (12L, Array(0.0f, 1.0f))).toDF("n_id", "n_vec")
    val got = Similarity.bruteForceTopK(qs, corpus, 2)
      .orderBy("rank").select("n_id").as[Long].collect().toSeq
    assert(got == Seq(10L, 11L))
  }

  test("banded lshTopK top-5 recall vs brute force >= 0.8 on testdata") {
    // 15 sigs × 4 bits: expected recall 1-(1-p^4)^15 ≈ 0.9 at the
    // similarity range of real top-5 neighbors; measured 0.86 at sf0.01
    // (the driver's embed_ann_recall entry re-measures per round)
    val recall = QueriesText.embedAnnRecall(spark, Sf)
      .select("recall").as[Double].head()
    assert(recall >= 0.8, s"ANN recall degraded: $recall")
  }

  test("winnowing: local edits keep most fingerprints, whole-hash loses all") {
    val a = "the quick brown fox jumps over the lazy dog and runs far away"
    val b = a.replace("lazy", "hazy") // one local edit
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
      .select(col("id"),
        graft.functions.TextFns.winnowFingerprints(col("text")).as("fps"))
    val Array(fa, fb) = df.orderBy("id").collect()
      .map(_.getSeq[Long](1).toSet)
    val overlap = fa.intersect(fb).size.toDouble / fa.size
    assert(overlap >= 0.5, s"winnow overlap too low: $overlap")
    assert(fa != fb) // the edit does change SOME fingerprints
    // short docs (< k) have no fingerprints
    val empty = Seq((1L, "tiny")).toDF("id", "text")
      .select(graft.functions.TextFns.winnowFingerprints(col("text")).as("f"))
      .collect().head.getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("IVF top-5 recall vs brute force >= 0.75 probing 4/16 lists") {
    // deterministic k-means (sorted-fold centroids): measured 0.84 at
    // sf0.01 while scanning ~25% of the corpus per query
    val recall = QueriesText.embedIvfRecall(spark, Sf)
      .select("recall").as[Double].head()
    assert(recall >= 0.75, s"IVF recall degraded: $recall")
  }

  test("lshTopK hot-bucket cap drops capped buckets without a window") {
    val qs = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("q_id", "q_vec")
    val corpus = (10L to 30L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("n_id", "n_vec")
    val plan = Similarity.lshTopK(qs, corpus, 3, bits = 2, sigs = 2, dim = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") || plan.contains("RunningWindowFunction")
      || plan.contains("row_number"), "top-k window expected, bucket window not")
    // identical vectors all land in one bucket: cap = 5 drops them all
    val capped = Similarity.lshTopK(qs, corpus, 3,
      bits = 2, sigs = 2, dim = 4, maxBucket = 5)
    assert(capped.count() === 0)
  }

  test("connected components: transitive chains collapse to the min id") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // two clusters: {1,2,3} via chain 1-2, 2-3 and {7,9}; 5 is isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L))
      .map { case (a, b) => (Option(a), Option(b)) }.toDF("id_a", "id_b")
    // 3 pairs: on the driver at a cap of 3, distributed at a cap of 2;
    // both keep the nullable id columns' nullability
    val atCap = Dedup.connectedComponents(pairs, maxDriverEdges = 3)
    val overCap = Dedup.connectedComponents(pairs, maxDriverEdges = 2)
    assert(atCap.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(!overCap.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(atCap.schema == overCap.schema)
    for (comps <- Seq(atCap, overCap))
      assert(comps.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components: a long path converges within maxIters") {
    val n = 64 // path 0-1-2-…-64: diameter stresses the propagation loop
    val pairs = (0L until n).map(i => (i + 1, i)).toDF("id_a", "id_b")
    for (df <- Seq(Dedup.connectedComponents(pairs),
        Dedup.connectedComponents(pairs, maxDriverEdges = 0))) {
      val comps = df.as[(Long, Long)].collect()
      assert(comps.length == n.toInt + 1 && comps.forall(_._2 == 0L))
    }
    // the distributed loop throws rather than return unconverged labels
    val err = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, maxIters = 1, maxDriverEdges = 0))
    assert(err.getMessage.contains("maxIters = 1 rounds"), err.getMessage)
  }

  test("connected components agree with union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> {
        // canonical = min node id in the component among ids in the graph
        val root = find(id.toInt)
        edges.flatMap(e => Seq(e._1, e._2)).distinct
          .filter(j => find(j.toInt) == root).min
      }).toMap
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  private def ccRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("connected components: union-find and the distributed loop return the same rows and schema") {
    import org.scalacheck.{Gen, Prop, Test}
    // random pairs plus a chain, with repeated pairs and both
    // orientations of some; nullable or non-null id columns
    val graphs = for {
      n <- Gen.chooseNum(1, 12)
      raw <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L)))
      chain <- Gen.chooseNum(0, 8)
      from <- Gen.chooseNum(0L, 30L)
      nullable <- Gen.oneOf(true, false)
    } yield {
      val es = raw ++ (0 until chain).map(i => (from + i + 1, from + i))
      (es ++ es.take(3).map(_.swap) ++ es.take(2), nullable)
    }
    val prop = Prop.forAll(graphs) { case (es, nullable) =>
      val pairs =
        if (nullable) es.map { case (a, b) => (Option(a), Option(b)) }.toDF("id_a", "id_b")
        else es.toDF("id_a", "id_b")
      val onDriver = Dedup.connectedComponents(pairs)
      val distributed = Dedup.connectedComponents(pairs, maxDriverEdges = 0)
      onDriver.schema == distributed.schema &&
        ccRows(onDriver) == ccRows(distributed)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("k-means on the driver gives bit-identical centroids to the distributed rounds") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // ids 0..3591 span 4 fold chunks; id 9 duplicates id 0 (tied sims,
    // so seed cluster 1 is empty after round 1); id 63 is zero-norm.
    // Components span 1e-5..1e5, so double sums round and the fold
    // order shows in the bits.
    def v(i: Int) = Array.tabulate(64)(d =>
      (math.sin(i * 0.37 + d * 1.3) * math.pow(10, (i * 7 + d) % 11 - 5)).toFloat)
    val rows = (0 until 400).map { i =>
      (i.toLong * 9,
        if (i == 1) v(0) else if (i == 7) Array.fill(64)(0f) else v(i))
    }
    val emb = rows.toDF("id", "vec")
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)
        .map(java.lang.Double.doubleToRawLongBits))
      .sortBy(_._1).toSeq
    def fits(e: org.apache.spark.sql.DataFrame, k: Int, n: Int) = {
      val onDriver = Similarity.ivfFit(e, k, 2, 64, driverBytes = n * 256L)
      val distributed = Similarity.ivfFit(e, k, 2, 64, driverBytes = n * 256L - 1)
      assert(onDriver.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(!distributed.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(onDriver.schema == distributed.schema)
      (bits(onDriver), bits(distributed))
    }
    val (a, b) = fits(emb, 16, 400)
    assert(a.size == 16 && a == b)
    // the seed duplicate's cluster got no members in round 1
    val once = Similarity.ivfAssign(emb, Similarity.ivfFit(emb, 16, 0, 64))
    assert(once.filter(col("cluster") === 1).isEmpty)
    // fewer vectors than clusters
    val (c, d) = fits(emb.filter(col("id") < 45), 8, 5)
    assert(c.size == 5 && c == d)
    // past TwoLevelMinK the fit stays distributed
    assert(!Similarity.ivfFit(emb, Similarity.TwoLevelMinK + 1, 1, 64)
      .queryExecution.logical.isInstanceOf[LocalRelation])
  }

  private val sf001 = java.nio.file.Paths.get(Sf).resolveSibling("sf0.01").toString

  /** `QueriesText.semDedupImpl`'s driver pass and its distributed plan
    * (forced with `driverBytes = 0`) over the embeddings in `dir`. */
  private def semDedupBothPaths(dir: String) = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val onDriver = QueriesText.semDedupImpl(spark, dir, minK = 16)
    val distributed = QueriesText.semDedupImpl(spark, dir, minK = 16, driverBytes = 0)
    try {
      assert(onDriver.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(!distributed.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(onDriver.schema == distributed.schema)
      val rows = onDriver.collect().toSeq
      assert(rows.map(_.get(0)).distinct.size == rows.size)
      (rows.toSet, distributed.collect().toSet)
    } finally Harness.release(spark)
  }

  test("sem_dedup: the driver pass equals the distributed plan on sf0.01") {
    val (a, b) = semDedupBothPaths(sf001)
    assert(a.size == 500 && a == b)
    assert(a.exists(_.getBoolean(2)) && a.exists(!_.getBoolean(2)))
  }

  test("sem_dedup: the driver pass equals the distributed plan on dups, signed zeros, zero norms, NaNs and tied sims") {
    // v(i) and the id-0 duplicate at id 9 (tied sims) are the k-means
    // parity fixture's; ids 900.. add an exact dup, a dup that differs
    // only by -0.0f components, and zero-norm vectors of both signs.
    // The second corpus holds two equal NaN-component vectors: Spark
    // orders NaN above every double, so their norm counts as non-zero
    // and their NaN scores as matches
    def v(i: Int) = Array.tabulate(64)(d =>
      (math.sin(i * 0.37 + d * 1.3) * math.pow(10, (i * 7 + d) % 11 - 5)).toFloat)
    val signed = v(3).zipWithIndex.map { case (x, d) => if (d % 3 == 0) 0f else x }
    val base = (0 until 100).map(i => (i.toLong * 9, if (i == 1) v(0) else v(i)))
    val extra = Seq(
      900L -> v(5), // exact dup of id 45
      901L -> signed,
      902L -> signed.map(x => if (x == 0f) -0f else x),
      903L -> Array.fill(64)(0f),
      904L -> Array.fill(64)(-0f),
      905L -> Array.fill(64)(0f))
    val nan = Seq(
      0L -> v(1), 1L -> v(2), 2L -> v(1).updated(4, Float.NaN),
      3L -> v(1).updated(4, Float.NaN), 4L -> v(7), 5L -> Array.fill(64)(0f))
    Seq(base ++ extra -> 106, nan -> 6).foreach { case (rows, n) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_semdedup")
      try {
        rows.toDF("vec_id", "embedding").coalesce(1).write
          .parquet(s"$dir/embeddings.parquet")
        val (a, b) = semDedupBothPaths(dir.toString)
        assert(a.size == n && a == b)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("sem_dedup over the budget or past TwoLevelMinK keeps the distributed plan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = sf001
    try {
      assert(!QueriesText.semDedupImpl(spark, dir, 16, driverBytes = 499L * 256)
        .queryExecution.logical.isInstanceOf[LocalRelation])
      assert(QueriesText.semDedupImpl(spark, dir, 16, driverBytes = 500L * 256)
        .queryExecution.logical.isInstanceOf[LocalRelation])
      assert(!QueriesText.semDedup2L(spark, dir)
        .queryExecution.logical.isInstanceOf[LocalRelation])
    } finally Harness.release(spark)
  }

  test("a warm sem_dedup at sf0.01 runs at most 3 Spark jobs and persists nothing") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = sf001
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId -> String.valueOf(
          e.properties.getProperty("spark.job.description")))
    }
    // the listener bus is asynchronous: a marker job's id bounds the count
    def marker(): Int = {
      val m = s"marker ${java.util.UUID.randomUUID}"
      sc.setJobDescription(m)
      try sc.emptyRDD[Int].count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.asScala.exists(_._2 == m) && System.nanoTime() < deadline)
        Thread.sleep(10)
      started.asScala.find(_._2 == m).get._1
    }
    Harness.force(QueriesText.semDedup(spark, dir)) // warm
    val persisted = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      val from = marker()
      Harness.force(QueriesText.semDedup(spark, dir))
      val to = marker()
      val jobs = started.asScala.count { case (id, _) => id > from && id < to }
      assert(jobs <= 3, s"$jobs jobs")
      assert(sc.getPersistentRDDs.keySet == persisted)
    } finally sc.removeSparkListener(listener)
  }

  test("sample split is deterministic and ~80/10/10") {
    val d = (0L until 512L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // same routing as QueriesText.sampleSplit, against the pure kernel
    val h = org.apache.spark.sql.GraftNative.column(
      graft.functions.expressions.Fnv64Expr(
        org.apache.spark.sql.GraftNative.expression(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("split:"),
            org.apache.spark.sql.functions.col("doc_id").cast("string")))))
    val buckets = d.select(col("doc_id"), h.bitwiseAND(lit(255L)).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(buckets.values.forall(b => b >= 0 && b < 256))
    assert(buckets(0L) ==
      (graft.functions.Hashing.fnv1a64("split:0") & 255L))
  }

  test("PQ codebooks and codes are bit-identical under any partitioning") {
    import graft.operators.ProductQuant
    val emb = Tables.embeddings(spark, Sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def centroids(e: org.apache.spark.sql.DataFrame) =
      ProductQuant.fit(e, m = 8, k = 16, iters = 2, dim = 64)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1),
          r.getSeq[Double](2).toIndexedSeq))
        .sortBy(t => (t._1, t._2)).toIndexedSeq
    val a = centroids(emb)
    val b = centroids(emb.repartition(7))
    // exact double equality: the two-level id-ordered fold is the
    // reproducibility contract, not a tolerance
    assert(a === b)
    val cents = ProductQuant.fit(emb, 8, 16, 2, 64)
    def codes(e: org.apache.spark.sql.DataFrame) =
      ProductQuant.encode(e, cents, 8, 64).collect()
        .map(r => (r.getAs[Long]("id"), r.getInt(1), r.getInt(2)))
        .sorted.toIndexedSeq
    assert(codes(emb) === codes(emb.repartition(5)))
  }

  // ---------------------------------------------- two-level assignment

  private def synthEmb(n: Int, groups: Int = 10) = {
    // `groups` well-separated directions in 64-dim, vectors clustered
    // around them with small deterministic jitter
    val rows = (0 until n).map { i =>
      val g = i % groups
      val v = Array.tabulate(64) { d =>
        val base = if (d % groups == g) 1.0f else 0.0f
        base + ((i * 31 + d * 7) % 13) / 130.0f
      }
      (i.toLong, v)
    }
    spark.createDataFrame(rows).toDF("id", "vec")
  }

  test("two-level assignment is partitioning-invariant (bit-identical)") {
    val e = synthEmb(300)
    def run(parts: Int) =
      Similarity.ivfFitAssign2L(e.repartition(parts), k = 80, iters = 2,
        dim = 64)
        .select("id", "cluster").as[(Long, Int)].collect().toMap
    val a = run(3)
    val b = run(7)
    assert(a == b)
    assert(a.size == 300)
  }

  test("two-level fallback: a vector with no fine centroid in its probed cells gets the flat argmax") {
    // coarse cells along axis 0 and axis 1; all fine centroids near
    // axis 0, one orphan vector near axis 1 probing only cell 1
    def axis(d: Int, scale: Double) =
      (0 until 64).map(j => if (j == d) scale else 0.0).toArray
    val coarse = Seq((0, axis(0, 1.0)), (1, axis(1, 1.0)))
      .toDF("cluster", "centroid")
    val cents = Seq(
      (0, axis(0, 1.0)),
      (1, (0 until 64).map(j =>
        if (j == 0) 1.0 else if (j == 2) 0.3 else 0.0).toArray))
      .toDF("cluster", "centroid")
    val emb = Seq(
      (1L, (0 until 64).map(j => if (j == 0) 1.0f else 0.0f).toArray),
      (2L, (0 until 64).map(j => if (j == 1) 1.0f else 0.0f).toArray))
      .toDF("id", "vec")
    val probes = Similarity.coarseProbes(emb, coarse, nprobe = 1)
    val out = Similarity.ivfAssign2L(emb, probes, cents, coarse)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    // vector 1 probes cell 0 (both fine cents route to cell 0 — their
    // cosine to axis-0 beats axis-1) and exact-assigns to fine 0;
    // vector 2 probes cell 1, which holds NO fine centroid → fallback
    // flat argmax over both cents: cosine(axis1, fine0)=0 vs
    // cosine(axis1, fine1)=0 — tie broken to the LOWEST cluster id
    assert(out(1L) == 0)
    assert(out(2L) == 0)
    // move fine 1 to have axis-1 mass: the fallback must now pick it
    val cents2 = Seq(
      (0, axis(0, 1.0)),
      (1, (0 until 64).map(j =>
        if (j == 0) 1.0 else if (j == 1) 0.3 else 0.0).toArray))
      .toDF("cluster", "centroid")
    val out2 = Similarity.ivfAssign2L(emb, probes, cents2, coarse)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(out2(2L) == 1)
  }

  // ---------------------------------------------- bounded-k SemDeDup

  test("capped witness drop: within-cap reps drop, beyond-cap never; dups and zero-norms at any cap") {
    // one cluster, distinct reps in id order 0 (axis 0), 1 (axis 1),
    // 2 (axis 2) — mutually orthogonal, so cross-rep cosine is 0.
    // id 6 points near axis 1: its only ≥ 0.3 witness is rep 1
    // (witness rank 2). cap = 1 excludes it → kept; cap ≥ 2 → dropped.
    def axis(d: Int) =
      (0 until 64).map(j => if (j == d) 1.0f else 0.0f).toArray
    val near1 = (0 until 64).map(j =>
      if (j == 1) 1.0f else if (j == 2) 0.1f else 0.0f).toArray
    val assigned = Seq(
      (0L, axis(0), 1),
      (1L, axis(1), 1),
      (2L, axis(2), 1),
      (3L, axis(0), 1),            // exact dup of id 0
      (4L, axis(1), 1),            // exact dup of id 1
      (5L, Array.fill(64)(0.0f), 1), // zero-norm: never dropped
      (6L, near1, 1)
    ).toDF("id", "vec", "cluster")
    def dropped(cap: Int) =
      Similarity.cappedWitnessDrop(assigned, 0.3, cap)
        .as[Long].collect().toSet
    assert(dropped(1) == Set(3L, 4L))       // dup collapse is cap-blind
    assert(dropped(2) == Set(3L, 4L, 6L))   // rep 1 inside the window
    assert(dropped(100) == Set(3L, 4L, 6L)) // big cap = plain SemDeDup
  }

  test("sem_dedup_bounded: witness scan broadcasts, output covers the corpus once") {
    val df = QueriesText.semDedupBounded(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"bounded sem-dedup must not plan a cartesian:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the capped witness frame must broadcast:\n${plan.take(2000)}")
    val n = Tables.embeddings(spark, Sf).count()
    assert(df.count() === n)
    assert(df.select("vec_id").distinct().count() === n)
    // every cluster's lowest id survives (nothing below it to witness)
    val badMins = df.groupBy("cluster")
      .agg(min(col("vec_id")).as("lo"))
      .join(df, col("lo") === df("vec_id"))
      .filter(!col("kept")).count()
    assert(badMins === 0L)
  }

  test("salted pairwise emits the same dropped set as the bare cluster join") {
    val e = synthEmb(200)
    val assigned = Similarity.ivfAssign(e, Similarity.ivfFit(e, 8, 2, 64))
      .localCheckpoint()
    def dropped(salted: Boolean): Set[Long] = {
      val a0 = assigned.select(col("cluster"), col("id").as("id_a"),
        col("vec").as("vec_a"))
      val b0 = assigned.select(col("cluster"), col("id").as("id_b"),
        col("vec").as("vec_b"))
      val (a, b, keys) =
        if (!salted) (a0, b0, Seq("cluster"))
        else (a0.withColumn("salt", pmod(col("id_a"), lit(32)).cast("int")),
          b0.withColumn("salt", explode(sequence(lit(0), lit(31)))),
          Seq("cluster", "salt"))
      a.join(b, keys).filter(col("id_a") < col("id_b"))
        .withColumn("sim", Similarity.cosine(col("vec_a"), col("vec_b")))
        .filter(col("sim") >= 0.3)
        .select(col("id_b")).distinct().as[Long].collect().toSet
    }
    val plain = dropped(salted = false)
    val salted = dropped(salted = true)
    assert(plain == salted)
    assert(plain.nonEmpty)
  }
}
