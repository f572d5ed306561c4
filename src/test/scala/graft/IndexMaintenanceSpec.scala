package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexMaintenance, IvfIndex, LshIndex}

/** Maintenance-trigger policy ([[graft.operators.IndexMaintenance]]):
  * the verdict derives from index state alone — appended keycount
  * fraction + segment count — and matches a direct re-derivation. */
class IndexMaintenanceSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, Sf)
  private lazy val base = docs.filter(col("doc_id") % 10 =!= 0)
  private lazy val delta = docs.filter(col("doc_id") % 10 === 0)

  test("fresh build: nothing due; appends move both rules; thresholds fire them") {
    val dir = new java.io.File(Harness.scratch("graft_maint_spec"))
    val p = dir.getAbsolutePath
    LshIndex.save(base, "doc_id", "text", p)
    val fresh = IndexMaintenance.lshPolicy(spark, p)
    assert(fresh.segments == 1 && fresh.appendedFrac == 0.0)
    assert(!fresh.compactDue)

    val dSigs = Dedup.minhashSignatures(delta, "doc_id", "text")
      .localCheckpoint()
    LshIndex.appendTagged(spark, p, dSigs, 0L)
    LshIndex.appendTagged(spark, p, dSigs, 1L)
    val a = IndexMaintenance.lshPolicy(spark, p)
    assert(a.segments == 3)
    // appended fraction = delta band rows / total: both appends carry
    // the full delta (8 rows per doc, appends bypass the cap)
    val baseRows = spark.read.parquet(s"$p/keycounts")
      .filter(col("seg") === "base").agg(sum("n")).head().getLong(0)
    val deltaRows = 2 * 8 * delta.count()
    assert(a.appendedFrac == deltaRows.toDouble / (baseRows + deltaRows).toDouble)
    // defaults (segments >= 25, frac >= 0.5) not yet due at 3 segments
    assert(!a.segmentsDue)
    // tight thresholds fire each rule independently, and either fires
    // the combined verdict
    assert(IndexMaintenance.lshPolicy(spark, p, maxSegments = 3).compactDue)
    assert(IndexMaintenance.lshPolicy(spark, p,
      fracThreshold = math.min(a.appendedFrac, 0.01)).compactDue)
    // compaction resets both rules
    LshIndex.compact(spark, p)
    val after = IndexMaintenance.lshPolicy(spark, p, maxSegments = 3)
    assert(after.segments == 1 && after.appendedFrac == 0.0 && !after.compactDue)
  }

  test("gate frame shape: three rules, compact_due consistent with the rows") {
    val out = QueriesText.indexMaintenancePolicy(spark, Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set("appended_frac", "segments", "compact_due"))
    val (fracV, fracT, fracDue) = out("appended_frac")
    assert(fracV > 0.0 && fracV < 1.0 && fracT == 0.05)
    assert(fracDue == (fracV >= fracT))
    val (segV, segT, segDue) = out("segments")
    assert(segV == 4.0 && segT == 16.0 && !segDue)
    val (dueV, _, due) = out("compact_due")
    assert(dueV == Seq(fracDue, segDue).count(identity).toDouble)
    assert(due == (fracDue || segDue))
  }

  private lazy val emb = Tables.embeddings(spark, Sf)
  private lazy val eBase = emb.filter(col("vec_id") % 10 =!= 0)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))
  private lazy val eDelta = emb.filter(col("vec_id") % 10 === 0)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("ivf policy: iid appends age only the fraction; refit resets both rules") {
    val dir = new java.io.File(Harness.scratch("graft_maint_ivf"))
    val p = dir.getAbsolutePath
    IvfIndex.save(eBase, p, nClusters = 16, iters = 2, dim = 64)
    val fresh = IndexMaintenance.ivfPolicy(spark, p)
    assert(fresh.appendedFrac == 0.0 && fresh.listSkew == 0.0)
    assert(!fresh.refitDue)

    IvfIndex.append(spark, p, eDelta)
    val a = IndexMaintenance.ivfPolicy(spark, p)
    // appended fraction = delta rows / total rows, exactly
    val bn = eBase.count(); val dn = eDelta.count()
    assert(a.appendedFrac == dn.toDouble / (bn + dn).toDouble)
    // an iid shard spreads over the lists like the base: imbalance
    // stays near 1 and the skew rule does NOT fire
    assert(a.listSkew >= 1.0 && a.listSkew < 4.0 && !a.skewDue)
    // a tight fraction threshold fires the combined verdict
    assert(IndexMaintenance.ivfPolicy(spark, p,
      fracThreshold = math.min(a.appendedFrac, 0.01)).refitDue)
    // refit folds everything back into seg=base: both rules reset
    IvfIndex.refit(spark, p, nClusters = 16, iters = 2, dim = 64)
    val after = IndexMaintenance.ivfPolicy(spark, p, fracThreshold = 0.01)
    assert(after.appendedFrac == 0.0 && after.listSkew == 0.0 &&
      !after.refitDue)
  }

  test("ivf policy: a domain-shifted shard fires the skew rule") {
    val dir = new java.io.File(Harness.scratch("graft_maint_ivf_shift"))
    val p = dir.getAbsolutePath
    IvfIndex.save(eBase, p, nClusters = 16, iters = 2, dim = 64)
    // constant bias on every element: deterministic stand-in for a
    // new source sharing a dominant direction (a different encoder) —
    // the stale centroids collapse it into a few inverted lists
    IvfIndex.append(spark, p,
      eDelta.select(col("id"),
        transform(col("vec"), x => x + lit(2.0f)).as("vec")))
    val a = IndexMaintenance.ivfPolicy(spark, p)
    assert(a.skewDue, s"list skew ${a.listSkew} did not fire")
    assert(!a.fracDue) // 10% < the default 0.25 — refit is due on
    assert(a.refitDue) // QUALITY grounds alone, the drift-table case
  }

  test("ivf gate frame: three rules, skew fires, refit_due consistent") {
    val out = QueriesText.ivfRefitPolicy(spark, Sf)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set("appended_frac", "list_skew", "refit_due"))
    val (fracV, fracT, fracDue) = out("appended_frac")
    assert(fracV > 0.0 && fracV < 0.25 && fracT == 0.25 && !fracDue)
    val (skV, skT, skDue) = out("list_skew")
    assert(skT == 4.0 && skDue && skV >= skT)
    val (dueV, _, due) = out("refit_due")
    assert(dueV == Seq(fracDue, skDue).count(identity).toDouble && due)
  }
}
