package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DoubleType, StringType,
  StructField, StructType}

/** Maintenance trigger policy for the persisted LSH index: decides
  * WHEN to run [[LshIndex.compact]] from the index's own state, the
  * way the reference decides when to reset its statements baseline
  * (≥90% of pg_stat_statements.max or >250 MB of snapshot text —
  * reference `input/postgres/statements.go:78-110`): a cheap
  * metadata-sized check, never a corpus scan.
  *
  * Two rules, either of which fires the compaction:
  *  - appended fraction: appended band rows / total band rows, read
  *    from the `keycounts` METADATA dataset (tiny — one row per
  *    distinct key per segment), NOT from the corpus-sized bands
  *    dataset. Appends accrete probe-time cost (more segments, more
  *    small files, hot-key guard work); once the appended share passes
  *    the threshold the amortized compact is worth its one-off cost.
  *  - segment count: each append is one `seg=` directory; segment
  *    count is a pure filesystem listing and bounds the per-probe
  *    file-index overhead regardless of row volume.
  */
object IndexMaintenance {

  /** Driver-side verdict, the shape an ingest loop fires compaction
    * off (`ingest_soak_r13.json`/`_r14.json` record 120 micro-batches
    * run that way). */
  final case class LshAdvice(appendedFrac: Double, segments: Int,
      fracThreshold: Double, maxSegments: Int) {
    def fracDue: Boolean = appendedFrac >= fracThreshold
    def segmentsDue: Boolean = segments >= maxSegments
    def compactDue: Boolean = fracDue || segmentsDue
    def dueCount: Int = Seq(fracDue, segmentsDue).count(identity)
  }

  /** Evaluate the policy against a persisted [[LshIndex]] at `path`. */
  def lshPolicy(s: SparkSession, path: String,
      fracThreshold: Double = 0.5, maxSegments: Int = 25): LshAdvice = {
    AtomicSwap.recover(path)
    // segment count: one directory listing of <path>/sigs
    val sigsP = new org.apache.hadoop.fs.Path(s"$path/sigs")
    val fs = sigsP.getFileSystem(s.sessionState.newHadoopConf())
    val segments =
      if (!fs.exists(sigsP)) 0
      else fs.listStatus(sigsP)
        .count(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
    // appended fraction: the keycounts metadata summed by segment kind
    import org.apache.spark.sql.functions._
    val sums = s.read.parquet(s"$path/keycounts")
      .agg(
        sum(when(col("seg") === "base", col("n")).otherwise(0L)).as("base_n"),
        sum(when(col("seg") =!= "base", col("n")).otherwise(0L)).as("delta_n"))
      .head()
    val baseN = if (sums.isNullAt(0)) 0L else sums.getLong(0)
    val deltaN = if (sums.isNullAt(1)) 0L else sums.getLong(1)
    val frac =
      if (baseN + deltaN == 0L) 0.0
      else deltaN.toDouble / (baseN + deltaN).toDouble
    LshAdvice(frac, segments, fracThreshold, maxSegments)
  }

  /** Driver-side refit verdict for the persisted [[IvfIndex]].
    * `listSkew` is the imbalance factor of the APPENDED rows' inverted-
    * list assignment — k · Σ (n_i/n)², 1.0 for a uniform spread, k for
    * a single-list collapse. An iid shard spreads like the base
    * (measured ≤ ~1.4 across SFs on the test corpus); a domain-shifted
    * shard — a new source whose embeddings share a dominant direction —
    * collapses into a few lists under the STALE centroids (measured
    * 11–16 = total collapse), which is simultaneously the recall
    * failure the drift artifact quantified (0.712 vs 0.984 refit) and
    * the probe-cost hot-list failure. Chosen over a mean-quantization-
    * cosine margin, which measures mostly the train/held-out gap: on
    * the same corpus an iid shard shows margin 0.04–0.10 while a
    * shifted one shows 0.04–0.13 — inseparable at some SFs, whereas
    * the skew separates ≥ 8× at every SF. */
  final case class IvfAdvice(appendedFrac: Double, listSkew: Double,
      fracThreshold: Double, skewThreshold: Double) {
    def fracDue: Boolean = appendedFrac >= fracThreshold
    def skewDue: Boolean = listSkew >= skewThreshold
    def refitDue: Boolean = fracDue || skewDue
    def dueCount: Int = Seq(fracDue, skewDue).count(identity)
  }

  /** Evaluate the refit policy against a persisted [[IvfIndex]] at
    * `path`: one read of the ≤ k-rows-per-segment `stats` metadata plus
    * the k-row centroid count — zero corpus scans. The per-cluster
    * share fold runs driver-side over ≤ k values in cluster order (the
    * bounded-router pattern), so the double arithmetic is
    * order-deterministic and mirrors the SQL oracle op for op. */
  def ivfPolicy(s: SparkSession, path: String,
      fracThreshold: Double = 0.25, skewThreshold: Double = 4.0)
      : IvfAdvice = {
    AtomicSwap.recover(path)
    import org.apache.spark.sql.functions._
    val k = s.read.parquet(s"$path/centroids").count()
    val per = s.read.parquet(s"$path/stats")
      .groupBy("cluster")
      .agg(
        sum(when(col("seg") === "base", col("n")).otherwise(0L)).as("bn"),
        sum(when(col("seg") =!= "base", col("n")).otherwise(0L)).as("dn"))
      .orderBy("cluster")
      .collect()
    val bn = per.map(_.getLong(1)).sum
    val dn = per.map(_.getLong(2)).sum
    val frac =
      if (bn + dn == 0L) 0.0 else dn.toDouble / (bn + dn).toDouble
    val skew =
      if (dn == 0L) 0.0
      else {
        val fold = per.map(_.getLong(2))
          .map(n => n.toDouble / dn.toDouble)
          .map(x => x * x)
          .foldLeft(0.0)(_ + _)
        BigDecimal(k.toDouble * fold)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    IvfAdvice(frac, skew, fracThreshold, skewThreshold)
  }

  /** The IVF refit verdict as a gate-shaped frame — (metric, value,
    * threshold, due), one row per rule plus the combined verdict. */
  def ivfPolicyFrame(s: SparkSession, path: String,
      fracThreshold: Double = 0.25, skewThreshold: Double = 4.0)
      : DataFrame = {
    val a = ivfPolicy(s, path, fracThreshold, skewThreshold)
    val schema = StructType(Seq(
      StructField("metric", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("threshold", DoubleType, nullable = false),
      StructField("due", BooleanType, nullable = false)))
    s.createDataFrame(
      java.util.Arrays.asList(
        Row("appended_frac", a.appendedFrac, fracThreshold, a.fracDue),
        Row("list_skew", a.listSkew, skewThreshold, a.skewDue),
        Row("refit_due", a.dueCount.toDouble, 1.0, a.refitDue)),
      schema)
  }

  /** The policy verdict as a gate-shaped frame: one row per rule plus
    * the combined verdict — (metric, value, threshold, due). */
  def lshPolicyFrame(s: SparkSession, path: String,
      fracThreshold: Double = 0.5, maxSegments: Int = 25): DataFrame = {
    val a = lshPolicy(s, path, fracThreshold, maxSegments)
    val schema = StructType(Seq(
      StructField("metric", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("threshold", DoubleType, nullable = false),
      StructField("due", BooleanType, nullable = false)))
    s.createDataFrame(
      java.util.Arrays.asList(
        Row("appended_frac", a.appendedFrac, fracThreshold, a.fracDue),
        Row("segments", a.segments.toDouble, maxSegments.toDouble,
          a.segmentsDue),
        Row("compact_due", a.dueCount.toDouble, 1.0, a.compactDue)),
      schema)
  }
}
