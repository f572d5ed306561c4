package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Dimension encoding — the reference's snapshot "reference array + idx"
  * scheme (`output/transform/util.go:25-150`, J5 in SURVEY §2.3): every
  * fact row stores a small integer index into a deduplicated dimension
  * array instead of the full value.
  *
  * The reference assigns indices in insertion order; we assign them by
  * sorted value so the encoding is deterministic under any partitioning /
  * parallelism (insertion order is not reproducible on a cluster).
  *
  * Scale notes: a dim whose distinct values number at most
  * `maxBroadcastRows` is numbered on the driver — one `limit(max + 1)`
  * collect of the sorted distinct values, numbered in order into a
  * local relation that carries its size for the broadcast join and
  * persists nothing. Only past that cap is the index assigned with a
  * distributed range-partitioned sort + `zipWithIndex` — NOT a global
  * `Window.orderBy` (which would move every distinct value to a single
  * partition; fatal when the dimension is query fingerprints with
  * millions of distinct values at 100 TB) — and the fact side then
  * takes a shuffled equi-join on the dimension value. Both paths give
  * the same ids.
  */
object DimEncode {

  /** Past this many distinct values the dim is joined with a shuffle
    * instead of a driver-collected broadcast (~10 MB at 64 B/value, the
    * engine-default broadcast budget). */
  val DefaultMaxBroadcastRows = 150000L

  /** That budget in bytes: also what a bounded iterative operator may
    * gather to run its whole loop on the driver. */
  val BroadcastBudgetBytes: Long = DefaultMaxBroadcastRows * 64

  /** (dim table, distinct-count) for one dimension column: (value, idx)
    * with 1-based dense index by sorted value (nulls first). */
  private def dimTable(df: DataFrame, dimCol: String,
      maxRows: Long): (DataFrame, Long) = {
    val idxCol = s"${dimCol}_idx"
    val schema = StructType(Seq(df.select(dimCol).schema.fields.head,
      StructField(idxCol, IntegerType, nullable = false)))
    val sorted = df.select(col(dimCol)).distinct().orderBy(col(dimCol))
    // one bounded probe: an orderBy + limit plan is a top-k, so driver
    // memory stays cap-sized whatever the dim's cardinality
    val head = sorted.limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (head.length <= maxRows) {
      val rows = head.toSeq.zipWithIndex.map { case (r, i) => Row(r.get(0), i + 1) }
      (df.sparkSession.createDataFrame(rows.asJava, schema), head.length.toLong)
    } else numberDistributed(sorted, schema)
  }

  /** The over-cap path: (value, idx) numbered by partition order of the
    * range-partitioned sort. */
  private def numberDistributed(sorted: DataFrame,
      schema: StructType): (DataFrame, Long) = {
    // cache the sorted dim rows: a dim feeds several downstream ACTIONS
    // (the fact join, direct reference-array collects), and an uncached
    // RDD re-runs the fact-scale distinct + range sort once per
    // consumer. The sizes pass below materializes the blocks;
    // MEMORY_AND_DISK degrades gracefully.
    val sortedRdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one partition-size pass replaces BOTH the separate count() job and
    // zipWithIndex's internal size job: global 1-based contiguous ids in
    // partition order are identical to zipWithIndex's (the sort's range
    // partitioning makes that the sorted order).
    val sizes = sortedRdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().sortBy(_._1).map(_._2.toLong)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val indexed = sortedRdd.mapPartitionsWithIndex { (pi, it) =>
      var k = offsets(pi)
      it.map { r => k += 1; Row(r.get(0), k.toInt) }
    }
    (sorted.sparkSession.createDataFrame(indexed, schema), sizes.sum)
  }

  /** Returns (dim, fact): dim = (value, idx) with 1-based dense index by
    * sorted value (nulls first); fact = input with `<col>_idx` added.
    * Null-safe join: a NULL dimension value still gets an index. */
  def encode(df: DataFrame, dimCol: String,
      maxBroadcastRows: Long = DefaultMaxBroadcastRows): (DataFrame, DataFrame) = {
    val (dim, dimRows) = dimTable(df, dimCol, maxBroadcastRows)
    val dimSide = if (dimRows <= maxBroadcastRows) broadcast(dim) else dim
    val fact = df.join(dimSide, df(dimCol) <=> dim(dimCol))
      .drop(dim(dimCol))
    (dim, fact)
  }

  /** Driver-side numbering of keys collected in Spark's ascending sort
    * order (nulls first): the ids [[encode]] assigns, stepping as the
    * key changes, so the driver never re-orders struct or boolean keys. */
  def denseIds(sortedKeys: Seq[Any]): Seq[Int] =
    sortedKeys.zip(new AnyRef +: sortedKeys).scanLeft(0) {
      case (id, (k, prev)) => if (k == prev) id else id + 1 }.tail

  /** The ids [[encode]] assigns a long-valued dim (boxed integral values,
    * nulls first), sorted on the driver: value → id. */
  def longIds(values: Iterable[Any]): Map[Any, Int] =
    values.toSeq.distinct
      .sortBy(v => Option(v).map(_.asInstanceOf[Number].longValue))
      .zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap

  /** Encode several dimensions of one fact table. Each dim build runs
    * its jobs (the probe, and past the cap the distributed numbering) on
    * a separate thread, so the three-dim snapshot assembly overlaps its
    * per-dim job latency (Spark schedules concurrent jobs from one
    * session freely) instead of paying it serially; the fact then joins
    * every dim in a single plan. Returns (dims by column, fact with all
    * `<col>_idx` added). */
  def encodeAll(df: DataFrame, dimCols: Seq[String],
      maxBroadcastRows: Long = DefaultMaxBroadcastRows)
      : (Map[String, DataFrame], DataFrame) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = dimCols.map(c => c -> Future(dimTable(df, c, maxBroadcastRows)))
    val dims = futures.map { case (c, f) => c -> Await.result(f, Duration.Inf) }
    var fact = df
    dims.foreach { case (c, (dim, rows)) =>
      val dimSide = if (rows <= maxBroadcastRows) broadcast(dim) else dim
      fact = fact.join(dimSide, fact(c) <=> dim(c)).drop(dim(c))
    }
    (dims.map { case (c, (dim, _)) => c -> dim }.toMap, fact)
  }

  /** Integrity check mirroring the reference's verifyIntegrity
    * (`output/full.go:73-97`): every fact idx must resolve in dim. */
  def checkIntegrity(dim: DataFrame, fact: DataFrame, dimCol: String): Boolean =
    fact.join(dim.select(s"${dimCol}_idx"), Seq(s"${dimCol}_idx"), "left_anti")
      .isEmpty
}
