package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.operators.DimEncode

/** J5 — dimension encoding: broadcast gating, null handling, integrity,
  * and the driver-numbered path against the distributed one. */
class DimEncodeSpec extends SparkSpec {

  private def sampleDf = {
    import spark.implicits._
    Seq(("a", 1L), ("b", 2L), ("a", 3L), (null, 4L), ("c", 5L), (null, 6L))
      .toDF("name", "v")
  }

  test("small dim is broadcast") {
    val (_, fact) = DimEncode.encode(sampleDf, "name")
    val plan = fact.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"expected broadcast join in:\n$plan")
  }

  test("dim past the row cap is NOT broadcast") {
    val (_, fact) = DimEncode.encode(sampleDf, "name", maxBroadcastRows = 0L)
    val plan = fact.queryExecution.executedPlan.toString
    // Spark may still broadcast the (tiny) FACT side on its own stats;
    // the forced-broadcast bug was the RDD-backed dim being broadcast
    // regardless of size — assert the dim scan is not the build side.
    assert(!plan.split("\n").sliding(2).exists(w =>
      w.head.contains("BroadcastExchange") && w.last.contains("ExistingRDD")),
      s"dim must not be broadcast:\n$plan")
    // same result either join strategy
    assert(fact.count() === 6)
  }

  test("NULL dimension values keep their fact rows and get an index") {
    val (dim, fact) = DimEncode.encode(sampleDf, "name")
    assert(fact.count() === 6)
    assert(dim.count() === 4) // a, b, c, NULL
    val nullIdx = fact.filter(col("name").isNull)
      .select("name_idx").distinct().collect()
    assert(nullIdx.length === 1)
    assert(DimEncode.checkIntegrity(dim, fact, "name"))
  }

  test("index is dense, 1-based, sorted by value") {
    val (dim, _) = DimEncode.encode(sampleDf, "name")
    val rows = dim.orderBy("name_idx").collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(1, 2, 3, 4))
    // nulls first in Spark ascending sort
    assert(rows.head.isNullAt(0))
    assert(rows.drop(1).map(_.getString(0)).toSeq === Seq("a", "b", "c"))
  }

  // statement-group-shaped facts: a nullable string dim with duplicates,
  // a nullable long dim with negative values, and a struct key shaped
  // like the full snapshot's qkey, with null fields and a null key
  private def groupsDf: DataFrame = {
    import spark.implicits._
    (0 until 40).map { i =>
      (if (i % 7 == 0) None else Some(s"u${i % 9}"), i % 3, i % 5,
        i % 2 == 0, if (i % 11 == 0) None else Some((i % 6).toLong), i,
        if (i % 13 == 5) None else Some((i % 7 - 3) * 3000000000L))
    }.toDF("user", "db_oid", "user_oid", "toplevel", "fp", "v", "neg")
      .withColumn("qkey", when(col("v") =!= 13, struct(col("db_oid"),
        col("user_oid"), col("toplevel"), col("fp"))))
  }

  private def isLocal(dim: DataFrame): Boolean =
    dim.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("driver-numbered dims match the distributed path and persist nothing: nulls, duplicates, struct keys, n = cap and n = cap + 1") {
    val sc = spark.sparkContext
    Seq("user", "qkey").foreach { c =>
      val df = groupsDf
      val n = df.select(c).distinct().count()
      // n = cap: numbered on the driver; n = cap + 1: distributed
      val persisted = sc.getPersistentRDDs.keySet
      val (dimD, factD) = DimEncode.encode(df, c, maxBroadcastRows = n)
      assert(isLocal(dimD), s"$c: n = cap must number on the driver")
      val idx = s"${c}_idx"
      val dimRows = dimD.orderBy(idx).collect().toSeq
      val factRows = sorted(factD)
      assert(sc.getPersistentRDDs.keySet == persisted, c)
      val (dimS, factS) = DimEncode.encode(df, c, maxBroadcastRows = n - 1)
      assert(!isLocal(dimS), s"$c: n = cap + 1 must take the distributed path")
      assert(dimRows == dimS.orderBy(idx).collect().toSeq, c)
      assert(dimD.schema == dimS.schema, c)
      assert(factRows == sorted(factS), c)
      assert(factD.count() == 40)
      assert(DimEncode.checkIntegrity(dimD, factD, c))
      // ids are dense and 1-based, the null key first
      assert(dimRows.map(_.getInt(1)) == (1 to n.toInt))
      assert(dimRows.head.isNullAt(0))
    }
  }

  test("driver-side numbering gives encode's ids: null keys first, negative longs, booleans, struct keys") {
    val df = groupsDf
    def encoded(c: String): Map[Int, Int] =
      DimEncode.encode(df, c)._2.select(col("v"), col(s"${c}_idx")).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
    // keys collected in Spark's order, ids stepped on the driver
    Seq("user", "toplevel", "fp", "neg", "qkey").foreach { c =>
      val sorted = df.select(col("v"), col(c)).orderBy(col(c)).collect().toSeq
      val ids = DimEncode.denseIds(sorted.map(_.get(1)))
      assert(sorted.map(_.getInt(0)).zip(ids).toMap == encoded(c), c)
      if (c != "toplevel") assert(sorted.head.isNullAt(1) && ids.head == 1, c)
    }
    // long-valued dims sorted on the driver
    Seq("db_oid", "fp", "neg").foreach { c =>
      val ids = DimEncode.longIds(df.select(c).collect().map(_.get(0)))
      val byV = df.select(col("v"), col(c)).collect()
        .map(r => r.getInt(0) -> ids(r.get(1))).toMap
      assert(byV == encoded(c), c)
      if (c != "db_oid") assert(ids(null) == 1, c)
    }
  }
}
