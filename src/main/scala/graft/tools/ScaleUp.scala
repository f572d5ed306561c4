package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a 10×-sf dataset from an existing sf dir by
  * replicating every table with key offsets and per-replica content
  * perturbation (so near-dup structure is not artificially inflated by
  * 10 identical copies of each document), written as multi-file parquet
  * so scans parallelize the way a production lake's would — on this
  * input `Tables.fanOut` is a no-op by its guard.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcSfDir> <dstDir> [factor]`
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Harness.session(defaultCpus = 32)
    val reps = spark.range(factor.toLong).select(col("id").cast("int").as("rep"))

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode(SaveMode.Overwrite)
        .parquet(s"$dst/$name.parquet")
      println(s"SCALEUP wrote $name")
    }

    // documents: offset ids, perturb text per replica (vowel rotation)
    // so cross-replica docs are not exact/near dups of each other
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    write(docs.crossJoin(reps).select(
      (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
      expr("CASE WHEN rep = 0 THEN text ELSE " +
        "translate(text, 'aeiou', substr('bcdfghjklmnpqrs', rep, 5)) END")
        .as("text"),
      col("lang"), col("source"), col("n_chars")), "documents")

    // embeddings: offset ids, per-replica deterministic shift
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    write(emb.crossJoin(reps).select(
      (col("vec_id") + col("rep") * maxVec).as("vec_id"),
      expr("transform(embedding, x -> cast(x + rep * 0.013 as float))")
        .as("embedding")), "embeddings")

    // events: offset ids, shift ts one hour per replica. ts has shipped
    // as both raw TIMESTAMP(NANOS) longs and TIMESTAMP(MICROS) NTZ
    // across testdata generations (see Tables.eventsRaw) — shift in the
    // scanned type's own unit so the written file keeps that type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxEv = ev.agg(max("event_id")).head.getLong(0) + 1
    val shifted =
      if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        (col("ts") + col("rep").cast("long") * lit(3600L * 1000000000L)).as("ts")
      else expr("timestampadd(HOUR, rep, ts)").as("ts")
    write(ev.crossJoin(reps).select(
      (col("event_id") + col("rep") * maxEv).as("event_id"),
      shifted,
      col("user_id"), col("event_type"), col("value"), col("props")), "events")

    // lineitem + orders: offset the join keys, keep measures
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxOk = li.agg(max("l_orderkey")).head.getLong(0) + 1
    write(li.crossJoin(reps).select(
      (col("l_orderkey") + col("rep") * maxOk).as("l_orderkey") +:
        li.columns.filterNot(_ == "l_orderkey").map(col).toIndexedSeq: _*),
      "lineitem")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    write(ord.crossJoin(reps).select(
      (col("o_orderkey") + col("rep") * maxOk).as("o_orderkey") +:
        ord.columns.filterNot(_ == "o_orderkey").map(col).toIndexedSeq: _*),
      "orders")

    // small dims: copy as-is
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write
        .mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"SCALEUP copied $t")
    }
    spark.stop()
  }
}
