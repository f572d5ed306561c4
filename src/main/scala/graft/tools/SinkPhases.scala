package graft.tools

import org.apache.spark.sql.DataFrame

/** Phase census for the e2e snapshot-sink family (round-15 verdict item
  * #8): attributes each entry's wall to its pipeline phases —
  * `assemble` (the Spark work: scans, diffs, section collects; plus the
  * dim numbering), `encode` (driver-side protobuf build), `zlib`, and
  * `decodeVerify+force` (driver-side parse + integrity checks + the
  * bench's materialization hash over the resulting local rows). For the
  * two upload entries the ship leg (grant + storage POST + submission /
  * websocket frame) is the e2e wall minus the wire phases, measured by
  * timing the declared entry end-to-end alongside its phase breakdown.
  *
  * Diagnostic only — the declared queries are untouched; this calls the
  * same public phase functions their e2e() composition does.
  */
object SinkPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(defaultCpus = 32)

    def force(df: DataFrame): Unit = {
      graft.Harness.force(df)
      graft.Harness.release(spark)
    }
    def t[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // one warmup pass of each pipeline so codegen/footers are paid once,
    // mirroring Bench's in-suite position (every e2e entry runs after
    // hundreds of queries have warmed the session)
    def phases(name: String,
        assemble: () => AnyRef,
        encode: AnyRef => Array[Byte],
        decode: Array[Byte] => DataFrame): Unit = {
      force(decode(graft.sinks.ProtoWire.zlib(encode(assemble())))) // warmup
      val (doc, tA) = t(assemble())
      val (enc, tE) = t(encode(doc))
      val (wire, tZ) = t(graft.sinks.ProtoWire.zlib(enc))
      val (df, tD) = t(decode(wire))
      val (_, tF) = t(force(df))
      println(f"PHASE $name%-24s assemble=$tA%6.2f s encode=$tE%5.2f s " +
        f"zlib=$tZ%5.2f s decode=$tD%5.2f s force=$tF%5.2f s " +
        f"wire=${wire.length / 1e6}%6.2f MB total=${tA + tE + tZ + tD + tF}%6.2f s")
    }

    import graft.sinks._
    phases("e2e_full_snapshot",
      () => FullSnapshotPipeline.assemble(spark, sfDir),
      d => FullSnapshotPipeline.encode(d.asInstanceOf[FullSnapshotPipeline.Doc]),
      w => FullSnapshotPipeline.decodeVerify(spark, w))
    phases("e2e_compact_snapshot",
      () => CompactSnapshotPipeline.assemble(spark, sfDir),
      d => CompactSnapshotPipeline.encode(d.asInstanceOf[CompactSnapshotPipeline.Doc]),
      w => CompactSnapshotPipeline.decodeVerify(spark, w))
    phases("e2e_activity_snapshot",
      () => ActivitySnapshotPipeline.assemble(spark, sfDir),
      d => ActivitySnapshotPipeline.encode(d.asInstanceOf[ActivitySnapshotPipeline.Doc]),
      w => ActivitySnapshotPipeline.decodeVerify(spark, w))
    phases("e2e_system_snapshot",
      () => SystemSnapshotPipeline.assemble(spark, sfDir),
      d => SystemSnapshotPipeline.encode(d.asInstanceOf[SystemSnapshotPipeline.Doc]),
      w => SystemSnapshotPipeline.decodeVerify(spark, w))

    // upload entries: e2e wall measured whole (warm), ship = e2e − the
    // full-snapshot wire phases printed above
    Seq("e2e_snapshot_upload", "e2e_snapshot_ws_upload",
      "e2e_query_run_snapshot", "e2e_query_run_ws").foreach { n =>
      force(graft.SparkEntry.queries(n)(spark, sfDir)) // warmup
      val (_, w) = t(force(graft.SparkEntry.queries(n)(spark, sfDir)))
      println(f"PHASE $n%-24s e2e_total=$w%6.2f s (ship = total minus wire phases)")
    }
    spark.stop()
  }
}
