package graft

import org.apache.spark.sql.functions._

import graft.sinks.{ActivitySnapshotPipeline => AP, CompactSnapshotPipeline => CP,
  FullSnapshotPipeline => FP, ProtoWire, SectionCap}

/** The enforced snapshot section caps (`input/postgres/schema.go:14,
  * 97-110`'s schema_table_limit; `statements.go:78-110`'s statement
  * bound): an over-limit section is DROPPED before the driver collect
  * — never collected unbounded — the drop is FLAGGED in the document,
  * and the document stays integrity-valid on the wire. */
class SectionCapSpec extends SparkSpec {

  // ------------------------------------------------------ the mechanism

  test("guarded: under the limit collects all rows in order") {
    val df = spark.range(10).select(col("id"))
    val sec = SectionCap.guarded(df.orderBy("id"), limit = 10, "rows", "row")
    assert(!sec.dropped && sec.flag.isEmpty)
    assert(sec.rows.map(_.getLong(0)) === (0L to 9L))
    assert(sec.observed === 10L)
  }

  test("guarded: over the limit drops, flags, and never collects the bulk") {
    val df = spark.range(1000).select(col("id"))
    val sec = SectionCap.guarded(df.orderBy("id"), limit = 10, "rows", "row")
    assert(sec.dropped && sec.rows.isEmpty)
    assert(sec.observed === 1000L)
    assert(sec.flag.get ===
      "Too many rows: got 1000, but only 10 can be monitored per " +
        "server; row information will not be sent")
  }

  // --------------------------------------------- full snapshot overflow

  test("full snapshot: schema over schema_table_limit drops refs+stats+indexes, flagged, wire still integrity-valid") {
    val doc = FP.assemble(spark, Sf, FP.Caps(schemaTableLimit = 2))
    assert(doc.relRefRows.isEmpty && doc.relStatRows.isEmpty &&
      doc.idxRows.isEmpty)
    assert(doc.collectorErrors.exists(e =>
      e.startsWith("Too many total tables:") &&
        e.endsWith("schema information will not be sent")))
    // the untouched sections still arrive
    assert(doc.queryRows.nonEmpty && doc.dbRows.nonEmpty)
    // the flag survives the wire, and the capped document decodes
    // integrity-valid (K3 checks pass on the emptied section)
    val wire = ProtoWire.zlib(FP.encode(doc))
    assert(FP.decodeErrors(wire).exists(_.startsWith("Too many total tables:")))
    val decoded = FP.decodeVerify(spark, wire)
    assert(decoded.count() === doc.queryRows.length.toLong)
    assert(decoded.agg(max(col("n_relations"))).head.getLong(0) === 0L)
  }

  test("full snapshot: statements over the cap drop the query section, flagged, wire still integrity-valid") {
    val doc = FP.assemble(spark, Sf, FP.Caps(statementLimit = 1))
    assert(doc.queryRows.isEmpty)
    assert(doc.collectorErrors.exists(e =>
      e.startsWith("Too many statements:") &&
        e.endsWith("statement information will not be sent")))
    assert(doc.relRefRows.nonEmpty) // schema unaffected
    val wire = ProtoWire.zlib(FP.encode(doc))
    val decoded = FP.decodeVerify(spark, wire)
    assert(decoded.count() === 0L) // zero query rows, but decode is green
  }

  test("full snapshot: the role dim covers every statement group whatever the statement cap") {
    val capped = FP.assemble(spark, Sf, FP.Caps(statementLimit = 1))
    assert(capped.queryRows.isEmpty && capped.roleRows.nonEmpty)
    assert(capped.roleRows == FP.assemble(spark, Sf).roleRows)
  }

  test("full snapshot: default caps emit no collector_errors (golden bytes unchanged)") {
    val doc = FP.assemble(spark, Sf)
    assert(doc.collectorErrors.isEmpty)
    assert(FP.decodeErrors(ProtoWire.zlib(FP.encode(doc))).isEmpty)
  }

  // ------------------------------------------- compact/log overflow

  test("compact snapshot: lines over the batch limit drop lines+samples+files, flagged, wire still integrity-valid") {
    val doc = CP.assemble(spark, Sf, logLineLimit = 3)
    assert(doc.lineRows.isEmpty && doc.sampleRows.isEmpty &&
      doc.fileRows.isEmpty)
    assert(doc.droppedSections.exists(_.startsWith("Too many log lines:")))
    assert(doc.queryRows.nonEmpty) // dims/aggregates still bounded+present
    val decoded = CP.decodeVerify(spark, ProtoWire.zlib(CP.encode(doc)))
    assert(decoded.count() === 0L)
  }

  // ------------------------------------------------ activity overflow

  test("activity snapshot: backends over the limit drop per-pid sections, flagged, wire still integrity-valid") {
    val doc = AP.assemble(spark, Sf, backendLimit = 1)
    assert(doc.backendRows.isEmpty)
    // vacuums share the limit but are their own (smaller) section —
    // dropped only if they overflow on their own
    assert(doc.vacuumRows.length <= 1 || doc.droppedSections.exists(
      _.startsWith("Too many vacuum backends:")))
    assert(doc.droppedSections.exists(_.startsWith("Too many backends:")))
    val decoded = AP.decodeVerify(spark, ProtoWire.zlib(AP.encode(doc)))
    assert(decoded.count() === 0L)
  }
}
