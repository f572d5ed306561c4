package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming NEAR-duplicate detection — the incremental-ingestion form
  * of the MinHash→LSH batch pipeline
  * ([[graft.operators.Dedup.lshCandidates]]): shards of documents arrive
  * over time and each must be tagged against all history without
  * re-pairing the corpus.
  *
  * Keying: one state group per LSH bucket (band index + the band's
  * 8-long signature slice). The bucket's state is its FIRST claimant —
  * (docId, full 64-long signature). An arriving document either claims
  * an empty bucket or emits a match record against the holder with the
  * exact [[graft.functions.expressions.SigAgreeExpr]] agreement
  * fraction; the caller combines the per-band match records into
  * verdicts (near-dup iff any band's agreement ≥ threshold; parent =
  * min matching holder) and resolves transitive claim chains with
  * [[graft.operators.LockChains]] — a duplicate document still claims
  * its other empty buckets, so canonical chains (C→B→A) are expected
  * and the pointer-jumping pass flattens them. "Claim on arrival" is
  * what keeps the semantics batch-reproducible: the bucket holder is
  * simply the min-id document ever seen in the bucket, which a window
  * aggregate expresses exactly (the DuckDB oracle does).
  *
  * Within a micro-batch a bucket's rows process in docId order, so
  * arrival races resolve deterministically; across batches history
  * wins (a later, lower-id document duplicates the standing holder) —
  * the same incremental property [[StreamingDedup]] pins.
  *
  * 100 TB state discipline: state is one (id, sig) pair per DISTINCT
  * bucket — Bands × corpus-distinct band-slices entries of ~72 longs.
  * The gate entry runs under the RocksDB state store
  * ([[Drain.RocksDb]]) so that lives off-heap, and
  * `ttlMs` applies the same watermark-driven event-time eviction as
  * [[StreamingDedup]] (bucket not touched for ttlMs of event time →
  * holder evicted; a later claimant re-claims, i.e. windowed
  * near-dup — see StreamingDedup's scaladoc for why event-time, not
  * processing-time). The lean production variant stores only the
  * holder id per bucket and re-fetches holder signatures from a
  * doc-sig store in a foreachBatch join; kept inline here so the
  * operator is self-contained and the emitted agreement is exact. */
object StreamingNearDup {

  case class BandRow(bucket: String, docId: Long, sig: Array[Long],
      ts: java.sql.Timestamp)
  /** public: the state encoder's generated code must reach the ctor */
  case class Holder(id: Long, sig: Array[Long])
  case class BandMatch(docId: Long, holderId: Long, est: Double)

  def apply(rows: Dataset[BandRow],
      ttlMs: Option[Long] = Some(StreamingDedup.DefaultTtlMs))
      : Dataset[BandMatch] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (input, timeoutConf) = ttlMs match {
      case Some(_) => (rows.withWatermark("ts", "0 seconds"),
        GroupStateTimeout.EventTimeTimeout)
      case None => (rows, GroupStateTimeout.NoTimeout)
    }
    input.groupByKey(_.bucket)
      .flatMapGroupsWithState[Holder, BandMatch](
        OutputMode.Append, timeoutConf) {
        (_: String, it: Iterator[BandRow], state: GroupState[Holder]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(_.docId)
            var holder = state.getOption
            var maxTs = Long.MinValue
            val out = Seq.newBuilder[BandMatch]
            sorted.foreach { r =>
              if (r.ts != null) maxTs = math.max(maxTs, r.ts.getTime)
              holder match {
                case None =>
                  holder = Some(Holder(r.docId, r.sig))
                  state.update(holder.get)
                case Some(h) =>
                  var eq = 0
                  var i = 0
                  val n = math.min(r.sig.length, h.sig.length)
                  while (i < n) {
                    if (r.sig(i) == h.sig(i)) eq += 1
                    i += 1
                  }
                  // same fraction as SigAgreeExpr: exact double division
                  out += BandMatch(r.docId, h.id,
                    if (n == 0) 0.0 else eq.toDouble / n)
              }
            }
            ttlMs.foreach { ttl =>
              val base = math.max(maxTs, state.getCurrentWatermarkMs())
              state.setTimeoutTimestamp(base + ttl)
            }
            out.result().iterator
          }
      }
  }
}
