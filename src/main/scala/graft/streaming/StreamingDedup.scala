package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact dedup — the incremental-ingestion form of
  * [[graft.operators.Dedup.exact]]: documents arrive in shards over
  * time, and each must be tagged first-seen-or-duplicate AGAINST ALL
  * HISTORY without re-scanning the corpus. State per distinct content
  * fingerprint is one long (the canonical id) — the same per-key
  * last-value shape as [[StreamingDiff]], kept by the state store.
  *
  * Within a micro-batch a key's rows process in (docId) order, so
  * arrival races inside one batch resolve deterministically (lowest id
  * wins the canonical slot, exactly the batch operator's min(id)).
  *
  * 100 TB state discipline (two independent bounds, both on by
  * default in the gate entries):
  *   - **Watermark TTL eviction** (`ttlMs`): EVENT-time timeout per
  *     key — a fingerprint whose last sighting falls `ttlMs` behind
  *     the stream's watermark is evicted, the same
  *     watermark-driven eviction the log stitcher applies to orphan
  *     continuations (reference `logs/stream/stream.go:84-90`, 3 s
  *     invisibility horizon; [[Stitch]] is the 1:1 port). Event-time
  *     (not processing-time) timeouts matter operationally: with
  *     ProcessingTimeTimeout, `FlatMapGroupsWithStateExec
  *     .shouldRunAnotherBatch` is constant-true, so an
  *     `AvailableNow` drain schedules empty micro-batches forever and
  *     never terminates (observed: the gate hung). Watermark-driven
  *     timeouts advance only with data, so drains terminate and the
  *     eviction horizon is replay-deterministic. Dedup-after-eviction
  *     re-tags as first — windowed-dedup semantics; pick the TTL ≥
  *     the dedup horizon the corpus needs. `None` keeps full history.
  *   - **RocksDB state store**: the gate entries run under
  *     `RocksDBStateStoreProvider` (see [[Drain.RocksDb]]) so per-key
  *     state lives off-heap/on-disk and executor heap stays flat no
  *     matter how many distinct fingerprints the corpus has — the
  *     default HDFS-backed store keeps ALL state in executor heap and
  *     OOMs at billions of keys. */
object StreamingDedup {

  case class DocRow(fingerprint: String, docId: Long, ts: Timestamp)
  /** public: the state encoder's generated code must reach the ctor */
  case class Seen(canonicalId: Long)
  case class Tagged(fingerprint: String, docId: Long, isFirst: Boolean,
      canonicalId: Long)

  /** Default TTL for gate entries: generous enough that nothing evicts
    * inside one AvailableNow drain, finite so state is time-bounded. */
  val DefaultTtlMs: Long = 60L * 60 * 1000

  def apply(rows: Dataset[DocRow],
      ttlMs: Option[Long] = Some(DefaultTtlMs)): Dataset[Tagged] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val (input, timeoutConf) = ttlMs match {
      case Some(_) =>
        // 0-second watermark delay: the eviction horizon is ttlMs
        // itself (timeout ts = last sighting + ttl vs watermark =
        // max event time of the previous batch)
        (rows.withWatermark("ts", "0 seconds"),
          GroupStateTimeout.EventTimeTimeout)
      case None => (rows, GroupStateTimeout.NoTimeout)
    }
    input.groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Seen, Tagged](OutputMode.Append, timeoutConf) {
        (fp: String, it: Iterator[DocRow], state: GroupState[Seen]) =>
          if (state.hasTimedOut) {
            // TTL horizon passed the watermark with no re-occurrence:
            // evict. A later duplicate of this content re-tags as
            // first (windowed semantics) — the price of bounded state.
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(_.docId)
            var canonical = state.getOption.map(_.canonicalId)
            var maxTs = Long.MinValue
            val out = sorted.map { r =>
              if (r.ts != null) maxTs = math.max(maxTs, r.ts.getTime)
              canonical match {
                case None =>
                  canonical = Some(r.docId)
                  state.update(Seen(r.docId))
                  Tagged(fp, r.docId, isFirst = true, r.docId)
                case Some(c) =>
                  Tagged(fp, r.docId, isFirst = false, c)
              }
            }
            // sliding TTL: every sighting re-arms the eviction clock.
            // The timeout timestamp must sit beyond the current
            // watermark; max(sighting, watermark) keeps late rows legal.
            ttlMs.foreach { ttl =>
              val base = math.max(maxTs, state.getCurrentWatermarkMs())
              state.setTimeoutTimestamp(base + ttl)
            }
            out.iterator
          }
      }
  }
}
