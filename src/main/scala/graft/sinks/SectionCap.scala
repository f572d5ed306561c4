package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}

/** Reference-derived section-size guards, enforced BEFORE each snapshot
  * assembler's driver collect — the "bounded per-server document"
  * rationale made an enforced invariant instead of a comment.
  *
  * The reference bounds its documents the same way:
  *  - `input/postgres/schema.go:14,97-110` — a relation count above
  *    `schema_table_limit` (default 5000, grant-configurable via
  *    `protobuf/server_message.proto:26`) means "schema information
  *    will not be sent" for the whole server;
  *  - `input/postgres/statements.go:78-110` — statement entries are
  *    held near `pg_stat_statements.max` (default 5000) by the
  *    0.9-threshold reset policy, so the query section is cap-sized;
  *  - the compact/log path bounds by backpressure (W6,
  *    `runner/logs.go:265-283` discards on send failure;
  *    `logs/stream/stream.go:39` notes the server-side cutoff).
  *
  * [[guarded]] is the T5-style check: ONE bounded action collects at
  * most `limit + 1` rows (an orderBy+limit plan is
  * TakeOrderedAndProject, so driver memory stays limit-bounded even
  * against a pathological input); only the rare overflow path pays a
  * second count() for the diagnostic (or a count the caller already
  * needs). On overflow the section is
  * DROPPED and the returned flag message becomes part of the document
  * (FullSnapshot carries it on the wire as `collector_errors` —
  * `protobuf/full_snapshot.proto:24` field 21; the compact protos have
  * no error field, so there the flag lives on the assembled Doc).
  */
object SectionCap {

  /** `input/postgres/schema.go:14` */
  val SchemaTableLimit = 5000

  /** pg_stat_statements.max default; `statements.go:78-110` holds the
    * entry count near it via the 0.9-threshold reset. */
  val StatementLimit = 5000

  /** Backends are max_connections-bounded server-side; this guard only
    * exists so a misconfigured source cannot unbound the collect. */
  val BackendLimit = 10000

  /** Lines per 10 s compact batch; the reference bounds this path by
    * backpressure rather than a count (`runner/logs.go:265-283`). */
  val LogLineLimit = 100000

  /** A guarded section: its rows if under the limit, or empty + the
    * overflow flag message when dropped. */
  final case class Section(rows: IndexedSeq[Row], dropped: Boolean,
      observed: Long, flag: Option[String])

  /** Collect `ordered` if it holds at most `limit` rows; otherwise drop
    * the section, flagging it with the reference's warning shape
    * ("Too many X: got N, but only M can be monitored per server;
    * X information will not be sent"). */
  def guarded(ordered: DataFrame, limit: Int, what: String,
      section: String): Section =
    guarded(ordered, limit, what, section, ordered.count())

  /** [[guarded]] with the overflow count from `observed`, which runs
    * only on overflow. */
  def guarded(ordered: DataFrame, limit: Int, what: String,
      section: String, observed: => Long): Section = {
    val head = ordered.limit(limit + 1).collect()
    if (head.length > limit) {
      val n = observed
      Section(Vector.empty, dropped = true, observed = n,
        flag = Some(s"Too many $what: got $n, but only $limit can be " +
          s"monitored per server; $section information will not be sent"))
    } else Section(head.toIndexedSeq, dropped = false,
      observed = head.length.toLong, flag = None)
  }
}
