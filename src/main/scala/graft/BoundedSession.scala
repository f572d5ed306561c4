package graft

import org.apache.spark.sql.SparkSession

/** The session policy for bounded work: plans whose inputs are bounded
  * per server or per period (a daemon tick's window, the full snapshot's
  * per-server document), run on a session derived from the caller's.
  *
  *  - No adaptive execution and one shuffle partition: per-stage
  *    re-planning and wide shuffles of hundred-row frames only add
  *    scheduler round-trips.
  *  - No generated code: these plans run over a few hundred to a few
  *    thousand rows, so compiling a class per operator costs more than
  *    interpreting it. The full snapshot alone generated ~210 classes
  *    per call on the caller's session, more than Spark's 100-entry
  *    codegen cache holds, so every call recompiled them.
  *
  * One derived session per caller session, reused: executors load a
  * session's tasks through a class loader of its own, and Spark's codegen
  * cache is keyed by class loader, so a fresh session per call would
  * recompile the few classes interpreted mode still generates (sort
  * orderings, in-memory column accessors) on every call. `newSession`
  * shares the SparkContext and cache manager, so frames cached by either
  * session serve both.
  */
object BoundedSession {
  private val derived =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  def apply(s: SparkSession): SparkSession = derived.synchronized {
    derived.computeIfAbsent(s, { _ =>
      val b = s.newSession()
      b.conf.set("spark.sql.adaptive.enabled", "false")
      b.conf.set("spark.sql.shuffle.partitions", "1")
      b.conf.set("spark.sql.codegen.wholeStage", "false")
      b.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      b
    })
  }
}
