package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PgFns
import graft.sources.CatalogSynth

/** End-to-end compact ACTIVITY snapshot lifecycle — the reference's
  * third wire artifact (`output/transform/activity.go`,
  * `output/compact_activity.go`, `protobuf/compact_activity_snapshot
  * .proto:9-20`), as ONE verified chain:
  *
  *   S3 activity scan → current-backends tick (top-1 per pid — an
  *   activity snapshot ships the CONNECTED backends at the tick, not
  *   the event history) → S5 vacuum-progress tick → X1/X2 query
  *   normalize/fingerprint for active client backends → role/database/
  *   query/relation BaseRefs dims → CompactSnapshot wire bytes + zlib
  *   (field 12 = CompactActivitySnapshot) → decode → integrity
  *   verification → the decoded backends as a DataFrame.
  *
  * Same collection discipline as the other two snapshot pipelines:
  * everything corpus-scale is a Spark plan (the per-pid top-1 windows
  * shuffle once on pid); only the tick-bounded document (≈ one row per
  * connected backend) is collected. */
object ActivitySnapshotPipeline {

  val SnapshotUuid = "00000000-0000-7000-8000-000000000003"
  val PgVersionFull = "PostgreSQL 17.0"
  val PgVersionNum = 170000L

  private val PhaseByName = Map(
    "initializing" -> 0, "scanning heap" -> 1, "vacuuming indexes" -> 2,
    "vacuuming heap" -> 3, "cleaning up indexes" -> 4,
    "truncating heap" -> 5, "performing final cleanup" -> 6)

  // ------------------------------------------------------- spark stages

  /** The activity tick: the latest backend row per pid, with the
    * derived query text / wait-event fields the transform ships. */
  def currentBackends(s: SparkSession, dir: String): DataFrame =
    backendsFrom(CatalogSynth.backends(s, dir))

  /** Same derivation over an arbitrary backends-shaped frame — the
    * daemon soak scopes each 10 s tick to its window of activity by
    * pre-filtering the raw frame (the reference's tick likewise sees
    * only what `pg_stat_activity` holds AT the tick). */
  def backendsFrom(raw: DataFrame): DataFrame =
    latestPerPid(deriveBackendCols(raw),
      Seq(col("query_start").desc, col("event_id").desc))

  /** The per-row derived half of [[backendsFrom]], window-free. Split
    * out so a caller driving MANY ticks over one cached base
    * ([[graft.streaming.DaemonSoak]]) can hoist the derivations — incl.
    * the pgFingerprint/pgNormalize scanner subtrees, the bulk of the
    * expression tree — into the base it shapes ONCE, leaving the
    * re-planned per-tick tree at filter + latest-per-pid + document
    * fold (per-tick Catalyst re-analysis of the full tree measured
    * ~2/3 of activity-tick wall in the soak). None of the derivations
    * reads `pid` or the ordering columns, so deriving before or after
    * the latest-per-pid window is value-identical. */
  private[graft] def deriveBackendCols(raw: DataFrame): DataFrame = raw
    .withColumn("rolname", col("usename"))
    .withColumn("datname", concat(lit("db"), col("db_oid")))
    .withColumn("has_query",
      col("state") === "active" && col("backend_type") === "client backend")
    .withColumn("query", when(col("has_query"),
      concat(lit("SELECT * FROM orders WHERE o_custkey = "), col("query_k"))))
    .withColumn("fp", when(col("has_query"), PgFns.pgFingerprint(col("query"))))
    .withColumn("normalized_query",
      when(col("has_query"), PgFns.pgNormalize(col("query"))))
    .withColumn("wait_event_type", when(col("waiting"), "Lock").otherwise(""))
    .withColumn("wait_event",
      when(col("waiting"), "transactionid").otherwise(""))
    .withColumn("query_start_s",
      expr("unix_micros(query_start) div 1000000"))

  /** Latest row per pid by `order` — the tick-scoped half of the
    * `*From` derivations (must run per tick: "latest" is relative to
    * the tick's window). */
  private[graft] def latestPerPid(df: DataFrame,
      order: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.partitionBy("pid").orderBy(order: _*)))
      .filter(col("rn") === 1)

  /** The vacuum tick: latest vacuum-progress row per pid (autovacuum
    * backends), with its relation key. */
  def currentVacuums(s: SparkSession, dir: String): DataFrame =
    vacuumsFrom(CatalogSynth.vacuumProgress(s, dir))

  /** Tick-scopable form of [[currentVacuums]]. */
  def vacuumsFrom(raw: DataFrame): DataFrame =
    latestPerPid(deriveVacuumCols(raw), Seq(col("event_id").desc))

  /** Per-row derived half of [[vacuumsFrom]] (see
    * [[deriveBackendCols]] for why it is split). */
  private[graft] def deriveVacuumCols(raw: DataFrame): DataFrame = raw
    .withColumn("db_oid", col("pid") % 5)
    .withColumn("datname", concat(lit("db"), col("db_oid")))
    .withColumn("relname", concat(lit("t"), col("relid")))
    .withColumn("phase_id",
      coalesce(element_at(typedLit(PhaseByName), col("phase")), lit(0)))

  // --------------------------------------------------- document assembly

  /** Row layouts (positional, shared with encode):
    *  - roleRows/dbRows: (idx, name)
    *  - queryRows: (qkey_idx, db_idx, role_idx, fp, normalized)
    *  - relRows:  (rkey_idx, db_idx, relname)
    *  - backendRows: (pid, role_idx, db_idx, qkey_idx|null, query|null,
    *                  query_start_s, waiting, state, wait_event_type,
    *                  wait_event, backend_type)
    *  - vacuumRows: (pid, role_idx, db_idx, rkey_idx, query_start_s?
    *                 n/a → started_s, phase_id, heap_blks_total,
    *                 heap_blks_scanned) */
  final case class Doc(
      collectedAtSecs: Long,
      roleRows: Seq[Row], dbRows: Seq[Row], queryRows: Seq[Row],
      relRows: Seq[Row], backendRows: Seq[Row], vacuumRows: Seq[Row],
      droppedSections: Seq[String] = Nil)

  def assemble(s: SparkSession, dir: String,
      backendLimit: Int = SectionCap.BackendLimit): Doc =
    assembleDoc(currentBackends(s, dir), currentVacuums(s, dir), backendLimit)

  /** Assemble the activity document from the tick tables in ONE Spark
    * action.
    *
    * An activity tick is architecturally bounded — `pg_stat_activity`
    * never exceeds `max_connections` (and [[SectionCap.BackendLimit]]
    * makes the bound local), so unlike the full/compact pipelines'
    * corpus-scale dimensions (query fingerprints — millions of distinct
    * values, hence [[graft.operators.DimEncode]]'s range-partitioned
    * `zipWithIndex`), the activity dims fit one partition AT ANY FLEET
    * SCALE: per server the tick is ≤ max_connections rows no matter how
    * much data the cluster holds. That licenses `dense_rank()` over a
    * single-partition window — identical index semantics to DimEncode
    * (1-based dense index by sorted value, nulls first) — and lets the
    * whole document (sections, dims, caps, collected_at) fold into one
    * collected row: a 10 s cadence pipeline is latency-critical, and the
    * previous multi-action form (2 localCheckpoints + 4 dim builds + 6
    * concurrent collects ≈ 58 scheduler jobs) spent ~2 s of pure job
    * latency per tick that this form spends once.
    *
    * Section caps stay driver-bounded against pathological inputs: each
    * per-pid section is `orderBy(pid).limit(limit+1)`
    * (TakeOrderedAndProject) BEFORE the array aggregation, so at most
    * limit+1 rows ever ship, while the unlimited count for the overflow
    * flag rides the same plan. */
  def assembleDoc(backsIn: DataFrame, vacsIn: DataFrame,
      backendLimit: Int = SectionCap.BackendLimit): Doc =
    docFromRow(docFrame(backsIn, vacsIn, backendLimit).head(), backendLimit)

  /** The single-row document plan behind [[assembleDoc]]. */
  def docFrame(backsIn: DataFrame, vacsIn: DataFrame,
      backendLimit: Int = SectionCap.BackendLimit): DataFrame =
    docFrameTagged(
      tagBackends(backsIn).unionByName(tagVacuums(vacsIn)), backendLimit)

  /** [[docFrame]]'s b-side tag projection — per-row-constant, so a
    * many-tick driver hoists it into its cached base ([[deriveBackendCols]]
    * note); `keep` carries tick-scoping / window-ordering columns
    * through for the per-tick filter + latest-per-pid that then run
    * BEFORE [[docFrameTagged]]. */
  private[graft] def tagBackends(backsIn: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val nullS = lit(null).cast("string")
    backsIn.select(keep.map(col) ++ Seq(
      lit("b").as("tag"), col("pid"), col("rolname"), col("datname"),
      col("has_query"), col("query"), col("fp"), col("normalized_query"),
      col("query_start_s"), col("waiting"), col("state"),
      col("wait_event_type"), col("wait_event"), col("backend_type"),
      nullS.as("relname"), lit(null).cast("int").as("phase_id"),
      lit(null).cast("long").as("heap_blks_total"),
      lit(null).cast("long").as("heap_blks_scanned")): _*)
  }

  /** [[docFrame]]'s v-side tag projection (see [[tagBackends]]). */
  private[graft] def tagVacuums(vacsIn: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val nullS = lit(null).cast("string")
    vacsIn.select(keep.map(col) ++ Seq(
      lit("v").as("tag"), col("pid"),
      concat(lit("u"), col("pid")).as("rolname"), col("datname"),
      lit(null).cast("boolean").as("has_query"), nullS.as("query"),
      lit(null).cast("long").as("fp"), nullS.as("normalized_query"),
      lit(null).cast("long").as("query_start_s"),
      lit(null).cast("boolean").as("waiting"), nullS.as("state"),
      nullS.as("wait_event_type"), nullS.as("wait_event"),
      nullS.as("backend_type"),
      col("relname"), col("phase_id").cast("int"),
      col("heap_blks_total"), col("heap_blks_scanned")): _*)
  }

  /** The dim/index/fold half of [[docFrame]] over the tagged union of
    * both tick tables (layout = [[tagBackends]]/[[tagVacuums]]). */
  private[graft] def docFrameTagged(u0: DataFrame,
      backendLimit: Int = SectionCap.BackendLimit): DataFrame = {

    // a vacuum backend resolves through the BACKENDS' role/db dims (it
    // is a backend); a vacuum row whose role or database has no backend
    // row is dropped, and — crucially — must not extend the dims
    val isB = when(col("tag") === "b", 1).otherwise(0)
    val u1 = u0
      .withColumn("role_present", max(isB).over(Window.partitionBy("rolname")))
      .withColumn("db_present", max(isB).over(Window.partitionBy("datname")))
      .filter(col("role_present") === 1 && col("db_present") === 1)

    // dense_rank over the sorted value = DimEncode's 1-based dense index
    // by sorted value; for the partial dims (queries, relations) the
    // null keys sort FIRST, so subtracting the null group's presence
    // leaves the same index the dim-build-then-join form produced
    val wAll = Window.partitionBy()
    val u2 = u1
      .withColumn("rolname_idx",
        dense_rank().over(Window.orderBy("rolname")).cast("int"))
      .withColumn("datname_idx",
        dense_rank().over(Window.orderBy("datname")).cast("int"))
      .withColumn("qkey", when(col("has_query"),
        struct(col("datname_idx"), col("rolname_idx"), col("fp"))))
      .withColumn("qkey_idx", when(col("qkey").isNotNull,
        (dense_rank().over(Window.orderBy("qkey")) -
          max(when(col("qkey").isNull, 1).otherwise(0)).over(wAll))
          .cast("int")))
      .withColumn("rkey", when(col("tag") === "v",
        struct(col("datname_idx"), col("relname"))))
      .withColumn("rkey_idx", when(col("rkey").isNotNull,
        (dense_rank().over(Window.orderBy("rkey")) -
          max(when(col("rkey").isNull, 1).otherwise(0)).over(wAll))
          .cast("int")))
      // per-section cap rank: bounds what the section arrays materialize
      .withColumn("rn",
        row_number().over(Window.partitionBy("tag").orderBy("pid")))

    val inCap = col("rn") <= backendLimit + 1
    // pid-led structs make sort_array reproduce the orderBy(pid) section
    // order (pid is unique per tick table)
    u2.agg(
      coalesce(sum(isB), lit(0L)).as("n_backends"),
      coalesce(sum(lit(1) - isB), lit(0L)).as("n_vacuums"),
      coalesce(max("query_start_s"), lit(0L)).as("collected_at_s"),
      sort_array(collect_list(when(col("tag") === "b" && inCap, struct(
        col("pid"), col("rolname_idx"), col("datname_idx"), col("qkey_idx"),
        col("query"), col("query_start_s"), col("waiting"), col("state"),
        col("wait_event_type"), col("wait_event"), col("backend_type")))))
        .as("backends"),
      sort_array(collect_list(when(col("tag") === "v" && inCap, struct(
        col("pid"), col("rolname_idx"), col("datname_idx"), col("rkey_idx"),
        lit(0L).as("started_s"), col("phase_id"),
        col("heap_blks_total"), col("heap_blks_scanned")))))
        .as("vacuums"),
      sort_array(collect_set(when(col("qkey_idx").isNotNull, struct(
        col("qkey_idx"), col("datname_idx"), col("rolname_idx"), col("fp"),
        col("normalized_query"))))).as("queries"),
      sort_array(collect_set(when(col("rkey_idx").isNotNull, struct(
        col("rkey_idx"), col("datname_idx"), col("relname")))))
        .as("rels"),
      sort_array(collect_set(struct(col("rolname_idx"), col("rolname"))))
        .as("roles"),
      sort_array(collect_set(struct(col("datname_idx"), col("datname"))))
        .as("dbs"))
  }

  /** [[Doc]] from one collected [[docFrame]] row. */
  def docFromRow(docRow: Row, backendLimit: Int): Doc = {
    def rows(field: String): IndexedSeq[Row] =
      docRow.getAs[scala.collection.Seq[Row]](field).toIndexedSeq
    // a qkey can carry several raw normalized spellings; sorted order
    // puts the min first, so keep-first per index = the old min() agg
    def dedupByIdx(rs: IndexedSeq[Row]): IndexedSeq[Row] = {
      val seen = scala.collection.mutable.HashSet.empty[Int]
      rs.filter(r => seen.add(r.getInt(0)))
    }
    val nBackends = docRow.getAs[Long]("n_backends")
    val nVacs = docRow.getAs[Long]("n_vacuums")
    def cap(rowsIn: IndexedSeq[Row], observed: Long, what: String,
        section: String): SectionCap.Section =
      if (observed > backendLimit)
        SectionCap.Section(Vector.empty, dropped = true, observed,
          flag = Some(s"Too many $what: got $observed, but only " +
            s"$backendLimit can be monitored per server; $section " +
            "information will not be sent"))
      else SectionCap.Section(rowsIn, dropped = false, observed, None)
    val backSec = cap(rows("backends"), nBackends, "backends", "backend")
    val vacSec = cap(rows("vacuums"), nVacs, "vacuum backends",
      "vacuum progress")
    Doc(
      collectedAtSecs = docRow.getAs[Long]("collected_at_s"),
      roleRows = rows("roles"),
      dbRows = rows("dbs"),
      queryRows = dedupByIdx(rows("queries")),
      relRows = dedupByIdx(rows("rels")),
      backendRows = backSec.rows,
      vacuumRows = vacSec.rows,
      droppedSections = backSec.flag.toSeq ++ vacSec.flag.toSeq)
  }

  // ----------------------------------------------------------- encoding

  private def num(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** CompactSnapshot wire bytes, data = field 12 (activity). */
  def encode(doc: Doc): Array[Byte] = {
    val m = ProtoWire.msg()
      .varint(1, 1L)
      .string(3, FullSnapshotPipeline.CollectorVersion)
      .string(4, SnapshotUuid)
      .msg(5, ProtoWire.msg().varint(1, doc.collectedAtSecs))
    val refs = ProtoWire.msg()
    doc.roleRows.foreach(r =>
      refs.msg(1, ProtoWire.msg().string(1, r.getString(1))))
    doc.dbRows.foreach(r =>
      refs.msg(2, ProtoWire.msg().string(1, r.getString(1))))
    doc.queryRows.foreach { r =>
      val fpBytes = java.nio.ByteBuffer.allocate(8).putLong(num(r, 3)).array()
      refs.msg(3, ProtoWire.msg()
        .varint(1, num(r, 1)).varint(2, num(r, 2)).bytes(3, fpBytes))
    }
    doc.queryRows.foreach { r =>
      refs.msg(4, ProtoWire.msg()
        .varint(1, num(r, 0)).string(2, r.getString(4)))
    }
    doc.relRows.foreach { r =>          // 5 RelationReference
      refs.msg(5, ProtoWire.msg()
        .varint(1, num(r, 1))           //   database_idx
        .string(2, "public")            //   schema_name
        .string(3, r.getString(2)))     //   relation_name
    }
    m.msg(6, refs)

    val act = ProtoWire.msg()           // 12 — CompactActivitySnapshot
      .msg(1, ProtoWire.msg()           //   1 PostgresVersion
        .string(1, PgVersionFull).varint(3, PgVersionNum))
    doc.backendRows.foreach { r =>      //   2 Backend
      val b = ProtoWire.msg()
        .varint(1, num(r, 0))           //     identity (deterministic: pid)
        .varint(2, num(r, 0))           //     pid
        .varint(3, 1L).varint(4, num(r, 1))
        .varint(5, 1L).varint(6, num(r, 2))
      if (!r.isNullAt(3)) {
        // query_text ships raw (query_text_normalized=false → elided)
        b.varint(7, 1L).varint(8, num(r, 3)).string(9, r.getString(4))
      }
      b.msg(15, ProtoWire.msg().varint(1, num(r, 5))) // query_start
        .varint(17, if (r.getBoolean(6)) 1L else 0L)  // waiting
        .string(18, r.getString(7))     //     state
        .string(19, r.getString(8))     //     wait_event_type
        .string(20, r.getString(9))     //     wait_event
        .string(21, r.getString(10))    //     backend_type
      act.msg(2, b)
    }
    doc.vacuumRows.foreach { r =>       //  10 VacuumProgressInformation
      act.msg(10, ProtoWire.msg()
        .varint(1, num(r, 0))           //     vacuum_identity (pid)
        .varint(2, num(r, 1))           //     role_idx
        .varint(3, num(r, 2))           //     database_idx
        .varint(4, num(r, 3))           //     relation_idx
        .varint(5, num(r, 0))           //     backend_identity
        .varint(7, 1L))                 //     autovacuum
    }
    doc.vacuumRows.foreach { r =>       //  11 VacuumProgressStatistic
      act.msg(11, ProtoWire.msg()
        .varint(1, num(r, 0))
        .varint(2, num(r, 5))           //     phase
        .varint(3, num(r, 6))           //     heap_blks_total
        .varint(4, num(r, 7)))          //     heap_blks_scanned
    }
    m.msg(12, act)
    m.toBytes
  }

  // ----------------------------------------------------------- decoding

  import ProtoWire.{VBytes, VInt, Value}

  private def sub(b: Array[Byte]): Map[Int, Seq[Value]] =
    ProtoWire.decode(b).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  private def vint(m: Map[Int, Seq[Value]], f: Int): Long =
    m.get(f).flatMap(_.headOption) match {
      case Some(VInt(v)) => v
      case _ => 0L
    }
  private def vstr(m: Map[Int, Seq[Value]], f: Int): String =
    m.get(f).flatMap(_.headOption) match {
      case Some(VBytes(b)) =>
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case _ => ""
    }
  private def vbytes(m: Map[Int, Seq[Value]], f: Int): Array[Byte] =
    m.get(f).flatMap(_.headOption) match {
      case Some(VBytes(b)) => b
      case _ => Array.empty
    }

  /** Document-level counts from a decoded, integrity-checked wire. */
  final case class DocCounts(nBackends: Long, nRoles: Long, nDbs: Long,
      nQueries: Long, nRels: Long, nVacuums: Long, sumHeapScanned: Long,
      collectedAtSecs: Long)

  private final case class Decoded(
      top: Map[Int, Value],
      act: Map[Int, Seq[Value]],
      roleRefs: Seq[Map[Int, Seq[Value]]], dbRefs: Seq[Map[Int, Seq[Value]]],
      qRefs: Seq[Map[Int, Seq[Value]]], backends: Seq[Map[Int, Seq[Value]]],
      counts: DocCounts)

  /** Decode + run every integrity require, Spark-free — the daemon
    * soak's per-tick wire check (180 activity ticks per 3-cycle soak
    * must not pay a scheduler round-trip each). */
  def decodeCounts(wire: Array[Byte]): DocCounts = decodeChecked(wire).counts

  private def decodeChecked(wire: Array[Byte]): Decoded = {
    val top = ProtoWire.decode(ProtoWire.unzlib(wire)).toMap
    def topBytes(f: Int): Array[Byte] = top.get(f) match {
      case Some(VBytes(b)) => b
      case _ => Array.empty
    }
    val refs = sub(topBytes(6)); val act = sub(topBytes(12))
    def msgsOf(m: Map[Int, Seq[Value]], f: Int): Seq[Map[Int, Seq[Value]]] =
      m.getOrElse(f, Nil).collect { case VBytes(b) => sub(b) }
    val roleRefs = msgsOf(refs, 1); val dbRefs = msgsOf(refs, 2)
    val qRefs = msgsOf(refs, 3); val qInfos = msgsOf(refs, 4)
    val relRefs = msgsOf(refs, 5)
    val backends = msgsOf(act, 2)
    val vacInfos = msgsOf(act, 10); val vacStats = msgsOf(act, 11)

    val (nRoles, nDbs, nQs, nRels) =
      (roleRefs.length.toLong, dbRefs.length.toLong, qRefs.length.toLong,
        relRefs.length.toLong)
    val (nBackends, nVacs) = (backends.length.toLong, vacInfos.length.toLong)

    require(nQs == qInfos.length,
      s"found ${qInfos.length} QueryInformations but $nQs QueryReferences")
    require(nVacs == vacStats.length,
      s"found ${vacStats.length} VacuumProgressStatistics but " +
        s"$nVacs VacuumProgressInformations")
    require(qRefs.forall { m =>
      val d = vint(m, 1); val r = vint(m, 2)
      d >= 1 && d <= nDbs && r >= 1 && r <= nRoles
    }, "query_references db/role idx out of range")
    require(relRefs.forall { m =>
      val d = vint(m, 1); d >= 1 && d <= nDbs
    }, "relation_references db idx out of range")
    require(backends.forall { m =>
      val roleOk = vint(m, 4) >= 1 && vint(m, 4) <= nRoles
      val dbOk = vint(m, 6) >= 1 && vint(m, 6) <= nDbs
      val qOk = vint(m, 7) == 0L ||
        (vint(m, 8) >= 1 && vint(m, 8) <= nQs)
      roleOk && dbOk && qOk
    }, "backend idx out of range")
    // every vacuum statistic's identity must resolve to an information
    val vacIds = vacInfos.map(vint(_, 1)).toSet
    require(vacStats.forall(m => vacIds.contains(vint(m, 1))),
      "vacuum statistic identity without information")
    require(vacInfos.forall { m =>
      vint(m, 4) >= 1 && vint(m, 4) <= nRels
    }, "vacuum relation idx out of range")

    val collectedAtSecs = top.get(5) match {
      case Some(VBytes(b)) => vint(sub(b), 1)
      case _ => 0L
    }
    val sumHeapScanned = vacStats.map(vint(_, 4)).sum
    Decoded(top, act, roleRefs, dbRefs, qRefs, backends,
      DocCounts(nBackends, nRoles, nDbs, nQs, nRels, nVacs,
        sumHeapScanned, collectedAtSecs))
  }

  /** Decode + verify; one output row per backend, resolved. */
  def decodeVerify(s: SparkSession, wire: Array[Byte]): DataFrame = {
    val d = decodeChecked(wire)
    import d.{act, backends, counts, dbRefs, qRefs, roleRefs}
    val DocCounts(nBackends, nRoles, nDbs, nQs, nRels, nVacs,
      sumHeapScanned, collectedAtSecs) = counts
    val pgv = act.getOrElse(1, Nil).headOption match {
      case Some(VBytes(b)) => vstr(sub(b), 1)
      case _ => ""
    }
    val roleNames = roleRefs.map(vstr(_, 1)).toIndexedSeq
    val dbNames = dbRefs.map(vstr(_, 1)).toIndexedSeq
    val fpByIdx = qRefs.map(r =>
      java.nio.ByteBuffer.wrap(vbytes(r, 3)).getLong).toIndexedSeq

    val rows = backends.map { m =>
      val hasQ = vint(m, 7) == 1L
      val qStart = m.get(15).flatMap(_.headOption) match {
        case Some(VBytes(b)) => vint(sub(b), 1)
        case _ => 0L
      }
      Row(
        vint(m, 2),
        roleNames((vint(m, 4) - 1).toInt),
        dbNames((vint(m, 6) - 1).toInt),
        hasQ,
        if (hasQ) fpByIdx((vint(m, 8) - 1).toInt) else null,
        if (hasQ) vstr(m, 9) else null,
        qStart, vint(m, 17) == 1L, vstr(m, 18), vstr(m, 19), vstr(m, 20),
        vstr(m, 21), pgv,
        nBackends, nRoles, nDbs, nQs, nRels, nVacs, sumHeapScanned,
        collectedAtSecs, true)
    }
    val schema = StructType(Seq(
      StructField("pid", LongType),
      StructField("rolname", StringType), StructField("datname", StringType),
      StructField("has_query", BooleanType),
      StructField("fingerprint", LongType),
      StructField("query_text", StringType),
      StructField("query_start_s", LongType),
      StructField("waiting", BooleanType),
      StructField("state", StringType),
      StructField("wait_event_type", StringType),
      StructField("wait_event", StringType),
      StructField("backend_type", StringType),
      StructField("pg_version", StringType),
      StructField("n_backends", LongType), StructField("n_roles", LongType),
      StructField("n_databases", LongType), StructField("n_queries", LongType),
      StructField("n_relations", LongType), StructField("n_vacuums", LongType),
      StructField("sum_heap_blks_scanned", LongType),
      StructField("collected_at_s", LongType),
      StructField("integrity_ok", BooleanType)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  /** The driver-gated entry: assemble → encode → zlib → decode → verify. */
  def e2e(s: SparkSession, dir: String): DataFrame =
    decodeVerify(s, ProtoWire.zlib(encode(assemble(s, dir))))
}
