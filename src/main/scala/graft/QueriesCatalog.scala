package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.CatalogSynth

/** Catalog-scan query surface (SURVEY §2.1 S3–S25 + the joins/aggs that
  * ride on it: J2/J4, A3/A4/A5, U2/U4, F2/F5/F12, T6). Sources are the
  * parquet-backed [[CatalogSynth]] stand-ins; every plan here is the
  * shape the reference's hand-written catalog SQL compiles to on a real
  * lake: pruned scans, broadcast dims, equi-joins on oid keys, map-side
  * partial aggregation.
  */
object QueriesCatalog {

  /** Schemas the system-catalog filter drops (F3). */
  private val SystemSchemas = Seq("pg_catalog", "pg_toast", "information_schema")

  // S3 — pg_stat_activity scan: projection + state filter.
  def s3ActivityScan(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.backends(s, dir)
      .filter(col("state") =!= "idle")
      .select("event_id", "pid", "db_oid", "usename", "state",
        "backend_type", "waiting")

  // S5 — vacuum progress ⨝ activity on pid (vacuum_progress.go:66-134).
  def s5VacuumProgress(s: SparkSession, dir: String): DataFrame = {
    val vac = CatalogSynth.vacuumProgress(s, dir)
    val who = CatalogSynth.backends(s, dir)
      .select("pid", "usename", "db_oid").distinct()
    vac.join(broadcast(who), Seq("pid"))
      .select("event_id", "pid", "usename", "db_oid", "relid", "phase",
        "heap_blks_total", "heap_blks_scanned")
  }

  // S11 + A3 + A4 + U1 — the 220-line relation-stats scan: base stats,
  // LATERAL index rollup (= groupBy+join), partition-size rollup, and
  // locked-relation placeholder rows unioned in.
  def s11RelationStats(s: SparkSession, dir: String): DataFrame = {
    val rels = CatalogSynth.relations(s, dir)
    val idxRollup = CatalogSynth.indexStats(s, dir)
      .groupBy(col("indrelid").as("rel_oid"))
      .agg(sum("idx_scan").as("idx_scan_sum"),
        sum("idx_tup_read").as("idx_tup_read_sum"),
        count(lit(1)).as("n_indexes"))
    val partRollup = rels
      .filter(col("parent_oid").isNotNull)
      .groupBy(col("parent_oid").as("rel_oid"))
      .agg(sum("reltuples").as("child_tuples"))
    val live = rels
      .filter(col("relkind").isin("r", "p") && !col("is_locked") &&
        !col("nspname").isin(SystemSchemas: _*))
      .join(idxRollup, Seq("rel_oid"), "left")
      .join(partRollup, Seq("rel_oid"), "left")
      .select(col("rel_oid"), col("nspname"), col("relname"), col("relkind"),
        col("reltuples"), col("relpages"),
        coalesce(col("idx_scan_sum"), lit(0L)).as("idx_scan_sum"),
        coalesce(col("idx_tup_read_sum"), lit(0L)).as("idx_tup_read_sum"),
        coalesce(col("n_indexes"), lit(0L)).as("n_indexes"),
        coalesce(col("child_tuples"), lit(0L)).as("child_tuples"))
    val locked = rels
      .filter(col("relkind").isin("r", "p") && col("is_locked") &&
        !col("nspname").isin(SystemSchemas: _*))
      .select(col("rel_oid"), col("nspname"), col("relname"), col("relkind"),
        lit(null).cast("long").as("reltuples"),
        lit(null).cast("long").as("relpages"),
        lit(null).cast("long").as("idx_scan_sum"),
        lit(null).cast("long").as("idx_tup_read_sum"),
        lit(null).cast("long").as("n_indexes"),
        lit(null).cast("long").as("child_tuples"))
    live.unionByName(locked)
  }

  // S17 + F12 + X16 — database stats with cloud-internal filter and
  // frozenxid age against a fixed current xid reading.
  def s17DatabaseStats(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.databases(s, dir)
      .filter(!col("datname").isin("rdsadmin", "azure_maintenance", "cloudsqladmin"))
      .select(col("db_oid"), col("datname"),
        (lit(2000000L) - col("frozenxid")).as("frozenxid_age"),
        (col("xact_commit") + col("xact_rollback")).as("xact_total"),
        col("temp_files"))

  // S22 — replication scan: per-standby lag (pg_wal_lsn_diff analogue).
  def s22ReplicationLag(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.replication(s, dir)
      .filter(col("state") === "streaming")
      .select(col("standby_name"), col("client_addr"),
        (col("sent_lsn") - col("replay_lsn")).as("lag_bytes"))

  // S23 + T4 — xmin-horizon top-1 per category (the five ORDER BY
  // age DESC LIMIT 1 subqueries, server_stats.go:27-79).
  def s23XminTop1(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("category")
      .orderBy(col("xmin_age").desc, col("holder"))
    CatalogSynth.xminHolders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("category", "holder", "xmin_age")
  }

  // J2 + F5 — stats ⨝ texts broadcast equi-join on the statement key,
  // with the collector-marker filter (querymarker.go:3).
  def j2StatsText(s: SparkSession, dir: String): DataFrame = {
    val stats = CatalogSynth.statementStats(s, dir)
    val texts = CatalogSynth.statementTexts(s, dir)
      .filter(!col("query").startsWith("/* pganalyze-collector */"))
    stats.join(broadcast(texts),
        Seq("db_oid", "user_oid", "query_id", "toplevel"))
      .select("db_oid", "user_oid", "query_id", "toplevel", "calls",
        "total_ms", "query")
  }

  // J4 + A5 + A8 — buffercache pages → bytes, relation lookup, and the
  // untracked residual per database.
  def j4BuffercacheResidual(s: SparkSession, dir: String): DataFrame = {
    val bytes = CatalogSynth.bufferCachePages(s, dir)
      .groupBy("db_oid", "filenode")
      .agg((count(lit(1)) * 8192).as("bytes"))
    val relIds = CatalogSynth.relations(s, dir)
      .select(col("rel_oid").as("filenode")).distinct()
      .withColumn("tracked", lit(1))
    bytes.join(broadcast(relIds), Seq("filenode"), "left")
      .groupBy("db_oid")
      .agg(
        coalesce(sum(when(col("tracked") === 1, col("bytes"))), lit(0L))
          .as("tracked_bytes"),
        coalesce(sum(when(col("tracked").isNull, col("bytes"))), lit(0L))
          .as("untracked_bytes"))
  }

  // U2 + U4 — per-database fan-out: one filtered scan per database
  // unioned (the reference reconnects per DB), then name dedup.
  def u2PerDbUnion(s: SparkSession, dir: String): DataFrame = {
    val rels = CatalogSynth.relations(s, dir)
    (0L until 3L)
      .map(d => rels.filter(col("db_oid") === d).select("db_oid", "relname"))
      .reduce(_.unionByName(_))
      .distinct()
  }

  // F2 — ignore_schema_regexp: case-insensitive regex over
  // schema.relname, pushed into every catalog scan (relations.go:50).
  def f2SchemaRegexp(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.relations(s, dir)
      .filter(!concat(col("nspname"), lit("."), col("relname"))
        .rlike("(?i)^(pg_catalog|pg_toast)\\."))
      .select("rel_oid", "nspname", "relname")

  // D4 — relation-stats diff with full fidelity: locked-row skip, gauge
  // carry, new-key diff-vs-zero, gauge-only first snapshot.
  def d4RelationDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.relationDiff(
      CatalogSynth.relationStatsTimeline(s, dir),
      keyCols = Seq("rel_oid"),
      snapCol = "snap",
      counterCols = Seq("seq_scan", "idx_scan"),
      gaugeCols = Seq("n_live_tup"),
      lockedCol = "locked")

  // S12 + D5 — index-stats diff: counters diffed, size carried as gauge.
  def d5IndexStatsDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.relationDiff(
      CatalogSynth.indexStatsTimeline(s, dir),
      keyCols = Seq("index_oid"), snapCol = "snap",
      counterCols = Seq("idx_scan", "idx_tup_read"),
      gaugeCols = Seq("size_bytes"), lockedCol = "locked")

  // S16 + D9 — function-stats diff (calls / total / self time).
  def d9FunctionStatsDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.counterDiff(
      CatalogSynth.functionStatsTimeline(s, dir),
      keyCols = Seq("func_oid"), orderCols = Seq("snap"),
      counterCols = Seq("calls", "total_time_ms", "self_time_ms"))
      .select(col("func_oid"), col("funcname"), col("snap"),
        col("calls_delta"), col("total_time_ms_delta"), col("self_time_ms_delta"))

  // S18 — roles scan with membership-array unpack (X15 reuse).
  def s18Roles(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.roles(s, dir)
      .withColumn("member_of_arr",
        graft.functions.PgFns.parseOidArray(col("member_of_raw")))
      .select(col("rol_oid"), col("rolname"), col("rolsuper"),
        col("rolcanlogin"),
        expr("array_join(cast(member_of_arr as array<string>), ',')").as("member_of"))

  // S19 — settings scan: non-default values only.
  def s19Settings(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.settings(s, dir)
      .filter(col("source") =!= "default")
      .select("name", "setting", "unit", "source")

  // S20 — custom-types scan: enum value arrays unpacked.
  def s20Types(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.types(s, dir)
      .select(col("typ_oid"), col("typname"), col("typtype"),
        when(col("enum_values_raw").isNotNull,
          array_join(
            split(regexp_replace(col("enum_values_raw"), "^\\{|\\}$", ""), ","),
            ","))
          .as("enum_values"))

  // S21 — extensions scan.
  def s21Extensions(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.extensions(s, dir)

  // S24 + D3 — pg_stat_io diff over (backend_type, object, context).
  def d3IoDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.counterDiff(
      CatalogSynth.statIoTimeline(s, dir),
      keyCols = Seq("backend_type", "object", "context"),
      orderCols = Seq("snap"),
      counterCols = Seq("reads", "writes"))
      .select(col("backend_type"), col("object"), col("context"), col("snap"),
        col("reads_delta"), col("writes_delta"))

  // A11 + D8 — pg_stat_statements_info diff (global key).
  def a11PgssInfoDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.counterDiff(
      CatalogSynth.pgssInfoTimeline(s, dir).withColumn("server", lit(1)),
      keyCols = Seq("server"), orderCols = Seq("snap"),
      counterCols = Seq("dealloc", "observed"))
      .select(col("snap"), col("dealloc_delta"), col("observed_delta"))

  // S7 + U1 — columns scan: three attributes per live relation, plus
  // locked-relation placeholder rows (relations.go:52-86,261-298).
  def s7Columns(s: SparkSession, dir: String): DataFrame = {
    val rels = CatalogSynth.relations(s, dir)
      .filter(col("relkind").isin("r", "p") &&
        !col("nspname").isin(SystemSchemas: _*))
    val live = rels.filter(!col("is_locked"))
      .select(col("rel_oid"), explode(sequence(lit(1), lit(3))).as("attnum"))
      .select(col("rel_oid"), col("attnum"),
        concat(lit("c"), col("attnum")).as("attname"),
        expr("CASE attnum % 3 WHEN 0 THEN 'int8' WHEN 1 THEN 'text' " +
          "ELSE 'timestamptz' END").as("atttype"))
    val locked = rels.filter(col("is_locked"))
      .select(col("rel_oid"), lit(null).cast("int").as("attnum"),
        lit(null).cast("string").as("attname"),
        lit(null).cast("string").as("atttype"))
    live.unionByName(locked)
  }

  // S14 — column-statistics scan (pg_stats: null_frac/avg_width/
  // n_distinct/correlation per column).
  def s14ColumnStats(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey").as("rel_oid"), col("p_size"),
        explode(sequence(lit(1), lit(3))).as("attnum"))
      .select(col("rel_oid"), col("attnum"),
        (col("p_size") % 10).cast("double") / 10.0 as "null_frac",
        (col("attnum") * 4).as("avg_width"),
        expr("CASE WHEN p_size % 2 = 0 THEN -1.0 " +
          "ELSE CAST(p_size * 10 AS DOUBLE) END").as("n_distinct"),
        (col("p_size") % 100).cast("double") / 100.0 as "correlation")

  // S13 — Citus size fallback: distributed tables report sizes via the
  // citus path, locals via pg_table_size (relation_stats_aux.go:11-141).
  def s13CitusSizes(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.relations(s, dir)
      .filter(col("relkind") === "r")
      .withColumn("is_distributed", col("rel_oid") % 13 === 0)
      .select(col("rel_oid"), col("is_distributed"),
        when(col("is_distributed"), col("reltuples") * 64)
          .otherwise(col("relpages") * 8192).as("size_bytes"))

  // J6 — plan-stats → query-idx join: per-plan rows resolve their query
  // reference through the snapshot query dimension
  // (output/transform/postgres_plans.go:1-169).
  def j6PlanIdxJoin(s: SparkSession, dir: String): DataFrame = {
    val snap = graft.sinks.SnapshotSink.assemble(s, dir)
    val plans = CatalogSynth.statementStats(s, dir)
      .select(col("query_id"), (col("query_id") % 7).as("plan_id"),
        col("calls").as("plan_calls"))
      .distinct()
    plans.join(broadcast(snap.queryDim), Seq("query_id"))
      .select("query_id_idx", "plan_id", "plan_calls")
  }

  // S8 — indexes catalog scan: metadata with the indexed-column
  // int2vector unpacked (relations.go:88-133).
  def s8Indexes(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_partkey") % 2 === 0)
      .select(
        (col("p_partkey") + 1000000).as("index_oid"),
        expr("(p_partkey div 3) * 3").as("indrelid"),
        concat(lit("idx_"), col("p_partkey")).as("indexname"),
        (col("p_partkey") % 6 === 0).as("is_unique"),
        (col("p_partkey") % 12 === 0).as("is_primary"),
        concat(lit("1 "), (col("p_partkey") % 3 + 2)).as("indkey_raw"))
      // int2vector unpack, then re-projected to a driver-sortable scalar
      // (the comparison harness cannot sort array cells).
      .withColumn("indkey_arr",
        graft.functions.PgFns.parseIntVector(col("indkey_raw")))
      .withColumn("indkey",
        expr("array_join(cast(indkey_arr as array<string>), ',')"))
      .drop("indkey_raw", "indkey_arr")

  // S9 — constraints scan: FK constraints with column-number arrays
  // (relations.go:135-170).
  def s9Constraints(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_partkey") % 4 === 2)
      .withColumn("conkey_arr", graft.functions.PgFns.parseOidArray(
        concat(lit("{"), col("p_partkey") % 3 + 1, lit("}"))))
      .select(
        (col("p_partkey") + 2000000).as("con_oid"),
        col("p_partkey").as("rel_oid"),
        concat(lit("fk_"), col("p_partkey")).as("conname"),
        expr("CASE p_partkey % 3 WHEN 0 THEN 'f' WHEN 1 THEN 'u' ELSE 'c' END")
          .as("contype"),
        // oid-array unpack re-projected scalar for the driver comparator
        expr("array_join(cast(conkey_arr as array<string>), ',')").as("conkey"),
        when(col("p_partkey") % 3 === 0, expr("(p_partkey div 7) * 7"))
          .as("confrelid"))

  // S10 — view-definition scan (pg_get_viewdef for relkind v/m,
  // relations.go:172-190).
  def s10Views(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.relations(s, dir)
      .filter(col("relkind") === "v" &&
        !col("nspname").isin(SystemSchemas: _*))
      .select(col("rel_oid"), col("nspname"), col("relname"),
        concat(lit("SELECT * FROM base_"), col("rel_oid")).as("viewdef"))

  // S34 + A6 — OS metrics scan with CPU % normalization
  // (state/system.go:318-347): counters become percentages of total.
  def s34OsMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy((col("user_id") % 7).as("host_id"))
      .agg(
        sum(expr("CAST(floor(value * 10) AS BIGINT)")).as("cpu_user"),
        sum(expr("CAST(floor(value * 3) AS BIGINT)")).as("cpu_system"),
        sum(expr("CAST(floor(value * 20) AS BIGINT)")).as("cpu_idle"))
      .withColumn("total",
        col("cpu_user") + col("cpu_system") + col("cpu_idle"))
      .select(col("host_id"),
        (col("cpu_user").cast("double") / col("total")).as("user_pct"),
        (col("cpu_system").cast("double") / col("total")).as("system_pct"),
        (col("cpu_idle").cast("double") / col("total")).as("idle_pct"))

  // S34/RDS — enhanced-monitoring ingestion: the CloudWatch
  // RDSOSMetrics JSON envelope (RdsOsSnapshot) parsed and flattened
  // with the reference's exact mapping (input/system/rds/system.go:
  // 159-253): ×1024 KiB scaling, swap_used = total − free, rdsdev-only
  // disk utilization, and the Aurora /rdsdbdata override
  // (VolumeBytesUsed against the fixed 128 TiB ceiling). The envelope
  // is synthesized per server from the generation rule the oracle
  // re-derives; the adapter does real from_json work behind the
  // parse-once fence.
  def s34RdsEnhanced(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.part(s, dir).select(col("p_partkey").as("pk"))
      .filter(col("pk") % 10 === 0)
      .withColumn("server_id", col("pk"))
      .withColumn("is_aurora", col("pk") % 3 === 0)
      .withColumn("aurora_volume_used", col("pk") * 1048576L)
    val payload = to_json(struct(
      concat(lit("db-"), col("pk")).as("instanceID"),
      (col("pk") % 15 + 1).cast("int").as("numVCPUs"),
      struct(
        lit(0.0).as("guest"),
        (expr("CAST(pk % 40 AS DOUBLE)") + 0.25).as("idle"),
        lit(0.5).as("irq"), lit(1.0).as("nice"), lit(0.0).as("steal"),
        expr("CAST(pk % 20 AS DOUBLE) / 4").as("system"),
        expr("CAST(pk % 100 AS DOUBLE) / 2").as("user"),
        expr("CAST(pk % 10 AS DOUBLE) / 2").as("wait")).as("cpuUtilization"),
      struct(
        expr("CAST(pk % 16 AS DOUBLE) / 8").as("one"),
        expr("CAST(pk % 12 AS DOUBLE) / 4").as("five"),
        expr("CAST(pk % 8 AS DOUBLE) / 2").as("fifteen"))
        .as("loadAverageMinute"),
      struct(
        (col("pk") % 9999).as("active"), (col("pk") % 777).as("buffers"),
        (col("pk") % 100000 * 3).as("cached"), (col("pk") % 55).as("dirty"),
        (col("pk") % 100000).as("free"),
        (lit(16000000L) + col("pk")).as("total"),
        (col("pk") % 11).as("writeback")).as("memory"),
      struct((col("pk") % 100).as("cached"),
        (lit(4000000L) - col("pk") % 50000).as("free"),
        lit(4000000L).as("total")).as("swap"),
      array(struct(lit("eth0").as("interface"))).as("network"),
      array(
        struct(lit("rdsdev").as("device"),
          expr("CAST(pk % 100 AS DOUBLE) / 4").as("util")),
        struct(lit("filesystem").as("device"), lit(0.0).as("util")))
        .as("diskIO"),
      array(
        struct(lit("rdsfilesys").as("name"),
          lit("/rdsdbdata").as("mountPoint"),
          ((col("pk") % 50 + 10) * 100000L).as("used"),
          lit(10000000L).as("total")),
        struct(lit("tmpfs0").as("name"), lit("/tmp").as("mountPoint"),
          (col("pk") % 4096).as("used"), lit(4096L).as("total")))
        .as("fileSys")))
    graft.sources.CloudLogs.rdsEnhanced(
      base.withColumn("payload", payload)
        .select("server_id", "is_aurora", "aurora_volume_used", "payload"),
      "payload")
      .drop("aurora_volume_used")
  }

  // S34/Crunchy — managed-provider metrics-API ingestion
  // (input/system/crunchy_bridge/client.go:149-207, system.go:38-70):
  // each metric arrives as a time series and is consumed as the
  // AVERAGE of its points, and idle CPU is not reported — the
  // reference derives it as the residual 100 − iowait − system − user
  // − steal (system.go:55-57, left-to-right). Points are integerized
  // (centi-percent) so the per-metric average is one exact-integer sum
  // divided once — no float-accumulation-order hazard. One shuffle on
  // (server, metric), k-row after.
  def s34ProviderMetrics(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select((col("user_id") % 5).as("server_id"),
        when(col("event_type") === "click", "cpu_iowait")
          .when(col("event_type") === "view", "cpu_system")
          .when(col("event_type") === "purchase", "cpu_user")
          .when(col("event_type") === "signup", "cpu_steal")
          .otherwise("mem_used_pct").as("metric"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cp"))
    def avgOf(m: String): org.apache.spark.sql.Column =
      (sum(when(col("metric") === m, col("cp"))).cast("double") /
        sum(when(col("metric") === m, 1).otherwise(0))) / 100.0
    val agg = e.groupBy("server_id").agg(
      avgOf("cpu_iowait").as("iowait_pct"),
      avgOf("cpu_system").as("system_pct"),
      avgOf("cpu_user").as("user_pct"),
      avgOf("cpu_steal").as("steal_pct"),
      avgOf("mem_used_pct").as("mem_used_pct"))
    agg.withColumn("idle_pct",
      lit(100.0) - col("iowait_pct") - col("system_pct") - col("user_pct")
        - col("steal_pct"))
  }

  /** S34 LIVE — the real /proc leg (`input/system/selfhosted/system.go`
    * reads these exact files via gopsutil). Two hosts ride one spool →
    * parse → D7-diff pipeline:
    *
    *  - `synth`: /proc documents RENDERED from part-derived formulas
    *    (capped at 32 cpus / 8 devices — a host has a fixed core
    *    count; SF-independent like configReadIni) and pushed through
    *    the real [[graft.sources.ProcMetrics]] sampler/parser; the
    *    oracle re-derives every delta from the same formulas, so a
    *    field-offset slip, a missed ×512/×1024 scaling, or a broken
    *    noise-line filter hash-fails.
    *  - `live`: THIS machine's /proc sampled twice through the same
    *    code path, reduced to monotonicity/stability invariants that
    *    are deterministic when (and only when) the live leg works —
    *    counters non-decreasing, MemTotal stable, core count stable —
    *    enforced with require() and emitted as constant rows.
    */
  def s34Live(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ProcMetrics
    val pks = Tables.part(s, dir).select(col("p_partkey").cast("long"))
      .orderBy("p_partkey").limit(32).collect().map(_.getLong(0))
    val diskPks = pks.take(8)

    def statDoc(tick: Int): String = {
      val sb = new StringBuilder
      sb ++= "cpu  999999 0 888888 777777 0 0 0 0 0 0\n" // aggregate: skipped
      pks.foreach { pk =>
        val t = tick.toLong
        sb ++= s"cpu$pk ${pk * 100 + 17 + t * (pk * 11)} ${pk * 3 + t} " +
          s"${pk * 40 + 5 + t * (pk * 2)} ${pk * 1000 + t * (pk * 100)} " +
          s"${pk * 7 + t * 3} ${pk + 0} ${2 * pk + t * (pk % 3)} " +
          s"${pk % 5} 0 0\n"
      }
      sb ++= "intr 123456 0 0\nctxt 987654\nbtime 1700000000\n" +
        "processes 4242\nprocs_running 3\nprocs_blocked 0\n" // noise: skipped
      sb.toString()
    }
    def diskDoc(tick: Int): String = {
      val t = tick.toLong
      diskPks.map { pk =>
        s"   8 $pk dev$pk ${pk * 50 + t * (pk * 5)} $pk " +
          s"${pk * 800 + t * (pk * 16)} ${pk * 20 + t * pk} " +
          s"${pk * 30 + t * (pk * 3)} ${2 * pk + t} " +
          s"${pk * 600 + t * (pk * 8)} ${pk * 25 + t * 2} $t " +
          s"${pk * 40 + t * pk} ${pk * 45 + t * (pk + 2)} 0 0 0 0"
      }.mkString("", "\n", "\n")
    }
    def memDoc(tick: Int): String =
      if (tick == 0)
        "MemTotal:       32768000 kB\nMemFree:        16000000 kB\n" +
          "MemAvailable:   24000000 kB\nBuffers:          200000 kB\n" +
          "Cached:          8000000 kB\nActive:          9000000 kB\n" +
          "Inactive:        5000000 kB\nSwapTotal:       2097152 kB\n" +
          "SwapFree:        2000000 kB\nHugePages_Total:       0\n"
      else
        "MemTotal:       32768000 kB\nMemFree:        15900000 kB\n" +
          "MemAvailable:   23900000 kB\nBuffers:          201000 kB\n" +
          "Cached:          8010000 kB\nActive:          9010000 kB\n" +
          "Inactive:        5005000 kB\nSwapTotal:       2097152 kB\n" +
          "SwapFree:        1999000 kB\nHugePages_Total:       0\n"
    def netDoc(tick: Int): String = {
      val (r, x) = if (tick == 0) (1000000L, 500000L) else (1003456L, 500789L)
      "Inter-|   Receive                                                |  Transmit\n" +
        " face |bytes    packets errs drop fifo frame compressed multicast|bytes    packets errs drop fifo colls carrier compressed\n" +
        "    lo: 555 10 0 0 0 0 0 0 555 10 0 0 0 0 0 0\n" + // loopback: skipped
        "  ifb0: 0 0 0 0 0 0 0 0 0 0 0 0 0 0 0 0\n" +       // all-zero: skipped
        s"  eth0: $r 800 0 0 0 0 0 0 $x 600 0 0 0 0 0 0\n"
    }
    def loadDoc(tick: Int): String =
      if (tick == 0) "9.99 9.98 9.97 1/1 1\n" else "1.25 0.75 0.50 2/300 999\n"

    val spool = java.nio.file.Paths.get(Harness.scratch("graft_proc_live"))
    (0 to 1).foreach { t =>
      ProcMetrics.spoolSample(spool, "synth", t, Map(
        "stat" -> statDoc(t), "meminfo" -> memDoc(t),
        "diskstats" -> diskDoc(t), "netdev" -> netDoc(t),
        "loadavg" -> loadDoc(t)))
      ProcMetrics.spoolSample(spool, "live", t, ProcMetrics.sample())
      if (t == 0) Thread.sleep(100) // let live counters advance a tick
    }

    import graft.operators.Diff.counterDiff
    val raw = ProcMetrics.readSpool(s, spool)
    val cpuCols = Seq("user", "nice", "system", "idle", "iowait", "irq",
      "softirq", "steal", "guest", "guest_nice")
    val diskCols = Seq("reads_completed", "reads_merged", "sectors_read",
      "read_time_ms", "writes_completed", "writes_merged",
      "sectors_written", "write_time_ms", "io_time_ms", "weighted_io_ms")
    // handleResets=false: a live counter regression must surface as a
    // NEGATIVE delta (invariant failure), not be masked as a rebaseline
    val cpuD = counterDiff(ProcMetrics.cpuTicks(raw),
      Seq("host", "cpu"), Seq("tick"), cpuCols, handleResets = false)
      .filter(col("tick") === 1)
    val diskD = counterDiff(ProcMetrics.diskStats(raw),
      Seq("host", "dev"), Seq("tick"), diskCols, handleResets = false)
      .filter(col("tick") === 1)
    val netD = counterDiff(ProcMetrics.netDev(raw),
      Seq("host", "iface"), Seq("tick"), Seq("bytes_recv", "bytes_sent"),
      handleResets = false)
      .filter(col("tick") === 1)
    val mem = ProcMetrics.memInfo(raw)
    val load1 = ProcMetrics.loadAvg(raw).filter(col("tick") === 1)

    // ---- live invariants (each require = the leg actually worked) ----
    val cpuBase = ProcMetrics.cpuTicks(raw).filter(col("host") === "live")
    val Array(c0, c1) = Array(0, 1).map(t =>
      cpuBase.filter(col("tick") === t).count())
    require(c0 >= 1 && c0 == c1, s"live core count unstable: $c0 vs $c1")
    val cpuMin = cpuD.filter(col("host") === "live")
      .agg(least(cpuCols.map(c => min(col(s"${c}_delta"))): _*)).head.getLong(0)
    require(cpuMin >= 0, s"live cpu counters regressed: $cpuMin")
    val memTotals = mem.filter(col("host") === "live" && col("key") === "MemTotal")
      .select("bytes").collect().map(_.getLong(0))
    require(memTotals.length == 2 && memTotals.distinct.length == 1 &&
      memTotals.head > 0, s"live MemTotal unstable: ${memTotals.toSeq}")
    val diskMin = diskD.filter(col("host") === "live")
      .agg(coalesce(least(diskCols.map(c => min(col(s"${c}_delta"))): _*),
        lit(0L))).head.getLong(0)
    require(diskMin >= 0, s"live disk counters regressed: $diskMin")
    val netMin = netD.filter(col("host") === "live")
      .agg(coalesce(least(min(col("bytes_recv_delta")),
        min(col("bytes_sent_delta"))), lit(0L))).head.getLong(0)
    require(netMin >= 0, s"live net counters regressed: $netMin")
    val loads = ProcMetrics.loadAvg(raw).filter(col("host") === "live")
      .collect()
    require(loads.length == 2 && loads.forall(r =>
      r.getDouble(2) >= 0 && r.getDouble(3) >= 0 && r.getDouble(4) >= 0),
      "live loadavg parse failed")

    // ---- output rows ----
    def metricRows(df: DataFrame, dev: org.apache.spark.sql.Column,
        ms: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
      df.filter(col("host") === "synth")
        .select(lit("synth").as("src"), dev.as("dev"),
          inline(array(ms.map { case (m, v) =>
            struct(lit(m).as("metric"), v.cast("double").as("value"))
          }: _*)))
    val cpuOut = metricRows(cpuD, col("cpu"), Seq(
      "cpu_user_s" -> col("user_delta") / 100.0,
      "cpu_nice_s" -> col("nice_delta") / 100.0,
      "cpu_system_s" -> col("system_delta") / 100.0,
      "cpu_idle_s" -> col("idle_delta") / 100.0,
      "cpu_iowait_s" -> col("iowait_delta") / 100.0,
      "cpu_irq_s" -> col("irq_delta") / 100.0,
      "cpu_softirq_s" -> col("softirq_delta") / 100.0,
      "cpu_steal_s" -> col("steal_delta") / 100.0))
    val diskOut = metricRows(diskD, col("dev"), Seq(
      "reads_completed" -> col("reads_completed_delta"),
      "reads_merged" -> col("reads_merged_delta"),
      "bytes_read" -> col("sectors_read_delta") * 512L,
      "read_time_ms" -> col("read_time_ms_delta"),
      "writes_completed" -> col("writes_completed_delta"),
      "writes_merged" -> col("writes_merged_delta"),
      "bytes_written" -> col("sectors_written_delta") * 512L,
      "write_time_ms" -> col("write_time_ms_delta"),
      "avg_queue_size" -> col("in_progress"),
      "io_time_ms" -> col("io_time_ms_delta"),
      "weighted_io_ms" -> col("weighted_io_ms_delta")))
    val netOut = metricRows(netD, col("iface"), Seq(
      "bytes_recv" -> col("bytes_recv_delta"),
      "bytes_sent" -> col("bytes_sent_delta")))
    def kb(key: String) = max(when(col("key") === key, col("bytes")))
    val memOut = metricRows(
      mem.filter(col("tick") === 1).groupBy("host").agg(
        kb("MemTotal").as("t"), kb("MemFree").as("f"),
        kb("MemAvailable").as("av"), kb("Buffers").as("b"),
        kb("Cached").as("c"), kb("Active").as("a"),
        kb("Inactive").as("i"), kb("SwapTotal").as("st"),
        kb("SwapFree").as("sf")),
      lit("mem"), Seq(
        "total_bytes" -> col("t"), "free_bytes" -> col("f"),
        "available_bytes" -> col("av"), "buffers_bytes" -> col("b"),
        "cached_bytes" -> col("c"), "active_bytes" -> col("a"),
        "inactive_bytes" -> col("i"), "swap_total_bytes" -> col("st"),
        "swap_used_bytes" -> (col("st") - col("sf"))))
    val loadOut = metricRows(load1, lit("host"), Seq(
      "loadavg_1min" -> col("loadavg_1min"),
      "loadavg_5min" -> col("loadavg_5min"),
      "loadavg_15min" -> col("loadavg_15min")))
    val liveOut = s.createDataFrame(Seq(
      ("live", "host", "ticks", 2.0),
      ("live", "host", "cpu_monotonic_ok", 1.0),
      ("live", "host", "cpu_cores_stable_ok", 1.0),
      ("live", "host", "mem_total_stable_ok", 1.0),
      ("live", "host", "disk_monotonic_ok", 1.0),
      ("live", "host", "net_monotonic_ok", 1.0),
      ("live", "host", "loadavg_ok", 1.0)))
      .toDF("src", "dev", "metric", "value")
    cpuOut.union(diskOut).union(netOut).union(memOut)
      .union(loadOut).union(liveOut)
  }

  /** S34/Azure — Azure Monitor system metrics
    * ([[graft.sources.AzureMonitor]], `input/system/azure/system.go`):
    * a 12-server fleet (part-seeded; pk % 3 == 0 are Cosmos clusters,
    * the rest Flexible Servers) is served by an in-process ARM +
    * Monitor double behind the real AAD client-credentials chain. Per
    * monitored server the client pages the Flexible list (match by
    * name), falls back to the Cosmos `serverGroupsv2` list, then pulls
    * the 1-min metric averages — the full 11-name set on Flexible, the
    * base 5 on Cosmos — and the metric → system-state mapping (uint64/
    * int32 truncs, the ÷60 network scaling, the storage ceiling by
    * resolve-time type, the empty-series skip that leaves the zero
    * default) runs DISTRIBUTED over the per-server responses.
    * Asserted in-entry: a forged bearer is 401, an unknown server name
    * resolves to the reference's warning, and the Flexible list
    * actually paged. */
  def s34AzureMetrics(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{AzureAad, AzureMonitor}
    val pks = Tables.part(s, dir).select(col("p_partkey").cast("long"))
      .orderBy("p_partkey").limit(12).collect().map(_.getLong(0)).toSeq
    val sub = "sub-1"
    def rid(pk: Long, tpe: String) =
      s"/subscriptions/$sub/resourceGroups/rg-${pk % 4}/providers/" +
        s"Microsoft.DBforPostgreSQL/$tpe/azdb-$pk"
    val flexPks = pks.filter(_ % 3 != 0)
    val cosmosPks = pks.filter(_ % 3 == 0)
    val flexJson = flexPks.map { pk =>
      val src = if (pk % 5 == 0)
        s""","sourceServerResourceID":"/subscriptions/$sub/resourceGroups/rg-src/providers/Microsoft.DBforPostgreSQL/flexibleServers/azdb-src-$pk""""
      else ""
      s"""{"id":"${rid(pk, "flexibleServers")}","location":"eastus",
         |"sku":{"name":"Standard_D4s_v3"},
         |"systemData":{"createdAt":"2023-01-01T00:00:00Z"},
         |"properties":{"state":"Ready",
         |"storage":{"storageSizeGB":${pk % 7 + 1}},
         |"maintenanceWindow":{"customWindow":"Enabled","dayOfWeek":0,
         |"startHour":3,"startMinute":30},
         |"highAvailability":{"mode":"ZoneRedundant","state":"Healthy"}
         |$src}}""".stripMargin.replace("\n", "")
    }
    val cosmosJson = cosmosPks.map { pk =>
      s"""{"id":"${rid(pk, "serverGroupsv2")}","location":"eastus",
         |"systemData":{"createdAt":"2023-01-01T00:00:00Z"},
         |"properties":{"state":"Ready","citusVersion":"12.1",
         |"enableHa":${pk % 2 == 0},
         |"coordinatorStorageQuotaInMb":${(pk % 9 + 1) * 1024},
         |"nodeStorageQuotaInMb":524288,"nodeCount":${pk % 5 + 1},
         |"coordinatorVCores":4,"nodeVCores":8}}""".stripMargin
        .replace("\n", "")
    }
    // per-resource 1-min averages, all pk-derived and float-exact; on
    // Flexible pk % 4 == 0 the read_iops series has NO points (skip)
    val metricsMap: Map[String, Map[String, Option[Double]]] =
      (flexPks.map { pk =>
        rid(pk, "flexibleServers") -> Map(
          "cpu_percent" -> Some((pk % 80) / 2.0 + 0.25),
          "memory_percent" -> Some((pk % 100).toDouble),
          "network_bytes_egress" -> Some((pk * 600).toDouble),
          "network_bytes_ingress" -> Some((pk * 1260).toDouble),
          "storage_used" -> Some(((pk % 50 + 10) * 100000000L).toDouble),
          "txlogs_storage_used" -> Some((pk * 1000 + 512).toDouble),
          "read_iops" ->
            (if (pk % 4 == 0) None else Some((pk % 97) + 0.5)),
          "write_iops" -> Some((pk % 89) + 0.25),
          "disk_queue_depth" -> Some((pk % 31) + 0.75),
          "read_throughput" -> Some(pk * 3.5),
          "write_throughput" -> Some(pk * 2.25))
      } ++ cosmosPks.map { pk =>
        rid(pk, "serverGroupsv2") -> Map(
          "cpu_percent" -> Some((pk % 80) / 2.0 + 0.25),
          "memory_percent" -> Some((pk % 100).toDouble),
          "network_bytes_egress" -> Some((pk * 600).toDouble),
          "network_bytes_ingress" -> Some((pk * 1260).toDouble),
          "storage_used" -> Some(((pk % 50 + 10) * 100000000L).toDouble))
      }).toMap
    val aad = new AzureAad.TokenEndpoint("tenant-1", "client-1",
      clientSecret = "az-secret-1")
    val ep = new AzureMonitor.Endpoint(aad.isValid, sub, flexJson,
      cosmosJson, metricsMap)
    val rows =
      try {
        val fetcher = new AzureAad.TokenFetcher(aad.tokenUrl, "client-1",
          "https://management.azure.com/.default",
          clientSecret = "az-secret-1")
        val c = new AzureMonitor.Client(ep.url, () => fetcher.bearer())
        // a forged bearer is refused before any data
        val bad = new AzureMonitor.Client(ep.url, () => Right("forged"))
        require(bad.listFlexibleServers(sub).left.exists(_.contains("401")),
          "forged bearer must be 401")
        // an unknown server name is the reference's resolve-miss warning
        require(c.resolve(sub, "azdb-missing")
          .left.exists(_ == "unable to find the database server info"),
          "unknown server must be a resolve miss")
        pks.map { pk =>
          val info = c.resolve(sub, s"azdb-$pk")
            .fold(e => throw new IllegalStateException(e), identity)
          val body = c.queryMetrics(info.resourceId, c.metricNames(info))
            .fold(e => throw new IllegalStateException(e), identity)
          org.apache.spark.sql.Row(
            s"azdb-$pk", info.resourceType, info.clusterId, info.location,
            if (info.isFlexible) info.skuName else null,
            if (info.isFlexible) null else info.citusVersion,
            if (info.isFlexible) null
            else java.lang.Long.valueOf(info.nodeCount.toLong),
            if (info.isFlexible) info.haMode else null,
            if (info.isFlexible) null
            else java.lang.Boolean.valueOf(info.haEnabled),
            info.storageTotalBytes, body)
        }
      } finally { ep.stop(); aad.stop() }
    require(ep.flexPageCalls > pks.length + 2,
      s"the Flexible list must page, got ${ep.flexPageCalls} page calls")
    require(ep.metricCalls == pks.length,
      s"one metrics query per server, got ${ep.metricCalls}")
    import org.apache.spark.sql.types._
    val driverSchema = StructType(Seq(
      StructField("server_name", StringType),
      StructField("resource_type", StringType),
      StructField("cluster_id", StringType),
      StructField("location", StringType),
      StructField("sku_name", StringType),
      StructField("citus_version", StringType),
      StructField("node_count", LongType),
      StructField("ha_mode", StringType),
      StructField("ha_enabled", BooleanType),
      StructField("disk_total_bytes", LongType),
      StructField("metrics_json", StringType)))
    import scala.jdk.CollectionConverters._
    val raw = s.createDataFrame(rows.asJava, driverSchema)
    // ---- distributed: metric response JSON → system-state mapping ----
    val mSchema = "STRUCT<value: ARRAY<STRUCT<name: STRUCT<value: STRING>," +
      " timeseries: ARRAY<STRUCT<data: ARRAY<STRUCT<average: DOUBLE>>>>>>>"
    val dims = Seq("server_name", "resource_type", "cluster_id", "location",
      "sku_name", "citus_version", "node_count", "ha_mode", "ha_enabled",
      "disk_total_bytes")
    val exploded = raw
      .select(dims.map(col) :+
        explode(from_json(col("metrics_json"), mSchema,
          Map.empty[String, String]).getField("value")).as("m"): _*)
      .select(dims.map(col) :+ col("m.name.value").as("metric") :+
        // getFirstMetricValue: timeseries[0].data[0].average — `get()`
        // yields NULL on an empty series (the skip case) where [0]
        // would throw under ANSI
        get(get(col("m.timeseries"), lit(0)).getField("data"), lit(0))
          .getField("average").as("avg"): _*)
    def m(name: String) = max(when(col("metric") === name, col("avg")))
    val isFlex = col("resource_type") === "flexibleServers"
    exploded.groupBy(dims.map(col): _*).agg(
      m("cpu_percent").as("cpu_user_percent"),
      m("txlogs_storage_used").as("xlog_avg"),
      m("network_bytes_egress").as("tx_avg"),
      m("network_bytes_ingress").as("rx_avg"),
      m("read_iops").as("riops"), m("write_iops").as("wiops"),
      m("disk_queue_depth").as("qd"),
      m("read_throughput").as("rtput"), m("write_throughput").as("wtput"),
      m("storage_used").as("used_avg"))
      .select(col("server_name"), col("resource_type"), col("cluster_id"),
        col("location"), col("sku_name"), col("citus_version"),
        col("node_count"), col("ha_mode"), col("ha_enabled"),
        col("cpu_user_percent"),
        when(isFlex, floor(coalesce(col("xlog_avg"), lit(0.0)))
          .cast("long")).as("xlog_used_bytes"),
        floor(coalesce(col("tx_avg"), lit(0.0)) / 60).cast("long")
          .as("tx_bytes_per_s"),
        floor(coalesce(col("rx_avg"), lit(0.0)) / 60).cast("long")
          .as("rx_bytes_per_s"),
        when(isFlex, coalesce(col("riops"), lit(0.0))).as("read_iops"),
        when(isFlex, coalesce(col("wiops"), lit(0.0))).as("write_iops"),
        when(isFlex, floor(coalesce(col("qd"), lit(0.0))).cast("long"))
          .as("avg_queue_size"),
        when(isFlex, coalesce(col("rtput"), lit(0.0)))
          .as("read_bytes_per_s"),
        when(isFlex, coalesce(col("wtput"), lit(0.0)))
          .as("write_bytes_per_s"),
        floor(coalesce(col("used_avg"), lit(0.0))).cast("long")
          .as("disk_used_bytes"),
        col("disk_total_bytes"))
  }

  // S15 — extended-statistics scan (pg_statistic_ext: kinds arrays).
  def s15ExtStats(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_partkey") % 9 === 0)
      .select(
        (col("p_partkey") + 3000000).as("stx_oid"),
        col("p_partkey").as("rel_oid"),
        concat(lit("stx_"), col("p_partkey")).as("stxname"),
        array_join(
          split(expr("CASE p_partkey % 3 WHEN 0 THEN 'd,f,m' WHEN 1 THEN 'd,f' " +
            "ELSE 'd' END"), ","), ",").as("kinds"))

  // D2 — plan-stats diff: per (query, plan) counters over snapshots.
  def d2PlanStatsDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.counterDiff(
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_size"),
          explode(sequence(lit(0L), lit(2L))).as("snap"))
        .select(
          (col("p_partkey") % 500).as("query_id"),
          (col("p_partkey") % 7).as("plan_id"),
          col("snap"),
          (col("p_size") * 2 * (col("snap") + 1)).as("calls"),
          (col("p_size") * 9 * (col("snap") + 1)).as("total_ms"))
        .groupBy("query_id", "plan_id", "snap")
        .agg(sum("calls").as("calls"), sum("total_ms").as("total_ms")),
      keyCols = Seq("query_id", "plan_id"), orderCols = Seq("snap"),
      counterCols = Seq("calls", "total_ms"))
      .select(col("query_id"), col("plan_id"), col("snap"),
        col("calls_delta"), col("total_ms_delta"))

  // D6 — database-stats diff (xact commit/rollback per database).
  def d6DatabaseStatsDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diff.counterDiff(
      Tables.nation(s, dir)
        .select(col("n_nationkey"),
          explode(sequence(lit(0L), lit(2L))).as("snap"))
        .select(
          col("n_nationkey").cast("long").as("db_oid"),
          col("snap"),
          (col("n_nationkey") * 977L * (col("snap") + 1)).as("xact_commit"),
          (col("n_nationkey") * 131L * (col("snap") + 1)).as("xact_rollback")),
      keyCols = Seq("db_oid"), orderCols = Seq("snap"),
      counterCols = Seq("xact_commit", "xact_rollback"))
      .select(col("db_oid"), col("snap"),
        col("xact_commit_delta"), col("xact_rollback_delta"))

  // K1/K3 — snapshot assembly: the dim-encoded statement fact (every
  // reference resolved through a deduplicated dimension, integrity
  // asserted like verifyIntegrity).
  def k1SnapshotFact(s: SparkSession, dir: String): DataFrame = {
    val snap = graft.sinks.SnapshotSink.assemble(s, dir)
    require(graft.sinks.SnapshotSink.verifyIntegrity(snap))
    snap.fact
  }

  // T6 — parent-partition pick: first inheritance parent per child
  // (ORDER BY inhseqno LIMIT 1, relations.go:34) over multi-edge
  // pg_inherits rows.
  def t6ParentPartition(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("rel_oid")
      .orderBy(col("inhseqno"), col("parent_oid"))
    CatalogSynth.inheritance(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("rel_oid", "parent_oid", "inhseqno")
  }

  /** Unused-index report — the first thing a DBA asks of the collected
    * index stats (`input/postgres/relation_stats.go:151-177` ships
    * idx_scan per index; pganalyze's Index Advisor consumes it): zero
    * scans since stats reset, primaries excluded, sized by the owning
    * relation's pages so the report ranks by reclaimable bytes. Two
    * equi-joins on oid keys, k-row per server. */
  def idxUnused(s: SparkSession, dir: String): DataFrame = {
    val idx = s8Indexes(s, dir)
    // dedicated stats synth: the shared indexStats scan-count formula
    // (p_size * 7 % 1000) never lands on zero, so this report zeroes a
    // deterministic tenth of the indexes to have genuinely-unused rows
    val stats = Tables.part(s, dir)
      .filter(col("p_partkey") % 2 === 0)
      .select((col("p_partkey") + 1000000).as("index_oid"),
        expr("CASE WHEN p_partkey % 10 = 0 THEN 0 " +
          "ELSE p_size * 7 % 1000 END").as("idx_scan"))
    val rels = CatalogSynth.relations(s, dir)
      .select(col("rel_oid").as("indrelid"), col("relname"), col("relpages"))
    idx.join(stats, Seq("index_oid"))
      .filter(col("idx_scan") === 0 && !col("is_primary"))
      .join(rels, idx("indrelid") === rels("indrelid"))
      .select(col("index_oid"), col("indexname"), col("relname"),
        col("idx_scan"), (col("relpages") * 8192L).as("est_bytes"))
  }

  /** Overlapping-index detection: index A is redundant when its column
    * list is a strict PREFIX of sibling index B on the same relation
    * (B serves every query A serves), unless A backs a unique or
    * primary constraint. One equi-join on indrelid; the prefix test is
    * per-pair array logic. Richer synthetic indkeys than S8's (1-4
    * column prefixes of a shared column order) so proper-prefix,
    * equal-list and disjoint cases all occur. */
  def idxOverlapping(s: SparkSession, dir: String): DataFrame = {
    val idx = Tables.part(s, dir)
      .filter(col("p_partkey") % 2 === 0)
      .select(
        (col("p_partkey") + 1000000).as("index_oid"),
        expr("(p_partkey div 10) * 10").as("indrelid"),
        concat(lit("idx_"), col("p_partkey")).as("indexname"),
        (col("p_partkey") % 6 === 0).as("is_unique"),
        expr("slice(array(1, 2, 3, 4), 1, CAST(p_partkey % 4 AS INT) + 1)")
          .as("cols"))
    val a = idx.select(col("index_oid").as("oid_a"),
      col("indexname").as("name_a"), col("indrelid"),
      col("is_unique").as("unique_a"), col("cols").as("cols_a"))
    val b = idx.select(col("index_oid").as("oid_b"),
      col("indexname").as("name_b"), col("indrelid"),
      col("cols").as("cols_b"))
    a.join(b, Seq("indrelid"))
      .filter(col("oid_a") =!= col("oid_b"))
      .filter(expr("size(cols_a) < size(cols_b) " +
        "AND slice(cols_b, 1, size(cols_a)) = cols_a"))
      .select(col("indrelid"), col("oid_a"), col("name_a"),
        col("oid_b"), col("name_b"),
        expr("array_join(cast(cols_a as array<string>), ',')").as("cols_prefix"),
        expr("array_join(cast(cols_b as array<string>), ',')").as("cols_covering"),
        (!col("unique_a")).as("drop_candidate"))
  }

  /** Plan-flip detection — "this query switched plans" over the D2
    * per-(query, plan) counter timeline: the dominant plan per
    * (query, snapshot) is the max-delta plan (ties to the lower plan
    * id), and a flip is a snapshot whose dominant differs from the
    * previous snapshot's. The synthetic deltas carry a
    * (query+plan+snap)-keyed boost so dominance genuinely moves.
    * Window partitions are (query) / (query, snap) — bounded key
    * groups, never corpus-wide. */
  def planFlipDetect(s: SparkSession, dir: String): DataFrame = {
    val deltas = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_size"),
        explode(sequence(lit(0L), lit(3L))).as("snap"))
      // plan_id from pk div 300, NOT pk % 5: pk % 5 is functionally
      // dependent on query_id = pk % 300 (gcd 5), which would give
      // every query exactly one plan and no flips to detect
      .select((col("pk") % 300).as("query_id"),
        expr("(pk div 300) % 5").as("plan_id"), col("snap"),
        expr("p_size * (1 + 9 * CAST(((pk div 300) % 5 + snap) % 4 = 0 AS INT))")
          .as("calls_delta"))
      .groupBy("query_id", "plan_id", "snap")
      .agg(sum("calls_delta").as("calls_delta"))
    val dom = deltas
      .withColumn("rn", row_number().over(Window
        .partitionBy("query_id", "snap")
        .orderBy(col("calls_delta").desc, col("plan_id"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("snap"),
        col("plan_id").as("dominant_plan"), col("calls_delta"))
    dom
      .withColumn("prev_plan", lag("dominant_plan", 1).over(
        Window.partitionBy("query_id").orderBy("snap")))
      .select(col("query_id"), col("snap"), col("dominant_plan"),
        col("prev_plan"),
        (col("prev_plan").isNotNull &&
          col("prev_plan") =!= col("dominant_plan")).as("flipped"))
  }

  /** Latency-regression flags — per (query, snapshot) ms/call versus
    * the previous snapshot, flagged when it more than doubles. The
    * compare is the integer cross-multiplication
    * `T_cur × C_prev > 2 × T_prev × C_cur` (denominators positive), so
    * the verdict is exact even though the reported ms_per_call is a
    * double. Synthetic per-snap spikes on a (query+snap)-keyed subset
    * make both verdicts occur. */
  def queryRegression(s: SparkSession, dir: String): DataFrame = {
    val perSnap = Tables.part(s, dir)
      .select(col("p_partkey").as("pk"), col("p_size"),
        explode(sequence(lit(0L), lit(3L))).as("snap"))
      .select((col("pk") % 300).as("query_id"), col("snap"),
        expr("p_size * 2").as("calls_delta"),
        expr("p_size * (3 + 20 * CAST((pk % 300 + snap) % 5 = 0 AS INT))")
          .as("ms_delta"))
      .groupBy("query_id", "snap")
      .agg(sum("calls_delta").as("calls"), sum("ms_delta").as("total_ms"))
    val w = Window.partitionBy("query_id").orderBy("snap")
    perSnap
      .withColumn("prev_calls", lag("calls", 1).over(w))
      .withColumn("prev_ms", lag("total_ms", 1).over(w))
      .select(col("query_id"), col("snap"), col("calls"), col("total_ms"),
        (col("total_ms").cast("double") / col("calls")).as("ms_per_call"),
        expr("prev_ms IS NOT NULL AND total_ms * prev_calls > 2 * prev_ms * calls")
          .as("regressed"))
  }

  /** Autovacuum-need derivation — the trigger rule the reference's
    * VACUUM advisor consumes, applied to the collected inputs
    * (`input/postgres/relation_stats.go:62` n_dead_tup, `:81`
    * relation_xid_age; settings via S19): a table is due when
    * n_dead_tup > autovacuum_vacuum_threshold +
    * autovacuum_vacuum_scale_factor × reltuples, and is
    * anti-wraparound-forced when its xid age exceeds
    * autovacuum_freeze_max_age regardless of dead tuples. Defaults
    * (50 / 0.2 / 200M) with per-table storage-parameter overrides on a
    * deterministic subset; the scale-factor compare is kept
    * integer-exact (×100 on both sides). Per-row arithmetic over the
    * relation scan — no shuffle beyond the source. */
  def vacuumDue(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.relations(s, dir)
      .filter(col("relkind") === "r" && !col("is_locked") &&
        !col("nspname").isin(SystemSchemas: _*))
      .withColumn("n_dead_tup", expr("(rel_oid * 37) % 5000"))
      .withColumn("rel_xid_age", expr("(rel_oid * 9700019) % 300000000"))
      // storage-parameter overrides on every 10th / 7th table
      .withColumn("av_threshold",
        expr("CASE WHEN rel_oid % 10 = 0 THEN 1000 ELSE 50 END"))
      .withColumn("av_scale_x100",
        expr("CASE WHEN rel_oid % 10 = 0 THEN 1 ELSE 20 END"))
      .withColumn("freeze_max_age", expr(
        "CASE WHEN rel_oid % 7 = 0 THEN 100000000 ELSE 200000000 END"))
      .withColumn("dead_due", expr(
        "n_dead_tup * 100 > av_threshold * 100 + av_scale_x100 * reltuples"))
      .withColumn("wraparound", expr("rel_xid_age > freeze_max_age"))
      .select(col("rel_oid"), col("relname"), col("reltuples"),
        col("n_dead_tup"), col("rel_xid_age"),
        col("av_threshold"), col("av_scale_x100"), col("freeze_max_age"),
        expr("CASE WHEN wraparound THEN 'wraparound' " +
          "WHEN dead_due THEN 'dead_tuples' ELSE 'ok' END").as("verdict"))

  /** Table-bloat estimate — the check_postgres-family arithmetic over
    * the collected relation stats: expected pages from reltuples × a
    * per-row width (tuple header 28 B + synthetic avg column width),
    * packed at 8168 usable bytes/page with integer ceiling; bloat =
    * pages on disk beyond that, reported as a fraction and wasted
    * bytes. All integer except the final fraction — bit-stable. */
  def relBloatEstimate(s: SparkSession, dir: String): DataFrame =
    CatalogSynth.relations(s, dir)
      .filter(col("relkind") === "r" && !col("is_locked") &&
        !col("nspname").isin(SystemSchemas: _*))
      .withColumn("avg_width", expr("24 + rel_oid % 80"))
      .withColumn("expected_pages", expr(
        "(reltuples * (28 + avg_width) + 8167) div 8168"))
      .withColumn("bloat_pages",
        expr("greatest(relpages - expected_pages, 0)"))
      .filter(col("relpages") > 0)
      .select(col("rel_oid"), col("relname"), col("relpages"),
        col("expected_pages"), col("bloat_pages"),
        (col("bloat_pages").cast("double") / col("relpages")).as("bloat_frac"),
        (col("bloat_pages") * 8192L).as("wasted_bytes"))

  /** A13 — wait-event profile: the sampling analysis built on the
    * wait_event columns the reference collects per backend
    * (`input/postgres/backends.go:19-24`: wait_event_type, wait_event,
    * and `waiting` = wait_event_type = 'Lock'). Active samples grouped
    * by (query, wait state) with each state's share of the query's
    * samples — a NULL wait_event means on-CPU, reported as CPU/Running
    * the way wait-sampling tools do. One shuffle on the profile key;
    * the share window partitions by query_k (bounded key domain). */
  def a13WaitEventProfile(s: SparkSession, dir: String): DataFrame = {
    val samples = Tables.events(s, dir)
      .filter(expr("event_type NOT IN ('view', 'signup')"))
      .select(
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")
          .as("query_k"),
        expr("CASE CAST(floor(value * 7) AS INT) % 5 " +
          "WHEN 0 THEN 'Lock' WHEN 1 THEN 'LWLock' WHEN 2 THEN 'IO' " +
          "WHEN 3 THEN 'Client' END").as("wet0"),
        col("user_id"))
      .withColumn("wait_event_type", coalesce(col("wet0"), lit("CPU")))
      .withColumn("wait_event", expr(
        "CASE wet0 " +
          "WHEN 'Lock' THEN element_at(array('relation','tuple','transactionid'), CAST(user_id % 3 AS INT) + 1) " +
          "WHEN 'LWLock' THEN element_at(array('WALWrite','BufferContent'), CAST(user_id % 2 AS INT) + 1) " +
          "WHEN 'IO' THEN element_at(array('DataFileRead','WALSync'), CAST(user_id % 2 AS INT) + 1) " +
          "WHEN 'Client' THEN 'ClientRead' ELSE 'Running' END"))
    val w = Window.partitionBy("query_k")
    samples.groupBy("query_k", "wait_event_type", "wait_event")
      .agg(count(lit(1)).as("samples"))
      .withColumn("share",
        col("samples").cast("double") / sum("samples").over(w))
  }

  /** J12 — blocking chains: every blocked backend resolved to its root
    * blocker + chain depth via [[graft.operators.LockChains]] pointer
    * jumping (the transitive analysis over the `pg_blocking_pids`
    * arrays of `backends.go:13-17`). Synthesized forest: the distinct
    * PID population in pid order, chains of four (root, then three
    * blocked nodes); the deepest node carries TWO blockers and the
    * canonical parent is the min PID — the reference reports the full
    * array, analysis picks one. Root backends appear with depth 0. */
  def j12BlockingChains(s: SparkSession, dir: String): DataFrame = {
    val idx = Tables.events(s, dir)
      .select(col("user_id").as("pid")).distinct()
      .withColumn("i", row_number().over(Window.orderBy("pid")))
      .withColumn("r", expr("CAST((i - 1) % 4 AS INT)"))
      .withColumn("l1", lag("pid", 1).over(Window.orderBy("pid")))
      .withColumn("l2", lag("pid", 2).over(Window.orderBy("pid")))
    val blocked = idx.filter(col("r") > 0)
      .select(col("pid").as("child"),
        // canonical parent = min blocker PID: the r=3 node is blocked
        // by both predecessors and l2 < l1 in pid order
        expr("CASE WHEN r = 3 THEN l2 ELSE l1 END").as("parent"),
        expr("CASE WHEN r = 3 THEN 2 ELSE 1 END").as("n_blockers"))
    val resolved = graft.operators.LockChains.resolve(blocked)
    val roots = idx.filter(col("r") === 0)
      .select(col("pid"), col("pid").as("root_pid"),
        lit(0L).as("depth"), lit(0).as("n_blockers"))
    resolved.join(blocked.select(col("child").as("pid"), col("n_blockers")),
        Seq("pid"))
      .select(col("pid"), col("root_pid"), col("depth"), col("n_blockers"))
      .unionByName(roots)
  }
}
