package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.sinks.{FullSnapshotPipeline => P, ProtoWire}
import graft.sinks.ProtoWire.{VBytes, VInt}

/** The end-to-end snapshot document: golden wire bytes for a minimal
  * hand-built document (every section the pipeline emits, byte-derived
  * per the public protobuf encoding), decode/integrity behavior on
  * malformed documents, and the full pipeline on real testdata. */
class FullSnapshotSpec extends SparkSpec {

  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString

  /** One row per section, tiny values → the golden bytes are derivable
    * by hand from the encoding spec (field<<3|wiretype, varints,
    * length-delimited strings). */
  private def miniDoc = P.Doc(
    collectedAtSecs = 100L,
    dbRows = Seq(Row(1, "d1", 7L, 2L)),
    roleRows = Seq(Row(1, 5L)),
    queryRows = Seq(Row(1, 1, 1, true, 3L, "SELECT $1", Seq(9L, 10L), 4L, 6L)),
    relRefRows = Seq(Row(1, 1, "public", "t1", "r")),
    relStatRows = Seq(Row(1, 8L, 9L, 10L)),
    dbStatRows = Seq(Row(1, 11L, 12L, 2L)),
    settingRows = Seq(Row("work_mem", "4MB")),
    idxRows = Seq(Row(1, 1, "public", "idx_t1", 1, 64L, 7L, 13L)),
    fnRows = Seq(Row(1, 1, "public", "fn_1", 4L, 6L, 5L)))

  test("golden bytes: header + every section, hand-derived") {
    val b = P.encode(miniDoc)
    val h = hex(b)
    // header: field 1 varint 1 → 08 01; field 3 string "graft-0.5.0" →
    // 1a 0b ...; field 10 string uuid → 52 24 ...; field 11 msg{1:100} →
    // 5a 02 08 64; field 12 varint 600 → 60 d8 04
    assert(h.startsWith("0801"))
    assert(h.contains("1a0b" + hex("graft-0.5.0".getBytes)))
    assert(h.contains("5224" + hex(P.SnapshotUuid.getBytes)))
    assert(h.contains("5a020864"))
    assert(h.contains("60d804"))
    // 102 RoleReference{name:"u5"} → key 102<<3|2 = 816+2=0x332 varint
    // b2 06, len 04, then 0a 02 75 35
    assert(h.contains("b206040a027535"))
    // 103 DatabaseReference{name:"d1"} → key 0x33a → ba 06
    assert(h.contains("ba06040a026431"))
    // 110 RoleInformation{1:1,3:1} → key 0x372 → f2 06, len 04
    assert(h.contains("f20604080118"))
    // 122 Setting{work_mem,4MB} → key 0x3d2 → d2 07
    assert(h.contains("d2070f0a08" + hex("work_mem".getBytes) + "1203" + hex("4MB".getBytes)))
    // 200 QueryReference: key 200<<3|2=0x642 → c2 0c; fingerprint 3 →
    // 8 bytes big-endian 0000000000000003 on field 3 (1a 08 ...)
    assert(h.contains("c20c10080110011a0800000000000000032001"))
    // 210 QueryInformation: packed query_ids [9,10] → field 3 len 2: 1a 02 09 0a
    assert(h.contains("120953454c45435420243") || h.contains(hex("SELECT $1".getBytes)))
    assert(h.contains("1a02090a"))
    // 211 QueryStatistic: calls varint 4, total_time double 6.0 → 19 + LE
    assert(h.contains("100419" + hex(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(6.0).array())))
    // 221 RelationStatistic{1:1,3:8,5:9,11:10} → fields 08 01 18 08 28 09 58 0a
    assert(h.contains("080118082809580a"))
    // 202 IndexReference: key 202<<3|2 = 1618 → d2 0c, len 18;
    // {1:1, "public", "idx_t1"}
    assert(h.contains("d20c12" + "0801" + "1206" + hex("public".getBytes) +
      "1a06" + hex("idx_t1".getBytes)))
    // 225 IndexStatistic{1:1, 2:64, 3:7, 4:13} → 08 01 10 40 18 07 20 0d
    assert(h.contains("080110401807200d"))
    // 228 FunctionStatistic{1:1, 2:4, 3:6.0d, 4:5.0d}
    assert(h.contains("08011004" +
      "19" + hex(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(6.0).array()) +
      "21" + hex(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(5.0).array())))
  }

  test("decode round-trips the mini document and passes integrity") {
    val df = P.decodeVerify(spark, ProtoWire.zlib(P.encode(miniDoc)))
    val r = df.collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[String]("datname") === "d1")
    assert(row.getAs[String]("rolname") === "u5")
    assert(row.getAs[Boolean]("toplevel"))
    assert(row.getAs[Long]("fingerprint") === 3L)
    assert(row.getAs[String]("normalized_query") === "SELECT $1")
    assert(row.getAs[Long]("n_query_ids") === 2L)
    assert(row.getAs[Long]("calls") === 4L)
    assert(row.getAs[Long]("total_ms") === 6L)
    assert(row.getAs[Long]("n_settings") === 1L)
    assert(row.getAs[Long]("collected_at_s") === 100L)
    assert(row.getAs[Long]("interval_secs") === 600L)
  }

  test("config/replication/backend-count sections round-trip with redaction") {
    val doc = miniDoc.copy(
      config = Some(P.ConfigSection(
        dbName = "d1", dbUsername = "mon", dbPort = 5432,
        dbSslRootCert = "rds-ca-global",
        dbUrl = "postgres://mon:secret-pw@h:5432/d1",
        dbExtraNames = Seq("x1", "x2"),
        awsAccessKeyId = "AKID")),
      inRecovery = false, currentXlog = "0/AA",
      // one full backend count (role+db), one with neither idx
      backendCountRows = Seq(
        (true, 1L, true, 1L, 1, 5, false, 7L),
        (false, 0L, false, 0L, 2, 0, true, 3L)),
      standbyRows = Seq(("10.0.2.10", 1L, 9000L, "walreceiver", 50000, 1,
        "sync", "streaming", 1041L, 512L)))
    val wire = P.encode(doc)
    val top = ProtoWire.decode(wire).toMap
    // CollectorConfig (13): password redacted, certs reduced to flags
    val cfg = top(13) match { case VBytes(b) => ProtoWire.decode(b) }
    def cstr(f: Int) = cfg.collectFirst {
      case (`f`, VBytes(b)) => new String(b, "UTF-8") }.get
    def cint(f: Int) = cfg.collectFirst { case (`f`, VInt(v)) => v }.get
    assert(cstr(22) == "postgres://mon@h:5432/d1") // password GONE
    assert(!new String(wire.map(_.toChar)).contains("secret-pw"))
    assert(cint(19) == 1L && cint(20) == 0L) // has_sslrootcert, no sslcert
    assert(cint(44) == 1L)                   // aws_has_access_key_id
    assert(cfg.count(_._1 == 31) == 2)       // repeated db_extra_names
    // decodeVerify accepts and exposes the section aggregates
    val row = P.decodeVerify(spark, ProtoWire.zlib(wire)).collect().head
    assert(row.getAs[Long]("n_backend_counts") == 2L)
    assert(row.getAs[Long]("sum_backend_count") == 10L)
    assert(row.getAs[Long]("n_standbys") == 1L)
    assert(row.getAs[Long]("sum_standby_lag") == 1041L)
    assert(!row.getAs[Boolean]("in_recovery"))
    // a backend count whose role idx is out of range is rejected
    val badBc = doc.copy(backendCountRows = Seq(
      (true, 9L, false, 0L, 1, 5, false, 7L)))
    val e1 = intercept[IllegalArgumentException] {
      P.decodeVerify(spark, ProtoWire.zlib(P.encode(badBc)))
    }
    assert(e1.getMessage.contains("backend_count_statistics"))
    // a standby pointing at a missing role is rejected
    val badSt = doc.copy(standbyRows = Seq(("a", 9L, 1L, "w", 1, 1,
      "sync", "streaming", 1L, 1L)))
    val e2 = intercept[IllegalArgumentException] {
      P.decodeVerify(spark, ProtoWire.zlib(P.encode(badSt)))
    }
    assert(e2.getMessage.contains("standby_informations"))
  }

  test("integrity check rejects ref/info length mismatch (verifyIntegrity)") {
    // drop the RoleInformation section: references != informations
    val good = P.encode(miniDoc)
    val stripped = ProtoWire.decode(good).filterNot(_._1 == 110)
    val m = ProtoWire.msg()
    stripped.foreach {
      case (f, VInt(v)) => m.varint(f, v)
      case (f, VBytes(b)) => m.bytes(f, b)
      case (f, ProtoWire.V64(bits)) =>
        m.double(f, java.lang.Double.longBitsToDouble(bits))
    }
    val e = intercept[IllegalArgumentException] {
      P.decodeVerify(spark, ProtoWire.zlib(m.toBytes))
    }
    assert(e.getMessage.contains("RoleInformations"))
  }

  test("integrity check rejects out-of-range stat idx") {
    val bad = miniDoc.copy(dbStatRows = Seq(Row(9, 11L, 12L, 2L)))
    val e = intercept[IllegalArgumentException] {
      P.decodeVerify(spark, ProtoWire.zlib(P.encode(bad)))
    }
    assert(e.getMessage.contains("database_statistics idx"))
  }

  test("full pipeline on testdata: every query group survives the wire") {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val doc = P.assemble(spark, Sf)
    // the assembly releases what it caches and persists no dim
    assert(spark.sparkContext.getPersistentRDDs.keySet -- persisted == Set.empty)
    val df = P.decodeVerify(spark, ProtoWire.zlib(P.encode(doc)))
    val rows = df.collect()
    assert(rows.length === doc.queryRows.length)
    assert(rows.forall(_.getAs[Boolean]("integrity_ok")))
    // decoded values equal the assembled (pre-wire) values, row for row
    // query rows: (qkey_idx, db_idx, role_idx, toplevel, fp,
    // normalized_query, query_ids, calls, total_ms)
    val assembled = doc.queryRows.map(r =>
      (r.getAs[Number](7).longValue, r.getAs[Number](8).longValue))
      .sortBy(identity)
    val decoded = rows.map(r =>
      (r.getAs[Long]("calls"), r.getAs[Long]("total_ms"))).toSeq.sortBy(identity)
    assert(decoded === assembled)
    // F5: no collector-marker query survives into the document
    assert(doc.queryRows.forall(!_.getString(5).startsWith(P.CollectorMarker)))
  }

  test("a warm assembly runs at most 14 Spark jobs and persists nothing") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.jobId -> String.valueOf(
          e.properties.getProperty("spark.job.description")))
    }
    // the listener bus is asynchronous: a marker job's id bounds the count
    def marker(): Int = {
      val m = s"marker ${java.util.UUID.randomUUID}"
      sc.setJobDescription(m)
      try sc.emptyRDD[Int].count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!started.asScala.exists(_._2 == m) && System.nanoTime() < deadline)
        Thread.sleep(10)
      started.asScala.find(_._2 == m).get._1
    }
    P.assemble(spark, Sf) // warm
    val persisted = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      val from = marker()
      P.assemble(spark, Sf)
      val to = marker()
      val jobs = started.asScala.count { case (id, _) => id > from && id < to }
      assert(jobs <= 14, s"$jobs jobs")
      assert(sc.getPersistentRDDs.keySet == persisted)
    } finally sc.removeSparkListener(listener)
  }
}
