package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The decisions every driver main (Bench, Verify, tools) shares: how the
  * session is built, how an entry is materialized and hashed, how its
  * cached state is released, which entries a run selects, and how the
  * oracle files are written. Kept in one place so the mains cannot drift
  * apart on any of them.
  */
object Harness {

  /** Build (or get) the session. Master precedence: spark-submit's
    * `--master` (the `spark.master` sysprop, how the local-cluster
    * distributed-execution gate runs), then `SPARK_GRAFT_MASTER`, then
    * `local[$SPARK_GRAFT_CPUS]` with the caller's `defaultCpus`. Shuffle
    * partitions follow the cpus; `conf` is applied last, so callers can
    * override them. */
  def session(defaultCpus: Int, conf: Seq[(String, String)] = Nil)
      : SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val master = sys.props.get("spark.master")
      .orElse(sys.env.get("SPARK_GRAFT_MASTER"))
      .getOrElse(s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // shuffle/spill on tmpfs when available: a throttled host disk turns
    // shuffle writes into multi-minute stalls; on a real cluster this is
    // local NVMe. Opt out with SPARK_GRAFT_TMPFS=0 for large-SF /
    // memory-constrained runs where RAM-backed spill could exhaust host
    // memory instead of degrading gracefully to disk.
    if (sys.env.get("SPARK_GRAFT_TMPFS").forall(_ != "0") &&
        new java.io.File("/dev/shm").isDirectory)
      builder.config("spark.local.dir", "/dev/shm/graft_spark_local")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materialize every row and column of `df` and return its order-free
    * hash (null for an empty frame). `sum(xxhash64(struct(*)))` consumes
    * every output column, so Catalyst cannot prune the projection work the
    * way a bare `count()` lets it (regex/md5 columns would otherwise be
    * optimized away and a bench would time a parquet scan). The sum is
    * decimal: a LongType sum of 64-bit hashes overflows under ANSI mode. */
  def force(df: DataFrame): java.math.BigDecimal =
    df.agg(sum(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
      .cast("decimal(38,0)"))).head.getDecimal(0)

  /** Drop every cached frame and persisted RDD, and delete every
    * [[scratch]] dir. Entries recover by lineage: an intermediate that
    * several readers share is persisted (`GraftNative.persistRows`, a
    * lost block is recomputed) and a spooled result keeps reading its
    * scratch files, so both live until this call. Only the iterative
    * loops still `localCheckpoint`. Left to accumulate across a
    * 100+-entry session, cached blocks thrash the executor heap until
    * every later entry pays GC, not compute (observed: 10-100x). */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    deleteScratch()
  }

  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  sys.addShutdownHook(deleteScratch())

  private def deleteScratch(): Unit = scratchDirs.forEach { d =>
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    scratchDirs.remove(d)
  }

  /** A fresh scratch dir for spools, stream checkpoints and persisted
    * indexes, one per call, so concurrent runs never share a path. It
    * lives until the next [[release]] (one JVM exit hook deletes any
    * that no release reached), so a frame may read its files lazily.
    *
    * tmpfs when available (the host disk throttles under sustained
    * load), but tmpfs is RAM: a large-SF corpus's index + streaming
    * scratch could exhaust it mid-run, so /dev/shm is used only when it
    * has comfortable headroom (>4 GiB usable), and SPARK_GRAFT_SCRATCH
    * overrides the location outright (set it to a disk path for large
    * scale factors). */
  def scratch(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val p = sys.env.get("SPARK_GRAFT_SCRATCH") match {
      case Some(root) =>
        val r = new java.io.File(root)
        r.mkdirs()
        Files.createTempDirectory(r.toPath, prefix)
      case None if shm.isDirectory && shm.getUsableSpace > (4L << 30) =>
        Files.createTempDirectory(shm.toPath, prefix)
      case None => Files.createTempDirectory(prefix)
    }
    scratchDirs.add(p.toFile)
    p.toFile.getAbsolutePath
  }

  /** Local-iteration entry filter: `SPARK_GRAFT_ONLY` is an include list,
    * `SPARK_GRAFT_SKIP` an exclude list (both comma-separated). With
    * neither set every name is selected, which is how full runs go. */
  def selection(env: String => Option[String] = sys.env.get)
      : String => Boolean = {
    def names(k: String) = env(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val only = names("SPARK_GRAFT_ONLY")
    val skip = names("SPARK_GRAFT_SKIP").getOrElse(Set.empty[String])
    n => only.forall(_(n)) && !skip(n)
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the checker's json.load fail and silently zero the correctness run. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write `oracle_sql.json` (entry → DuckDB SQL) and
    * `oracle_sampled.json` (entry → scale-feasible engine/oracle pair the
    * checker falls back to on ORACLE_TIMEOUT/ORACLE_OOM) for the entries
    * `keep` selects. */
  def writeOracles(outDir: String, keep: String => Boolean): Unit = {
    val q = jsonString _
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val sampled = SparkEntry.sampledOracleSql.filter(kv => keep(kv._1))
      .map { case (k, (e, o)) =>
        s"${q(k)}: {${q("engine")}: ${q(e)}, ${q("oracle")}: ${q(o)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sampled.json"), sampled)
    ()
  }
}
