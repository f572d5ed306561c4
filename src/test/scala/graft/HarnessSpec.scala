package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types.TimestampType

/** The shared driver-main decisions in [[Harness]]: the force hash, the
  * release of cached state, entry selection and the oracle files. */
class HarnessSpec extends SparkSpec {

  test("force gives the same hash on two runs and consumes every column") {
    val df = Tables.orders(spark, Sf)
    val h = Harness.force(df)
    assert(h != null)
    assert(Harness.force(Tables.orders(spark, Sf)) == h)
    assert(Harness.force(df.drop(df.columns.last)) != h)
  }

  test("release drops every cached frame and persisted RDD") {
    Tables.nation(spark, Sf).cache().count()
    Tables.region(spark, Sf).localCheckpoint()
    spark.range(10).rdd.persist().count()
    val dir = Paths.get(Harness.scratch("graft_release"))
    Files.writeString(dir.resolve("spool"), "x")
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Harness.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!Files.exists(dir))
  }

  test("SPARK_GRAFT_ONLY / SPARK_GRAFT_SKIP select entries") {
    def sel(env: (String, String)*): Seq[String] =
      Seq("a", "b", "c").filter(Harness.selection(env.toMap.get))
    assert(sel() == Seq("a", "b", "c"))
    assert(sel("SPARK_GRAFT_ONLY" -> " a, c,") == Seq("a", "c"))
    assert(sel("SPARK_GRAFT_SKIP" -> "b") == Seq("a", "c"))
    assert(sel("SPARK_GRAFT_ONLY" -> "a,b", "SPARK_GRAFT_SKIP" -> "b") ==
      Seq("a"))
  }

  test("the JSON escape parses back: quotes, backslashes, control chars") {
    val s = "say \"hi\" \\ C:\\path\ttab\rcr\nlf\u0000nul\u0001\u001f\u007f é"
    assert(new ObjectMapper().readValue(Harness.jsonString(s),
      classOf[String]) == s)
  }

  test("oracle files parse back to the selected entries' oracles") {
    val dir = Files.createTempDirectory("graft_oracles")
    val mapper = new ObjectMapper()
    def read(f: String): Map[String, AnyRef] = mapper
      .readValue(dir.resolve(f).toFile, classOf[java.util.Map[String, AnyRef]])
      .asScala.toMap
    try {
      Harness.writeOracles(dir.toString, _ => true)
      assert(read("oracle_sql.json") == SparkEntry.oracleSql.toMap)
      val sampled = read("oracle_sampled.json")
      assert(sampled.keySet == SparkEntry.sampledOracleSql.keySet)
      SparkEntry.sampledOracleSql.foreach { case (k, (e, o)) =>
        assert(sampled(k) == Map("engine" -> e, "oracle" -> o).asJava)
      }
      val keep = SparkEntry.oracleSql.keys.toSeq.sorted.take(3).toSet
      Harness.writeOracles(dir.toString, keep)
      assert(read("oracle_sql.json") ==
        SparkEntry.oracleSql.filter(kv => keep(kv._1)).toMap)
      assert(read("oracle_sampled.json").keySet ==
        SparkEntry.sampledOracleSql.keySet.filter(keep))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("Tables(events) loads through eventsRaw") {
    val generic = Tables(spark, Sf, "events")
    assert(generic.schema("ts").dataType == TimestampType)
    assert(generic.schema == Tables.events(spark, Sf).schema)
  }

  test("session building and the force hash live only in Harness") {
    val patterns = Seq("SparkSession.builder()", "xxhash64(struct(")
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      f <- files if f.getFileName.toString != "Harness.scala"
      p <- patterns if Files.readString(f).contains(p)
    } yield s"$f: $p"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(files.exists(_.getFileName.toString == "Harness.scala"))
  }

  test("localCheckpoint only in the iterative loops; Queries* make no temp dir") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def count(p: String) = files.map { f =>
      f.getFileName.toString ->
        java.util.regex.Pattern.quote(p).r.findAllIn(Files.readString(f)).size
    }.filter(_._2 > 0).toMap
    // the loops that still cut their lineage per round (ROADMAP D8);
    // everything else recovers by lineage: persist, or no barrier
    val loops = Map("BpeTrain.scala" -> 2, "Dedup.scala" -> 2,
      "LockChains.scala" -> 2, "Pca.scala" -> 6, "ProductQuant.scala" -> 3,
      "Similarity.scala" -> 3)
    assert(count(".localCheckpoint(") == loops)
    val queries = files.filter(_.getFileName.toString.startsWith("Queries"))
    assert(queries.size >= 3)
    val offenders = for {
      f <- queries
      p <- Seq("createTempDirectory", "scratchDir") if Files.readString(f).contains(p)
    } yield s"$f: $p"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the executor kill and the AvailableNow trigger live in one file each") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for ((p, owner) <- Seq(
        "CoarseGrainedExecutorBackend" -> "tools/Drill.scala",
        "Trigger.AvailableNow()" -> "streaming/Drain.scala")) {
      val sites = files.filter(f => Files.readString(f).contains(p))
      assert(sites.size == 1 && sites.head.endsWith(owner),
        s"$p: ${sites.mkString(", ")}")
    }
  }

  test("the bounded-work session policy is defined once, in BoundedSession") {
    val key = java.util.regex.Pattern.quote("spark.sql.codegen.factoryMode")
    val sites = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        key.r.findAllIn(Files.readString(f)).map(_ => f.getFileName.toString)
      }
    assert(sites == Seq("BoundedSession.scala"), sites.mkString("\n"))
  }

  test("stream conf is set once, in Drain, and never on a caller's session") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for (key <- Seq("stateStore.providerClass", "noDataMicroBatches.enabled")) {
      val sites = files.flatMap { f =>
        java.util.regex.Pattern.quote(key).r.findAllIn(Files.readString(f))
          .map(_ => f.getFileName.toString)
      }
      assert(sites == Seq("Drain.scala"), s"$key: ${sites.mkString(", ")}")
    }
    val callers = files.filter(f =>
      Set("QueriesLog.scala", "StreamingDedup.scala")(f.getFileName.toString))
    assert(callers.size == 2)
    val offenders = for {
      f <- callers
      p <- Seq("conf.set(", "conf.unset(") if Files.readString(f).contains(p)
    } yield s"$f: $p"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every in-process HTTP endpoint is created by LocalHttp") {
    // split so this file does not match itself
    val create = "HttpServer" + ".create("
    val sites = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap { f =>
      java.util.regex.Pattern.quote(create).r.findAllIn(Files.readString(f))
        .map(_ => f.getFileName.toString)
    }
    assert(sites == Seq("LocalHttp.scala"), sites.mkString("\n"))
  }
}
