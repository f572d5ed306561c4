package graft.tools

import graft.{Harness, SparkEntry}

/** Plan inspector: prints the formatted physical plan of the named
  * queries. Usage: `runMain graft.tools.Explain [name|all|entry]… [sfDir]`
  * — no name means `all`; an argument containing '/' is the sf dir
  * (default sf0.001).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.toSeq.partition(_.contains('/'))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(defaultCpus = 4)
    (if (names.isEmpty) Seq("all") else names).foreach {
      case "entry" =>
        val df = SparkEntry.entry(spark)
        df.explain("formatted")
        println(s"entry rows: ${df.count()}")
      case "all" =>
        SparkEntry.queries.foreach { case (n, fn) =>
          println(s"\n===== $n =====")
          fn(spark, sfDir).explain("formatted")
        }
      case n =>
        println(s"\n===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
