package graft.tools

/** Run one named SparkEntry query against a fixture dir and print its
  * row count + first rows — scratch harness for iterating on a single
  * operator without a full Verify pass. A trailing `time` switches to two
  * timed runs at local[32] (plan-compile run + steady run); a trailing
  * `explain` prints the formatted physical plan instead, for each of a
  * comma list of names (or `all`). */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val timing = args.contains("time")
    val explain = args.contains("explain")
    val rest = args.filterNot(a => a == "time" || a == "explain")
    val dir = rest.drop(1).headOption
      .getOrElse(if (timing) "/root/testdata/sf0.1" else "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(if (timing) 32 else 8)
    spark.sparkContext.setLogLevel("WARN")
    val queries = graft.SparkEntry.queries
    if (explain) {
      val names =
        if (rest(0) == "all") queries.keys.toSeq.sorted else rest(0).split(",").toSeq
      names.foreach { n =>
        println(s"\n======== $n ========")
        queries(n)(spark, dir).explain("formatted")
      }
    } else if (timing) (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      queries(rest(0))(spark, dir).count()
      println(s"run$i ${(System.nanoTime() - t0) / 1e9}")
    } else {
      val df = queries(rest(0))(spark, dir)
      println(s"ROWS ${df.count()}")
      df.show(10, truncate = false)
    }
    spark.stop()
  }
}
