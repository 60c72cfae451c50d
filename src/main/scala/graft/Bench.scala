package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall-clock seconds. A warmup pass
  * (table scans + one tiny query) precedes timing so JVM/codegen warmup
  * isn't attributed to whichever query happens to run first. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, Map(
      "spark.sql.adaptive.enabled" -> "true",
      // session-aging control: with the UI off, the status stores still
      // retain per-execution plan graphs + metrics and per-job/stage state
      // for the WHOLE 249-query run (defaults: 1000 executions), and that
      // heap buildup taxed late-alphabet queries ~2-4x in round 5 (fresh-
      // JVM control: q_window_rank 0.15s vs 0.54s in-session, q_winsorize
      // 0.54 vs 1.90). Keep only a handful of executions live.
      "spark.sql.ui.retainedExecutions" -> "4",
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "50",
      "spark.ui.retainedTasks" -> "500"))
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table (FS cache + parquet footers) and force one
    // full codegen/aggregate path through the JIT
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    SparkEntry.queries.get("q_lower_agg").foreach(fn => fn(spark, sfDir).count())

    // best of two runs per query: the first run pays plan compilation and
    // JIT, the second measures steady-state engine throughput — the number
    // that actually predicts cluster-scale behavior, where compile cost
    // amortizes over hours of execution
    // optional subset (1st arg or SPARK_GRAFT_BENCH_ONLY, comma list):
    // lets a fresh JVM measure a few queries in isolation — the control
    // experiment that separates plan regressions from session aging
    // (codegen-cache/GC buildup across a 249-plan run). Driver invokes
    // with no args → full run, unchanged.
    val only: Option[Set[String]] =
      args.headOption.orElse(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
        .map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      var err: Option[String] = None
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(1).mkString.take(200))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      (name, times.min, err)
    }
    // a failed query must not silently feed the metric: its time is the
    // sentinel -1 and it is excluded from the total; the failure — WITH
    // its first exception line — lands in the JSON itself so the driver
    // artifact is self-diagnosing, not just a name list
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, err) => jstr(k) + ":" + (if (err.isEmpty) v else -1.0) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, Some(_)) => jstr(k) }
      .mkString("[", ",", "]")
    val errors = results.collect { case (k, _, Some(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"errors":$errors,"sf":"$sfDir"}"""
    println(json)
    // the driver artifact keeps only a tail of stdout — persist the full
    // JSON to a file too, and print the path LAST so it survives the cut
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.writeString(out, json + "\n")
    println(s"bench json written to ${out.toAbsolutePath}")
    spark.stop()
  }
}
