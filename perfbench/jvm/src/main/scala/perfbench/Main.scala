package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark operation. `prep` runs untimed before the op (input
  * staging), `run` is the timed call into the engine, and `check`
  * validates the op's output untimed afterwards. */
final case class Op(kind: String, run: () => Unit, check: () => Boolean,
    prep: () => Unit = () => ())

/** What a workload sees of the run: its session, its empty work dir, the
  * seed, and the tracer (a disabled one until the timed phase starts). */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val opts: Map[String, String], var tracer: Tracer) {
  val rng = new scala.util.Random(seed)
  /** Checks compare against a deliberately wrong expected value (the
    * self-test); set only for the timed phase, so set-up still validates. */
  var corrupt = false
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

trait Workload {
  /** Kinds whose latencies feed `write_ms.p50`; the others feed
    * `read_ms.p50`. */
  def writeKinds: Set[String] = Set.empty
  /** Seeded inputs under the work dir. */
  def generate(): Unit
  /** One untimed op of every kind. */
  def warmup(): Unit
  /** Nominal seconds of one round on a 4-core host: the timed phase runs
    * a fixed number of whole rounds, about `--seconds` of work. */
  def roundSeconds: Double
  /** The ops of timed round `i`. */
  def round(i: Int): Seq[Op]
  /** Workload metrics after the timed phase of `timedS` op-seconds. */
  def finish(timedS: Double): Map[String, Double]
}

/** Workloads run one after the other in each phase, sharing the session;
  * a round is each part's round in turn. */
final class Composite(parts: Seq[Workload]) extends Workload {
  override def writeKinds: Set[String] = parts.flatMap(_.writeKinds).toSet
  def generate(): Unit = parts.foreach(_.generate())
  def warmup(): Unit = parts.foreach(_.warmup())
  def roundSeconds: Double = parts.map(_.roundSeconds).sum
  def round(i: Int): Seq[Op] = parts.flatMap(_.round(i))
  def finish(timedS: Double): Map[String, Double] = parts.flatMap(_.finish(timedS)).toMap
}

object Main {
  private def queryMix(c: Ctx) = new QueryMix(c, c.opts("expected"), c.opts.get("record"))
  private val Workloads: Map[String, Ctx => Workload] = Map(
    "etl_and_queries" -> (c => new Composite(Seq(new EtlWeekly(c), queryMix(c)))),
    "table_churn" -> (c => new TableChurn(c)))
  /** Set-up repetitions per run; the first is the cold one. */
  private val SetupReps = 2

  /** Every per-layer name any workload reports; a workload that does not
    * touch a layer reports 0 for it. */
  private val AllLayerNames: Seq[String] =
    EtlWeekly.LayerNames ++ TableChurn.LayerNames ++ QueryMix.LayerNames ++
      Seq("rows_per_s", "write_amp", "space_amp", "ok_frac",
        "traced.op_ms.p50", "traced.ops_per_s")

  def session(cpus: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the status-store caps of the engine's Bench: without them a long
      // session ages as plan graphs and job/stage state pile up
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.catalog.gcat", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.gcat.warehouse", s"$dir/gcat")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val cpus = a.getOrElse("cpus", "4").toInt
    val seed = a("seed").toLong
    if (a("workload") == "datagen") { // writes the query_mix tables only
      val spark = session(cpus, work)
      DataGen.write(spark, a("out"), seed)
      spark.stop()
      return
    }
    val make = Workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val corrupt = a.get("corrupt-expected").contains("1")

    // set-up, several times from scratch; the last one is kept
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    var w: Workload = null
    for (rep <- 1 to SetupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val dir = Paths.get(work, s"rep$rep")
      FsUtil.delete(s"$work/rep${rep - 1}")
      FsUtil.delete(dir.toString)
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      spark = session(cpus, dir.toString)
      ctx = new Ctx(spark, dir.toString, seed, a, new Tracer(false, spark.sparkContext))
      w = make(ctx)
      val t1 = System.nanoTime()
      w.generate()
      val t2 = System.nanoTime()
      w.warmup()
      setupS += (System.nanoTime() - t0) / 1e9
      ctx.log(f"setup rep $rep: ${setupS.last}%.3f s (session ${(t1 - t0) / 1e9}%.2f, " +
        f"inputs ${(t2 - t1) / 1e9}%.2f, warm-up ${(System.nanoTime() - t2) / 1e9}%.2f)")
    }

    val tracer = new Tracer(trace, spark.sparkContext)
    ctx.tracer = tracer
    ctx.corrupt = corrupt
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var timedNs = 0L
    var attempted = 0L
    var failed = 0L
    val rounds = math.max(1, math.round(seconds / w.roundSeconds).toInt)
    for (rnd <- 0 until rounds) {
      for (op <- w.round(rnd)) {
        tracer.setOp(attempted)
        val staged =
          try { op.prep(); true }
          catch { case e: Throwable => ctx.log(s"prep ${op.kind} FAILED: $e"); false }
        val t0 = System.nanoTime()
        val ran = staged &&
          (try { tracer.span("op." + op.kind)(op.run()); true }
          catch { case e: Throwable => ctx.log(s"op ${op.kind} FAILED: $e"); false })
        val dt = System.nanoTime() - t0
        timedNs += dt
        lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += dt / 1e6
        val ok = ran && (try op.check() catch {
          case e: Throwable => ctx.log(s"check ${op.kind} FAILED: $e"); false
        })
        if (!ok) { failed += 1; ctx.log(s"op ${op.kind} output check failed") }
        attempted += 1
      }
    }
    val timedS = timedNs / 1e9
    ctx.log(f"timed phase: $attempted ops in $rounds rounds, $timedS%.3f op-seconds")

    val m = mutable.LinkedHashMap.empty[String, Double]
    AllLayerNames.foreach(m(_) = 0.0)
    // per kind first, so no median mixes kinds; then the mean over kinds
    def kindsP50(kinds: Iterable[String]): Double =
      Stats.mean(kinds.toSeq.map(k => Stats.median(lat(k).toSeq)))
    val (wk, rk) = lat.keys.partition(w.writeKinds)
    m("setup_s") = Stats.median(setupS.toSeq)
    m("ops_per_s") = attempted / timedS
    m("op_ms.p50") = kindsP50(lat.keys)
    m("write_ms.p50") = kindsP50(wk)
    m("read_ms.p50") = kindsP50(rk)
    m("ok_frac") = (attempted - failed).toDouble / attempted
    tracer.flush()
    m ++= w.finish(timedS)
    if (trace) {
      m("traced.op_ms.p50") = m("op_ms.p50")
      m("traced.ops_per_s") = m("ops_per_s")
      tracer.write(Paths.get(work, "spans.jsonl"))
    }
    // live heap: what the pools hold right after a full collection. The
    // first collection lets Spark's ContextCleaner drop the blocks of
    // unreachable broadcasts and checkpoints; the second counts without them.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    m("heap_live_mb") = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    spark.stop()

    val metrics = m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val kinds = lat.map { case (k, xs) =>
      f""""$k":{"n":${xs.size},"p50":${Stats.median(xs.toSeq)}%.3f}""" }.mkString("{", ",", "}")
    val json = s"""{"attempted":$attempted,"failed":$failed,"seed":$seed,""" +
      s""""rounds":$rounds,"kinds":$kinds,"setup_reps_s":${setupS.mkString("[", ",", "]")},""" +
      s""""metrics":$metrics}"""
    Files.write(Paths.get(a("out")), (json + "\n").getBytes("UTF-8"))
  }
}
