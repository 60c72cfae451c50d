package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.queries.{Advanced, Analytics, Extensions, Relational, Relational2}

/** Read-only queries of `SparkEntry.queries` over the seeded sf0.1-shaped
  * tables, a fixed set in a seeded order per round. Each op builds the
  * query, plans it and collects its rows; the rows must match the row
  * count and order-independent checksum recorded for that query. */
final class QueryMix(ctx: Ctx, expectedPath: String, recordPath: Option[String])
    extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val data = s"${ctx.dir}/sf"
  private val fns = graft.SparkEntry.queries
  private val expected: Map[String, (Long, Long)] =
    if (recordPath.isDefined) Map.empty
    else Files.readAllLines(Paths.get(expectedPath)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, n, c) = l.split("\t")
        q -> (n.toLong, c.toLong)
      }.toMap
  private val recorded = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var traced = 0

  def generate(): Unit = DataGen.write(spark, data, DataSeed)

  def warmup(): Unit = Mix.foreach { q =>
    val op = queryOp(q)
    op.run()
    require(op.check(), s"query_mix warm-up: $q output check failed")
  }

  private def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r =>
      scala.util.hashing.MurmurHash3.stringHash(r.toString) & 0xffffffffL).sum)

  private def queryOp(q: String): Op = {
    val fam = familyOf(q)
    var rows: Array[Row] = null
    Op(q,
      run = () => {
        val df = ctx.span(s"queries.$fam.build")(fns(q)(spark, data))
        ctx.span(s"queries.$fam.plan")(df.queryExecution.executedPlan)
        rows = ctx.span(s"queries.$fam.exec")(df.collect())
        if (ctx.tracer.enabled) {
          traced += 1
          df.queryExecution.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs }
        }
      },
      check = () => {
        val got = digest(rows)
        recordPath match {
          case Some(_) => recorded(q) = got; true
          case None =>
            val (n, c) = expected.getOrElse(q, (-1L, -1L))
            got == (if (ctx.corrupt && q == Mix.head) (n + 1, c) else (n, c))
        }
      })
  }

  def roundSeconds: Double = 3.2

  def round(i: Int): Seq[Op] =
    new scala.util.Random(ctx.seed * 1000003L + i).shuffle(Mix).map(queryOp)

  def finish(timedS: Double): Map[String, Double] = {
    recordPath.foreach { p =>
      Files.writeString(Paths.get(p), recorded.map { case (q, (n, c)) => s"$q\t$n\t$c" }
        .mkString("# query\trows\tchecksum\n", "\n", "\n"))
    }
    val t = ctx.tracer
    val fams = Families.flatMap { f =>
      val parts = Seq("build", "plan", "exec").map(s => t.layer(s"queries.$f.$s"))
      def sum(k: String) = Seq("build", "plan", "exec").zip(parts)
        .map { case (s, l) => l.getOrElse(s"queries.$f.$s.$k", 0.0) }.sum
      Seq("build", "plan", "exec").zip(parts).map { case (s, l) =>
        s"queries.$f.${s}_ms" -> l.getOrElse(s"queries.$f.${s}_ms", 0.0)
      } ++ Seq(s"queries.$f.jobs" -> sum("jobs"), s"queries.$f.task_ms" -> sum("task_ms"),
        s"queries.$f.shuffle_mb" -> sum("shuffle_mb"))
    }
    val exec = t.spans.filter(_.name.endsWith(".exec"))
    val execTaskMs = exec.map(s => t.work(s.id).taskMs).sum.toDouble
    val execMs = exec.map(_.ms).sum
    val n = math.max(traced, 1)
    fams.toMap ++ Map(
      "queries.analysis_ms" -> phases("analysis") / n,
      "queries.optimizer_ms" -> phases("optimization") / n,
      "queries.physical_ms" -> phases("planning") / n,
      "spark.busy_frac" -> (if (execMs > 0) execTaskMs / (execMs * spark.sparkContext.defaultParallelism) else 0.0))
  }
}

object QueryMix {
  /** The tables are fixed; the run's seed sets only the query order, so
    * the recorded expected outputs hold for every seed. */
  val DataSeed = 42L

  val Families: Seq[String] = Seq("relational", "analytics", "advanced", "ext", "other")

  private lazy val byFamily: Map[String, String] = {
    def names(qs: Seq[graft.queries.Q], f: String) = qs.map(_.name -> f)
    (names(graft.SparkEntry.allQueries, "other") ++ names(Relational.all, "relational") ++
      names(Relational2.all, "relational") ++ names(Analytics.all, "analytics") ++
      names(Advanced.all, "advanced") ++ names(Extensions.all, "ext")).toMap
  }
  def familyOf(q: String): String = byFamily(q)

  /** The fixed query set, every family but Maintenance (the only one
    * that writes tables). */
  val Mix: Seq[String] = Seq(
    "q_limit_offset", "q_topk", "q_lower_agg",           // relational
    "q_histogram",                                       // analytics
    "q_grouping_sets",                                   // advanced
    "q_text_fingerprint", "q_dedup_exact", "q_simsearch_topk", // ext
    "q_embed_int8", "q_linreg_fit")                      // other

  val LayerNames: Seq[String] = Families.flatMap(f =>
    Seq("build_ms", "plan_ms", "exec_ms", "jobs", "task_ms", "shuffle_mb")
      .map(k => s"queries.$f.$k")) ++
    Seq("queries.analysis_ms", "queries.optimizer_ms", "queries.physical_ms", "spark.busy_frac")
}
