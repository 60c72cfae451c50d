package graft.tools

import java.nio.file.{Files, Paths}

/** Physical-plan census over every SparkEntry query: counts of the
  * plan features that matter at scale (exchanges, broadcast vs
  * sort-merge joins, whole-stage codegen spans, parquet pushdown) →
  * `PLANS.md`. The audit trail for SURVEY §4's claims — regenerate after
  * operator changes with `sbt "runMain graft.tools.PlanAudit"`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // AQE off for the census: an un-executed AdaptiveSparkPlanExec
    // prints its initial plan without codegen spans; the static
    // preparation shows the real WholeStageCodegen coverage
    val spark = graft.GraftSession.local(8,
      Map("spark.sql.adaptive.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"

    def count(plan: String, needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)

    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val ex = count(plan, "Exchange hashpartitioning") + count(plan, "Exchange rangepartitioning")
        val bhj = count(plan, "BroadcastHashJoin")
        val smj = count(plan, "SortMergeJoin")
        val wsc = count(plan, "*(") // whole-stage codegen span markers
        val scan = count(plan, "Scan parquet")
        val pushed = count(plan, "PushedFilters: [")
        val window = count(plan, "Window [") // delimited: WindowGroupLimit must not inflate
        s"| $name | $ex | $bhj | $smj | $window | $wsc | $scan | $pushed |"
      } catch {
        case e: Throwable => s"| $name | ERROR: ${e.getClass.getSimpleName} | | | | | | |"
      }
    }

    val out = new StringBuilder
    out ++= "# PLANS — physical-plan census (static plans at "
    out ++= s"$dir, AQE re-plans shuffles at runtime)\n\n"
    out ++= "Generated by `graft.tools.PlanAudit`. Columns: hash/range exchanges, "
    out ++= "broadcast joins, sort-merge joins, window ops, whole-stage-codegen "
    out ++= "spans, parquet scans, scans with pushed filters.\n\n"
    out ++= "| query | exch | bhj | smj | win | codegen | scans | pushed |\n"
    out ++= "|---|---|---|---|---|---|---|---|\n"
    rows.foreach(r => out ++= (r + "\n"))
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"[plan-audit] wrote PLANS.md (${rows.length} queries)")
    spark.stop()
  }
}
