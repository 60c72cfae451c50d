package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape of the harness and tool entry
  * points (`Bench`, `Verify` and `graft.tools`): `local[cpus]` with as
  * many shuffle partitions, UTC session time, TIMESTAMP_MICROS output
  * (INT96, the 4.x default, is deprecated AND carries no usable footer
  * stats — micros keeps timestamp columns data-skippable), the engine's
  * optimizer extensions (e.g. fold-over-zip → native VecDot) and no UI.
  * `extraConf` adds or overrides keys. */
object GraftSession {
  def local(cpus: Int, extraConf: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false")
    (base ++ extraConf).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  }
}
