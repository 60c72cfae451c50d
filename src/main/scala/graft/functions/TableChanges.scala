package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StringType

import graft.io.Manifest

/**
 * The SQL face of the change feed — a table-valued function, Delta's
 * `table_changes` shape:
 *
 * {{{
 *   SELECT * FROM graft_table_changes('cat.db.orders', 'base-snap')
 *   SELECT * FROM graft_table_changes('/data/tbl', 'start', 'until-snap')
 * }}}
 *
 * The first argument is a table NAME (resolved through the V2 catalog
 * — must load as a graft table) or a PATH (anything containing '/');
 * the second is the baseline snapshot (exclusive; `'start'` = the
 * oldest retained snapshot's rows as inserts, then every later
 * change); the optional third bounds the span (inclusive).
 * Returns the table's columns plus `_change_type` / `_commit_version`
 * / `_commit_timestamp`, exactly as `.option("readChangeFeed", …)` —
 * same reader, same refusals (unrecorded change commits name
 * themselves and ask for a re-baseline). Registered by
 * [[GraftExtensions]]; analysts get row-level history in plain SQL
 * with no DataFrame code.
 */
object TableChanges {

  private[functions] val ident = FunctionIdentifier("graft_table_changes")

  private[functions] val info = new ExpressionInfo(
    getClass.getName.stripSuffix("$"), "graft_table_changes")

  def build(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      "graft_table_changes(table, since[, until]) takes 2 or 3 arguments")
    def str(e: Expression, what: String): String = e match {
      case Literal(v, StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"graft_table_changes: $what must be a string literal, got $other")
    }
    val spark = SparkSession.active
    val dir = resolveDir(spark, str(args.head, "table"))
    val since = str(args(1), "since")
    val until = args.drop(2).headOption.map(str(_, "until"))
    val rel = new graft.sources.GraftFrameRelation(spark,
      () => Manifest.readChangeFeed(spark, dir, since, until))
    val attrs = rel.schema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    LogicalRelation(rel, attrs, None, false, None)
  }

  /** A '/'-bearing argument is a table dir; anything else resolves as
    * a (possibly catalog-qualified) table name through the V2 catalog
    * machinery and must load as a graft table. */
  private def resolveDir(spark: SparkSession, target: String): String = {
    if (target.contains("/")) return target
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(target)
    val cm = spark.sessionState.catalogManager
    val (cat, rest) =
      if (parts.size > 1 &&
          scala.util.Try(cm.catalog(parts.head)).isSuccess)
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog, parts)
    cat match {
      case tc: org.apache.spark.sql.connector.catalog.TableCatalog =>
        val id = org.apache.spark.sql.connector.catalog.Identifier.of(
          rest.init.toArray, rest.last)
        tc.loadTable(id) match {
          case g: graft.catalog.GraftCatalogTable => g.dir
          case other => throw new IllegalArgumentException(
            s"graft_table_changes: '$target' is not a graft table " +
              s"(${other.getClass.getSimpleName})")
        }
      case other => throw new IllegalArgumentException(
        s"graft_table_changes: catalog '${other.name}' is not a table " +
          "catalog")
    }
  }
}
