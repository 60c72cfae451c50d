package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{DeltaLog, IcebergExport, Manifest}
import graft.sources.GraftSource

/**
 * SQL stored procedures for graft-table MAINTENANCE — the operator
 * side of the reference's run-it-on-a-schedule model
 * (reference README.md's deploy/maintain loop), reachable from pure
 * SQL through the V2 catalog's `ProcedureCatalog` face:
 *
 * {{{
 *   CALL graft.system.compact(table => 'db.t')
 *   CALL graft.system.zorder(table => 'db.t', columns => 'k1,k2')
 *   CALL graft.system.vacuum(table => 'db.t', keep_last => 3)
 *   CALL graft.system.restore(table => 'db.t', version => 2)
 *   CALL graft.system.history(table => 'db.t')
 *   CALL graft.system.export_delta(table => 'db.t')
 *   CALL graft.system.export_iceberg(table => 'db.t')
 * }}}
 *
 * Each procedure resolves its `table` argument as a name in THIS
 * catalog (the same warehouse mapping + LOCATION redirect as table
 * resolution), runs the library maintenance call, and returns a
 * one-row result (a driver-local scan — the outputs are counters and
 * snapshot ids, metadata-scale by construction). `compact` and
 * `zorder` are argument checkers over the one entry point
 * [[graft.io.Manifest.compact]]: they resolve the layout (declared
 * partitioning, else the snapshot's uniform hive layout), so a
 * hive-partitioned table compacts per partition value (or clusters
 * within it) and everything else into size-targeted flat files.
 */
private[catalog] object GraftProcedures {

  /** One-row driver-local result. */
  private final class RowScan(schema: StructType, row: InternalRow)
      extends LocalScan {
    override def rows(): Array[InternalRow] = Array(row)
    override def readSchema(): StructType = schema
  }

  private def result(schema: StructType, values: Any*): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(
      new RowScan(schema,
        InternalRow.fromSeq(values)): Scan).iterator()

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def inDefault(name: String, dt: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** A procedure over one graft table: shared unbound→bound plumbing;
    * `run(dir, declaredPartCols, args)` gets the resolved table dir,
    * the sidecar's declared partitioning, and the aligned input row. */
  private abstract class TableProcedure(cat: GraftCatalog,
      procName: String, desc: String) extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    def params: Array[ProcedureParameter]
    def outSchema: StructType
    def run(spark: SparkSession, dir: String, declaredPartCols: Seq[String],
        args: InternalRow): java.util.Iterator[Scan]

    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params
        override def isDeterministic: Boolean = false // commits state
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = SparkSession.active
          require(!input.isNullAt(0),
            s"graft catalog: CALL $procName needs a non-null table argument")
          val table = input.getUTF8String(0).toString
          val (dir, declared) = cat.resolveTable(table)
          run(spark, dir, declared, input)
        }
      }
  }

  /** CALL compact / CALL zorder output: the new snapshot and the
    * table's file count in it. */
  private val CompactSchema = new StructType()
    .add("snapshot", StringType).add("files", LongType)

  private val DefaultTargetFileBytes = 128L * 1024 * 1024

  /** `where_partition => 'k=v[,k2=v2]'`: the hive partitions a
    * compaction is scoped to (empty = the whole table). */
  private def wherePartition(args: InternalRow, i: Int): Map[String, String] =
    if (args.isNullAt(i)) Map.empty
    else {
      val eq = args.getUTF8String(i).toString.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)
        .map { kv =>
          val at = kv.indexOf('=')
          require(at > 0, s"graft catalog: malformed where_partition " +
            s"entry '$kv' (expected k=v)")
          kv.substring(0, at).trim -> kv.substring(at + 1).trim
        }.toMap
      require(eq.nonEmpty,
        "graft catalog: where_partition needs at least one k=v entry")
      eq
    }

  /** The layout a compaction lands. DECLARED partitioning wins: a
    * mixed-layout snapshot (e.g. a path append without partitionBy)
    * must compact BACK to the declared layout, repairing the demotion,
    * never finalizing it. Else the current snapshot's uniform layout. */
  private def layoutOf(spark: SparkSession, dir: String,
      declared: Seq[String]): Seq[String] =
    if (declared.nonEmpty) declared
    else GraftSource.uniformPartitionColsOf(spark, dir)

  /** The shared body of CALL compact and CALL zorder: one
    * [[Manifest.compact]] commit, reported as the new snapshot and the
    * table's file count in it. */
  private def compactTable(spark: SparkSession, dir: String, snap: String,
      target: Long, clusterBy: Seq[String], where: Map[String, String],
      partCols: Seq[String]): java.util.Iterator[Scan] = {
    // Nil = no layout known here (flat or mixed): the core reads the
    // rewritten files' own layout, so a scoped compaction of a mixed
    // table still finds the hive tree of the files it matched
    val res = Manifest.compact(spark, dir, snap, target, clusterBy, where,
      Some(partCols).filter(_.nonEmpty))
    require(res.committed.isDefined,
      s"graft catalog: no files match where_partition " +
        s"${where.map { case (k, v) => s"$k=$v" }.mkString(",")}")
    spark.catalog.refreshByPath(dir)
    result(CompactSchema, UTF8String.fromString(snap),
      res.committedFiles.toLong)
  }

  def all(cat: GraftCatalog): Map[String, UnboundProcedure] = Map(
    "compact" -> new TableProcedure(cat, "compact",
      "compact the current snapshot (layout-preserving) into a new commit") {
      // -1 = "unset": a partitioned compaction writes one file per
      // partition value and has no size knob, so an EXPLICIT target on
      // that layout refuses loudly instead of being silently ignored
      override val params = Array(
        in("table", StringType),
        inDefault("target_file_bytes", LongType, "-1"),
        // OPTIMIZE … WHERE: "k=v[,k2=v2]" compacts ONLY the matching
        // hive partitions, carrying every other file by reference —
        // the daily hot-partition maintenance move
        inDefault("where_partition", StringType, "null"))
      override val outSchema = CompactSchema
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] = {
        val target = args.getLong(1)
        require(target == -1L || target > 0,
          s"graft catalog: target_file_bytes must be positive, got $target")
        val where = wherePartition(args, 2)
        val partCols = layoutOf(spark, dir, declaredPartCols)
        if (target != -1L) {
          require(where.isEmpty,
            "graft catalog: where_partition compaction writes one file " +
              "per matched partition value; target_file_bytes is not " +
              "configurable on this form")
          require(partCols.isEmpty,
            "graft catalog: compact on a hive-partitioned table writes " +
              "one file per partition value; target_file_bytes is not " +
              "configurable on this layout")
        }
        compactTable(spark, dir, s"compact${System.currentTimeMillis()}",
          if (target == -1L) DefaultTargetFileBytes else target, Nil, where,
          partCols)
      }
    },
    "zorder" -> new TableProcedure(cat, "zorder",
      "clustered compaction: rewrite the snapshot range-clustered on " +
        "the given columns so footer-bounds data skipping bites") {
      override val params = Array(
        in("table", StringType),
        // comma-separated cluster columns; omitted/null = the table's
        // declared `CLUSTER BY` (the liquid-clustering cadence:
        // declare once, CALL zorder applies it every maintenance pass)
        inDefault("columns", StringType, "null"),
        inDefault("target_file_bytes", LongType, DefaultTargetFileBytes.toString),
        // OPTIMIZE … WHERE … ZORDER BY: "k=v[,k2=v2]" clusters ONLY the
        // matching hive partitions, carrying every other file by
        // reference — the nightly hot-partition move with tight bounds
        inDefault("where_partition", StringType, "null"))
      override val outSchema = CompactSchema
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] = {
        val explicit =
          if (args.isNullAt(1)) Nil
          else args.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
        val cols =
          if (explicit.nonEmpty) explicit
          else {
            val p = new org.apache.hadoop.fs.Path(dir)
            GraftTableMeta.read(
              p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
              .flatMap(_.properties.get(GraftTableMeta.ClusterByProp))
              .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
              .getOrElse(Nil)
          }
        require(cols.nonEmpty,
          "graft catalog: CALL zorder needs cluster columns - pass " +
            "columns => 'c1,c2' or declare them with CLUSTER BY")
        val target = args.getLong(2)
        require(target > 0,
          s"graft catalog: target_file_bytes must be positive, got $target")
        val where = wherePartition(args, 3)
        val partCols = layoutOf(spark, dir, declaredPartCols)
        require(cols.forall(c => !partCols.contains(c)),
          s"graft catalog: cluster columns ${cols.mkString(", ")} must not " +
            s"include partition columns (${partCols.mkString(", ")}) - " +
            "partition values are already path-exact")
        compactTable(spark, dir, s"zorder${System.currentTimeMillis()}",
          target, cols, where, partCols)
      }
    },
    "vacuum" -> new TableProcedure(cat, "vacuum",
      "drop old snapshots past keep_last and reclaim unreferenced data") {
      override val params = Array(
        in("table", StringType),
        inDefault("keep_last", IntegerType, "1"),
        inDefault("orphan_grace_ms", LongType, "3600000"))
      override val outSchema = new StructType().add("removed", LongType)
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] =
        result(outSchema, Manifest.vacuum(spark, dir,
          args.getInt(1), args.getLong(2)).size.toLong)
    },
    "restore" -> new TableProcedure(cat, "restore",
      "roll the table head back to a retained snapshot (by id or " +
        "commit seq) - zero data movement, history preserved") {
      override val params = Array(
        in("table", StringType),
        inDefault("snapshot", StringType, "null"),
        inDefault("version", LongType, "-1"))
      override val outSchema = new StructType()
        .add("restored_to", StringType).add("new_snapshot", StringType)
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] = {
        val bySnap = if (args.isNullAt(1)) None
          else Some(args.getUTF8String(1).toString)
        val byVer = if (args.isNullAt(2) || args.getLong(2) < 0) None
          else Some(args.getLong(2))
        require(bySnap.isDefined != byVer.isDefined,
          "graft catalog: CALL restore needs exactly one of " +
            "snapshot => '<id>' or version => <commit_seq>")
        // RESTORE rolls back METADATA with the data (Delta semantics):
        // the rolled-back schema rides IN the restore commit as its
        // embedded meta payload, keyed by that commit's own seq — one
        // atomic publish, so a concurrent ALTER either precedes the
        // restore (and is rolled back with it) or makes its CAS refuse
        val tname = args.getUTF8String(0).toString
        var restoredMeta: Option[GraftTableMeta] = None
        val (target, newSnap) = Manifest.restoreTo(spark, dir,
          bySnap.toLeft(byVer.get),
          metaFor = (targetSeq, newSeq) => {
            restoredMeta = cat.restoredMetaFor(tname, targetSeq, newSeq)
            restoredMeta.map(m =>
              GraftTableMeta.toB64(m.copy(location = None)))
          })
        if (newSnap.isDefined)
          restoredMeta.foreach(m => cat.refreshSidecarCache(tname, m))
        spark.catalog.refreshByPath(dir)
        result(outSchema, UTF8String.fromString(target),
          newSnap.map(UTF8String.fromString).orNull)
      }
    },
    "history" -> new TableProcedure(cat, "history",
      "the table's retained commit history, oldest to newest " +
        "(DESCRIBE HISTORY)") {
      override val params = Array(in("table", StringType))
      override val outSchema = new StructType()
        .add("version", LongType).add("snapshot", StringType)
        .add("committed_at", LongType).add("files", LongType)
        .add("delete_files", LongType).add("rewrite",
          org.apache.spark.sql.types.BooleanType)
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] = {
        // metadata-scale: one row per RETAINED commit (KB-sized
        // manifest reads; vacuum bounds the count)
        val histRows = Manifest.history(spark, dir).map(m =>
          InternalRow.fromSeq(Seq(m.seq,
            UTF8String.fromString(m.snapshot), m.committedAt,
            m.files.size.toLong, m.deleteFiles.size.toLong, m.rewrite)))
          .toArray
        val schema = outSchema
        java.util.Collections.singletonList(new LocalScan {
          override def rows(): Array[InternalRow] = histRows
          override def readSchema(): StructType = schema
        }: Scan).iterator()
      }
    },
    "tag" -> new TableProcedure(cat, "tag",
      "record an Iceberg TAG (named reference) on a retained snapshot; " +
        "the next export_iceberg emits it in the metadata refs map") {
      override val params = Array(
        in("table", StringType),
        in("name", StringType),
        inDefault("snapshot", StringType, "null"),
        inDefault("version", LongType, "-1"))
      override val outSchema = new StructType()
        .add("ref", StringType).add("snapshot_id", LongType)
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] = {
        val refName = args.getUTF8String(1).toString
        require(refName.matches("[A-Za-z0-9._-]+") && refName != "main",
          s"graft catalog: invalid ref name '$refName' ('main' is the " +
            "head branch; names are [A-Za-z0-9._-]+)")
        val bySnap = if (args.isNullAt(2)) None
          else Some(args.getUTF8String(2).toString)
        val byVer = if (args.isNullAt(3) || args.getLong(3) < 0) None
          else Some(args.getLong(3))
        val hist = Manifest.history(spark, dir)
        // default: tag the current head
        val seq = (bySnap, byVer) match {
          case (Some(sn), None) =>
            hist.find(_.snapshot == sn).map(_.seq).getOrElse(
              throw new IllegalArgumentException(
                s"graft catalog: no retained snapshot '$sn' under $dir"))
          case (None, Some(v)) =>
            hist.find(_.seq == v).map(_.seq).getOrElse(
              throw new IllegalArgumentException(
                s"graft catalog: no retained commit_seq $v under $dir"))
          case (None, None) =>
            hist.lastOption.map(_.seq).getOrElse(
              throw new IllegalArgumentException(
                s"graft catalog: no committed snapshot under $dir to tag"))
          case _ => throw new IllegalArgumentException(
            "graft catalog: CALL tag takes at most one of snapshot/version")
        }
        // the property write rides the CAS-serialized ALTER commit, so
        // a tag racing writers/other tags can never be dropped
        cat.setTableProperty(args.getUTF8String(0).toString,
          IcebergExport.RefPropPrefix + refName, seq.toString)
        result(outSchema, UTF8String.fromString(refName), seq)
      }
    },
    "export_delta" -> new TableProcedure(cat, "export_delta",
      "export/refresh the table's Delta-protocol _delta_log") {
      override val params = Array(in("table", StringType))
      override val outSchema = new StructType()
        .add("versions_exported", LongType)
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] =
        result(outSchema, DeltaLog.exportLog(spark, dir).size.toLong)
    },
    "export_iceberg" -> new TableProcedure(cat, "export_iceberg",
      "export/refresh the table's Iceberg-v2 metadata tree") {
      override val params = Array(in("table", StringType))
      override val outSchema = new StructType().add("generation", IntegerType)
      override def run(spark: SparkSession, dir: String,
          declaredPartCols: Seq[String],
          args: InternalRow): java.util.Iterator[Scan] =
        result(outSchema, IcebergExport.exportTable(spark, dir))
    })
}
