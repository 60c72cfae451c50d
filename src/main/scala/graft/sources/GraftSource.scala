package graft.sources

import java.util.Locale

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GenericInternalRow}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.{SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, InsertableRelation, PrunedFilteredScan, RelationProvider, Filter => SourceFilter}
import org.apache.spark.sql.types._

import graft.io.{FileStats, Manifest}

/**
 * `spark.read.format("graft")` — the Spark-API face of a
 * [[graft.io.Manifest]]-committed table, so the engine's
 * snapshot-isolated tables are queryable from the DataFrame API and
 * (via a temp view) plain SQL, the way the reference's analysts reach
 * everything through a catalog (reference README.md:424-436 — deploy,
 * register, query via SQL — and create_database_schema.py:4-8's
 * register-then-query model). Without this face the engine's richest
 * tables are Scala-library-only.
 *
 * Options (all optional; at most one time-travel selector):
 *  - `versionAsOf`    — a retained `commit_seq`
 *  - `snapshotAsOf`   — a retained snapshot id
 *  - `timestampAsOf`  — epoch millis or an ISO date-time; resolves to
 *    the newest snapshot committed at or before it (the manifests' own
 *    `committed_at` instants — the same lineage the table-format
 *    exports stamp into their logs)
 *
 * Architecture — deliberately the shape delta-spark itself uses (a V1
 * relation carrying a CUSTOM [[FileIndex]] into `HadoopFsRelation`),
 * because it keeps Spark's entire parquet machinery on the hot path:
 * vectorized decode, whole-stage codegen, filter/column pushdown into
 * the scan, AQE, dynamic partition pruning. A DSv2 `PartitionReader`
 * re-implementing parquet row materialization would be strictly slower
 * at every scale; the table format's job is deciding WHICH files to
 * scan, and [[GraftFileIndex]] is exactly that hook:
 *
 *  - **partition pruning**: hive `k=v` values from the manifest's own
 *    file list evaluate the pushed partition filters per directory —
 *    path-exact, zero footer reads, zero data-tree listing (the same
 *    prune [[Manifest.readWherePartitions]] performs, here driven by
 *    the planner's filters so it composes with SQL);
 *  - **stats pruning**: one distributed footer pass
 *    ([[FileStats.collect]]) yields per-file min/max bounds; pushed
 *    data filters (=, <, <=, >, >=, IN, IS [NOT] NULL over literals)
 *    drop files whose bounds provably cannot match, failing OPEN on
 *    anything unprovable — the zone-map contract;
 *  - the same footer pass supplies exact file sizes, so
 *    `sizeInBytes` is accurate and a small snapshot under a join
 *    AUTO-BROADCASTS instead of shuffling.
 *
 * Snapshots carrying merge-on-read position deletes (and the rare
 * mixed flat+partitioned history) read through [[GraftMorRelation]]
 * instead: correctness first — the anti-join applies inside the scan —
 * at a row-boundary cost that lasts only until the table's own
 * compaction purges the delete state.
 */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft"

  // ---- STRUCTURED STREAMING faces (see sources/GraftStreaming.scala) ----

  private def pathOf(parameters: Map[String, String]): String =
    parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
      .getOrElse("path", throw new IllegalArgumentException(
        "graft: .load(<manifest table dir>) / .option(\"path\", …) is required"))

  private def wantsCdf(parameters: Map[String, String]): Boolean =
    parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
      .get("readchangefeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val dir = pathOf(parameters)
    val table = schema.getOrElse(
      Manifest.read(sqlContext.sparkSession, dir).schema)
    (shortName(),
      if (wantsCdf(parameters)) Manifest.cdfSchema(table) else table)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val opts = parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val dir = pathOf(parameters)
    val spark = sqlContext.sparkSession
    def posInt(key: String, label: String): Option[Int] =
      opts.get(key).map { v =>
        val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"graft stream: $label must be a positive int, got '$v'"))
        require(n > 0, s"graft stream: $label must be positive, got $n")
        n
      }
    // bytes accept the usual suffixed forms ("64m", "1g") like Delta's
    val maxBytes = opts.get("maxbytespertrigger").map { v =>
      val n = scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
        .getOrElse(throw new IllegalArgumentException(
          s"graft stream: maxBytesPerTrigger must be a byte size, got '$v'"))
      require(n > 0, s"graft stream: maxBytesPerTrigger must be positive, got $n")
      n
    }
    val cdf = wantsCdf(parameters)
    val table = schema.getOrElse(Manifest.read(spark, dir).schema)
    new GraftStreamSource(spark, dir,
      if (cdf) Manifest.cdfSchema(table) else table,
      skipChangeCommits = opts.get("skipchangecommits").exists(_.toBoolean),
      maxCommitsPerTrigger = posInt("maxcommitspertrigger", "maxCommitsPerTrigger"),
      maxFilesPerTrigger = posInt("maxfilespertrigger", "maxFilesPerTrigger"),
      maxBytesPerTrigger = maxBytes,
      readChangeFeed = cdf)
  }

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val opts = parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "graft sink: .option(\"path\", <manifest table dir>) is required"))
    // partition columns from writeStream.partitionBy, or the batch
    // writer's option for symmetry
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else opts.get("partitionby").map(_.split(",").map(_.trim).toSeq
        .filter(_.nonEmpty)).getOrElse(Nil)
    new GraftSink(sqlContext.sparkSession, dir, partCols, outputMode)
  }

  /** The WRITE face: `df.write.format("graft").mode(…)` — every save
    * mode maps to the Manifest's own commit semantics, so writes
    * through the Spark API get the same snapshot isolation, CAS
    * commit, append rebase, and time travel as library calls:
    *
    *  - Overwrite → [[Manifest.write]] (a fresh snapshot replacing the
    *    head; partitioned via option `partitionBy=col1,col2`)
    *  - Append    → [[Manifest.append]] (carry-forward commit; rebases
    *    on a lost race like any append)
    *  - ErrorIfExists → commit only a FIRST snapshot, else throw
    *  - Ignore    → no-op when the table already has a commit
    *
    * Snapshot ids default to a fresh `w<millis>-<uuid8>`; pass option
    * `snapshot` for an explicit id (the streaming/replay dedupe key).
    * This is also the path SQL DDL takes: `CREATE TABLE … USING graft`
    * with a query body lands through here, and `INSERT INTO` resolves
    * through [[InsertableRelation]] on the read relations. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val opts = parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "graft: .save(<manifest table dir>) is required"))
    val spark = sqlContext.sparkSession
    val exists = Manifest.head(spark, dir).nonEmpty
    def snap(): String = opts.getOrElse("snapshot",
      s"w${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}")
    val partCols = opts.get("partitionby").map(_.split(",").map(_.trim).toSeq
      .filter(_.nonEmpty)).getOrElse(Nil)
    mode match {
      case SaveMode.Overwrite =>
        if (partCols.isEmpty) Manifest.write(data, dir, snap())
        else Manifest.writePartitioned(data, dir, snap(), partCols)
      case SaveMode.Append =>
        if (!exists) {
          if (partCols.isEmpty) Manifest.write(data, dir, snap())
          else Manifest.writePartitioned(data, dir, snap(), partCols)
        } else if (partCols.isEmpty) Manifest.append(data, dir, snap())
        else Manifest.appendPartitioned(data, dir, snap(), partCols)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft table under $dir already has committed snapshots " +
            "(mode=ErrorIfExists)")
        else if (partCols.isEmpty) Manifest.write(data, dir, snap())
        else Manifest.writePartitioned(data, dir, snap(), partCols)
      case SaveMode.Ignore =>
        if (!exists) {
          if (partCols.isEmpty) Manifest.write(data, dir, snap())
          else Manifest.writePartitioned(data, dir, snap(), partCols)
        }
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val opts = parameters.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val dir = opts.getOrElse("path", throw new IllegalArgumentException(
      "graft: .load(<manifest table dir>) is required"))
    GraftSource.buildRelation(sqlContext.sparkSession, dir, opts)
  }
}

object GraftSource {

  /** The read relation for a table dir + (lowercased) option map —
    * shared by the format face above and the V2 catalog
    * ([[graft.catalog.GraftCatalogReadRule]]), so a named table and a
    * path read resolve through ONE code path.
    *
    * `declaredSchema` (schema evolution): the catalog passes its DDL
    * sidecar's declared schema; a bare path read recovers the same
    * sidecar from the table dir when one exists. When present it is
    * AUTHORITATIVE — scans run with it as the user-specified schema
    * (zero footer inference; the resolution cost stops depending on
    * file count), and files predating an `ALTER TABLE ADD COLUMN`
    * null-fill the new column inside the parquet reader itself. */
  private[graft] def buildRelation(spark: SparkSession, dir: String,
      opts: Map[String, String],
      declaredSchema: Option[StructType] = None): BaseRelation = {
    // CHANGE DATA FEED as a reader option (round 13):
    // `.option("readChangeFeed", "true")[.option("changesSince", snap)
    // [.option("changesUntil", snap)]]` serves ROW-LEVEL changes typed
    // by `_change_type` — the face that serves what the plain
    // changesSince diff refuses (DML commits record their change as
    // cdc files at commit time; see [[Manifest.readChangeFeed]]).
    // Default baseline is "start": the oldest retained snapshot's rows
    // as inserts, then every later commit's changes.
    if (opts.get("readchangefeed").exists(_.toBoolean)) {
      require(!Seq("versionasof", "snapshotasof", "timestampasof")
          .exists(opts.contains),
        "graft: readChangeFeed cannot combine with a time-travel selector " +
          "(bound the span with changesSince/changesUntil instead)")
      return new GraftFrameRelation(spark, () => Manifest.readChangeFeed(
        spark, dir, opts.getOrElse("changessince", "start"),
        opts.get("changesuntil")))
    }
    // INCREMENTAL READ as a reader option (round 12):
    // `.option("changesSince", <snapshot>)` serves the rows ADDED after
    // the named retained snapshot — the manifest file-set difference,
    // on the SAME vectorized fast path as a full read (the file index
    // simply lists fewer files). Data-proportional output stays
    // distributed, which is why this is a read option and not a
    // procedure. The append-only span guard is readChangesSince's:
    // a rewrite commit in the span fails loudly (re-baseline).
    opts.get("changessince").foreach { since =>
      require(!Seq("versionasof", "snapshotasof", "timestampasof")
          .exists(opts.contains),
        "graft: changesSince cannot combine with a time-travel selector")
      return changesRelation(spark, dir, since, opts)
    }
    val m = GraftSource.resolveSnapshot(spark, dir, opts)
    val timeTravel = Seq("versionasof", "snapshotasof", "timestampasof")
      .exists(opts.contains)
    val declared = (
      // a time-travel read resolves the schema declared AS OF the
      // selected commit (the sidecar's schema history) — never the
      // caller's CURRENT declared schema: `VERSION AS OF` below an
      // ALTER must read the as-committed shape, Delta's
      // last-metaData-wins semantics
      if (timeTravel) Manifest.declaredSchemaAt(spark, dir, m.seq)
      else declaredSchema.orElse {
        val p = new Path(dir)
        val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.catalog.GraftTableMeta.read(fsys, p).flatMap(_.schema)
      }
    ).map(s => StructType(s.map(_.copy(nullable = true))))
    buildSnapshotRelation(spark, dir, m, declared, opts)
  }

  /** The relation for a pinned (possibly file-restricted) snapshot
    * under a resolved declared schema — the shared tail of
    * [[buildRelation]] and [[changesRelation]]. */
  private def buildSnapshotRelation(spark: SparkSession, dir: String,
      m: Manifest.ManifestData, declared: Option[StructType],
      opts: Map[String, String]): BaseRelation =
    GraftSource.uniformPartitionCols(m.files) match {
      case Some(partNames) if m.deleteFiles.isEmpty &&
          !declared.exists(Manifest.ColumnMapping.hasMapping) =>
        // a COLUMN-MAPPED table (post RENAME COLUMN) cannot ride the
        // raw HadoopFsRelation — its parquet columns carry physical
        // names; the MOR relation below reads through the library's
        // physical→logical projection (the vectorize rule keeps plain
        // reads on the codegen'd scan)
        val fullSchema = declared.getOrElse(
          Manifest.readFiles(spark, dir, m.files).schema)
        val partSchema = StructType(partNames.map(n =>
          fullSchema.find(_.name == n).getOrElse(
            throw new IllegalStateException(
              s"graft: partition column '$n' missing from recovered schema"))))
        val dataSchema =
          StructType(fullSchema.filterNot(f => partNames.contains(f.name)))
        HadoopFsRelation(
          new GraftFileIndex(spark, dir, m, partSchema),
          partSchema, dataSchema, None, new ParquetFileFormat(), opts)(spark)
      case _ =>
        // merge-on-read delete state (or a mixed-layout history): the
        // deletes must apply INSIDE the scan — delegate to the library
        // read path's anti-join
        new GraftMorRelation(spark, dir, m, declared)
    }

  /** The `.option("changesSince", …)` relation: the CURRENT snapshot's
    * file index restricted to files the baseline does not list —
    * [[graft.io.Manifest.readChangesSince]]'s semantics (monotone file
    * sets make the diff exactly the row delta; rewrite commits in the
    * span refuse loudly) on the vectorized scan path. An empty delta
    * reads as ZERO ROWS under the current schema rather than erroring:
    * the downstream incremental job simply has nothing to do. */
  private def changesRelation(spark: SparkSession, dir: String,
      since: String, opts: Map[String, String]): BaseRelation = {
    val hist = Manifest.history(spark, dir)
    require(hist.nonEmpty, s"graft: no committed snapshot under $dir")
    // the span rule SHARED with readChangesSince: refuses rewrite
    // commits and merge-on-read delete-state changes
    val (current, newFiles) = Manifest.appendedSince(hist, since, dir,
      s"graft: no retained snapshot '$since' under $dir " +
        s"(retained: ${hist.map(_.snapshot).mkString(", ")})")
    val declared = Manifest.declaredSchemaAt(spark, dir, current.seq)
    if (newFiles.isEmpty) {
      val schema = declared.getOrElse(
        Manifest.readFiles(spark, dir, current.files).schema)
      return new GraftEmptyRelation(spark, dir, schema)
    }
    // delete state is refused ABOVE whenever it changed inside the
    // span, and standing (pre-baseline) deletes ride only on CARRIED
    // files, which the diff excludes — so the delta reads clean
    buildSnapshotRelation(spark, dir,
      current.copy(files = newFiles, deleteFiles = Nil), declared, opts)
  }

  /** Resolve the snapshot the options select (default: current). */
  private[sources] def resolveSnapshot(spark: SparkSession, dir: String,
      opts: Map[String, String]): Manifest.ManifestData = {
    val selectors = Seq("versionasof", "snapshotasof", "timestampasof")
      .flatMap(k => opts.get(k).map(k -> _))
    // only time travel needs the retained history; a plain read parses
    // the head manifest alone
    lazy val hist = Manifest.history(spark, dir)
    val latest =
      if (selectors.isEmpty) Manifest.head(spark, dir) else hist.lastOption
    require(latest.nonEmpty, s"graft: no committed snapshot under $dir")
    require(selectors.size <= 1,
      s"graft: at most one of versionAsOf/snapshotAsOf/timestampAsOf " +
        s"(got ${selectors.map(_._1).mkString(", ")})")
    val m = selectors.headOption match {
      case None => latest.get
      case Some(("versionasof", v)) =>
        val seq = v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"graft: versionAsOf must be a commit_seq number, got '$v'"))
        hist.find(_.seq == seq).getOrElse(throw new IllegalArgumentException(
          s"graft: no retained commit_seq $seq under $dir " +
            s"(retained: ${hist.map(_.seq).mkString(", ")})"))
      case Some(("snapshotasof", s)) =>
        hist.find(_.snapshot == s).getOrElse(throw new IllegalArgumentException(
          s"graft: no retained snapshot '$s' under $dir " +
            s"(retained: ${hist.map(_.snapshot).mkString(", ")})"))
      case Some(("timestampasof", t)) =>
        val ts = parseInstantMillis(t)
        hist.filter(h => h.committedAt > 0 && h.committedAt <= ts)
          .lastOption.getOrElse(throw new IllegalArgumentException(
            s"graft: no snapshot committed at or before $t under $dir"))
      case Some((k, _)) => throw new IllegalStateException(k)
    }
    require(m.files.nonEmpty, s"graft: snapshot '${m.snapshot}' has no data files")
    m
  }

  /** Epoch millis, or an ISO instant / local date-time (UTC — the
    * session timezone every entry point pins). */
  private def parseInstantMillis(s: String): Long =
    s.toLongOption.getOrElse {
      val norm = s.replace(' ', 'T')
      scala.util.Try(java.time.Instant.parse(norm).toEpochMilli).getOrElse(
        scala.util.Try(java.time.LocalDateTime.parse(norm)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli).getOrElse(
          throw new IllegalArgumentException(
            s"graft: unparsable timestampAsOf '$s' (epoch millis or ISO)")))
    }

  /** The snapshot's hive partition column names, when every file agrees
    * on the same ordered layout (Nil = uniformly flat). None = mixed
    * layouts — only the union-by-name library read can serve those. */
  private[graft] def uniformPartitionCols(files: Seq[String]): Option[Seq[String]] = {
    val layouts = files.map(f => Manifest.partitionValuesOf(f).map(_._1)).distinct
    if (layouts.size == 1) Some(layouts.head) else None
  }

  /** The CURRENT snapshot's uniform hive layout (Nil when flat, mixed,
    * or uncommitted) — what a catalog write preserves when the DDL
    * declared no partitioning. */
  private[graft] def uniformPartitionColsOf(spark: SparkSession,
      dir: String): Seq[String] =
    Manifest.head(spark, dir).map(_.files)
      .flatMap(uniformPartitionCols).getOrElse(Nil)
}

/**
 * The table format's planner hook: a snapshot-pinned [[FileIndex]]
 * whose file list comes from the manifest (never a data-tree listing)
 * and whose `listFiles` prunes through the one file split
 * ([[FileStats.splitFiles]]: hive partition values, then footer
 * bounds) before Spark ever opens a footer on the scan path. Immutable
 * by design — a graft relation is a snapshot read, so `refresh()` has
 * nothing to do (the next `spark.read` resolves the then-current
 * manifest).
 */
class GraftFileIndex(spark: SparkSession, dir: String,
    m: Manifest.ManifestData, override val partitionSchema: StructType)
    extends FileIndex {

  private val basePath = new Path(dir)
  private val fsys =
    basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualBase = fsys.makeQualified(basePath).toString

  /** The manifest table root — what the SQL INSERT rewrite commits to. */
  private[graft] def tableDir: String = dir

  /** ONE distributed footer pass serves three masters: exact file
    * lengths for split planning, min/max bounds for data-filter
    * pruning, and an accurate `sizeInBytes` so a small snapshot under
    * a join auto-broadcasts. Cost ∝ file count, footers only — the
    * same pass the table-format exports already pay. */
  private lazy val stats: Map[String, FileStats.FileStat] =
    FileStats.collect(spark, basePath, m.files)

  override def rootPaths: Seq[Path] = Seq(fsys.makeQualified(basePath))
  override def inputFiles: Array[String] =
    m.files.sorted.map(f => s"$qualBase/$f").toArray
  override def refresh(): Unit = ()
  override lazy val sizeInBytes: Long = stats.values.map(_.size).sum

  /** Files grouped per partition tuple, values cast to the partition
    * schema's recovered types (hive null marker → null). */
  private lazy val groups: Seq[(InternalRow, Seq[String])] =
    m.files.groupBy(f => Manifest.partitionValuesOf(f).map(_._2))
      .toSeq.sortBy(_._1.mkString("\u0000"))
      .map { case (vals, fs) => (partRow(vals), fs.sorted) }

  private def partRow(vals: Seq[String]): InternalRow = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    new GenericInternalRow(partitionSchema.fields.zip(vals).map {
      case (f, raw) => FileStats.partitionValue(raw, f.dataType, tz)
    }.toArray[Any])
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = partitionFilters ++ dataFilters
    val kept =
      if (filters.isEmpty) m.files.toSet
      else FileStats.splitFiles(spark, dir, m.files, filters.reduce(And),
        partitionSchema.map(f => f.name -> f.dataType).toMap,
        Some(stats))._1.toSet
    groups.map { case (row, fs) =>
      PartitionDirectory(row, fs.filter(kept).map(fileStatusOf).toArray)
    }.filter(_.files.nonEmpty)
  }

  private def fileStatusOf(rel: String): FileStatus = {
    val fst = stats(rel)
    new FileStatus(fst.size, false, 1, 128L * 1024 * 1024, fst.modTime,
      new Path(s"$qualBase/$rel"))
  }

  /** The pinned snapshot's id — the DML commands verify the head has
    * not moved between analysis and execution. */
  private[graft] def snapshotId: String = m.snapshot

  /** This index pinned to a SUBSET of the snapshot's files — the
    * MERGE touched-file scan (same snapshot, same partition schema;
    * only the listed files are ever opened). */
  private[graft] def restrictTo(files: Seq[String]): GraftFileIndex = {
    val all = m.files.toSet // O(T+N), not O(T×N) linear Seq scans
    require(files.forall(all.contains),
      "graft: restrictTo files must belong to the pinned snapshot")
    new GraftFileIndex(spark, dir, m.copy(files = files), partitionSchema)
  }
}

/**
 * The correctness-first relation for snapshots the vectorized relation
 * cannot serve directly: merge-on-read position deletes (the anti-join
 * must apply inside the scan) and mixed flat/partitioned histories — a
 * [[GraftFrameRelation]] over the library's delete-applied read.
 * Column pruning pushes, and the planner's filter conjunction is
 * translated back to `Column` predicates and planted INSIDE the
 * library frame, under the delete anti-join, so
 * Catalyst pushes it all the way into the inner parquet scans: hive
 * partition directories prune at file-listing time and row groups skip
 * on footer bounds, exactly as on the fast path. (Filtering the DATA
 * side before the anti-join is sound: `_metadata.row_index` is the
 * row's physical position from the scan itself, unchanged by any
 * filter above it, and dropping data rows can only shrink the
 * anti-join's left side.) Every filter is also declared unhandled, so
 * Spark re-verifies row-level above the returned RDD — belt and
 * braces; the translation can therefore drop any untranslatable
 * sub-predicate without a correctness risk. The remaining
 * InternalRow→Row boundary is a linear conversion tax that lasts only
 * until the table's own compaction purges the delete state.
 * SQL `INSERT INTO`/`INSERT OVERWRITE` resolve through
 * [[InsertableRelation]] straight onto Manifest commits.
 */
class GraftMorRelation(spark: SparkSession, dir: String,
    m: Manifest.ManifestData,
    declaredSchema: Option[StructType] = None)
    // the EXPLICIT file list, not readAt(snapshot): `m` may be a
    // file-restricted view of the snapshot (the changesSince delta) —
    // for a full snapshot the two are identical
    extends GraftFrameRelation(spark, () =>
      Manifest.readFilesApplyingDeletes(spark, dir, m.files, m.deleteFiles,
        declaredSchema.orElse(Manifest.declaredSchemaAt(spark, dir, m.seq))))
    with InsertableRelation {
  /** The manifest table root / pinned snapshot — the SQL DML rewrite's
    * coordinates (same contract as [[GraftFileIndex]]). */
  private[graft] def tableDir: String = dir
  private[graft] def snapshotId: String = m.snapshot
  /** The pinned snapshot's OPTIMIZED read plan — what
    * [[GraftMorVectorizeRule]] splices in for plain reads so the scan
    * stays vectorized end-to-end (this relation's own `buildScan`
    * remains the fallback for surfaces that require a V1 relation:
    * INSERT via [[InsertableRelation]], the DML extractor). Optimized,
    * not analyzed: the swap happens mid-optimization, after the
    * hint-elimination and finish-analysis batches have already run —
    * an analyzed subtree would smuggle a ResolvedHint past them. */
  private[graft] def optimizedPlan
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    frame.queryExecution.optimizedPlan
  /** SQL INSERT keeps the snapshot's own hive layout (ADVICE r9: a
    * Nil here landed FLAT files into a partitioned MOR table,
    * permanently demoting it to mixed-layout reads and killing
    * partition pruning); a genuinely mixed history has no single
    * layout to preserve — those keep appending flat. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    GraftInsert.commit(spark, dir,
      GraftSource.uniformPartitionCols(m.files).getOrElse(Nil),
      data, overwrite)
}

/**
 * A relation over a COMPUTED library frame (the change feed, a
 * [[GraftMorRelation]]'s snapshot read) — THE pushdown relation:
 * column pruning pushes, and every planner filter is translated back
 * into the frame (partition dirs prune at listing time, row groups skip
 * on footer bounds) AND declared unhandled, so Spark re-verifies
 * row-level above the scan. Lazy: the frame (and its span validation)
 * materializes on first planning, not at relation-resolution time.
 */
private[graft] class GraftFrameRelation(spark: SparkSession,
    frameF: () => DataFrame) extends BaseRelation with PrunedFilteredScan {
  override def sqlContext: SQLContext = spark.sqlContext
  protected lazy val frame: DataFrame = frameF()
  override lazy val schema: StructType = frame.schema
  // every filter re-evaluates above the scan (sound by construction);
  // pushing a translated copy into the frame is a pure pruning win
  override def unhandledFilters(filters: Array[SourceFilter]): Array[SourceFilter] =
    filters
  override def buildScan(requiredColumns: Array[String],
      filters: Array[SourceFilter]): RDD[Row] = {
    val filtered = GraftFilterTranslate.conjunction(filters) match {
      case Some(cond) => frame.where(cond)
      case None => frame
    }
    val pruned =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.toSeq.map(frame.col): _*)
    pruned.rdd
  }
}

/**
 * `sources.Filter` → `Column` translation for the MOR relation's
 * in-frame pushdown. Partial by design: an untranslatable node makes
 * its whole conjunct drop out (returns None up the tree), which is
 * always sound here because the caller declares EVERY filter unhandled
 * — Spark re-evaluates the full predicate row-level above the scan.
 * Inside And, a half-translatable pair keeps the translatable half
 * (still a superset of the true predicate — prunes less, never wrong);
 * inside Or/Not, partial translation would be UNSOUND (a dropped Or
 * branch or a Not over a weakened child filters too much), so those
 * translate all-or-nothing.
 */
private[sources] object GraftFilterTranslate {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.{functions => F}
  import org.apache.spark.sql.{sources => sf}

  def conjunction(filters: Array[SourceFilter]): Option[Column] =
    filters.flatMap(translate(_, strict = false)).reduceOption(_ && _)

  /** Pushed-filter attribute names are RAW top-level column names —
    * backtick-quote them (doubling embedded backticks), or a column
    * whose name contains a dot is misparsed as struct-field access. */
  private def qcol(name: String): Column =
    F.col("`" + name.replace("`", "``") + "`")

  /** `strict = false` (top-level conjuncts, And children) may WEAKEN:
    * dropping an untranslatable half keeps a superset of the rows.
    * `strict = true` (anywhere under Or/Not) must be EXACT: a weakened
    * Or branch filters too little only until a Not above it flips that
    * into filtering too much — so inside those contexts And translates
    * all-or-nothing too. */
  def translate(f: SourceFilter, strict: Boolean): Option[Column] = f match {
    case sf.EqualTo(a, v) => Some(qcol(a) === F.lit(v))
    case sf.EqualNullSafe(a, v) => Some(qcol(a) <=> F.lit(v))
    case sf.GreaterThan(a, v) => Some(qcol(a) > F.lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(qcol(a) >= F.lit(v))
    case sf.LessThan(a, v) => Some(qcol(a) < F.lit(v))
    case sf.LessThanOrEqual(a, v) => Some(qcol(a) <= F.lit(v))
    case sf.In(a, vs) => Some(qcol(a).isin(vs.toSeq: _*))
    case sf.IsNull(a) => Some(qcol(a).isNull)
    case sf.IsNotNull(a) => Some(qcol(a).isNotNull)
    case sf.StringStartsWith(a, v) => Some(qcol(a).startsWith(v))
    case sf.StringEndsWith(a, v) => Some(qcol(a).endsWith(v))
    case sf.StringContains(a, v) => Some(qcol(a).contains(v))
    case sf.And(l, r) => (translate(l, strict), translate(r, strict)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (one, other) =>
        if (strict) None // under Or/Not a weakened And is UNSOUND
        else one.orElse(other) // the translatable half: prunes less, never wrong
    }
    case sf.Or(l, r) =>
      for (a <- translate(l, strict = true);
           b <- translate(r, strict = true)) yield a || b
    case sf.Not(c) => translate(c, strict = true).map(!_)
    case _ => None
  }
}

/**
 * The read relation of a DECLARED-BUT-NEVER-WRITTEN catalog table: zero
 * rows under the declared schema. A distinct type (not a bare
 * LocalRelation) so [[GraftDmlRule]] can recognize the table and keep
 * SQL DML well-defined on it — DELETE/UPDATE no-op, MERGE's inserts
 * become the first commit.
 */
private[graft] class GraftEmptyRelation(spark: SparkSession,
    val tableDir: String, override val schema: StructType)
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override def sizeInBytes: Long = 0L
  override def buildScan(): RDD[Row] = spark.sparkContext.emptyRDD[Row]
}

/** SQL write plumbing shared by the analyzer rule and the relations. */
private[graft] object GraftInsert {
  /** Positional rename + cast to the table schema, then a Manifest
    * commit under an auto snapshot id. */
  def commit(spark: SparkSession, dir: String, partitionCols: Seq[String],
      data: DataFrame, overwrite: Boolean): Unit = {
    val snap =
      s"w${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}"
    if (overwrite) {
      if (partitionCols.isEmpty) Manifest.write(data, dir, snap)
      else Manifest.writePartitioned(data, dir, snap, partitionCols)
    } else {
      if (partitionCols.isEmpty) Manifest.append(data, dir, snap)
      else Manifest.appendPartitioned(data, dir, snap, partitionCols)
    }
  }
}

/**
 * The SQL WRITE face for the FAST-path relation: Spark's own analysis
 * would plan `INSERT INTO` over a `HadoopFsRelation` as a DIRECT file
 * write into the table directory — bypassing the manifest entirely
 * (rows silently invisible to every reader; `INSERT OVERWRITE` would
 * even clear the directory). This resolution rule intercepts the
 * statement while it is still an `InsertIntoStatement` (our rule runs
 * in the main resolution batch, BEFORE the built-in post-hoc
 * `DataSourceAnalysis` that plans the file write) and rewrites it to a
 * command that lands the rows as a proper Manifest commit — exactly
 * the interception architecture delta-spark uses for the same reason.
 * Registered via [[graft.functions.GraftExtensions]].
 */
object GraftInsertRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case i: InsertIntoStatement if i.query.resolved =>
        i.table match {
          case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
              l.relation.asInstanceOf[HadoopFsRelation]
                .location.isInstanceOf[GraftFileIndex] =>
            val idx = l.relation.asInstanceOf[HadoopFsRelation]
              .location.asInstanceOf[GraftFileIndex]
            require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
              "graft: partition-spec INSERT is not supported — the " +
                "manifest commit owns the layout; write the partition " +
                "columns as ordinary columns")
            require(i.userSpecifiedCols.isEmpty && !i.byName,
              "graft: INSERT with an explicit column list is not " +
                "supported; supply every table column positionally")
            require(i.query.output.size == l.output.size,
              s"graft: INSERT arity ${i.query.output.size} != table " +
                s"arity ${l.output.size}")
            GraftInsertCommand(idx.tableDir,
              idx.partitionSchema.fieldNames.toSeq,
              StructType(l.output.map(a =>
                StructField(a.name, a.dataType, a.nullable))),
              i.query, i.overwrite,
              l.catalogTable.map(_.identifier.quotedString))
          case _ => i
        }
    }
}

/** The rewritten INSERT: align the query output to the table schema by
  * POSITION (names renamed, types cast — SQL INSERT semantics), then
  * one Manifest commit (append rebases on a lost race; overwrite is a
  * fresh snapshot — time travel keeps the pre-INSERT state). */
case class GraftInsertCommand(dir: String, partitionCols: Seq[String],
    tableSchema: StructType,
    query: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    overwrite: Boolean, catalogName: Option[String] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df0 = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, query)
    // positional rename first (robust to duplicate query-output names),
    // then per-column cast to the table types
    val renamed = df0.toDF(tableSchema.fieldNames.toSeq: _*)
    val aligned = renamed.select(tableSchema.fields.map(f =>
      renamed.col(s"`${f.name}`").cast(f.dataType).as(f.name)).toSeq: _*)
    GraftInsert.commit(spark, dir, partitionCols, aligned, overwrite)
    // the resolved relation is snapshot-pinned by design — invalidate
    // the caches so the NEXT query resolves the new head (the same
    // post-insert refresh Spark's own file-write command performs)
    spark.catalog.refreshByPath(dir)
    catalogName.foreach(spark.catalog.refreshTable)
    Seq.empty
  }
}
