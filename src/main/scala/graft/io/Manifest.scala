package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.{functions => F}
import org.json4s.{JArray, JBool, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/**
 * Manifest-committed table directory: the minimal snapshot-isolation
 * layer that closes the residual race [[TableIO.compactDir]] documents
 * (its two-rename swap has an instant where a reader sees neither file
 * set — the gap table formats close with a manifest commit; reference
 * README.md:619-637's read-write-overlap rule is the same concern
 * handled by scheduling).
 *
 * Layout: `dir/data-<snapshot>/part-*.parquet` plus one
 * `dir/manifest-<commit_seq>.json` per committed snapshot (the snapshot
 * id lives INSIDE the manifest). The CURRENT snapshot is the retained
 * manifest with the highest `commit_seq` — there is deliberately NO
 * mutable "current pointer" file: the commit point is one rename of a
 * temp file onto the fresh key `manifest-<seq>.json`. A fresh-key
 * rename needs no delete-then-rename dance (which on HDFS/S3A leaves a
 * window with no pointer at all and bricks the table if the writer dies
 * inside it): the new manifest either exists completely or not at all,
 * so readers resolve the previous snapshot or the new one — never a
 * mix, never an absent table. A writer that dies earlier leaves an
 * orphan data dir and an unchanged current snapshot.
 *
 * Reads list only the KB-sized `manifest-<seq>.json` keys — never the
 * data tree: the data file set comes from inside the manifest. At 100 TB
 * on S3 that kills both listing pathologies (no LIST over millions of
 * data keys on reads, no rename-directory commit on writes). The format
 * lives behind two private functions and nowhere else: [[listManifests]]
 * (which keys are manifests, in seq order) and the JSON codec
 * ([[encode]]/[[decode]], json4s-jackson). [[head]] parses only the
 * newest manifest; [[history]] parses every retained one.
 *
 * Concurrency contract — optimistic, single winner per seq: keying the
 * commit file by `commit_seq` (not by snapshot name) makes the publish
 * rename a compare-and-swap. Two writers that both computed seq = N
 * race onto the SAME key `manifest-<N>.json`; on a filesystem whose
 * rename refuses an existing destination (HDFS; Hadoop's local FS —
 * asserted by ManifestSpec) exactly one rename succeeds and the loser
 * THROWS, leaving only an orphan data dir for [[vacuum]] — it can never
 * silently supersede or interleave with the winner. This is the same
 * protocol shape as Delta's `<version>.json` log commit. On stores
 * without atomic no-overwrite rename (raw S3: rename is a last-writer-
 * wins copy+delete) the CAS moves into a registered
 * [[CommitCoordinator]] — an external putIfAbsent on (dir, seq) with
 * Delta's claim/publish/fix-up LogStore protocol; schemes with no
 * registration keep the rename CAS, which is correct on HDFS/local.
 *
 * Time travel: every snapshot's manifest is retained until [[vacuum]]
 * drops it, so [[readAt]] reproduces any retained snapshot byte-for-byte
 * — for a training corpus that is the provenance primitive ("the model
 * trained on snapshot X" stays answerable after the table moves on).
 * Retention is explicit: `vacuum(keepLast = n)` keeps the n newest
 * manifests and every data dir any of them references; data dirs no
 * retained manifest has EVER referenced (crashed pre-commit writes) are
 * deleted only once older than `orphanGraceMs`, so vacuum cannot shoot
 * down a write that has landed data but not yet committed.
 */
object Manifest {

  /** COLUMN MAPPING (round 12, Delta's name mode): a declared-schema
    * field whose metadata carries `delta.columnMapping.physicalName`
    * stores its parquet column under that PHYSICAL name — the logical
    * name is a pure metadata fact, so `RENAME COLUMN` is a KB sidecar
    * write and `DROP COLUMN` is the field's removal (files keep the
    * bytes; no reader ever asks for them, and a later re-ADD of the
    * same logical name gets a FRESH physical name so dropped values
    * can never resurrect). Every library read path maps physical →
    * logical after the scan; [[writeImpl]] maps logical → physical
    * before landing files, so the parquet layer stays uniformly
    * physical. Partition columns refuse mapping — their names are
    * baked into the hive path layout. */
  private[graft] object ColumnMapping {
    val Key = "delta.columnMapping.physicalName"
    val IdKey = "delta.columnMapping.id"

    def physicalNameOf(f: org.apache.spark.sql.types.StructField): String =
      if (f.metadata.contains(Key)) f.metadata.getString(Key) else f.name

    /** Does any field read/write under a name other than its own? */
    def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
      s.fields.exists(f => physicalNameOf(f) != f.name)

    /** The schema the parquet layer sees: fields renamed to physical
      * (metadata kept — stats/export faces key on it). */
    def physicalSchema(s: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(
        s.fields.map(f => f.copy(name = physicalNameOf(f))))

    private def q(n: String): String = "`" + n.replace("`", "``") + "`"

    /** physical → LOGICAL projection of a scan, keeping `extra`
      * passthrough columns (hidden metadata tags) in place. */
    def toLogical(df: DataFrame, s: org.apache.spark.sql.types.StructType,
        extra: Seq[String] = Nil): DataFrame =
      df.select(s.fields.map(f =>
        F.col(q(physicalNameOf(f))).as(f.name, f.metadata)) ++
        extra.map(c => F.col(q(c))): _*)

    /** logical → PHYSICAL rename of an outgoing frame: any df column
      * matching a mapped logical name (case-insensitively, Spark's
      * resolution) lands under its physical name; everything else
      * passes through. */
    def toPhysical(df: DataFrame,
        s: org.apache.spark.sql.types.StructType): DataFrame = {
      val m = s.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) ->
        physicalNameOf(f)).toMap
      df.select(df.columns.map(c =>
        F.col(q(c)).as(m.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c)))
        .toSeq: _*)
    }
  }

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(dir: String, seq: Long) =
    new Path(dir, s"manifest-$seq.json")

  private[graft] final case class ManifestData(snapshot: String, seq: Long,
      files: Seq[String], deleteFiles: Seq[String] = Nil,
      committedAt: Long = 0L, rewrite: Boolean = false,
      metaB64: Option[String] = None,
      cdcFiles: Seq[String] = Nil, cdcRecorded: Boolean = false)

  /** The manifest codec's writer. Optional fields are omitted when
    * they say nothing: `delete_files` when empty, `rewrite` and
    * `cdc_recorded` unless true, `meta_b64` when absent, `cdc_files`
    * unless recorded and non-empty. */
  private[io] def encode(m: ManifestData): String = {
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    val fields = List(
      Some("snapshot" -> JString(m.snapshot)),
      Some("commit_seq" -> JInt(m.seq)),
      Some("committed_at" -> JInt(m.committedAt)),
      Some("files" -> strs(m.files)),
      Option.when(m.deleteFiles.nonEmpty)("delete_files" -> strs(m.deleteFiles)),
      Option.when(m.rewrite)("rewrite" -> JBool(true)),
      m.metaB64.map("meta_b64" -> JString(_)),
      Option.when(m.cdcRecorded)("cdc_recorded" -> JBool(true)),
      Option.when(m.cdcRecorded && m.cdcFiles.nonEmpty)(
        "cdc_files" -> strs(m.cdcFiles))).flatten
    JsonMethods.pretty(JsonMethods.render(JObject(fields))) + "\n"
  }

  /** The manifest codec's reader: None for a body that is not JSON or
    * lacks `snapshot`/`commit_seq` (such a key is skipped, never read
    * as a commit). `committed_at` is 0 when absent (manifests older
    * than the field). */
  private[io] def decode(text: String): Option[ManifestData] = {
    def strs(j: JValue) = j match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    JsonMethods.parseOpt(text).flatMap { j =>
      (j \ "snapshot", j \ "commit_seq") match {
        case (JString(snap), JInt(seq)) => Some(ManifestData(snap, seq.toLong,
          strs(j \ "files"), strs(j \ "delete_files"),
          j \ "committed_at" match { case JInt(t) => t.toLong; case _ => 0L },
          j \ "rewrite" == JBool(true),
          j \ "meta_b64" match { case JString(b) => Some(b); case _ => None },
          strs(j \ "cdc_files"), j \ "cdc_recorded" == JBool(true)))
        case _ => None
      }
    }
  }

  private def parse(fsys: FileSystem, mp: Path): Option[ManifestData] = {
    if (!fsys.exists(mp)) return None
    val in = fsys.open(mp)
    try decode(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  private val ManifestName = """manifest-(\d+)\.json""".r

  /** THE manifest listing: the `manifest-<seq>.json` keys under `base`
    * with the seq each key names, oldest → newest (the commit protocol
    * keys every manifest by its seq). One LIST of KB-sized keys, zero
    * content reads. */
  private def listManifests(fsys: FileSystem, base: Path): Seq[(Long, FileStatus)] =
    if (!fsys.exists(base)) Nil
    else fsys.listStatus(base).toSeq
      .flatMap(st => st.getPath.getName match {
        case ManifestName(seq) => seq.toLongOption.map(_ -> st)
        case _ => None
      })
      .sortBy(_._1)

  /** The listed commit seqs, oldest → newest: one LIST, no manifest
    * opened. */
  private[graft] def listedSeqs(spark: SparkSession, dir: String): Seq[Long] = {
    val (fsys, base) = fs(spark, dir)
    listManifests(fsys, base).map(_._1)
  }

  /** The newest listed seq, -1 for none: one LIST, no manifest opened. */
  private def listedHeadSeq(fsys: FileSystem, base: Path): Long =
    listManifests(fsys, base).lastOption.fold(-1L)(_._1)

  /** The seq of a read's head, -1 for an empty table. */
  private def headSeq(priors: Seq[ManifestData]): Long =
    priors.lastOption.fold(-1L)(_.seq)

  /** Has any manifest been published under `base`? (A dir with one is
    * a table to the catalog.) */
  private[graft] def hasManifest(fsys: FileSystem, base: Path): Boolean =
    listManifests(fsys, base).nonEmpty

  /** All retained manifests, oldest → newest commit order. */
  private def retained(fsys: FileSystem, base: Path): Seq[ManifestData] =
    listManifests(fsys, base).flatMap(m => parse(fsys, m._2.getPath))

  /** The CURRENT snapshot's manifest — the newest parseable one — or
    * None if the table never committed: one LIST and, normally, one
    * parse, however deep the history. */
  private[graft] def head(spark: SparkSession, dir: String): Option[ManifestData] = {
    val (fsys, base) = fs(spark, dir)
    listManifests(fsys, base).reverseIterator
      .flatMap(m => parse(fsys, m._2.getPath)).nextOption()
  }

  /** `head`, or the "no committed snapshot" refusal. */
  private def headOrThrow(head: Option[ManifestData], dir: String): ManifestData =
    head.getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir"))

  /** Refuse a snapshot id some retained commit already used. */
  private def requireFresh(priors: Seq[ManifestData], snapshot: String,
      dir: String): Unit =
    require(priors.forall(_.snapshot != snapshot),
      s"snapshot $snapshot already committed under $dir")

  /** Retained commit history, oldest → newest — the [[DeltaLog]]
    * export's input view. */
  private[graft] def history(spark: SparkSession, dir: String): Seq[ManifestData] = {
    val (fsys, base) = fs(spark, dir)
    retained(fsys, base)
  }

  /** Retained snapshot ids, oldest → newest commit order. */
  def snapshots(spark: SparkSession, dir: String): Seq[String] = {
    val (fsys, base) = fs(spark, dir)
    retained(fsys, base).map(_.snapshot)
  }

  /** Files of the CURRENT (newest-commit) snapshot, relative paths;
    * empty if the table has never committed. */
  def currentFiles(spark: SparkSession, dir: String): Seq[String] =
    head(spark, dir).map(_.files).getOrElse(Nil)

  /** Overwrite-commit: land `df` as a fresh snapshot, then publish it
    * with ONE rename onto the fresh seq-keyed manifest — the commit
    * point, and a CAS against concurrent writers (see object doc). Any
    * failure before that rename leaves the current snapshot live; losing
    * the CAS throws, leaving an orphan data dir for [[vacuum]]. */
  def write(df: DataFrame, dir: String, snapshot: String): Unit =
    writeImpl(df, dir, snapshot, () => ())

  /** Overwrite-commit with HIVE-STYLE PARTITIONING: the snapshot's data
    * dir carries `col=value/` subdirectories (`df.write.partitionBy`),
    * the manifest lists the nested part files, and readers recover the
    * partition columns via `basePath`. At 100 TB this is the layout
    * that makes the dominant access pattern (one language, one source,
    * one day) a PATH-EXACT file prune — [[readWherePartitions]] selects
    * by `k=v` string match on the manifest's own file list, touching
    * neither the data tree nor any footer. Same commit/CAS/time-travel
    * contract as [[write]]. */
  def writePartitioned(df: DataFrame, dir: String, snapshot: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    writeImpl(df, dir, snapshot, () => (), partitionCols = partitionCols)
  }

  /** APPEND-commit in the hive-partitioned layout — the streaming
    * micro-batch unit for a partitioned table: the new batch lands under
    * its own `data-<snapshot>/col=value/` tree, the current file list is
    * carried forward, and partition-exact reads keep working across the
    * whole history. */
  def appendPartitioned(df: DataFrame, dir: String, snapshot: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "appendPartitioned needs partition columns")
    writeImpl(df, dir, snapshot, () => (), carryForward = true,
      partitionCols = partitionCols)
  }

  /** Hive `k=v` pairs on a manifest-relative file path (empty for a
    * flat snapshot's files), hive %XX-unescaped. */
  def partitionValuesOf(relPath: String): Seq[(String, String)] =
    relPath.split('/').toSeq.dropRight(1).drop(1).flatMap { seg =>
      seg.indexOf('=') match {
        case i if i > 0 =>
          Some(unescapePath(seg.substring(0, i)) ->
            unescapePath(seg.substring(i + 1)))
        case _ => None
      }
    }

  /** The range DML's one predicate and split ([[deleteRange]],
    * [[updateRange]], [[deleteRangeMOR]]): `column >= CAST(lo AS dt) AND
    * column <= CAST(hi AS dt)`, built once as a Catalyst expression with
    * the literals cast in the SESSION time zone — the zone SQL casts
    * the same literals in — and handed to the one file split
    * ([[FileStats.splitFiles]]) and, over the read frame's column, to
    * the row filter, so prune and predicate cannot disagree.
    *
    * `dt` and the attribute's metadata come from the declared field, so
    * the split looks stats up under the column's PHYSICAL name (a
    * renamed-then-re-added name must not borrow the old column's
    * bounds). A hive partition column keeps the type a whole-table read
    * recovers over the FULL file list ({"9"} alone infers long where
    * {"9","x"} infers string); only a path table with no declared
    * schema reads one file's footer for a data column's type. Returns
    * (touch, keep, row filter). */
  private def rangeSplit(spark: SparkSession, dir: String,
      files: Seq[String], column: String, lo: String,
      hi: String): (Seq[String], Seq[String], org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val partitioned =
      files.exists(f => partitionValuesOf(f).exists(_._1 == column))
    val field = declaredSchema(spark, dir)
      .getOrElse(readFiles(spark, dir,
        if (partitioned) files else files.take(1)).schema)
      .find(_.name == column).getOrElse(throw new IllegalArgumentException(
        s"no column '$column' in the table under $dir"))
    val dt = field.dataType
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val attr = AttributeReference(column, dt, nullable = true, field.metadata)()
    val inRange = And(GreaterThanOrEqual(attr, Cast(Literal(lo), dt, tz)),
      LessThanOrEqual(attr, Cast(Literal(hi), dt, tz)))
    val (touch, keep) =
      FileStats.splitFiles(spark, dir, files, inRange, Map(column -> dt))
    // a touched subset can recover a different partition type than the
    // full list, so the row filter casts the read column to `dt`
    val rows = inRange.transform { case a: AttributeReference =>
      Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        .quoted(a.name), dt)
    }
    (touch, keep, org.apache.spark.sql.graftbridge.Bridge.columnOf(rows))
  }

  /** Invert hive path escaping (%XX for chars unsafe in dir names —
    * the encoding Spark/Hive writers apply inside `k=v` segments). */
  private def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Does manifest-relative `file` sit in a hive partition matching
    * every `equalTo` entry? Values compare in their hive-ESCAPED path
    * rendering (escaped with the same escaper Spark's partitioned writer
    * used), which sidesteps any unescape ambiguity; every partition
    * segment sits between '/'s (the data dir leads, the part file
    * trails) and '/' inside values is always escaped. */
  private def inPartitions(equalTo: Map[String, String])(file: String): Boolean =
    equalTo.forall { case (k, v) =>
      file.contains(s"/${escapePathName(k)}=${escapePathName(v)}/")
    }

  /** The current snapshot restricted to partitions where every
    * `equalTo` entry matches the file's `k=v` path values — an EXACT
    * manifest-level prune (no footer reads, no data-tree listing, no
    * bounds reasoning) over the head manifest's file list, with the
    * head's position deletes applied. Zero matching partitions → empty
    * frame with the table schema. */
  def readWherePartitions(spark: SparkSession, dir: String,
      equalTo: Map[String, String]): DataFrame = {
    val m = headOrThrow(head(spark, dir), dir)
    val kept = m.files.filter(inPartitions(equalTo)).sorted
    val hint = declaredSchema(spark, dir)
    if (kept.nonEmpty)
      readFilesApplyingDeletes(spark, dir, kept, m.deleteFiles, hint)
    else {
      // rare path: zero matches — the full list is read once, for the
      // table's schema
      require(m.files.nonEmpty, s"no committed snapshot under $dir")
      readFiles(spark, dir, m.files.sorted, hint).limit(0)
    }
  }

  /** File-list read with partition-column recovery. A flat list stays
    * ONE scan relation; a partitioned list reads per `data-<snapshot>`
    * group with that group's dir as `basePath` (Spark's partition
    * discovery refuses one basePath spanning several data roots) and
    * unions by name — missing partition columns null-fill, so a table
    * whose history mixes flat and partitioned snapshots still reads.
    *
    * `schemaHint` (schema evolution): when the caller knows the
    * table's DECLARED schema, the scan runs with it as the
    * user-specified schema — no footer inference (which would sample
    * ONE file and could miss columns newer files carry), and files
    * predating an ADD COLUMN null-fill per file inside the parquet
    * reader.
    *
    * `positions` adds the two hidden columns a position delete keys on:
    * `_graft_file` (absolute scan path) and `_graft_pos` (the parquet
    * row index — stable physical position within the file). */
  private[graft] def readFiles(spark: SparkSession, dir: String,
      files: Seq[String],
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None,
      positions: Boolean = false): DataFrame = {
    // a mapped hint scans under PHYSICAL names, then projects back to
    // logical — the parquet layer is uniformly physical by contract
    val mapped = schemaHint.filter(ColumnMapping.hasMapping)
    val scanHint = mapped.map(ColumnMapping.physicalSchema).orElse(schemaHint)
    def scan(basePath: Option[String], fs: Seq[String]): DataFrame = {
      val r = spark.read
      scanHint.foreach(r.schema)
      basePath.foreach(r.option("basePath", _))
      val df = r.parquet(fs.map(f => s"$dir/$f"): _*)
      if (!positions) df
      else df.select(F.col("*"), F.col("_metadata.file_path").as("_graft_file"),
        F.col("_metadata.row_index").as("_graft_pos"))
    }
    val raw =
      if (files.forall(partitionValuesOf(_).isEmpty)) scan(None, files)
      else files.groupBy(_.split('/').head).toSeq.sortBy(_._1)
        .map { case (dataDir, fs) => scan(Some(s"$dir/$dataDir"), fs) }
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    // the logical projection keeps the hidden position columns
    mapped.fold(raw)(ColumnMapping.toLogical(raw, _,
      if (positions) Seq("_graft_file", "_graft_pos") else Nil))
  }

  // ---- merge-on-read position deletes -----------------------------------

  /** Manifest-relative path of the file each row came from, extracted
    * from `_metadata.file_path` by anchoring on the `data-…/part-…`
    * tail — robust to however the filesystem renders the URI prefix
    * (which an equality join on absolute paths would NOT be). */
  private def relPathCol = org.apache.spark.sql.functions.regexp_extract(
    org.apache.spark.sql.functions.col("_graft_file"),
    "(data-[^/]+/(?:[^/=]+=[^/]*/)*part-[^/]*\\.parquet)$", 1)

  /** [[readFiles]] with `positions`, minus the rows the snapshot's
    * position deletes name — the LIVE rows of `files`, still carrying
    * `_graft_file`/`_graft_pos`
    * (what a merge-on-read DML needs: judge the predicate on live rows
    * only, then target the survivors by position). A broadcast
    * anti-join on (relative file path, row index) — the merge-on-read
    * contract, correct as long as delete sets stay small relative to
    * the data (their reason to exist; [[compact]] purges them back to
    * zero). */
  private[graft] def readFilesMetaApplyingDeletes(spark: SparkSession,
      dir: String, files: Seq[String], deleteFiles: Seq[String],
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val metaDf = readFiles(spark, dir, files, schemaHint, positions = true)
    if (deleteFiles.isEmpty) return metaDf
    import org.apache.spark.sql.functions.{broadcast, col}
    val dels = spark.read.parquet(deleteFiles.map(f => s"$dir/$f"): _*)
      .select(col("file_path").as("_graft_del_file"),
        col("pos").as("_graft_del_pos"))
    metaDf.withColumn("_graft_rel", relPathCol)
      // the "" guard: an unextractable path must KEEP its rows (fail
      // open), never match an equally-unextractable delete entry —
      // "" == "" once deleted every row of the table in development
      .join(broadcast(dels),
        col("_graft_rel") =!= "" &&
          col("_graft_rel") === col("_graft_del_file") &&
          col("_graft_pos") === col("_graft_del_pos"),
        "left_anti")
      .drop("_graft_rel")
  }

  /** Read `files` with the snapshot's position deletes applied — the
    * table columns of [[readFilesMetaApplyingDeletes]]. */
  private[graft] def readFilesApplyingDeletes(spark: SparkSession, dir: String,
      files: Seq[String], deleteFiles: Seq[String],
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    if (deleteFiles.isEmpty) readFiles(spark, dir, files, schemaHint)
    else readFilesMetaApplyingDeletes(spark, dir, files, deleteFiles,
      schemaHint).drop("_graft_file", "_graft_pos")

  /** Result of a [[deleteRangeMOR]] commit: the data files the delete
    * targets (NONE of them rewritten — that is the point), the count of
    * position-delete rows written, and the new snapshot id (None = the
    * prune proved no file could match — no commit). */
  final case class MorDelete(targeted: Seq[String], deletedRows: Long,
      committed: Option[String])

  /** MERGE-ON-READ DELETE of rows with `column` ∈ [lo, hi] — the
    * Iceberg-v2 position-delete shape, for when COPYING is the cost
    * problem: instead of rewriting every overlapping file
    * ([[deleteRange]]), the matching rows' (file, row-index) pairs land
    * as a small `deletes-<snapshot>/` parquet and the commit carries
    * the SAME data files plus the delete list. Readers anti-join the
    * delete set (broadcast — it is small by design); [[compact]]
    * purges deletes back into a clean snapshot.
    * Deleting a few thousand rows from a 100 TB table writes KILOBYTES,
    * not a rewrite of every touched file. Prune, literal space, and
    * NULL semantics are exactly [[deleteRange]]'s; time travel to the
    * pre-delete snapshot still works. */
  def deleteRangeMOR(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, snapshot: String,
      beforePublish: () => Unit = () => ()): MorDelete = {
    val l = landing(spark, dir, snapshot, lands = true)
    val cur = headOrThrow(l.priors.lastOption, dir)
    val (touch, _, inRange) = rangeSplit(spark, dir, cur.files, column, lo, hi)
    if (touch.isEmpty) return MorDelete(Nil, 0L, None)
    // LIVE rows only: judging the predicate on already-MOR-deleted rows
    // would re-record them as deleted in the change feed (and write
    // duplicate delete positions — harmless for the anti-join, wrong
    // for cdc)
    val metaDf = readFilesMetaApplyingDeletes(spark, dir, touch,
      cur.deleteFiles, declaredSchema(spark, dir))
    // rows TO DELETE: NULL never matches a range predicate, and
    // where(inRange) drops null-valued rows from the delete set — the
    // right way round for a delete
    deleteHitsMOR(spark, l, touch, metaDf.where(inRange), beforePublish)
  }

  /** The predicate-general MERGE-ON-READ DELETE core (shared by
    * [[deleteRangeMOR]] and the SQL `DELETE` path under
    * `graft.dml.mode = mor`): `hits` is the LIVE frame of rows to
    * delete — derived from [[readFilesMetaApplyingDeletes]] over
    * `touch`, still carrying `_graft_file`/`_graft_pos` — landed as a
    * `deletes-<snapshot>/` position list plus the change record, then
    * committed with the MOR-delete rebase (see [[commit]]). Data files
    * never move: deleting a few thousand rows from a 100 TB table
    * writes kilobytes. */
  private[graft] def deleteHitsMOR(spark: SparkSession, l: Landing,
      touch: Seq[String], hits: DataFrame,
      beforePublish: () => Unit = () => ()): MorDelete = {
    require(l.priors.nonEmpty, s"no committed snapshot under ${l.dir}")
    val (delFiles, n) = landPositionDeletes(spark, l.dir, l.snapshot, hits)
    // the change record: the deleted rows themselves — the MOR commit
    // adds no data files, so without it the change feed could never
    // represent this deletion (the position list names rows, not values)
    val cdcFs = landCdc(spark, l.dir, l.snapshot, hits
      .drop("_graft_file", "_graft_pos")
      .withColumn(CdfTypeCol, org.apache.spark.sql.functions.lit("delete")))
    commit(l, retry = true, beforePublish) { priors =>
      val head = priors.last
      // the delete rows target the TOUCHED files by position — only
      // those must survive the winner; a race against a rewrite of
      // disjoint files (e.g. a COW delete elsewhere) rebases cleanly
      val gone = touch.filterNot(head.files.toSet)
      if (gone.nonEmpty)
        throw new TrueConflictException(
          s"MOR delete '${l.snapshot}' for ${l.dir} lost its race to a " +
            s"commit that rewrote or removed targeted base file(s) " +
            s"(${gone.take(3).mkString(", ")}) - re-run the delete")
      Body(head.files, head.deleteFiles ++ delFiles,
        cdcFiles = cdcFs, cdcRecorded = true)
    }
    MorDelete(touch, n, Some(l.snapshot))
  }

  /** MERGE-ON-READ UPDATE commit (the SQL `UPDATE` path under
    * `graft.dml.mode = mor` — Delta's deletion-vector UPDATE shape):
    * land the UPDATED COPIES of the hit rows as a fresh data dir AND
    * position-delete their originals, in ONE commit. Every head data
    * file carries by reference — cost ∝ updated rows, untouched bytes
    * never move (a thousand-row re-flag on a 100 TB table writes the
    * thousand rows plus a KB position list). The commit both adds
    * files and changes delete state, so append-only incremental
    * readers refuse across it and the change feed serves it via the
    * recorded cdc. ONE publish attempt against the head the positions
    * were computed against: any concurrent commit surfaces loudly —
    * re-run the statement.
    *
    * `hits` carries `_graft_file`/`_graft_pos` (LIVE rows matching the
    * predicate — localCheckpoint it so positions, updated copies, and
    * the change record derive from ONE evaluation); `updated` and
    * `cdc` are plain table-column frames. */
  private[graft] def updateHitsMOR(spark: SparkSession, dir: String,
      snapshot: String, hits: DataFrame, updated: DataFrame,
      cdc: DataFrame, partitionCols: Seq[String],
      beforePublish: () => Unit = () => ()): Unit = {
    val l = landing(spark, dir, snapshot, lands = true)
    val cur = headOrThrow(l.priors.lastOption, dir)
    val dataDir = new Path(l.base, s"data-$snapshot")
    val (delFiles, _) = landPositionDeletes(spark, dir, snapshot, hits)
    // the updated copies land through the same logical→physical choke
    // point as every writer — CHECK constraints included (an UPDATE
    // must not be the door through which a violating value enters)
    val (gatedUpd, verifyConstraints) = constraintGate(spark, dir, updated)
    val toLand = sizeForLanding(declaredSchema(spark, dir)
      .filter(ColumnMapping.hasMapping)
      .fold(gatedUpd)(ColumnMapping.toPhysical(gatedUpd, _)))
    if (partitionCols.isEmpty) toLand.write.parquet(dataDir.toString)
    else toLand.write.partitionBy(partitionCols: _*).parquet(dataDir.toString)
    try verifyConstraints()
    catch { case t: Throwable =>
      l.fsys.delete(dataDir, true)
      l.fsys.delete(new Path(l.base, s"deletes-$snapshot"), true)
      throw t
    }
    val newFiles = landedParts(l.fsys, l.base, s"data-$snapshot")
    val cdcFs = landCdc(spark, dir, snapshot, cdc)
    commit(l, retry = false, beforePublish) { _ =>
      Body(cur.files ++ newFiles, cur.deleteFiles ++ delFiles,
        cdcFiles = cdcFs, cdcRecorded = true)
    }
  }

  /** APPEND-commit: land `df` as a fresh data dir and publish a snapshot
    * whose file list CARRIES FORWARD the current snapshot's files plus
    * the new ones — Delta's append-mode commit, and the natural unit for
    * a streaming micro-batch. Same atomicity/CAS story as [[write]];
    * time travel to the pre-append snapshot still works. */
  def append(df: DataFrame, dir: String, snapshot: String): Unit =
    appendImpl(df, dir, snapshot, () => ())

  private[graft] def appendImpl(df: DataFrame, dir: String, snapshot: String,
      beforePublish: () => Unit, partitionCols: Seq[String] = Nil): Unit =
    writeImpl(df, dir, snapshot, beforePublish, carryForward = true,
      partitionCols = partitionCols)

  /** The replay dedupe of an at-least-once writer (a streaming epoch or
    * foreachBatch) that commits under a deterministic snapshot id, from
    * ONE `retained()` read: false when `snapshot` is already committed
    * (the replay is a no-op); otherwise true, after deleting the
    * `data-`/`deletes-`/`cdc-<snapshot>` dirs a crashed attempt landed
    * inside the land→publish window, so the SAME id can land again.
    * Never touches a committed snapshot's data. */
  def prepareReplay(spark: SparkSession, dir: String, snapshot: String): Boolean = {
    val (fsys, base) = fs(spark, dir)
    val fresh = !retained(fsys, base).exists(_.snapshot == snapshot)
    if (fresh) Seq("data", "deletes", "cdc").foreach { d =>
      val p = new Path(base, s"$d-$snapshot")
      if (fsys.exists(p)) fsys.delete(p, true)
    }
    fresh
  }

  /** Land a CHANGE-DATA frame (table columns + `_change_type`) under
    * `cdc-<snapshot>/` — the commit's row-level change record, written
    * BEFORE the manifest publish so a failed commit leaves only a
    * vacuum-able orphan. Lands under PHYSICAL column names on mapped
    * tables (the parquet layer is uniformly physical by contract;
    * `_change_type` has no mapping and passes through). Flat layout:
    * cdc volume ∝ changed rows, so hive-partitioning the change record
    * buys nothing at the scale it exists for. Returns the
    * manifest-relative cdc file paths. */
  private def landCdc(spark: SparkSession, dir: String, snapshot: String,
      cdcDf: DataFrame): Seq[String] = {
    val (fsys, base) = fs(spark, dir)
    val cdcDir = new Path(base, s"cdc-$snapshot")
    val toLand = sizeForLanding(declaredSchema(spark, dir)
      .filter(ColumnMapping.hasMapping)
      .fold(cdcDf)(ColumnMapping.toPhysical(cdcDf, _)))
    toLand.write.parquet(cdcDir.toString)
    landedParts(fsys, base, s"cdc-$snapshot")
  }

  /** Land `hits`' (file, row-index) pairs — rows carrying
    * `_graft_file`/`_graft_pos` — as the one-file position-delete list
    * `deletes-<snapshot>/`, sorted (the spec's required order for
    * position deletes; also keeps the tiny file deterministic). Returns
    * the manifest-relative delete files and the landed row count. */
  private def landPositionDeletes(spark: SparkSession, dir: String,
      snapshot: String, hits: DataFrame): (Seq[String], Long) = {
    val (fsys, base) = fs(spark, dir)
    val delDir = new Path(base, s"deletes-$snapshot")
    hits.select(relPathCol.as("file_path"), F.col("_graft_pos").as("pos"))
      .orderBy("file_path", "pos")
      .coalesce(1).write.parquet(delDir.toString)
    val delFiles = landedParts(fsys, base, s"deletes-$snapshot")
    val landed = spark.read.parquet(delFiles.map(f => s"$dir/$f"): _*)
      .selectExpr("count(*)", "count_if(file_path = '' OR file_path IS NULL)")
      .head()
    // fail LOUDLY if any delete row lost its file path — such a row
    // would silently never apply (readers fail open on "")
    require(landed.getLong(1) == 0,
      s"position-delete rows with unextractable file paths under $delDir")
    (delFiles, landed.getLong(0))
  }

  /** Manifest-relative part files landed under `base/sub`, sorted:
    * flat for an unpartitioned landing, descending through `k=v/` dirs
    * for a partitioned one — rel paths keep the partition segments so
    * the manifest IS the partition index. */
  private def landedParts(fsys: FileSystem, base: Path, sub: String): Seq[String] = {
    def walk(p: Path, rel: String): Seq[String] =
      fsys.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.contains("=")) walk(st.getPath, s"$rel$n/")
        else if (!st.isDirectory && n.startsWith("part-") &&
          n.endsWith(".parquet")) Seq(s"$rel$n")
        else Nil
      }
    walk(new Path(base, sub), s"$sub/")
  }

  /** Default per-file landing target (in OPTIMIZER-ESTIMATED bytes;
    * parquet compression makes the on-disk file a factor smaller).
    * Override with [[TargetFileBytesKey]]. */
  private val DefaultTargetFileBytes = 64L << 20
  private val TargetFileBytesKey = "spark.graft.write.targetFileBytes"

  /** Output file sizing at the landing choke points: coalesce the
    * outgoing frame so each write task carries roughly
    * `spark.graft.write.targetFileBytes` of estimated data instead of
    * landing one near-empty part file per upstream partition. The
    * coalesce keeps a floor of 16 partitions (see below), so a small
    * commit lands at most 16 files — fewer only when its frame already
    * has fewer partitions — and a large commit lands about one file
    * per target. The estimate is the optimizer's `sizeInBytes`, which
    * on join-derived plans OVER-estimates — an over-estimate only keeps
    * more partitions (coalesce never raises the count), so the sizing
    * is safe in both directions. Scale-adaptive by construction: the
    * file count derives from data size, not from the session's core
    * count.
    *
    * A caller that EXPLICITLY laid out its frame keeps that layout:
    * [[compact]] (its ceil(bytes/target) split, its one-file-per-value
    * partitioned shuffle and its range-clustered zorder rewrite) and
    * fixtures landing N range-clustered files for data-skipping
    * demonstrations all repartition immediately below the write, so the
    * sizer walks through the order-preserving wrappers this file adds
    * (column-mapping Project, constraint-gate CollectMetrics,
    * within-partition Sort) and backs off when it finds a
    * RepartitionOperation. Compaction RELIES on that back-off: a
    * wrapper the walk does not know would let the coalesce merge the
    * compaction's layout away. */
  private def sizeForLanding(df: DataFrame,
      knownDiskBytes: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.conf.getOption(TargetFileBytesKey)
      .fold(DefaultTargetFileBytes) { v =>
        v.trim.toLongOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"$TargetFileBytesKey must be a positive byte count, got '$v'"))
      }
    @annotation.tailrec
    def explicitLayout(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation => true
      case s: Sort if !s.global => explicitLayout(s.child)
      case pr: Project => explicitLayout(pr.child)
      case f: Filter => explicitLayout(f.child)
      case a: SubqueryAlias => explicitLayout(a.child)
      case m: CollectMetrics => explicitLayout(m.child)
      case _ => false
    }
    val analyzed = df.queryExecution.analyzed
    if (explicitLayout(analyzed)) df
    else {
      // Preferred estimate: the caller's KNOWN on-disk byte count (a DML
      // rewrite knows exactly which files it re-packs), inflated ×4 for
      // parquet-encoded → in-memory width. Fallback: analyzed-plan
      // stats — the same sizeInBytes the optimizer would see, WITHOUT
      // running a second full optimization pass per commit. Join-derived
      // plans (MERGE) over-estimate wildly there, which is why the
      // explicit path exists; over-estimates only keep more partitions.
      val est: BigInt = knownDiskBytes.map(b => BigInt(b) * 4)
        .getOrElse(analyzed.stats.sizeInBytes)
      val n = ((est + target - 1) / target).min(BigInt(Int.MaxValue)).toInt
      // Floor of 16: a bare coalesce(1) over a scan→write plan would
      // collapse the whole read+rewrite to ONE task (coalesce merges the
      // final stage, it does not insert a shuffle) — keep at least
      // 16-way parallelism and let n take over as soon as the data is
      // big enough to deserve more files. coalesce never RAISES a
      // partition count, so a frame already narrower than the floor
      // (a 2-partition scan, say) lands its natural file count.
      df.coalesce(math.max(16, n))
    }
  }

  /** Total on-disk bytes of manifest-relative `files` under `dir` —
    * the landing-size hint a DML rewrite passes to its commit. None
    * when a file has vanished (a concurrent rewrite plus vacuum): the
    * commit then sizes from plan stats and its conflict check decides
    * the outcome. */
  def filesBytes(spark: SparkSession, dir: String,
      files: Seq[String]): Option[Long] = {
    val (fsys, base) = fs(spark, dir)
    try Some(files.map(f => fsys.getFileStatus(new Path(base, f)).getLen).sum)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Declared CHECK constraints of the table dir — (name, predicate
    * SQL) pairs from the metadata sidecar's reserved properties. */
  private[graft] def checkConstraints(spark: SparkSession,
      dir: String): Seq[(String, String)] = {
    val (fsys, base) = fs(spark, dir)
    graft.catalog.GraftTableMeta.read(fsys, base)
      .map(_.properties).getOrElse(Map.empty).toSeq
      .collect { case (k, v) if k.startsWith(
          graft.catalog.GraftTableMeta.ConstraintPropPrefix) =>
        k.stripPrefix(graft.catalog.GraftTableMeta.ConstraintPropPrefix) -> v
      }
      .sortBy(_._1)
  }

  /** One counter per CHECK constraint, named after it: the rows where
    * its predicate is FALSE (SQL semantics — TRUE and UNKNOWN pass). */
  private def violationCounts(
      cons: Seq[(String, String)]): Seq[org.apache.spark.sql.Column] =
    cons.map { case (name, sql) =>
      F.sum(F.when(F.expr(s"($sql) IS FALSE"), 1L).otherwise(0L)).as(name)
    }

  /** The violated constraints among `counts` (keyed by constraint name),
    * each as `'name' (sql): n row(s)`. */
  private def violations(cons: Seq[(String, String)],
      counts: Map[String, Any]): Seq[String] =
    cons.flatMap { case (name, sql) =>
      counts.get(name).collect {
        case n: java.lang.Long if n > 0 => s"'$name' ($sql): $n row(s)"
      }
    }

  /** CHECK-constraint gate for a write: attach ONE observation to the
    * outgoing frame counting each constraint's violations, riding the
    * write job itself: zero extra scans however many constraints.
    * Returns the instrumented frame and a verifier to call AFTER the
    * write action; the verifier throws naming every violated
    * constraint with its count (the caller discards the landed data —
    * the commit never publishes). */
  private def constraintGate(spark: SparkSession, dir: String,
      df: DataFrame): (DataFrame, () => Unit) = {
    val cons = checkConstraints(spark, dir)
    if (cons.isEmpty) return (df, () => ())
    val obs = org.apache.spark.sql.Observation()
    val aggs = violationCounts(cons)
    val gated = df.observe(obs, aggs.head, aggs.tail: _*)
    (gated, () => {
      val bad = violations(cons, obs.get)
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"graft: write into $dir violates CHECK constraint(s) " +
            s"${bad.mkString("; ")} - no data was committed")
    })
  }

  private[graft] def writeImpl(df: DataFrame, dir: String, snapshot: String,
      beforePublish: () => Unit, carryForward: Boolean = false,
      carriedExplicit: Option[Seq[String]] = None,
      partitionCols: Seq[String] = Nil,
      deletesExplicit: Option[Seq[String]] = None,
      rewrite: Boolean = false,
      cowBase: Option[ManifestData] = None,
      cdc: Option[DataFrame] = None,
      cdcNoChange: Boolean = false,
      landingBytes: Option[Long] = None): ManifestData = {
    val spark = df.sparkSession
    val l = landing(spark, dir, snapshot, lands = true)
    val dataDir = new Path(l.base, s"data-$snapshot")
    // CHECK constraints gate every writer at this choke point, on the
    // LOGICAL frame (predicates name logical columns), riding the
    // write job's own pass — a violating batch lands nothing durable
    // (the data dir is deleted, the manifest never publishes)
    val (gated, verifyConstraints) = constraintGate(spark, dir, df)
    // the ONE choke point every writer funnels through (INSERT, sink,
    // DML rewrites, maintenance): a column-mapped table lands its
    // files under PHYSICAL names, whatever frame the caller built
    val toLand = sizeForLanding(declaredSchema(spark, dir)
      .filter(ColumnMapping.hasMapping)
      .fold(gated)(ColumnMapping.toPhysical(gated, _)), landingBytes)
    if (partitionCols.isEmpty) toLand.write.parquet(dataDir.toString)
    else toLand.write.partitionBy(partitionCols: _*).parquet(dataDir.toString)
    try verifyConstraints()
    catch { case t: Throwable => l.fsys.delete(dataDir, true); throw t }
    val files = landedParts(l.fsys, l.base, s"data-$snapshot")
    // the commit's row-level change record lands beside the data —
    // published (or orphaned) together with it
    val cdcLanded = cdc.map(landCdc(spark, dir, snapshot, _)).getOrElse(Nil)
    val plainAppend = carryForward && carriedExplicit.isEmpty &&
      deletesExplicit.isEmpty && !rewrite
    // the rebase tier is keyed by the DECLARED base, not the rewrite
    // flag: a zero-touch MERGE (inserts only, rewrite=false) rebases
    // like an append — its touched set is empty, so the conflict check
    // passes trivially and the carry re-derives from the new head. A
    // base without a carry list (whole-table compaction) is one attempt
    // pinned to that base.
    val cowRebase = cowBase.isDefined && carriedExplicit.isDefined
    commit(l, retry = plainAppend || cowRebase, beforePublish) { priors =>
      val head = priors.lastOption
      val moved = cowBase.filterNot(b =>
        head.forall(h => h.seq == b.seq && h.snapshot == b.snapshot))
      val carried: Seq[String] = moved match {
        case Some(bse) if !cowRebase =>
          throw new java.util.ConcurrentModificationException(
            s"commit for $dir expected head seq ${bse.seq} but listed " +
              s"${headSeq(priors)}; state must be re-derived")
        case Some(bse) =>
          // head moved since the rewrite was computed: file-level
          // conflict check + rebase against THIS attempt's read
          val h = head.get
          val touched = bse.files.toSet -- carriedExplicit.get
          if (h.deleteFiles.sorted != bse.deleteFiles.sorted)
            throw new TrueConflictException(
              s"commit '$snapshot' for $dir lost its race to a commit " +
                "that changed merge-on-read delete state; the rewrite " +
                "was computed without it - re-run the operation")
          val gone = touched.filterNot(h.files.toSet)
          if (gone.nonEmpty)
            throw new TrueConflictException(
              s"commit '$snapshot' for $dir lost its race to a commit " +
                s"that rewrote or removed file(s) this rewrite also " +
                s"touched (${gone.take(3).mkString(", ")}) - re-run " +
                "the operation")
          h.files.filterNot(touched)
        case None => carriedExplicit.getOrElse(
          if (carryForward) head.map(_.files).getOrElse(Nil) else Nil)
      }
      // delete files: a rewrite (COW DML, compact, overwrite) resets MOR
      // state for the files it replaces; append carries it forward —
      // appended files can't be targeted by pre-existing deletes and the
      // carried data files keep theirs
      val deletes = deletesExplicit.getOrElse(
        if (carryForward) head.map(_.deleteFiles).getOrElse(Nil) else Nil)
      Body(carried ++ files, deletes, rewrite,
        cdcFiles = cdcLanded, cdcRecorded = cdc.isDefined || cdcNoChange)
    }
  }

  /** Publish a snapshot whose NEW files were ALREADY LANDED by
    * executors under `data-<snapshot>/` — the DSv2 streaming write's
    * commit half (the epoch's DataWriters wrote the parquet; the
    * driver publishes). Append mode carries the head forward and
    * rebases on a lost CAS like any plain append; overwrite mode
    * (streaming Complete) replaces the file list in one attempt (see
    * [[commit]]). */
  private[graft] def commitLandedAppend(spark: SparkSession, dir: String,
      snapshot: String, newFiles: Seq[String],
      overwrite: Boolean = false,
      beforePublish: () => Unit = () => ()): Unit = {
    val l = landing(spark, dir, snapshot)
    require(newFiles.nonEmpty, s"nothing landed for snapshot $snapshot")
    require(newFiles.forall(_.startsWith(s"data-$snapshot/")),
      s"landed files must live under data-$snapshot/")
    // CHECK constraints: the epoch's files were landed executor-side,
    // so the gate is one scan of the NEW bytes (logical view) before
    // the publish — a violating epoch aborts the query with the
    // constraint named, and its replay hits the same wall (a poison
    // batch surfaces; it can never half-enter the table)
    val cons = checkConstraints(spark, dir)
    if (cons.nonEmpty) {
      val frame = readFiles(spark, dir, newFiles, declaredSchema(spark, dir))
      val aggs = violationCounts(cons)
      val row = frame.agg(aggs.head, aggs.tail: _*).collect().head
      val bad = violations(cons, row.getValuesMap[Any](cons.map(_._1)))
      if (bad.nonEmpty) {
        l.fsys.delete(new Path(l.base, s"data-$snapshot"), true)
        throw new IllegalStateException(
          s"graft: streaming epoch into $dir violates CHECK " +
            s"constraint(s) ${bad.mkString("; ")} - the epoch was not " +
            "committed")
      }
    }
    commit(l, retry = !overwrite, beforePublish) { priors =>
      val head = priors.lastOption
      // re-packs previously-served rows ⇒ rewrite-flagged (non-initial)
      if (overwrite) Body(newFiles, Nil, rewrite = priors.nonEmpty)
      else Body(head.map(_.files).getOrElse(Nil) ++ newFiles,
        head.map(_.deleteFiles).getOrElse(Nil))
    }
  }

  /** A conflict the rebase tiers can PROVE unrecoverable (a concurrent
    * commit rewrote state this commit read) — still a
    * ConcurrentModificationException to callers, but never retried. */
  private final class TrueConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Bounded retries for the rebase tiers — a pathological commit
    * storm must eventually surface instead of spinning. */
  private val MaxAppendCommitRetries = 5

  /** A commit's preamble state: the table and snapshot id it commits,
    * and the ONE pre-landing `retained()` read its first attempt
    * derives from. */
  private[graft] final case class Landing(fsys: FileSystem, base: Path,
      dir: String, snapshot: String, priors: Seq[ManifestData])

  /** The preamble every commit runs before it lands anything: refuse an
    * unsafe snapshot id, any `data-`/`deletes-`/`cdc-<snapshot>` dir
    * already landed (when this commit `lands` its own), and a snapshot
    * id a retained commit already used — from the read [[commit]]'s
    * first attempt then reuses. */
  private[graft] def landing(spark: SparkSession, dir: String,
      snapshot: String, lands: Boolean = false): Landing = {
    require(snapshot.matches("[A-Za-z0-9._-]+"), s"unsafe snapshot id: $snapshot")
    val (fsys, base) = fs(spark, dir)
    if (lands) Seq("data", "deletes", "cdc").foreach(d =>
      require(!fsys.exists(new Path(base, s"$d-$snapshot")),
        s"$d-$snapshot already landed under $dir"))
    val priors = retained(fsys, base)
    requireFresh(priors, snapshot, dir)
    Landing(fsys, base, dir, snapshot, priors)
  }

  /** What one commit attempt publishes, derived from that attempt's
    * read (see [[commit]]). */
  private final case class Body(files: Seq[String], deleteFiles: Seq[String],
      rewrite: Boolean = false, metaB64: Option[String] = None,
      cdcFiles: Seq[String] = Nil, cdcRecorded: Boolean = false)

  /** THE commit loop — Delta's optimistic transaction: read the
    * snapshot, derive the actions, check conflicts, CAS. Each attempt
    * works from ONE parsed `retained()` read (the first reuses the
    * landing's): `requireFresh`, then `derive`, which builds the
    * manifest body and may throw [[TrueConflictException]], then the
    * one seq-keyed publish. EVERYTHING an attempt derives — seq,
    * conflict check, rebased carry, delete state — comes from that one
    * read. Splitting them (rebase from one read, seq from another) is a
    * TOCTOU: a commit landing between the two reads would be counted in
    * the seq (the rename succeeds) while its files are missing from the
    * stale carry — its rows silently vanish from the new head.
    *
    * `retry` arms COMMIT REBASE: only a plain CAS loss re-reads and
    * derives again, up to the retry bound; a TrueConflictException is
    * final. The rebasing tiers:
    *
    *  - PLAIN APPENDS (append, appendPartitioned, streaming append
    *    epochs): new files live in their own data-<snapshot> dir,
    *    DISJOINT from any concurrent commit by construction, so a lost
    *    CAS is never a conflict — the carry-forward re-derives from the
    *    winner's head (its files AND delete state).
    *  - COW REWRITES with a declared base (predicate-scoped
    *    DELETE/UPDATE/MERGE, `where`-scoped compaction): Delta's
    *    FILE-LEVEL conflict check. The commit rebases iff the winner
    *    left every file this rewrite TOUCHED in place and did not change
    *    merge-on-read delete state — the carry is then "the winner's
    *    head minus the touched files", which keeps the winner's appends
    *    and its own rewrites of files this commit never read. Otherwise
    *    a true conflict.
    *  - MOR DELETES: position deletes are an ADDITIVE set keyed by
    *    (file, row-index), so the rebase carries the winner's files and
    *    delete state plus this commit's delete files — as long as every
    *    TOUCHED file survives (a winner that rewrote or removed one
    *    invalidates the positions: a true conflict).
    *  - METADATA COMMITS (ALTER TABLE): `derive` computes the whole
    *    change — base meta, schema history, CHECK validation — from the
    *    attempt's read, so every attempt is a full re-derivation.
    *
    * A rebased commit's predicate does not re-judge a concurrent
    * append's rows (WriteSerializable, Delta's default). Its data was
    * derived under the landing read's metadata, though — CHECK
    * constraints gated, schema mapped — so an attempt whose read holds
    * a DDL commit (a manifest carrying `meta_b64`) newer than the
    * landing read is a true conflict: Delta's metadata-changed
    * conflict. Only `rederivesMeta` commits (metadata commits) are
    * exempt.
    *
    * Without `retry` the commit is ONE attempt against the landing's
    * read: blind overwrites, whole-table compaction, MOR UPDATE,
    * RESTORE and streaming Complete epochs. They read or replace the
    * whole table, so ANY commit since that read — during the landing or
    * in the publish window — refuses them with the retryable
    * ConcurrentModificationException: the caller re-derives against the
    * new head. A whole-table compaction read its head even before the
    * landing; its `derive` refuses unless the attempt's head is still
    * that base.
    *
    * A landing can take minutes, so its read may be stale: a rebasing
    * tier whose read is no longer the listed head reads again before
    * attempt 1, and [[publishManifest]] refuses any stale attempt.
    *
    * Test seam: `beforePublish` runs before each attempt's rename,
    * after the manifest temp file is staged — the window a concurrent
    * writer races into. Returns the published manifest. */
  private def commit(l: Landing, retry: Boolean, beforePublish: () => Unit,
      rederivesMeta: Boolean = false)(
      derive: Seq[ManifestData] => Body): ManifestData = {
    var priors =
      if (retry && listedHeadSeq(l.fsys, l.base) > headSeq(l.priors))
        retained(l.fsys, l.base) // a commit published while this one landed
      else l.priors
    var tries = 0
    var published: Option[ManifestData] = None
    while (published.isEmpty) {
      requireFresh(priors, l.snapshot, l.dir)
      if (!rederivesMeta)
        priors.find(m => m.seq > headSeq(l.priors) && m.metaB64.isDefined)
          .foreach { m =>
            throw new TrueConflictException(
              s"commit '${l.snapshot}' for ${l.dir} lost its race to " +
                s"metadata commit '${m.snapshot}' (seq ${m.seq}); its " +
                "data was derived under the table metadata before it - " +
                "re-run the operation")
          }
      try published = Some(publishManifest(l, priors, derive(priors), beforePublish))
      catch {
        case cme: java.util.ConcurrentModificationException
            if retry && !cme.isInstanceOf[TrueConflictException] &&
              tries < MaxAppendCommitRetries =>
          tries += 1
          priors = retained(l.fsys, l.base) // head moved: re-read, rebase
      }
    }
    published.get
  }

  /** METADATA-ONLY commit: publish a new manifest that lists the head's
    * files and delete state BY REFERENCE — zero data movement, one KB
    * write. This is the ALTER TABLE serialization point: `metaFor`
    * derives the embedded metadata payload (Delta's metaData action in
    * its own commit) from each attempt's retained read, and the commit
    * loop re-derives it on a lost CAS, so concurrent schema changes (or
    * a schema change racing a write) serialize instead of silently
    * interleaving. The payload's schema-history entry is keyed by the
    * seq it publishes under: the read's head seq + 1. Not flagged
    * `rewrite`: the file set is unchanged, so streams and incremental
    * readers serve an empty delta and keep going. Returns the committed
    * seq. */
  private[graft] def commitMetadata(spark: SparkSession, dir: String,
      snapshot: String, beforePublish: () => Unit = () => ())(
      metaFor: Seq[ManifestData] => Option[String]): Long =
    commit(landing(spark, dir, snapshot), retry = true, beforePublish,
        rederivesMeta = true) { priors =>
      val head = headOrThrow(priors.lastOption, dir)
      Body(head.files, head.deleteFiles, metaB64 = metaFor(priors))
    }.seq

  /** The newest DDL commit's embedded metadata payload, scanning
    * manifests newest-first by filename seq and stopping at the first
    * carrier — the authoritative table-meta read
    * ([[graft.catalog.GraftTableMeta.read]] prefers it over the flat
    * sidecar, which racing ALTER losers can overwrite stale). Tables
    * never ALTERed scan their (vacuum-bounded) retained manifests once
    * and return None. */
  // published manifests are IMMUTABLE, so the per-file payload lookup
  // caches on (path, size, modTime) — the newest-first scan below then
  // costs one LIST and zero re-opens on every table the JVM has
  // already resolved (declaredSchema runs per write/read; without the
  // cache a never-ALTERed table re-opens every retained manifest each
  // time). Bounded by a hard clear — entries are ~0.1 KB.
  private val metaB64Cache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private[graft] def newestEmbeddedMetaB64(fsys: FileSystem,
      base: Path): Option[String] = {
    if (metaB64Cache.size > 65536) metaB64Cache.clear()
    listManifests(fsys, base).reverseIterator.flatMap { case (_, st) =>
      val key = s"${st.getPath}#${st.getLen}#${st.getModificationTime}"
      metaB64Cache.computeIfAbsent(key,
        _ => parse(fsys, st.getPath).flatMap(_.metaB64))
    }.nextOption()
  }

  /** The commit tail of one [[commit]] attempt: stage the manifest
    * JSON, run the test seam, check the head, publish with the one
    * seq-keyed CAS rename. Returns the published manifest. */
  private def publishManifest(l: Landing, priors: Seq[ManifestData],
      b: Body, beforePublish: () => Unit): ManifestData = {
    import l.{base, dir, fsys, snapshot}
    val seq = headSeq(priors) + 1
    // `rewrite: true` marks commits whose NEW files re-serve rows older
    // snapshots already contained (compaction, COW DML) — the analogue
    // of Delta's dataChange=false, which [[readChangesSince]] refuses to
    // diff across instead of re-serving old rows as changes. The DDL
    // payload (`metaB64`) rides IN the commit (Delta's metaData action):
    // meta state and its seq publish under ONE atomic rename, so a
    // racing ALTER can never acknowledge a change computed from a state
    // the table had already left. `cdcRecorded` means "this commit's
    // logical change is fully described by the listed cdc files"
    // (Delta's rule that cdc actions supersede add/remove derivation) —
    // an empty recorded list is a real statement ("no row changed":
    // compaction, zorder)
    val published = ManifestData(snapshot, seq, b.files, b.deleteFiles,
      System.currentTimeMillis(), b.rewrite, b.metaB64, b.cdcFiles,
      b.cdcRecorded)
    val json = encode(published)
    val tmp = new Path(base, s".manifest-$snapshot.tmp")
    val out = fsys.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    beforePublish()
    def seqTaken() = new java.util.ConcurrentModificationException(
      s"commit_seq $seq for $dir was taken by a concurrent writer; " +
        s"snapshot $snapshot NOT committed (data-$snapshot left as orphan)")
    // HEAD CHECK: the rename alone refuses a stale seq only while its
    // key exists; once vacuum retired it, the commit would publish
    // BELOW the head — acknowledged, yet never visible
    if (listedHeadSeq(fsys, base) >= seq) {
      fsys.delete(tmp, false)
      throw seqTaken()
    }
    CommitCoordinator.forScheme(fsys.getUri.getScheme) match {
      case Some(coord) =>
        // RAW-OBJECT-STORE path (no atomic no-overwrite rename): the
        // CAS is the coordinator's putIfAbsent on (dir, seq); see
        // [[CommitCoordinator]] for the claim/publish/fix-up protocol.
        val claim = coord.claim(dir, seq, tmp.toString)
        val dest = manifestPath(dir, seq)
        if (claim.won) {
          // an overwrite here can only re-write identical bytes (a
          // loser's fix-up copy of OUR staged object), so LWW is safe
          if (!fsys.rename(tmp, dest) && !fsys.exists(dest))
            throw new RuntimeException(
              s"manifest commit rename failed for $dir @ $snapshot (seq $seq)")
        } else {
          // fix up a winner that crashed between claim and publish:
          // copy ITS staged object onto the manifest key (idempotent —
          // every copier writes the same bytes)
          if (!fsys.exists(dest)) {
            val staged = new Path(claim.stagedPath)
            val copied = scala.util.Try {
              if (fsys.exists(staged))
                org.apache.hadoop.fs.FileUtil.copy(
                  fsys, staged, fsys, dest, false, fsys.getConf)
            }
            // a copy racing the winner's own late publish can lose the
            // staged key mid-read — fine iff the manifest is there now
            if (copied.isFailure && !fsys.exists(dest)) throw copied.failed.get
          }
          fsys.delete(tmp, false)
          throw new java.util.ConcurrentModificationException(
            s"commit_seq $seq for $dir was claimed by a concurrent " +
              s"writer; snapshot $snapshot NOT committed " +
              s"(data-$snapshot left as orphan)")
        }
      case None =>
        // the commit point AND the concurrency CAS: one rename onto the
        // seq-keyed manifest. A concurrent writer that already published
        // this seq makes the rename refuse (dest exists) — fail LOUDLY;
        // the landed data dir stays behind as a vacuum-able orphan.
        //
        // SAME-JVM serialization (round 13 — closes an observed lost
        // ALTER): local filesystems implement the no-overwrite refuse
        // as CHECK-then-rename (java.io.File.renameTo REPLACES its
        // destination), so two same-JVM committers racing one seq can
        // both pass the check and both "win", the second silently
        // replacing the first's manifest. HDFS-class stores refuse
        // atomically server-side and raw object stores ride the
        // coordinator branch above, so the TOCTOU is confined to
        // local[*] — which is also exactly where every racer shares
        // this JVM: one lock per (fs, table) closes it.
        // Cross-process local racing stays outside the contract (use
        // HDFS or register a CommitCoordinator).
        val dest = manifestPath(dir, seq)
        renameLocks.computeIfAbsent(
          s"${fsys.getUri}#$base", _ => new Object).synchronized {
          if (fsys.exists(dest) || !fsys.rename(tmp, dest)) {
            val taken = fsys.exists(dest)
            fsys.delete(tmp, false)
            if (taken) throw seqTaken()
            else
              throw new RuntimeException(
                s"manifest commit rename failed for $dir @ $snapshot (seq $seq)")
          }
        }
    }
    published
  }

  /** One lock object per table — see the local-FS TOCTOU note at the
    * rename above. Entries are a bare Object per (filesystem, table dir)
    * this JVM ever committed to, so the map grows with the tables, not
    * with the commits; never cleared (collapsing a lock mid-flight would
    * reopen the race it exists to close). */
  private[io] val renameLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The DDL sidecar's declared schema when the table dir carries one
    * (nullable-widened) — the authoritative read contract for evolved
    * tables. EVERY whole-table read path consults it: a compaction or
    * restore that read a mixed old/new file list through one sampled
    * footer would silently re-land post-evolution rows WITHOUT their
    * evolved column — permanent data loss through a maintenance call.
    * One exists() + KB read per table resolution. */
  private[graft] def declaredSchema(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val (fsys, base) = fs(spark, dir)
    graft.catalog.GraftTableMeta.read(fsys, base).flatMap(_.schema)
      .map(s => org.apache.spark.sql.types.StructType(
        s.map(_.copy(nullable = true))))
  }

  /** The declared schema AS OF manifest commit `seq` — the sidecar's
    * schema-history resolution (see [[graft.catalog.GraftTableMeta]]):
    * time travel below an `ALTER TABLE ADD COLUMN` reads the
    * as-committed schema WITHOUT the later column, exactly as the
    * Delta export face serves each version's own metaData. */
  private[graft] def declaredSchemaAt(spark: SparkSession, dir: String,
      seq: Long): Option[org.apache.spark.sql.types.StructType] = {
    val (fsys, base) = fs(spark, dir)
    graft.catalog.GraftTableMeta.read(fsys, base).flatMap(_.schemaAt(seq))
      .map(s => org.apache.spark.sql.types.StructType(
        s.map(_.copy(nullable = true))))
  }

  /** Read the current snapshot — from the manifest's file list, never
    * from a data-directory listing. A table that never committed reads
    * as absent (error), not as empty. Evolved tables (DDL sidecar with
    * a declared schema) read under that schema — see [[declaredSchema]]. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val m = headOrThrow(head(spark, dir), dir)
    require(m.files.nonEmpty, s"no committed snapshot under $dir")
    readFilesApplyingDeletes(spark, dir, m.files, m.deleteFiles,
      declaredSchema(spark, dir))
  }

  /** Incremental read: the rows ADDED after retained snapshot `since`,
    * i.e. the data files in the current snapshot that `since`'s manifest
    * does not list — the change feed a downstream incremental job
    * consumes instead of rescanning the table ([[append]]'s carry-forward
    * makes file sets monotone, so file-list difference IS the row delta).
    * With overwrite [[write]] commits in the history the file diff still
    * never re-serves rows `since` already contained, because a file lives
    * in exactly the snapshots that listed it. At 100 TB this is the
    * manifest-diff read pattern (Delta CDF's simple case): cost ∝ new
    * files, zero listing of the data tree. Returns None when `since` IS
    * the current snapshot (no changes).
    *
    * The guarantee holds across write/append commits only: a REWRITE
    * commit (compaction, COW DELETE/UPDATE — flagged `rewrite: true` in
    * its manifest, the analogue of Delta's dataChange=false) re-packs
    * rows the baseline already contained into new files, so a file diff
    * across one would re-serve old rows as changes. Such a span FAILS
    * LOUDLY instead — the consumer must re-baseline on a snapshot at or
    * after the rewrite. */
  def readChangesSince(spark: SparkSession, dir: String,
      since: String): Option[DataFrame] = {
    val (fsys, base) = fs(spark, dir)
    val (_, newFiles) = appendedSince(retained(fsys, base), since, dir,
      s"no retained snapshot '$since' under $dir")
    if (newFiles.isEmpty) None
    else Some(readFiles(spark, dir, newFiles, declaredSchema(spark, dir)))
  }

  /** THE change-span rule — every incremental face ([[appendedSince]],
    * [[changeFeed]], the streaming source, the Delta and Iceberg
    * exports) judges a commit with it: what commit `m` did to `prev`,
    * the retained commit before it (None for the oldest retained one,
    * judged as landing on an empty table): the data files it added and
    * removed, and whether it changed merge-on-read delete state. `m`
    * carries its own change record (`rewrite`, `cdcRecorded`,
    * `cdcFiles`). */
  private[graft] final case class Step(prev: Option[ManifestData],
      m: ManifestData) {
    private def prevFiles = prev.fold(Seq.empty[String])(_.files)
    lazy val added: Seq[String] = m.files.filterNot(prevFiles.toSet)
    lazy val removed: Seq[String] = prevFiles.filterNot(m.files.toSet)
    lazy val deletesChanged: Boolean =
      prev.exists(_.deleteFiles.sorted != m.deleteFiles.sorted)
    /** Nothing removed, delete state unchanged: the commit only added
      * files (or none). */
    def additive: Boolean = removed.isEmpty && !deletesChanged
    /** An additive commit that re-packs no old rows: its added files
      * ARE its change — the append-only faces serve them as new rows. */
    def isAppend: Boolean = !m.rewrite && additive
  }

  /** The [[Step]] of every commit in `ms` (consecutive retained
    * commits, oldest → newest), each against the commit before it. */
  private[graft] def steps(ms: Seq[ManifestData]): Seq[Step] =
    ms.zip(None +: ms.map(Some(_))).map { case (m, p) => Step(p, m) }

  /** Each of `steps` (a contiguous window) with the added files the
    * window serves: all of them, except that the first `startServed`
    * of the first step went to an earlier window and only the first
    * `endServed` of the last belong to this one (-1 = none / whole) —
    * how a stream splits a plain append on file boundaries. */
  private[graft] def windowed(steps: Seq[Step], startServed: Long = -1L,
      endServed: Long = -1L): Seq[(Step, Seq[String])] =
    steps.zipWithIndex.map { case (st, i) =>
      val upto =
        if (i == steps.size - 1 && endServed >= 0) endServed.toInt
        else st.added.size
      st -> st.added.slice(if (i == 0) startServed.max(0L).toInt else 0, upto)
    }

  /** The incremental-read span, shared by [[readChangesSince]] and the
    * `.option("changesSince", …)` relation: find the baseline `since`
    * in `all` (else refuse with `missing`), require every later commit
    * to be append-only, and return the head with the files it adds over
    * the baseline. Two refusal classes — rewrite commits
    * (compaction/COW DML re-pack pre-existing rows as "new" files), and
    * merge-on-read DELETE commits (not rewrite-flagged, but they change
    * position-delete state — possibly against files appended INSIDE the
    * span, so the bare file diff would re-serve rows the span itself
    * deleted). A blind overwrite passes: the diff never re-serves rows
    * the baseline held, because a file lives only in the snapshots that
    * list it. */
  private[graft] def appendedSince(all: Seq[ManifestData], since: String,
      dir: String, missing: => String): (ManifestData, Seq[String]) = {
    val baseline = all.find(_.snapshot == since).getOrElse(
      throw new IllegalArgumentException(missing))
    val span = steps(all).filter(_.m.seq > baseline.seq)
    span.find(_.m.rewrite).foreach(st =>
      throw new IllegalStateException(
        s"cannot serve changes since '$since' under $dir: commit " +
          s"'${st.m.snapshot}' (seq ${st.m.seq}) is a rewrite (compaction/COW " +
          "DML) whose files re-pack pre-existing rows - re-baseline on a " +
          "snapshot at or after it"))
    span.find(_.deletesChanged).foreach(st =>
      throw new IllegalStateException(
        s"cannot serve changes since '$since' under $dir: commit " +
          s"'${st.m.snapshot}' (seq ${st.m.seq}) changed merge-on-read delete " +
          "state, so the appended-file diff would serve rows the span " +
          "deleted - compact, then re-baseline on a snapshot at or " +
          "after it"))
    (all.last, Step(Some(baseline), all.last).added)
  }

  // ---- change data feed (round 13) --------------------------------------

  /** The CDF metadata column names — Delta's, verbatim, so downstream
    * consumers written against the public convention port unchanged. */
  private[graft] val CdfTypeCol = "_change_type"
  private[graft] val CdfVersionCol = "_commit_version"
  private[graft] val CdfTimestampCol = "_commit_timestamp"

  /** The change-feed schema: `table`'s columns, then `_change_type`,
    * `_commit_version` and `_commit_timestamp`. */
  private[graft] def cdfSchema(
      table: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(table.fields ++ Seq(
      StructField(CdfTypeCol, StringType, nullable = true),
      StructField(CdfVersionCol, LongType, nullable = false),
      StructField(CdfTimestampCol, TimestampType, nullable = true)))
  }

  /** ROW-LEVEL change feed: every change committed AFTER retained
    * snapshot `since` (exclusive) up to `until` (inclusive; default
    * head), typed by `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} and stamped with `_commit_version` (the commit
    * seq) and `_commit_timestamp`. `"start"` serves the OLDEST RETAINED
    * snapshot's live rows (its position deletes applied) as `insert`,
    * stamped with that commit's version, then the changes of every
    * later commit — on a never-vacuumed table, the whole history; after
    * a vacuum, the state the retained history starts from (Delta's
    * streaming-CDF start rule). This is the face that serves what
    * [[readChangesSince]] refuses: DML commits record their row-level
    * change as `cdc-<snapshot>/` parquet at commit time (COW
    * DELETE/UPDATE/MERGE, MOR deletes — changed rows, never the table),
    * maintenance rewrites record "no logical change", and plain appends
    * derive their inserts from the added files at zero recording cost
    * (Delta CDF's exact read rule: cdc actions supersede add/remove
    * derivation). Cost ∝ changed rows in the span — never table size.
    *
    * Commits that changed rows WITHOUT a recorded change record (an
    * overwrite, a restore, or history predating CDF recording) refuse
    * loudly: deriving their deltas would mean diffing whole snapshots —
    * data-proportional and silently expensive — so the consumer must
    * re-baseline instead. Slices read under the schema declared as of
    * `until` (older files/change records null-fill inside the reader,
    * Delta's serve-under-latest-schema rule). */
  def readChangeFeed(spark: SparkSession, dir: String, since: String,
      until: Option[String] = None): DataFrame = {
    val (fsys, base) = fs(spark, dir)
    val all = retained(fsys, base)
    require(all.nonEmpty, s"no committed snapshot under $dir")
    val baseline =
      if (since == "start") all.head
      else all.find(_.snapshot == since).getOrElse(
        throw new IllegalArgumentException(
          s"no retained snapshot '$since' under $dir " +
            "(pass \"start\" for the full retained history)"))
    val endM = until.map(u => all.find(_.snapshot == u).getOrElse(
      throw new IllegalArgumentException(
        s"no retained snapshot '$u' under $dir"))).getOrElse(all.last)
    require(endM.seq >= baseline.seq,
      s"change-feed end '${endM.snapshot}' (seq ${endM.seq}) precedes " +
        s"baseline '$since' (seq ${baseline.seq}) under $dir")
    val schema = declaredSchemaAt(spark, dir, endM.seq).getOrElse(
      readFiles(spark, dir, endM.files).schema)
    changeFeed(spark, dir, schema, Option.when(since == "start")(baseline),
      steps(all).filter(st => st.m.seq > baseline.seq && st.m.seq <= endM.seq)) {
      st => throw new IllegalStateException(
        s"cannot serve the change feed since '$since' under $dir: " +
          s"commit '${st.m.snapshot}' (seq ${st.m.seq}) changed rows without " +
          "a recorded change-data record (an overwrite, a restore, or " +
          "history predating CDF recording) - re-baseline on a " +
          "snapshot at or after it")
    }
  }

  /** THE change-feed slicer, shared by [[readChangeFeed]] and the
    * streaming source's change-feed batches: one frame under
    * `cdfSchema(table)` holding `initial`'s live rows as `insert`
    * (a snapshot served whole), then each step's change — its recorded
    * change record when it has one (served whole), the `insert`s of its
    * added files ([[windowed]] by `startServed`/`endServed`) when it is
    * a plain append, else `unrecorded(step)`, which throws to refuse or
    * returns to serve nothing. Every row is stamped with its commit's
    * `_commit_version` / `_commit_timestamp`. */
  private[graft] def changeFeed(spark: SparkSession, dir: String,
      table: org.apache.spark.sql.types.StructType,
      initial: Option[ManifestData], steps: Seq[Step],
      startServed: Long = -1L, endServed: Long = -1L)(
      unrecorded: Step => Unit): DataFrame = {
    val full = cdfSchema(table)
    // the recorded change records carry the table columns + `_change_type`
    val recorded = org.apache.spark.sql.types.StructType(full.fields.dropRight(2))
    def inserts(df: DataFrame) = df.withColumn(CdfTypeCol, F.lit("insert"))
    def stamped(df: DataFrame, m: ManifestData): DataFrame =
      df.withColumn(CdfVersionCol, F.lit(m.seq))
        .withColumn(CdfTimestampCol, F.timestamp_millis(F.lit(m.committedAt)))
    val first = initial.filter(_.files.nonEmpty).map(m => stamped(inserts(
      readFilesApplyingDeletes(spark, dir, m.files, m.deleteFiles, Some(table))), m))
    val slices = first.toSeq ++
      windowed(steps, startServed, endServed).flatMap { case (st, added) =>
        val m = st.m
        if (m.cdcRecorded) {
          if (m.cdcFiles.isEmpty) None
          else Some(stamped(readFiles(spark, dir, m.cdcFiles, Some(recorded)), m))
        } else if (st.isAppend) {
          // nothing added: a metadata-only commit
          Option.when(added.nonEmpty)(
            stamped(inserts(readFiles(spark, dir, added, Some(table))), m))
        } else { unrecorded(st); None }
      }
    if (slices.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    else slices
      // one column order for every slice — union is positional-safe
      .map(df => df.select(full.fieldNames.map(n => F.col(s"`$n`")).toSeq: _*))
      .reduce(_.unionByName(_))
  }

  /** Time travel: read a RETAINED snapshot exactly as committed.
    * `schemaHint` as on [[readFiles]]; absent a hint, evolved tables
    * read under the schema declared AS OF that snapshot's commit
    * ([[declaredSchemaAt]]) — a snapshot below an ALTER reads WITHOUT
    * the later column. */
  def readAt(spark: SparkSession, dir: String, snapshot: String,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val (fsys, base) = fs(spark, dir)
    val m = retained(fsys, base).find(_.snapshot == snapshot).getOrElse(
      throw new IllegalArgumentException(
        s"no retained snapshot '$snapshot' under $dir"))
    require(m.files.nonEmpty, s"no retained snapshot '$snapshot' under $dir")
    readFilesApplyingDeletes(spark, dir, m.files, m.deleteFiles,
      schemaHint.orElse(declaredSchemaAt(spark, dir, m.seq)))
  }

  /** Export the CURRENT snapshot in the SYMLINK-MANIFEST layout external
    * engines consume without any graft code — the interop format Delta
    * generates for Presto/Athena/Trino (`GENERATE symlink_format_manifest`):
    * a plain text file at `<dir>/_symlink_format_manifest/manifest`
    * holding one fully-qualified data-file URI per line, newest snapshot
    * only. Any engine that can read a parquet file list (Spark, Trino,
    * Hive via SymlinkTextInputFormat, DuckDB `read_parquet([list])`)
    * consumes the snapshot directly — closing the "Parquet/Delta I/O"
    * gap without table-format jars. The export is derived state, not a
    * commit: it is REGENERATED after each publish (same cadence Delta
    * requires for its manifests) and written via temp + rename so a
    * concurrent reader sees the old or new list, never a torn file.
    * Returns the exported URIs in manifest order. */
  def exportSymlinkManifest(spark: SparkSession, dir: String): Seq[String] = {
    val (fsys, base) = fs(spark, dir)
    val files = currentFiles(spark, dir)
    require(files.nonEmpty, s"no committed snapshot under $dir")
    val abs = files.map(f => fsys.makeQualified(new Path(base, f)).toString)
    val outDir = new Path(base, "_symlink_format_manifest")
    fsys.mkdirs(outDir)
    val tmp = new Path(outDir, ".manifest.tmp")
    val out = fsys.create(tmp, true)
    try out.write((abs.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(outDir, "manifest")
    // derived artifact, not the commit point: an overwrite-refusing FS
    // needs the delete first; the worst a racing reader sees is the
    // previous complete export (rename is still atomic per-file)
    fsys.delete(dest, false)
    if (!fsys.rename(tmp, dest))
      throw new RuntimeException(s"symlink manifest export failed for $dir")
    abs
  }

  /** Result of a copy-on-write [[deleteRange]]/[[updateRange]]/[[compact]]
    * commit: which files were rewritten vs carried untouched, the new
    * snapshot's id (None = the prune proved NO file could match — the
    * table is untouched, no commit), and the file count of the snapshot
    * the winning attempt published (0 without a commit). */
  final case class CowRewrite(rewritten: Seq[String], carried: Seq[String],
      committed: Option[String], committedFiles: Int)

  /** The shared copy-on-write core: the range split ([[rangeSplit]])
    * divides the current snapshot into files that MAY hold a row with
    * `column` ∈ [lo, hi] and files that provably cannot; only the former
    * are scanned and fed through `rewrite` (with the same in-range
    * predicate), the latter ride into the new snapshot by file-list
    * reference — never opened, never copied. */
  private def cowRewrite(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, snapshot: String,
      rewrite: (DataFrame, org.apache.spark.sql.Column) => DataFrame,
      beforePublish: () => Unit = () => (),
      cdcOf: (DataFrame, org.apache.spark.sql.Column) => Option[DataFrame] =
        (_, _) => None): CowRewrite = {
    val cur = headOrThrow(head(spark, dir), dir)
    require(cur.files.nonEmpty, s"no committed snapshot under $dir")
    val (touch, keep, inRange) =
      rangeSplit(spark, dir, cur.files, column, lo, hi)
    if (touch.isEmpty) return CowRewrite(Nil, keep, None, 0)
    // basePath read: a partitioned file's hive columns come back as real
    // columns, and partitionBy on the rewrite puts them back into paths
    // — the snapshot's layout survives the DML. Existing POSITION
    // DELETES are applied to the touched files here (a plain rewrite
    // would resurrect MOR-deleted rows) and the delete list rides into
    // the new snapshot for the carried files (entries that referenced a
    // rewritten file match nothing — harmless).
    val partCols = partitionValuesOf(touch.head).map(_._1)
    val df = readFilesApplyingDeletes(spark, dir, touch, cur.deleteFiles,
      declaredSchema(spark, dir))
    val published = writeImpl(rewrite(df, inRange), dir, snapshot,
      beforePublish, carriedExplicit = Some(keep), partitionCols = partCols,
      deletesExplicit = Some(cur.deleteFiles), rewrite = true,
      cowBase = Some(cur), cdc = cdcOf(df, inRange))
    CowRewrite(touch, keep, Some(snapshot), published.files.size)
  }

  /** Copy-on-write DELETE of rows with `column` ∈ [lo, hi] — the
    * lakehouse DELETE path, stats-driven end to end:
    *
    *  1. The one file split ([[FileStats.splitFiles]], shared with SQL
    *     DELETE/UPDATE and the scan path): exact hive partition values,
    *     then ONE distributed parquet-footer pass over the remaining
    *     files — metadata-only, no data read.
    *  2. Files whose partition value or [min,max] bounds CANNOT overlap
    *     the range are CARRIED FORWARD into the new snapshot by
    *     file-list reference — never opened, never copied. On a range-clustered 100 TB table a
    *     one-year delete rewrites the year, not the table.
    *  3. Only overlapping files are scanned; their surviving rows (NULLs
    *     survive — NULL never matches a range predicate) land as a fresh
    *     data dir, committed atomically with the carried files via the
    *     standard seq-keyed CAS — readers see the pre- or post-delete
    *     snapshot, never a torn mix, and time travel to the pre-delete
    *     snapshot keeps working.
    *
    * `lo`/`hi` are string literals in the column's natural rendering
    * (numerics, ISO date "2021-01-02", ISO timestamp
    * "2021-01-02T03:04:05[.micros]"), cast to the column's declared
    * type in the SESSION time zone — the same cast SQL `DELETE … WHERE
    * ts BETWEEN '…' AND '…'` applies. One Catalyst predicate drives both
    * the split and the row filter ([[rangeSplit]]), so prune and
    * predicate can never disagree. Test seam: `beforePublish` opens the
    * commit race window (see [[commit]]'s COW rebase tier). */
  def deleteRange(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, snapshot: String,
      beforePublish: () => Unit = () => ()): CowRewrite =
    cowRewrite(spark, dir, column, lo, hi, snapshot, (df, inRange) =>
      // NULLs survive: NOT(null BETWEEN ...) is null, which a bare
      // filter would drop — exactly the wrong way to "delete"
      df.where(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.not(inRange),
        org.apache.spark.sql.functions.lit(true))),
      beforePublish,
      // the change record: exactly the rows the predicate deletes
      // (where(inRange) keeps TRUE rows only — NULLs are not deletes)
      cdcOf = (df, inRange) => Some(df.where(inRange)
        .withColumn(CdfTypeCol, F.lit("delete"))))

  /** Copy-on-write UPDATE of rows with `column` ∈ [lo, hi]: every
    * `set` entry becomes `WHEN in-range THEN expr ELSE old` on the
    * rewritten files only — same stats-confined rewrite, carry, and
    * atomic-commit story as [[deleteRange]] (a one-segment re-flag on a
    * range-clustered 100 TB table rewrites the segment, not the table).
    * Set expressions may reference the row's other columns; update of
    * the prune column itself is refused — rewritten rows could leave
    * their file's clustering range, silently breaking every later
    * prune. */
  def updateRange(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, snapshot: String,
      set: Map[String, org.apache.spark.sql.Column]): CowRewrite = {
    require(!set.contains(column),
      s"updateRange must not rewrite its own prune column '$column'")
    cowRewrite(spark, dir, column, lo, hi, snapshot, (df, inRange) =>
      set.foldLeft(df) { case (d, (name, expr)) =>
        d.withColumn(name,
          org.apache.spark.sql.functions.when(inRange, expr)
            .otherwise(org.apache.spark.sql.functions.col(name)))
      },
      cdcOf = (df, inRange) => {
        val pre = df.where(inRange)
        val post = set.foldLeft(pre) { case (d, (name, expr)) =>
          d.withColumn(name, expr)
        }
        Some(pre.withColumn(CdfTypeCol, F.lit("update_preimage"))
          .unionByName(post.withColumn(CdfTypeCol,
            F.lit("update_postimage"))))
      })
  }

  /** Compaction — the ONE maintenance rewrite behind `CALL compact`,
    * `CALL zorder` and the streaming cadence's auto-maintenance: re-pack
    * the current snapshot's files AS A NEW SNAPSHOT — same rows, fewer
    * files — and, unlike [[TableIO.compactDir]], swap with no race:
    * readers resolve either manifest, each pointing at a complete file
    * set. Position deletes are applied on the way through, so the
    * rewritten files carry no MOR state, and the commit is flagged
    * `rewrite` with an empty change record (a re-pack changes no
    * logical row).
    *
    *  - `partitionBy`: the layout the rewrite lands. None = the rewritten
    *    files' own uniform hive layout (flat when flat or mixed), so a
    *    hive-partitioned table keeps its `col=value/` tree and every
    *    partition-exact read ([[readWherePartitions]]) keeps working.
    *  - `clusterBy`: range-cluster on these columns (`OPTIMIZE … ZORDER
    *    BY`): every file's min/max bounds become tight on them, which is
    *    what turns the exports' data skipping ([[DeltaLog.readPruned]],
    *    [[IcebergExport.readPruned]], [[deleteRange]]'s prune) from
    *    "keeps everything" into "opens the overlapping handful". On a
    *    partitioned layout the range leads with the partition columns
    *    and an intra-task sort tightens every row group, so the
    *    clustering happens WITHIN each partition.
    *  - `where`: Delta's `OPTIMIZE … WHERE` — rewrite ONLY the files of
    *    the hive partitions matching every entry (the same hive-escaped
    *    path match [[readWherePartitions]] uses: exact, zero footer
    *    reads), carrying every other file, and its delete state, by
    *    reference. The commit declares the scoped base, so a racing
    *    commit over DISJOINT files rebases instead of failing the
    *    maintenance job. Nothing matching = no commit.
    *
    * A whole-table compaction reads ONE head and publishes under its
    * seq CAS: a commit landing anywhere in between makes the publish
    * refuse loudly instead of silently dropping the interloper's files.
    * `targetFileBytes` sizes the flat and clustered rewrites at
    * ceil(bytes/target) files; an unclustered partitioned rewrite
    * writes one file per partition value. Returns the rewritten/carried
    * split (whole table: every file rewritten, none carried). */
  def compact(spark: SparkSession, dir: String, snapshot: String,
      targetFileBytes: Long, clusterBy: Seq[String] = Nil,
      where: Map[String, String] = Map.empty,
      partitionBy: Option[Seq[String]] = None,
      beforePublish: () => Unit = () => ()): CowRewrite = {
    require(targetFileBytes > 0,
      s"compact: targetFileBytes must be > 0, got $targetFileBytes")
    val (fsys, base) = fs(spark, dir)
    val cur = headOrThrow(head(spark, dir), dir)
    val scoped = where.nonEmpty
    require(scoped || cur.files.nonEmpty, s"no committed snapshot under $dir")
    val (touch, keep) = cur.files.partition(inPartitions(where))
    if (touch.isEmpty) return CowRewrite(Nil, keep, None, 0)
    val partCols = partitionBy.getOrElse(
      graft.sources.GraftSource.uniformPartitionCols(touch).getOrElse(Nil))
    require(!scoped || partCols.nonEmpty,
      s"compact: files matching $where under $dir carry no uniform hive layout")
    // sized only by the shuffles that take a file count
    lazy val n = {
      val bytes = touch.map(f => fsys.getFileStatus(new Path(base, f)).getLen).sum
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    }
    val df = readFilesApplyingDeletes(spark, dir, touch, cur.deleteFiles,
      declaredSchema(spark, dir))
    val ordering = (partCols ++ clusterBy).map(F.col)
    // the shuffle sits DIRECTLY under the write, so sizeForLanding
    // backs off and lands exactly this layout
    val laidOut = (partCols.nonEmpty, clusterBy.nonEmpty) match {
      case (false, false) => df.repartition(n)
      case (true, false) => df.repartition(ordering: _*) // one file per value
      case (false, true) => df.repartitionByRange(n, ordering: _*)
      case (true, true) => df.repartitionByRange(n, ordering: _*)
        .sortWithinPartitions(ordering: _*)
    }
    // a scoped rewrite declares its carry and rebases; a whole-table
    // one carries nothing and is pinned to `cur`
    val published = writeImpl(laidOut, dir, snapshot, beforePublish,
      carriedExplicit = Option.when(scoped)(keep), partitionCols = partCols,
      deletesExplicit = Option.when(scoped)(cur.deleteFiles), rewrite = true,
      cowBase = Some(cur), cdcNoChange = true)
    CowRewrite(touch, keep, Some(snapshot), published.files.size)
  }

  /** RESTORE (Delta's `RESTORE TABLE … TO VERSION AS OF`): make a
    * RETAINED older snapshot the table head again by committing a NEW
    * manifest that lists the target snapshot's files and delete state
    * BY REFERENCE — zero data movement, one KB-sized metadata write,
    * however large the table. History is preserved (the rolled-back
    * snapshots stay retained until [[vacuum]]), so a restore is itself
    * undoable. The commit is flagged `rewrite` — its files re-serve
    * rows older snapshots contained, so incremental readers must
    * re-baseline (correct: a restore rewinds state). A lost commit CAS
    * throws instead of retrying: a concurrent commit changed the very
    * state the operator decided to rewind, so the decision must be
    * re-made against the new head. Restoring the current head is a
    * no-op (returns None). Returns the new snapshot id. */
  def restore(spark: SparkSession, dir: String, snapshot: String,
      beforePublish: () => Unit = () => ()): Option[String] =
    restoreTo(spark, dir, Left(snapshot), beforePublish = beforePublish)._2

  /** [[restore]] to `target` — a snapshot id (Left) or a commit seq
    * (Right) — resolved from the commit's one landing read. RESTORE
    * rolls METADATA back with the data: `metaFor(targetSeq, newSeq)`
    * gives the payload (schema history rewound to the target, keyed by
    * THIS commit's seq) that rides in the restore commit itself, and
    * the single attempt pins the head, so the rolled-back meta can
    * never publish against a state a concurrent commit has already
    * moved. Returns the target's snapshot id and the new snapshot id
    * (None for a no-op). */
  private[graft] def restoreTo(spark: SparkSession, dir: String,
      target: Either[String, Long],
      metaFor: (Long, Long) => Option[String] = (_, _) => None,
      beforePublish: () => Unit = () => ()): (String, Option[String]) = {
    val newSnap = s"restore-${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val l = landing(spark, dir, newSnap)
    val all = l.priors
    val t = target.fold(
      snapshot => all.find(_.snapshot == snapshot).getOrElse(
        throw new IllegalArgumentException(
          s"no retained snapshot '$snapshot' under $dir " +
            s"(retained: ${all.map(_.snapshot).mkString(", ")})")),
      seq => all.find(_.seq == seq).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: no retained commit_seq $seq under $dir")))
    if (all.last.seq == t.seq) return (t.snapshot, None)
    commit(l, retry = false, beforePublish) { priors =>
      Body(t.files, t.deleteFiles, rewrite = true,
        metaB64 = metaFor(t.seq, priors.last.seq + 1))
    }
    (t.snapshot, Some(newSnap))
  }

  /** Retention: keep the `keepLast` newest retained manifests (the
    * current snapshot is the newest, so it always survives) plus every
    * data dir any of them references. Data dirs referenced only by
    * DROPPED manifests were committed and superseded — deleted at once.
    * Data dirs NO retained manifest has ever referenced are either
    * crashed pre-commit writes or writes still in flight: deleted only
    * once older than `orphanGraceMs`. Returns the removed entries. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1,
      orphanGraceMs: Long = 3600000L): Seq[String] = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val (fsys, base) = fs(spark, dir)
    val all = retained(fsys, base)
    val (dropped, kept) = all.splitAt(math.max(0, all.size - keepLast))
    // position-delete and change-data dirs retire under the same rule
    // as data dirs
    def dirsOf(ms: Seq[ManifestData]) =
      (ms.flatMap(_.files) ++ ms.flatMap(_.deleteFiles) ++
        ms.flatMap(_.cdcFiles)).map(_.split('/').head).toSet
    val live = dirsOf(kept)
    val superseded = dirsOf(dropped) -- live
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    val goneDirs = fsys.listStatus(base).toSeq
      .filter(s => s.isDirectory && (s.getPath.getName.startsWith("data-") ||
        s.getPath.getName.startsWith("deletes-") ||
        s.getPath.getName.startsWith("cdc-")))
      .filterNot(s => live.contains(s.getPath.getName))
      .filter { s =>
        superseded.contains(s.getPath.getName) || s.getModificationTime < cutoff
      }
      .map(_.getPath)
    goneDirs.foreach(p => fsys.delete(p, true))
    // dropping a DDL commit would lose the authoritative embedded
    // metadata — flatten it into the sidecar cache FIRST, so readers
    // that find no embedded carrier fall back to a current flat view
    if (dropped.exists(_.metaB64.isDefined) &&
        !kept.exists(_.metaB64.isDefined))
      graft.catalog.GraftTableMeta.read(fsys, base).foreach { m =>
        graft.catalog.GraftTableMeta.write(fsys, base,
          m.copy(location = None))
      }
    dropped.foreach(m => fsys.delete(manifestPath(dir, m.seq), false))
    goneDirs.map(_.getName) ++ dropped.map(m => s"manifest-${m.snapshot}")
  }
}
