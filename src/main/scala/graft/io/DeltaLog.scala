package graft.io

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Delta-protocol transaction-log EXPORT of a [[Manifest]] table — the
 * interop layer that makes a graft-committed corpus consumable by any
 * engine that reads Delta Lake (Spark+delta, Trino, DuckDB's delta
 * extension, delta-rs), per the public Delta Transaction Log Protocol
 * (delta-io/delta PROTOCOL.md). BASELINE.json's approach line names
 * "Parquet/Delta I/O"; [[Manifest.exportSymlinkManifest]] covers the
 * file-list consumers, this covers the table-format consumers.
 *
 * Mapping is 1:1 and derived — the Manifest stays the source of truth:
 *
 *  - Delta version  = `commit_seq` (already contiguous from 0).
 *  - `<v padded to 20>.json` per retained manifest, one action per line
 *    (the protocol's line-delimited JSON framing): the oldest exported
 *    version carries `protocol` (minReaderVersion 1 — nothing the
 *    export writes needs reader features beyond the base protocol),
 *    `metaData` (stable table id, `schemaString` = the parquet
 *    schema's StructType JSON — the serialization format Delta itself
 *    uses) and the full `add` set; every later version carries the
 *    file DIFF vs its predecessor (`remove` + `add`), which is exactly
 *    an overwrite/append commit's shape.
 *  - After [[Manifest.vacuum]] the oldest retained seq is > 0, so a
 *    reader can no longer fold from version 0: the export then writes a
 *    CHECKPOINT parquet (full protocol/metaData/add state, the
 *    protocol's checkpoint schema) at the oldest retained version plus
 *    the `_last_checkpoint` pointer, and drops the now-covered older
 *    commit JSONs — the protocol's own log-retention move.
 *
 * Commit JSONs are immutable once written (re-export only emits
 *    versions missing from the log — incremental, cost ∝ new commits,
 *    which is what keeps the export viable at a 100 TB table's commit
 *    cadence) and land via temp + fresh-key rename, so a concurrent
 *    reader never sees a torn action file. `_last_checkpoint` is a
 *    derived pointer (same overwrite discipline as the symlink export:
 *    worst case a reader sees the previous complete pointer).
 *
 * [[activeFiles]]/[[read]]/[[readVersion]] implement the reader side of
 * the same protocol slice (checkpoint + forward fold), used by specs to
 * prove reconstruction equals the Manifest's own view — and standing in
 * for the external engines this container can't install (no egress; the
 * sandbox DuckDB has no delta extension — documented, not hidden).
 */
object DeltaLog {

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def logDir(base: Path) = new Path(base, "_delta_log")
  private def commitPath(ld: Path, v: Long) = new Path(ld, f"$v%020d.json")
  private def checkpointPath(ld: Path, v: Long) =
    new Path(ld, f"$v%020d.checkpoint.parquet")

  /** Stable per-table id: derived from the table's qualified root so
    * every export of the same table agrees (the protocol wants the id
    * constant across commits; a byte-copied clone is a new table). */
  private def tableId(fsys: FileSystem, base: Path): String =
    UUID.nameUUIDFromBytes(
      ("graft-delta:" + fsys.makeQualified(base).toString)
        .getBytes(StandardCharsets.UTF_8)).toString

  private def jstr(s: String): String =
    JsonMethods.compact(JsonMethods.render(JString(s)))

  /** A CDF-carrying log declares the capability in the protocol —
    * legacy writer version 4 includes changeDataFeed, which is what
    * foreign `table_changes` readers check before serving the feed. */
  private def protocolLine(cdf: Boolean = false,
      columnMapping: Boolean = false): String =
    // legacy writer versions are cumulative: 5 (columnMapping) covers
    // 4 (changeDataFeed); mapping also needs reader 2 per the spec
    if (columnMapping)
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    else if (cdf)
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""
    else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaDataLine(id: String, schemaJson: String, createdAt: Long,
      partitionCols: Seq[String], cdf: Boolean = false,
      mappingMaxId: Option[Long] = None): String = {
    val pc = partitionCols.map(jstr).mkString("[", ",", "]")
    val entries =
      (if (cdf) Seq(""""delta.enableChangeDataFeed":"true"""") else Nil) ++
        // a mapped schemaString implies Delta's name-mode mapping: the
        // configuration + protocol declare it so conformant readers
        // resolve logical names through the field metadata
        (if (schemaJson.contains(Manifest.ColumnMapping.Key))
          Seq(""""delta.columnMapping.mode":"name"""",
            s""""delta.columnMapping.maxColumnId":"${mappingMaxId.getOrElse(0L)}"""")
        else Nil)
    val cfg = entries.mkString("{", ",", "}")
    s"""{"metaData":{"id":"$id","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schemaJson)},"partitionColumns":$pc,""" +
      s""""configuration":$cfg,"createdTime":$createdAt}}"""
  }

  /** `add.partitionValues` from the file's own hive path segments — a
    * partitioned Manifest snapshot's layout IS the value source. */
  private def partitionValuesJson(path: String): String =
    Manifest.partitionValuesOf(path)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")

  /** Inverse of [[decodeActionPath]] (ADVICE r12): the protocol
    * serializes `path` as a percent-encoded RELATIVE URI, so the
    * export must encode what the read side decodes — a hive-escaped
    * partition dir (literal %XX on disk) or a '%'/space in a file name
    * written raw would decode to a DIFFERENT on-disk path and make the
    * log unreadable, including by graft's own reader. `Path.toUri`
    * round-trips with `new Path(new URI(p))` exactly. */
  private def encodeActionPath(p: String): String =
    new Path(p).toUri.toString

  private def addLine(path: String, size: Long, modTime: Long,
      stats: String, dv: Option[String] = None): String =
    s"""{"add":{"path":${jstr(encodeActionPath(path))},""" +
      s""""partitionValues":${partitionValuesJson(path)},"size":$size,""" +
      s""""modificationTime":$modTime,"dataChange":true,"stats":${jstr(stats)}""" +
      dv.map(d => s""","deletionVector":$d""").getOrElse("") + "}}"

  /** Protocol action for a log that carries deletion vectors: table
    * features (reader 3 / writer 7) declaring exactly the one feature
    * the DV export uses — the upgrade the spec requires in (or before)
    * the first DV-carrying commit. */
  private def dvProtocolLine(cdf: Boolean = false,
      columnMapping: Boolean = false): String = {
    val wf = Seq("deletionVectors") ++
      (if (cdf) Seq("changeDataFeed") else Nil) ++
      (if (columnMapping) Seq("columnMapping") else Nil)
    val rf = Seq("deletionVectors") ++
      (if (columnMapping) Seq("columnMapping") else Nil)
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      s""""readerFeatures":${rf.map(jstr).mkString("[", ",", "]")},""" +
      s""""writerFeatures":${wf.map(jstr).mkString("[", ",", "]")}}}"""
  }

  /** `remove` must INVALIDATE the exact add it cancels: Delta state
    * reconstruction keys active files by (path, DV unique id), so a
    * remove of a file whose prior add carried a deletionVector repeats
    * that descriptor — a bare remove would only cancel (path, null) and
    * a foreign replay would keep the old (path, dv) add live, silently
    * double-reading the file. */
  private def removeLine(path: String, ts: Long,
      dv: Option[String] = None): String =
    s"""{"remove":{"path":${jstr(encodeActionPath(path))},"deletionTimestamp":$ts,"dataChange":true""" +
      dv.map(d => s""","deletionVector":$d""").getOrElse("") + "}}"

  private def commitInfoLine(ts: Long, operation: String): String =
    s"""{"commitInfo":{"timestamp":$ts,"operation":"$operation","operationParameters":{}}}"""

  /** The protocol's CHANGE-DATA action: a commit that carries `cdc`
    * actions tells CDF readers to take its row-level changes from the
    * referenced `_change_data` files INSTEAD of deriving them from
    * add/remove — which is what makes changes readable across rewrite
    * commits (compaction, COW DML) where the file diff re-packs rows. */
  private def cdcLine(path: String, size: Long): String =
    s"""{"cdc":{"path":${jstr(encodeActionPath(path))},"partitionValues":{},"size":$size,"dataChange":false}}"""

  private def writeLines(fsys: FileSystem, dest: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(dest.getParent, "." + dest.getName + ".tmp")
    val out = fsys.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fsys.rename(tmp, dest)) {
      fsys.delete(tmp, false)
      // fresh-key rename refused ⇒ a concurrent exporter already wrote
      // this version. Commits are deterministic functions of the
      // manifest history, so the existing file is the same content —
      // losing this race is success, but verify the winner exists.
      if (!fsys.exists(dest))
        throw new RuntimeException(s"delta log write failed for $dest")
    }
  }

  /** Regenerate `_delta_log` from the retained [[Manifest]] history.
    * Incremental: versions already exported are left untouched; returns
    * the versions written by THIS call (commit versions, then the
    * checkpoint version again if one was (re)written).
    *
    * With `changeData = true` the export ALSO materializes the
    * protocol's CHANGE DATA FEED: every newly-exported commit beyond
    * the oldest that removes files or changes merge-on-read delete
    * state gets `_change_data/<version>/` parquet(s) holding its
    * row-level changes (table columns + `_change_type` ∈
    * insert/delete — the keyless engine's honest changelog; an UPDATE
    * surfaces as its delete+insert pair) and `cdc` actions in the
    * commit JSON, so [[readChanges]] and external CDF readers get
    * changes ACROSS rewrite commits instead of
    * [[Manifest.readChangesSince]]'s re-baseline error. Append-only
    * commits carry no cdc actions — the protocol derives their inserts
    * from the add actions, costing nothing extra. Change rows for a
    * commit are computed as snapshot bag-differences (`exceptAll` both
    * ways — distributed, shuffle ∝ the two snapshots), except
    * append-only commits which read just the new files. */
  def exportLog(spark: SparkSession, dir: String,
      changeData: Boolean = false): Seq[Long] = {
    val (fsys, base) = fs(spark, dir)
    val ms = Manifest.history(spark, dir)
    require(ms.nonEmpty, s"no committed snapshot under $dir")
    val ld = logDir(base)
    fsys.mkdirs(ld)
    val now = System.currentTimeMillis()
    val id = tableId(fsys, base)
    // per-SNAPSHOT schema from the parquet footers (basePath read so
    // hive partition columns join the schema, as Delta requires);
    // Delta's schemaString format IS Spark's StructType JSON. Schemas
    // are resolved per version because the protocol models SCHEMA
    // EVOLUTION as a fresh metaData action in the commit that changed
    // it — an overwrite with new columns exports exactly that way.
    val schemaCache = scala.collection.mutable.Map[Long, String]()
    // the sidecar's schema HISTORY wins when the table declared one
    // (per-version, so a metadata-only ALTER commit exports the evolved
    // schema even before any file carries the column — exactly Delta's
    // metaData-in-its-own-commit shape); footer recovery is the
    // fallback for never-declared tables
    def schemaOf(m: Manifest.ManifestData): String =
      schemaCache.getOrElseUpdate(m.seq,
        Manifest.declaredSchemaAt(spark, dir, m.seq).map(_.json).getOrElse(
          Manifest.readFiles(spark, dir, m.files).schema.json))
    def partColsOf(m: Manifest.ManifestData): Seq[String] =
      m.files.headOption
        .map(Manifest.partitionValuesOf(_).map(_._1)).getOrElse(Nil)
    // commitInfo carries the MANIFEST's commit instant, not the export
    // instant — that is what timestamp time travel resolves on
    def tsOf(m: Manifest.ManifestData): Long =
      if (m.committedAt > 0) m.committedAt else now

    // ONE distributed footer pass over the union of every retained
    // snapshot's files: size/modTime AND per-column min/max/nullCount
    // come back together (the protocol's `add.stats` data-skipping
    // metadata), so the export never loops driver-side over file RPCs —
    // at a 100 TB table's file count that loop is the export's only
    // possible bottleneck and it is now files→executors wide
    val stats = FileStats.collect(spark, base,
      ms.flatMap(_.files).distinct)

    // MERGE-ON-READ state exports as the protocol's own encoding —
    // DELETION VECTORS (round 8): each snapshot's per-file delete
    // positions encode as content-addressed DV files (portable
    // RoaringBitmapArray, CRC-framed) with descriptors on the affected
    // add actions; the protocol upgrades to reader-v3/deletionVectors
    // in the DV-carrying commits. The whole conversion runs as ONE
    // Spark job per distinct delete state (round 9): the delete
    // parquets group by target file IN-FRAME and each task encodes +
    // writes its files' DVs where the positions already live — the
    // driver sees only the (file → descriptor) map, ∝ delete-carrying
    // files, never a per-deleted-row tuple. Descriptors stay
    // deterministic functions of the positions (content-addressed
    // names), keeping the incremental export idempotent. (Spec caveat
    // disclosed: add.stats stay the PHYSICAL file's footer stats —
    // sound for min/max pruning, but numRecords counts DV-deleted
    // rows, i.e. Delta's tightBounds=false shape.)
    val serConf =
      new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration)
    val qualDir = fsys.makeQualified(base).toString
    val dvStateCache = scala.collection.mutable
      .Map[Seq[String], Map[String, DeletionVector.DvDescriptor]]()
    def dvStateOf(m: Manifest.ManifestData)
        : Map[String, DeletionVector.DvDescriptor] =
      if (m.deleteFiles.isEmpty) Map.empty
      else dvStateCache.getOrElseUpdate(m.deleteFiles.sorted, {
        import spark.implicits._
        val conf = serConf
        val root = qualDir
        spark.read.parquet(m.deleteFiles.sorted.map(f => s"$dir/$f"): _*)
          .groupBy("file_path")
          .agg(F.array_sort(F.collect_set(F.col("pos"))).as("positions"))
          .as[(String, Seq[Long])]
          .map { case (f, pos) =>
            val d = DeletionVector.writeDvFileConf(conf.value, root, pos)
            (f, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)
          }
          .collect()
          .map { case (f, pi, off, sz, card) =>
            f -> DeletionVector.DvDescriptor(pi, off, sz, card) }
          .toMap
      })

    def addLinesOf(files: Seq[String],
        dv: Map[String, DeletionVector.DvDescriptor]): Seq[String] =
      files.map { f =>
        val fst = stats(f)
        addLine(f, fst.size, fst.modTime, FileStats.deltaStatsJson(fst),
          dv.get(f).map(_.json))
      }

    // INCREMENTAL CDF UPGRADE (ADVICE r9): commit JSONs are immutable,
    // so a table whose oldest version was exported WITHOUT changeData
    // keeps `configuration {}` in effect forever — _change_data files
    // and cdc actions would exist while foreign CDF readers
    // (table_changes) refuse the feed. Detect the mismatch from the
    // EXISTING log (one text scan filtered to the rare metaData lines)
    // and ride a fresh CDF-flagged metaData action + protocol upgrade
    // in the FIRST newly exported version; with nothing new to export,
    // fail loudly below instead of silently leaving the feature
    // undeclared.
    var cdfMetaNeeded = changeData &&
      fsys.exists(commitPath(ld, ms.head.seq)) && {
        val existingVs = ms.map(_.seq)
          .filter(v => fsys.exists(commitPath(ld, v)))
        val cfgT = StructType(Seq(StructField("metaData", StructType(Seq(
          StructField("configuration", MapType(StringType, StringType)))))))
        val lastCfg = spark.read
          .text(existingVs.map(v => commitPath(ld, v).toString): _*)
          .where(F.col("value").contains("\"metaData\""))
          .select(
            F.from_json(F.col("value"), cfgT)
              .getField("metaData").getField("configuration").as("cfg"),
            F.regexp_extract(F.col("_metadata.file_path"),
              "(\\d{20})\\.json$", 1).cast("long").as("version"))
          .where(F.col("cfg").isNotNull)
          .orderBy(F.col("version").desc).limit(1)
          .collect().headOption
          .map(_.getMap[String, String](0).toMap)
        !lastCfg.exists(_.get("delta.enableChangeDataFeed").contains("true"))
      }

    // column-mapping export state: a mapped schemaString upgrades the
    // protocol (reader 2 / writer 5 legacy, or the columnMapping table
    // feature alongside deletionVectors) and stamps the mode +
    // maxColumnId configuration on every metaData action
    val mappingMaxId: Option[Long] =
      graft.catalog.GraftTableMeta.read(fsys, base)
        .filter(graft.catalog.GraftTableMeta.mappingActive)
        .map(graft.catalog.GraftTableMeta.maxColumnId)
    def mapped(m: Manifest.ManifestData): Boolean =
      schemaOf(m).contains(Manifest.ColumnMapping.Key)

    val written = Seq.newBuilder[Long]
    Manifest.steps(ms).foreach { st =>
      val m = st.m
      val dest = commitPath(ld, m.seq)
      if (!fsys.exists(dest)) {
        val dv = dvStateOf(m)
        val lines =
          if (st.prev.isEmpty)
            // oldest retained version: full state (version 0's shape; a
            // vacuumed-past-0 table additionally gets a checkpoint below)
            Seq(commitInfoLine(tsOf(m), "WRITE"),
              if (dv.isEmpty) protocolLine(changeData, mapped(m))
              else dvProtocolLine(changeData, mapped(m)),
              metaDataLine(id, schemaOf(m), now, partColsOf(m), changeData,
                mappingMaxId)) ++
              addLinesOf(m.files, dv)
          else {
            val prevM = st.prev.get
            val prevDv = dvStateOf(prevM)
            val removed = st.removed
            // a carried file whose DELETE STATE changed re-commits as
            // remove + add with the new descriptor (the protocol's own
            // DV-update shape; the reader's last-wins window keeps the
            // re-add)
            val redv = m.files.filterNot(st.added.toSet)
              .filter(f => dv.get(f) != prevDv.get(f))
            val op = if (removed.isEmpty && redv.isEmpty) "APPEND" else "WRITE"
            // schema evolution: the commit that changed the snapshot
            // schema carries a fresh metaData action (the protocol's
            // ALTER TABLE shape); unchanged schemas stay silent — and
            // the first commit after an incremental CDF upgrade carries
            // one to land the enableChangeDataFeed configuration
            val metaChange =
              if (schemaOf(m) == schemaOf(prevM) && !cdfMetaNeeded) Nil
              else Seq(metaDataLine(id, schemaOf(m), now, partColsOf(m),
                changeData, mappingMaxId))
            // CHANGE DATA FEED: append-only commits need no cdc (their
            // adds ARE the inserts); anything that removed files or
            // touched MOR state serves its row-level changes. A commit
            // whose change record was RECORDED at DML time (round 13)
            // references those files DIRECTLY — they live under the
            // table root with the exact cdc shape (table columns +
            // `_change_type`, physical names on mapped tables, same as
            // the referenced data files), so the export's change cost
            // drops from two snapshot reads + exceptAll to |cdc| stat
            // calls AND update pre/postimages survive (the diff
            // degrades every update to delete+insert). Recorded-empty
            // (compaction) still lands the empty marker part — the
            // protocol wants the cdc action present so readers know "no
            // row changed" without deriving from the re-packed
            // add/remove actions. Unrecorded history keeps the diff.
            val cdc: Seq[String] =
              if (!changeData || st.additive) Nil
              else if (m.cdcRecorded && m.cdcFiles.nonEmpty)
                m.cdcFiles.map(f => cdcLine(f,
                  fsys.getFileStatus(new Path(base, f)).getLen))
              else if (m.cdcRecorded)
                writeEmptyChangeData(spark, fsys, base, m.seq,
                  Manifest.readAt(spark, dir, m.snapshot).schema)
                  .map { case (p, sz) => cdcLine(p, sz) }
              else writeChangeData(spark, fsys, base, m.seq,
                Manifest.readAt(spark, dir, m.snapshot),
                Manifest.readAt(spark, dir, prevM.snapshot))
                .map { case (p, sz) => cdcLine(p, sz) }
            Seq(commitInfoLine(tsOf(m), op)) ++
              (if (dv.nonEmpty) Seq(dvProtocolLine(changeData, mapped(m)))
              else if (mapped(m) && !mapped(prevM))
                Seq(protocolLine(changeData, columnMapping = true))
              else if (cdfMetaNeeded) Seq(protocolLine(cdf = true))
              else Nil) ++
              metaChange ++ cdc ++
              (removed ++ redv).map(f =>
                removeLine(f, now, prevDv.get(f).map(_.json))) ++
              addLinesOf(st.added ++ redv, dv)
          }
        writeLines(fsys, dest, lines)
        written += m.seq
        cdfMetaNeeded = false // the upgrade rode in this version
      }
    }
    require(!cdfMetaNeeded,
      s"the log under $dir was exported without changeData and has no new " +
        "commits to carry the delta.enableChangeDataFeed upgrade: old " +
        "commit JSONs are immutable - delete _delta_log and re-export " +
        "from scratch with changeData = true")

    val oldest = ms.head.seq
    if (oldest > 0 && !fsys.exists(checkpointPath(ld, oldest))) {
      writeCheckpoint(spark, fsys, ld, oldest, id, schemaOf(ms.head),
        partColsOf(ms.head), ms.head.files, stats, base, now,
        dvStateOf(ms.head))
      // checkpoint covers everything ≤ oldest: drop expired commit JSONs
      fsys.listStatus(ld).toSeq.map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.endsWith(".json") && !n.startsWith("_") &&
            n.stripSuffix(".json").forall(_.isDigit) &&
            n.stripSuffix(".json").toLong < oldest
        }
        .foreach(fsys.delete(_, false))
      written += oldest
    }

    // DV hygiene: a deletion_vector file referenced by NO retained
    // version is unreachable by every reader (commits below the
    // checkpoint are pruned; time travel spans only retained seqs) —
    // after compaction purges the MOR state and vacuum truncates
    // history, old DV files would otherwise accrete forever. Deleted
    // only once older than the same grace window [[Manifest.vacuum]]
    // gives in-flight writes, so a concurrent export that has landed a
    // DV but not yet its commit JSON cannot be shot down.
    val referenced = ms.flatMap(m =>
      dvStateOf(m).values.map(_.pathOrInlineDv)).toSet
    val dvCutoff = System.currentTimeMillis() - DvOrphanGraceMs
    fsys.listStatus(base).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("deletion_vector_") && n.endsWith(".bin") &&
          st.getModificationTime < dvCutoff
      }
      .filterNot { st =>
        val uuidStr = st.getPath.getName
          .stripPrefix("deletion_vector_").stripSuffix(".bin")
        scala.util.Try {
          val u = UUID.fromString(uuidStr)
          val bb = java.nio.ByteBuffer.allocate(16)
            .putLong(u.getMostSignificantBits)
            .putLong(u.getLeastSignificantBits)
          DeletionVector.encodeZ85(bb.array())
        }.toOption.exists(referenced.contains)
      }
      .foreach(st => fsys.delete(st.getPath, false))
    written.result()
  }

  /** Grace before an unreferenced DV file is reclaimed (see exportLog's
    * hygiene pass). */
  private[io] val DvOrphanGraceMs: Long = 3600000L

  /** Materialize one commit's row-level changes under
    * `_change_data/<version>/`: the bag-difference of the two snapshots
    * (distributed `exceptAll` both ways; schemas aligned across
    * evolution), typed by `_change_type`. Idempotent — a complete dir
    * (Spark's `_SUCCESS`) is reused, a crashed write is redone. A
    * ZERO-change rewrite (pure compaction) still lands one empty-schema
    * part so its cdc action exists and readers know "no row changed"
    * without deriving from the re-packed add/remove actions. Returns
    * (relative path, size) per change file. */
  /** Land the "no row changed" cdc marker for a rewrite whose change
    * record was recorded EMPTY (compaction/zorder): one empty part with
    * the table's cdc shape under `_change_data/<version>/`, idempotent
    * like [[writeChangeData]]. */
  private def writeEmptyChangeData(spark: SparkSession, fsys: FileSystem,
      base: Path, v: Long,
      tableSchema: org.apache.spark.sql.types.StructType): Seq[(String, Long)] = {
    val outDir = new Path(base, s"_change_data/$v")
    if (fsys.exists(outDir) && !fsys.exists(new Path(outDir, "_SUCCESS")))
      fsys.delete(outDir, true)
    if (!fsys.exists(outDir)) {
      val schema = org.apache.spark.sql.types.StructType(tableSchema.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = true))
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 1), schema)
        .write.parquet(outDir.toString)
    }
    fsys.listStatus(outDir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      .sortBy(_.getPath.getName)
      .map(st => s"_change_data/$v/${st.getPath.getName}" -> st.getLen)
  }

  private def writeChangeData(spark: SparkSession, fsys: FileSystem,
      base: Path, v: Long, cur: DataFrame, prev: DataFrame): Seq[(String, Long)] = {
    val outDir = new Path(base, s"_change_data/$v")
    if (fsys.exists(outDir) && !fsys.exists(new Path(outDir, "_SUCCESS")))
      fsys.delete(outDir, true)
    if (!fsys.exists(outDir)) {
      val cols = (cur.columns ++ prev.columns.filterNot(
        cur.columns.contains(_))).toSeq
      def pad(df: DataFrame, other: DataFrame): DataFrame =
        df.select(cols.map(c =>
          if (df.columns.contains(c)) F.col(c)
          else F.lit(null).cast(other.schema(c).dataType).as(c)): _*)
      val c2 = pad(cur, prev)
      val p2 = pad(prev, cur)
      val changes =
        c2.exceptAll(p2).withColumn("_change_type", F.lit("insert"))
          .unionByName(
            p2.exceptAll(c2).withColumn("_change_type", F.lit("delete")))
      changes.write.parquet(outDir.toString)
      val landed = fsys.listStatus(outDir).exists { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      if (!landed) {
        fsys.delete(outDir, true)
        spark.createDataFrame(
          spark.sparkContext.parallelize(Seq.empty[Row], 1), changes.schema)
          .write.parquet(outDir.toString)
      }
    }
    fsys.listStatus(outDir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      .sortBy(_.getPath.getName)
      .map(st => s"_change_data/$v/${st.getPath.getName}" -> st.getLen)
  }

  /** CHANGE DATA FEED read: every version in (`sinceVersion`, latest]
    * contributes its row-level changes — table columns plus
    * `_change_type` and `_commit_version`. Versions carrying `cdc`
    * actions serve those files (the protocol's rule: cdc supersedes
    * add/remove); append-only versions derive inserts from their add
    * actions at zero extra cost; a version that removed files WITHOUT
    * cdc actions fails loudly — re-export with
    * `exportLog(changeData = true)`. Driver state ∝ the window's
    * changed-file count (the CDF plan itself), never row count.
    *
    * FOREIGN logs (delta-spark's `_change_data` layout) read too:
    * action paths resolve absolute-or-relative per the protocol, and a
    * cdc action's `partitionValues` attach as typed literal columns
    * when the referenced file does not carry the partition columns
    * physically (delta-spark's partitioned cdc shape); change types
    * (`update_preimage`/`update_postimage` included) pass through
    * verbatim. */
  def readChanges(spark: SparkSession, dir: String,
      sinceVersion: Long): DataFrame = {
    val (_, base) = fs(spark, dir)
    val ld = logDir(base)
    val vs = versions(spark, dir).filter(_ > sinceVersion)
    require(vs.nonEmpty, s"no delta versions after $sinceVersion under $dir")
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val actionT = StructType(Seq(
      StructField("cdc", StructType(Seq(StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("deletionVector", dvT)))),
      StructField("remove", StructType(Seq(StructField("path", StringType))))))
    val acts = spark.read.text(vs.map(v => commitPath(ld, v).toString): _*)
      .select(F.from_json(F.col("value"), actionT).as("a"),
        F.regexp_extract(F.col("_metadata.file_path"), "(\\d{20})\\.json$", 1)
          .cast("long").as("version"))
      .select(F.col("a.cdc.path").as("cdc"), F.col("a.add.path").as("add"),
        F.col("a.remove.path").as("remove"), F.col("version"),
        F.col("a.add.deletionVector").as("dv"),
        F.col("a.cdc.partitionValues").as("cdcPv"),
        F.col("a.add.partitionValues").as("addPv"))
      .where(F.col("cdc").isNotNull || F.col("add").isNotNull ||
        F.col("remove").isNotNull)
      .collect()
    // action paths resolve per the protocol: absolute URIs ("s3://…",
    // "file:/…") and rooted paths as-is, everything else against the
    // table root — foreign writers emit both forms
    def resolve(p0: String): String = {
      val p = decodeActionPath(p0)
      val hp = new Path(p)
      if (hp.isAbsolute || hp.toUri.getScheme != null) p else s"$dir/$p"
    }
    // partition-column types for cdc partitionValues casts, resolved
    // LAZILY (only a partitioned foreign cdc layout pays for it)
    lazy val schemaTypes: Map[String, org.apache.spark.sql.types.DataType] =
      tableSchema(spark, dir, None).fields
        .map(f => f.name -> f.dataType).toMap
    val byV = acts.groupBy(_.getLong(3))
    val frames: Seq[DataFrame] = vs.flatMap { v =>
      val rows = byV.getOrElse(v, Array.empty[Row])
      val cdcRows = rows.filter(r => !r.isNullAt(0))
      if (cdcRows.nonEmpty) {
        // group by the action's partitionValues: a foreign writer's
        // `_change_data` files need not contain the partition columns
        // physically (the values live in the action, exactly as on
        // adds) — attach them as typed literals; files that already
        // carry the column (the engine's own exports) pass through
        val groups = cdcRows.groupBy(r =>
          if (r.isNullAt(5)) Map.empty[String, String]
          else r.getMap[String, String](5).toMap)
        val grpFrames = groups.toSeq
          .sortBy(_._2.map(_.getString(0)).min)
          .map { case (pv, rs) =>
            val paths = rs.map(r => resolve(r.getString(0)))
              .distinct.sorted
            var df = spark.read.parquet(paths: _*)
            pv.foreach { case (k, pvv) =>
              if (!df.columns.exists(_.equalsIgnoreCase(k))) {
                val dt = schemaTypes.getOrElse(k,
                  org.apache.spark.sql.types.StringType)
                df = df.withColumn(k,
                  (if (pvv == null) F.lit(null) else F.lit(pvv)).cast(dt))
              }
            }
            df
          }
        Some(grpFrames.reduce(_.unionByName(_, allowMissingColumns = true))
          .withColumn("_commit_version", F.lit(v)))
      }
      else if (rows.exists(r => !r.isNullAt(2)))
        throw new UnsupportedOperationException(
          s"delta version $v under $dir removed files but carries no cdc " +
            "actions: changes across a rewrite need exportLog(changeData = true)")
      else {
        val addRows = rows.filter(r => !r.isNullAt(1))
        if (addRows.isEmpty) None
        else {
          // an add may carry a DELETION VECTOR (e.g. version 0 of a
          // table exported with standing MOR state, or a foreign log):
          // reading the file raw would report DV-deleted rows as
          // inserts — apply the descriptors exactly like the full read
          val descs: Seq[DvRef] = addRows.toSeq.flatMap { r =>
            if (r.isNullAt(4)) Nil
            else {
              val d = r.getStruct(4)
              Some(DvRef(decodeActionPath(r.getString(1)), d.getString(0),
                d.getString(1),
                if (d.isNullAt(2)) None else Some(d.getInt(2)), d.getInt(3),
                if (d.isNullAt(4)) -1L else d.getLong(4)))
            }
          }
          // protocol-correct relativity test (same rule as resolve():
          // "file:/…" is absolute even without "://")
          def relative(p: String): Boolean = {
            val hp = new Path(p)
            !hp.isAbsolute && hp.toUri.getScheme == null
          }
          def readAdds(paths: Seq[String]): DataFrame =
            if (paths.forall(relative))
              Manifest.readFiles(spark, dir,
                paths.sorted.map(decodeActionPath))
            else spark.read.parquet(paths.map(resolve).sorted: _*)
          // group by the add actions' partitionValues and attach any
          // partition column the physical file does not carry as a
          // typed literal (the protocol keeps partition values in the
          // action; a foreign partitioned append's files would
          // otherwise read back with NULL partition columns). ADVICE
          // r11: the DV-carrying branch runs through the SAME grouping
          // — a foreign partitioned commit whose adds carry deletion
          // vectors must not emit inserts with NULL partition columns.
          if (descs.nonEmpty)
            require(addRows.forall(r => relative(r.getString(1))),
              s"delta version $v under $dir mixes DV-carrying adds " +
                "with absolute paths: unsupported")
          val descByFile = descs.map(d => d.file -> d).toMap
          val groups = addRows.groupBy(r =>
            if (r.isNullAt(6)) Map.empty[String, String]
            else r.getMap[String, String](6).toMap)
          val frame = groups.toSeq.sortBy(_._2.map(_.getString(1)).min)
            .map { case (pv, rs) =>
              val rawPaths = rs.map(_.getString(1)).toSeq
              val grpDescs = rawPaths.map(decodeActionPath)
                .flatMap(descByFile.get)
              var df =
                if (grpDescs.isEmpty) readAdds(rawPaths)
                else applyPositionDeletes(spark, dir,
                  rawPaths.map(decodeActionPath).sorted, grpDescs)
              pv.foreach { case (k, pvv) =>
                if (!df.columns.exists(_.equalsIgnoreCase(k))) {
                  val dt = schemaTypes.getOrElse(k,
                    org.apache.spark.sql.types.StringType)
                  df = df.withColumn(k,
                    (if (pvv == null) F.lit(null) else F.lit(pvv))
                      .cast(dt))
                }
              }
              df
            }.reduce(_.unionByName(_, allowMissingColumns = true))
          Some(frame
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(v)))
        }
      }
    }
    require(frames.nonEmpty, s"no changes after version $sinceVersion under $dir")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The protocol's checkpoint schema: one row per action, struct
    * columns `protocol`/`metaData`/`add` (unused action classes omitted
    * — the schema is allowed to carry only the action types present). */
  private def writeCheckpoint(spark: SparkSession, fsys: FileSystem, ld: Path,
      version: Long, id: String, schemaJson: String,
      partitionCols: Seq[String], files: Seq[String],
      stats: Map[String, FileStats.FileStat], base: Path, now: Long,
      dv: Map[String, DeletionVector.DvDescriptor] = Map.empty): Unit = {
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val formatT = StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", formatT),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvT)))
    val ckptT = StructType(Seq(
      StructField("protocol", protocolT),
      StructField("metaData", metaT),
      StructField("add", addT)))
    val emptyM = Map.empty[String, String]
    val protoRow =
      if (dv.isEmpty) Row(1, 2, null, null)
      else Row(3, 7, Seq("deletionVectors"), Seq("deletionVectors"))
    val rows =
      Row(protoRow, null, null) ::
      Row(null, Row(id, Row("parquet", emptyM), schemaJson,
        partitionCols, emptyM, now), null) ::
      files.toList.map { f =>
        val fst = stats(f)
        val dvRow = dv.get(f).map(d =>
          Row("u", d.pathOrInlineDv, d.offset, d.sizeInBytes,
            d.cardinality)).orNull
        Row(null, null, Row(encodeActionPath(f),
          Manifest.partitionValuesOf(f).toMap,
          fst.size, fst.modTime, true, FileStats.deltaStatsJson(fst), dvRow))
      }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), ckptT)
    // the checkpoint must be ONE parquet file with the exact protocol
    // name: write single-part to a temp dir, then rename the part file
    val tmpDir = new Path(ld, s".ckpt-$version.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
    val part = fsys.listStatus(tmpDir).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new RuntimeException(s"no checkpoint part under $tmpDir"))
    val dest = checkpointPath(ld, version)
    if (!fsys.rename(part, dest) && !fsys.exists(dest))
      throw new RuntimeException(s"checkpoint rename failed for $dest")
    fsys.delete(tmpDir, true)
    // derived pointer — overwrite discipline, same as the symlink export
    val lc = new Path(ld, "_last_checkpoint")
    val tmp = new Path(ld, "._last_checkpoint.tmp")
    val out = fsys.create(tmp, true)
    try out.write(s"""{"version":$version,"size":${rows.size}}"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fsys.delete(lc, false)
    if (!fsys.rename(tmp, lc))
      throw new RuntimeException(s"_last_checkpoint write failed under $ld")
  }

  // ---------------------------------------------------------------------
  // Reader side: checkpoint + forward fold, the protocol's state
  // reconstruction. Proves the export against an independent consumer.
  // ---------------------------------------------------------------------

  private def readText(fsys: FileSystem, p: Path): String = {
    val in = fsys.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Commit versions present in the log, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fsys, base) = fs(spark, dir)
    val ld = logDir(base)
    if (!fsys.exists(ld)) Nil
    else fsys.listStatus(ld).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("_") &&
        n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  private def lastCheckpointVersion(fsys: FileSystem, ld: Path): Option[Long] = {
    val lc = new Path(ld, "_last_checkpoint")
    if (!fsys.exists(lc)) None
    else JsonMethods.parse(readText(fsys, lc)) \ "version" match {
      case JInt(v) => Some(v.toLong)
      case _ => None
    }
  }

  /** Data files of checkpoint `v`: our own single-file name, the
    * MULTI-PART `%020d.checkpoint.%010d.%010d.parquet` family, or a
    * V2 UUID-named manifest a foreign writer may have produced.
    * Resolved from the listing; when `_last_checkpoint` declares
    * `parts`, the count must match — a missing part is a LOUD error,
    * never a silent half-state. */
  private def checkpointFiles(fsys: FileSystem, ld: Path, v: Long): Seq[String] = {
    val prefix = f"$v%020d.checkpoint"
    // classic single-file / multi-part parquet names, plus the V2
    // manifest family: `<v>.checkpoint.<uuid>.parquet` OR — allowed by
    // the v2-checkpoint spec and delta-spark's json manifest config —
    // `<v>.checkpoint.<uuid>.json` (line-framed actions)
    val files = fsys.listStatus(ld).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(prefix) && (n.endsWith(".parquet") || n.endsWith(".json"))
      }
      .sortBy(_.getName).map(_.toString)
    require(files.nonEmpty,
      s"no checkpoint parquet/json manifest for version $v under $ld")
    val declaredParts = JsonMethods.parse(
      readText(fsys, new Path(ld, "_last_checkpoint"))) \ "parts" match {
      case JInt(n) => Some(n.toInt)
      case _ => None
    }
    declaredParts.foreach(n => require(files.size == n,
      s"checkpoint $v declares $n parts but ${files.size} are present under $ld"))
    files
  }

  /** The complete action set of checkpoint `v` as ONE frame — classic
    * (single or multi-part) checkpoints read directly; a V2 CHECKPOINT
    * (the modern delta-spark default: a UUID-named manifest carrying
    * `checkpointMetadata` + `sidecar` pointer actions, with the
    * add/remove actions in parquet files under `_delta_log/_sidecars`)
    * expands
    * its sidecars and unions them in by name. Sidecar `path` entries
    * resolve per the protocol: absolute URIs as-is, bare names against
    * `_sidecars/`. The sidecar list is metadata-scale (∝ checkpoint
    * parts); the file ACTIONS stay executor-side. */
  /** Explicit action schema for a JSON-framed v2 checkpoint manifest —
    * inference would type `partitionValues` as a struct and `stats`
    * per-file, breaking the union with parquet parts and the replay
    * frame's map/string expectations. */
  private lazy val jsonManifestActionT: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("remove", StructType(Seq(StructField("path", StringType)))),
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType)))),
    StructField("checkpointMetadata", StructType(Seq(
      StructField("version", LongType))))))

  private def readCheckpoint(spark: SparkSession, fsys: FileSystem,
      ld: Path, v: Long): DataFrame = {
    val (jsonManifests, parquetParts) =
      checkpointFiles(fsys, ld, v).partition(_.endsWith(".json"))
    val frames =
      parquetParts.headOption.map(_ => spark.read.parquet(parquetParts: _*)).toSeq ++
        jsonManifests.headOption.map(_ =>
          spark.read.schema(jsonManifestActionT).json(jsonManifests: _*)).toSeq
    val base = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    if (!base.columns.contains("sidecar")) base
    else {
      val sidecarT = base.schema("sidecar").dataType
      require(sidecarT.isInstanceOf[StructType] &&
        sidecarT.asInstanceOf[StructType].fieldNames.contains("path"),
        s"v2 checkpoint $v under $ld has an unreadable sidecar action shape")
      val sidecars = base.where(F.col("sidecar.path").isNotNull)
        .select("sidecar.path").collect().map(_.getString(0)).toSeq
      val resolved = sidecars.map { p =>
        if (p.contains("://") || p.startsWith("/")) p
        else new Path(ld, s"_sidecars/$p").toString
      }
      resolved.foreach(p => require(fsys.exists(new Path(p)),
        s"v2 checkpoint $v under $ld references missing sidecar $p"))
      val sideDf =
        if (resolved.isEmpty) None
        else Some(spark.read.parquet(resolved: _*))
      (Seq(base) ++ sideDf.toSeq)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** DISTRIBUTED state reconstruction — the protocol's checkpoint +
    * forward fold, as ONE Spark job instead of a driver-side
    * `LinkedHashMap` fold: the checkpoint parquet and the commit JSONs
    * (line-framed actions; the commit VERSION recovered from each
    * file's 20-digit name via `_metadata.file_path`) scan as frames,
    * union, and resolve last-wins per path with a window (adds outrank
    * removes within one version — a re-add). Nothing data-proportional
    * ever lands on the driver: callers filter/join on the returned
    * frame and collect only the FINAL (pruned) file list, bounded by
    * the query's selectivity. At a 100 TB table with millions of log
    * entries (small files, long MOR chains) this is the difference
    * between a bounded driver and GBs of driver heap — the same reason
    * Delta itself reconstructs state distributedly.
    *
    * Columns: `path, partitionValues, size, modTime, stats, dvStorage`
    * (the last non-null iff the winning add carries a foreign
    * `deletionVector` — see [[requireNoDv]]). */
  private def activeAddsDF(spark: SparkSession, dir: String,
      version: Option[Long], allowCm: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (fsys, base) = fs(spark, dir)
    val ld = logDir(base)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no _delta_log commits under $dir")
    val target = version.getOrElse(vs.max)
    require(vs.contains(target), s"no delta version $target under $dir")
    val ckpt = lastCheckpointVersion(fsys, ld).filter(_ <= target)
    if (ckpt.isEmpty)
      require(vs.min == 0 || vs.min <= target,
        s"log under $dir starts at version ${vs.min} with no checkpoint")
    readGuards(spark, dir, ld, vs, target, ckpt, allowCm)

    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))
    val actionT = StructType(Seq(
      StructField("add", addT),
      StructField("remove", StructType(Seq(StructField("path", StringType))))))

    val commitVs = vs.filter(v => v > ckpt.getOrElse(-1L) && v <= target)
    val commitDf: Option[DataFrame] =
      if (commitVs.isEmpty) None
      else Some(
        spark.read.text(commitVs.map(v => commitPath(ld, v).toString): _*)
          .select(
            F.from_json(F.col("value"), actionT).as("a"),
            F.regexp_extract(F.col("_metadata.file_path"), "(\\d{20})\\.json$", 1)
              .cast("long").as("version"))
          .where(F.col("a.add.path").isNotNull || F.col("a.remove.path").isNotNull)
          .select(
            F.coalesce(F.col("a.add.path"), F.col("a.remove.path")).as("path"),
            F.col("a.add.path").isNotNull.as("isAdd"),
            F.col("a.add.partitionValues").as("partitionValues"),
            F.col("a.add.size").as("size"),
            F.col("a.add.modificationTime").as("modTime"),
            F.col("a.add.stats").as("stats"),
            F.col("a.add.deletionVector.storageType").as("dvStorage"),
            F.col("a.add.deletionVector").as("dv"),
            F.col("version")))
    val ckptDf: Option[DataFrame] = ckpt.map { cv =>
      val ck0 = readCheckpoint(spark, fsys, ld, cv)
      // a v2 manifest whose adds all live in sidecars may lack the add
      // column until the sidecar union supplies it — and a degenerate
      // empty checkpoint lacks it entirely
      val ck =
        if (ck0.columns.contains("add")) ck0
        else ck0.withColumn("add", F.lit(null).cast(addT))
      // a FOREIGN checkpoint may omit optional add fields — null-fill
      val addStruct = ck.schema("add").dataType.asInstanceOf[StructType]
      val addFields = addStruct.fieldNames.toSet
      def f(n: String, dt: DataType): Column =
        if (addFields.contains(n)) F.col(s"add.`$n`") else F.lit(null).cast(dt)
      val dvT = addT("deletionVector").dataType.asInstanceOf[StructType]
      val (dvStorage: Column, dvFull: Column) =
        if (addFields.contains("deletionVector") &&
          addStruct("deletionVector").dataType.isInstanceOf[StructType]) {
          val dvS = addStruct("deletionVector").dataType.asInstanceOf[StructType]
          def g(n: String, dt: DataType): Column =
            if (dvS.fieldNames.contains(n))
              F.col(s"add.deletionVector.`$n`").cast(dt)
            else F.lit(null).cast(dt)
          (g("storageType", StringType),
            F.when(F.col("add.deletionVector").isNotNull, F.struct(
              g("storageType", StringType).as("storageType"),
              g("pathOrInlineDv", StringType).as("pathOrInlineDv"),
              g("offset", IntegerType).as("offset"),
              g("sizeInBytes", IntegerType).as("sizeInBytes"),
              g("cardinality", LongType).as("cardinality"))))
        } else (F.lit(null).cast(StringType), F.lit(null).cast(dvT))
      ck.where(F.col("add").isNotNull).select(
        F.col("add.path").as("path"),
        F.lit(true).as("isAdd"),
        f("partitionValues", MapType(StringType, StringType)).as("partitionValues"),
        f("size", LongType).as("size"),
        f("modificationTime", LongType).as("modTime"),
        f("stats", StringType).as("stats"),
        dvStorage.as("dvStorage"),
        dvFull.as("dv"),
        F.lit(cv).as("version"))
    }
    val all = (ckptDf.toSeq ++ commitDf.toSeq).reduce(_.unionByName(_))
    val w = Window.partitionBy("path")
      .orderBy(F.col("version").desc, F.col("isAdd").desc)
    all.withColumn("_rn", F.row_number().over(w))
      .where(F.col("_rn") === 1 && F.col("isAdd"))
      .select("path", "partitionValues", "size", "modTime", "stats",
        "dvStorage", "dv")
  }

  /** READ GUARDS for foreign logs — the protocol's "check before you
    * read" rules, so a table written by another engine with features
    * this reader lacks FAILS LOUDLY naming the feature instead of
    * silently mis-reading:
    *
    *  - `protocol.minReaderVersion > 1` (reader features such as
    *    deletionVectors, columnMapping, v2Checkpoint, timestampNtz) —
    *    this reader implements only the base protocol.
    *  - `metaData.configuration["delta.columnMapping.mode"]` other
    *    than "none" — physical parquet column names would differ from
    *    the logical schema and every projection would misresolve.
    *
    * The scan prefilters on a textual protocol/metaData marker, so its
    * cost is ∝ the (rare) protocol/metaData lines, not the add lines.
    * The latest action at or before the target version wins, exactly
    * like state reconstruction. Percent-encoded foreign `add.path`s
    * (rare outside exotic column values) remain out of scope —
    * disclosed here rather than guessed at. */
  /** Reader features this engine implements: deletion vectors decode
    * and column mapping resolves on the full-table read path
    * ([[readVersion]]/[[read]]); v2 checkpoints (UUID-named manifest +
    * sidecars — the modern delta-spark writer default) reconstruct
    * through [[readCheckpoint]] on every path; `timestampNtz` columns
    * read natively — the schemaString's `timestamp_ntz` parses to
    * Spark's TimestampNTZType and the parquet TIMESTAMP
    * (isAdjustedToUTC=false) logical type decodes zone-free on the
    * vectorized path, so values cannot shift by session zone. The
    * stats/partition collectors still refuse DV tables per-action —
    * their physical file lists would misrepresent such a table. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint", "timestampNtz")

  private def readGuards(spark: SparkSession, dir: String, ld: Path,
      vs: Seq[Long], target: Long, ckpt: Option[Long],
      allowCm: Boolean): Unit = {
    val fsys = ld.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val guardT = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("configuration", MapType(StringType, StringType)))))))
    val commitVs = vs.filter(v => v > ckpt.getOrElse(-1L) && v <= target)
    // (version, minReader, readerFeatures, columnMappingMode)
    var proto: Option[(Long, Int, Seq[String])] = None
    var cmMode: Option[(Long, String)] = None
    ckpt.foreach { cv =>
      val ck = readCheckpoint(spark, fsys, ld, cv)
      if (ck.columns.contains("protocol")) {
        val pT = ck.schema("protocol").dataType.asInstanceOf[StructType]
        val feats =
          if (pT.fieldNames.contains("readerFeatures"))
            F.col("protocol.readerFeatures")
          else F.lit(null).cast(ArrayType(StringType))
        ck.where(F.col("protocol").isNotNull)
          .select(F.col("protocol.minReaderVersion"), feats)
          .collect().headOption.foreach { r =>
            proto = Some((cv, r.getInt(0),
              if (r.isNullAt(1)) Nil else r.getSeq[String](1)))
          }
      }
      if (ck.columns.contains("metaData")) {
        val mT = ck.schema("metaData").dataType.asInstanceOf[StructType]
        if (mT.fieldNames.contains("configuration"))
          ck.where(F.col("metaData").isNotNull)
            .select(F.col("metaData.configuration")).collect().headOption
            .foreach { r =>
              val m = Option(r.getMap[String, String](0))
                .map(_.toMap).getOrElse(Map.empty)
              cmMode = Some((cv, m.getOrElse("delta.columnMapping.mode", "none")))
            }
      }
    }
    if (commitVs.nonEmpty) {
      spark.read.text(commitVs.map(v => commitPath(ld, v).toString): _*)
        .where(F.col("value").contains("\"protocol\"") ||
          F.col("value").contains("\"metaData\""))
        .select(
          F.from_json(F.col("value"), guardT).as("a"),
          F.regexp_extract(F.col("_metadata.file_path"), "(\\d{20})\\.json$", 1)
            .cast("long").as("version"))
        .where(F.col("a.protocol").isNotNull || F.col("a.metaData").isNotNull)
        .collect().foreach { r =>
          val v = r.getLong(1)
          val a = r.getStruct(0)
          val p = if (a.isNullAt(0)) None else Some(a.getStruct(0))
          p.filter(s => !s.isNullAt(0)).foreach { s =>
            if (proto.forall(_._1 <= v))
              proto = Some((v, s.getInt(0),
                if (s.isNullAt(1)) Nil else s.getSeq[String](1)))
          }
          val m = if (a.isNullAt(1)) None else Some(a.getStruct(1))
          m.foreach { s =>
            val conf =
              if (s.isNullAt(0)) Map.empty[String, String]
              else s.getMap[String, String](0).toMap
            if (cmMode.forall(_._1 <= v))
              cmMode = Some((v, conf.getOrElse("delta.columnMapping.mode", "none")))
          }
        }
    }
    proto.foreach { case (_, mrv, feats) =>
      // mrv 3 = table features: readable iff every readerFeature is one
      // we implement (deletionVectors, columnMapping — both resolved on
      // the read path). mrv 2 = legacy column mapping (read path only).
      // Anything else above 1: unknown — refuse naming it.
      val unsupported = feats.filterNot(SupportedReaderFeatures)
      if (mrv == 3 && unsupported.nonEmpty)
        throw new UnsupportedOperationException(
          s"delta table under $dir requires reader features " +
            s"${unsupported.mkString("[", ", ", "]")} this reader does not " +
            s"implement (supported: ${SupportedReaderFeatures.mkString(", ")})")
      else if (mrv != 3 && mrv != 2 && mrv > 1)
        throw new UnsupportedOperationException(
          s"delta table under $dir requires minReaderVersion=$mrv" +
            (if (feats.nonEmpty) s" with reader features ${feats.mkString("[", ", ", "]")}"
            else "") +
            "; this reader supports minReaderVersion 1-3 with " +
            s"features ${SupportedReaderFeatures.mkString(", ")}")
    }
    cmMode.foreach { case (_, mode) =>
      // the full-table read path (allowCm) maps physical → logical via
      // the schemaString field metadata; every OTHER surface refuses:
      // its file lists / stats keys / partitionValues carry PHYSICAL
      // names and would silently misresolve logical lookups
      if (mode != "none" && !allowCm)
        throw new UnsupportedOperationException(
          s"delta column mapping mode '$mode' under $dir is supported " +
            "only on the full-table read path (read/readVersion); this " +
            "API would misresolve physical parquet column names")
    }
  }

  /** Throw iff any collected active add carries a `deletionVector` —
    * reading such a file would silently RESURRECT deleted rows, the
    * exact failure a loud guard exists to prevent. `dvIdx` is the
    * collected rows' dvStorage ordinal. */
  private def requireNoDv(rows: Array[Row], dvIdx: Int, dir: String): Array[Row] = {
    if (rows.exists(r => !r.isNullAt(dvIdx)))
      throw new UnsupportedOperationException(
        s"delta table under $dir has active add actions carrying " +
          "deletionVector (merge-on-read deletion vectors): reading would " +
          "silently include deleted rows; feature not supported")
    rows
  }

  /** Active data-file paths (table-root-relative) at `version`
    * (default: latest), reconstructed per the protocol by
    * [[activeAddsDF]]'s distributed replay (path-sorted for
    * determinism). The unpruned list is inherently ∝ active files —
    * it IS the scan plan; pruned readers go through [[prunedFiles]] /
    * [[partitionPrunedFiles]], which filter BEFORE collecting. */
  def activeFiles(spark: SparkSession, dir: String,
      version: Option[Long] = None): Seq[String] =
    requireNoDv(activeAddsDF(spark, dir, version)
      .select("path", "dvStorage").orderBy("path").collect(), 1, dir)
      .map(_.getString(0)).toSeq

  /** [[activeFiles]] plus each file's `add.stats` JSON (None when the
    * log entry carried none — a reader must treat absence as "cannot
    * prune", never as "no rows"). */
  def activeFileStats(spark: SparkSession, dir: String,
      version: Option[Long] = None): Seq[(String, Option[String])] =
    requireNoDv(activeAddsDF(spark, dir, version)
      .select("path", "stats", "dvStorage").orderBy("path").collect(), 2, dir)
      .map(r => r.getString(0) -> Option(r.getString(1))).toSeq

  /** [[activeFiles]] plus each file's `add.partitionValues` (empty map
    * on an unpartitioned table). */
  def activeFilePartitions(spark: SparkSession, dir: String,
      version: Option[Long] = None): Seq[(String, Map[String, String])] =
    requireNoDv(activeAddsDF(spark, dir, version)
      .select("path", "partitionValues", "dvStorage")
      .orderBy("path").collect(), 2, dir)
      .map(r => r.getString(0) ->
        Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty))
      .toSeq

  /** Partition prune straight off the log: active files whose
    * `partitionValues` match every `equalTo` entry — EXACT (path-value
    * equality), unlike the bounds reasoning in [[prunedFiles]]. The
    * match runs INSIDE the replay frame; only matching paths are ever
    * collected. */
  def partitionPrunedFiles(spark: SparkSession, dir: String,
      equalTo: Map[String, String]): Seq[String] = {
    // logical → PHYSICAL key translation: a column-mapped table's
    // partitionValues are keyed by physical names
    val schema = tableSchema(spark, dir, None)
    val cond = equalTo.foldLeft(F.lit(true)) { case (acc, (k, v)) =>
      val phys = schema.find(_.name == k).map(physicalNameOf).getOrElse(k)
      acc && (F.element_at(F.col("partitionValues"), phys) === F.lit(v))
    }
    requireNoDv(activeAddsDF(spark, dir, None, allowCm = true).where(cond)
      .select("path", "dvStorage").orderBy("path").collect(), 1, dir)
      .map(_.getString(0)).toSeq
  }

  /** Read only the partitions [[partitionPrunedFiles]] keeps (basePath
    * read — the hive columns come back as real columns). Zero matching
    * partitions → empty frame with the log's metaData schema. */
  def readPartitionPruned(spark: SparkSession, dir: String,
      equalTo: Map[String, String]): DataFrame = {
    val files = partitionPrunedFiles(spark, dir, equalTo)
    val schema = tableSchema(spark, dir)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else mapToLogical(
      Manifest.readFiles(spark, dir, files.map(decodeActionPath)), schema)
  }

  /** The table schema at `version` (default: latest) per the protocol's
    * state reconstruction: the LAST `metaData` action at or before the
    * version (checkpoint state, then forward fold) — so schema
    * evolution reads back exactly as committed, and a pruned read that
    * skipped EVERY file still answers with the right columns. */
  def tableSchema(spark: SparkSession, dir: String,
      version: Option[Long] = None): StructType = {
    val (fsys, base) = fs(spark, dir)
    val ld = logDir(base)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no _delta_log commits under $dir")
    val target = version.getOrElse(vs.max)
    val ckpt = lastCheckpointVersion(fsys, ld).filter(_ <= target)
    val fromCkpt: Option[String] = ckpt.flatMap { cv =>
      val ck = readCheckpoint(spark, fsys, ld, cv)
      if (!ck.columns.contains("metaData")) None
      else ck.selectExpr("metaData.schemaString").where("metaData IS NOT NULL")
        .collect().headOption.map(_.getString(0))
    }
    // last metaData action wins — resolved as ONE scan over the commit
    // JSONs (metaData lines are rare: creation + schema changes), never
    // a driver-side read of every commit's full body
    val foldFrom = ckpt.getOrElse(-1L)
    val commitVs = vs.filter(v => v > foldFrom && v <= target)
    val metaT = StructType(Seq(StructField("metaData",
      StructType(Seq(StructField("schemaString", StringType))))))
    val fromCommits: Option[String] =
      if (commitVs.isEmpty) None
      else spark.read.text(commitVs.map(v => commitPath(ld, v).toString): _*)
        .select(
          F.from_json(F.col("value"), metaT).getField("metaData")
            .getField("schemaString").as("s"),
          F.regexp_extract(F.col("_metadata.file_path"), "(\\d{20})\\.json$", 1)
            .cast("long").as("version"))
        .where(F.col("s").isNotNull)
        .orderBy(F.col("version").desc).limit(1)
        .collect().headOption.map(_.getString(0))
    DataType.fromJson(fromCommits.orElse(fromCkpt).getOrElse(
      throw new IllegalStateException(s"no metaData action under $dir")))
      .asInstanceOf[StructType]
  }

  // ---------------------------------------------------------------------
  // Data skipping: prune files by add.stats min/max before any scan —
  // the protocol's zone-map move, and the reason the export pays for
  // footer stats at all. At 100 TB with a range-clustered layout this
  // turns a point-in-time range query from "open every file" into
  // "open the handful whose bounds overlap".
  // ---------------------------------------------------------------------

  /** a <=> b in the stats JSON's own value space: JSON numbers compare
    * numerically (BigDecimal — exact for long and double renderings),
    * JSON strings lexicographically (sound for plain text AND for the
    * fixed-width ISO date/timestamp renderings). None = incomparable —
    * callers must not prune on it. */
  private def cmpBound(v: JValue, bound: String): Option[Int] = v match {
    case JInt(n) => scala.util.Try(BigDecimal(bound)).toOption
      .map(b => BigDecimal(n).compare(b))
    case JLong(n) => scala.util.Try(BigDecimal(bound)).toOption
      .map(b => BigDecimal(n).compare(b))
    case JDouble(n) => scala.util.Try(BigDecimal(bound)).toOption
      .map(b => BigDecimal(n).compare(b))
    case JDecimal(n) => scala.util.Try(BigDecimal(bound)).toOption
      .map(b => n.compare(b))
    case JString(s) => Some(s.compareTo(bound))
    case _ => None
  }

  /** Can rows of a file with `stats` fall inside `column` ∈ [lo, hi]?
    * KEEP (true) whenever pruning cannot be PROVEN sound: no stats, no
    * bounds for the column, incomparable bound types. The one
    * bounds-free skip is a provably all-null column (nullCount ==
    * numRecords) — a range predicate never matches NULL. */
  private[graft] def statsMayMatch(stats: String, column: String,
      lo: String, hi: String): Boolean = {
    val j = JsonMethods.parse(stats)
    (j \ "minValues" \ column, j \ "maxValues" \ column) match {
      case (JNothing, _) | (_, JNothing) =>
        (j \ "nullCount" \ column, j \ "numRecords") match {
          case (JInt(nc), JInt(nr)) => !(nr > 0 && nc == nr)
          case _ => true
        }
      case (mn, mx) =>
        val below = cmpBound(mx, lo).exists(_ < 0) // max < lo
        val above = cmpBound(mn, hi).exists(_ > 0) // min > hi
        !(below || above)
    }
  }

  /** Active files that MAY hold rows with `column` ∈ [lo, hi] (stats
    * bounds compared per [[statsMayMatch]]'s semantics; date/timestamp
    * bounds take their fixed-width ISO rendering, e.g. "1995-03-15" /
    * "1995-03-15T00:00:00.000000Z").
    *
    * The prune predicate runs INSIDE [[activeAddsDF]]'s replay frame
    * (`get_json_object` over `add.stats`), so only the files that
    * survive it are ever collected — driver state ∝ the query's
    * selectivity, not the table's file count. Comparison mode comes
    * from the table schema: numeric columns compare after a cast to
    * double (monotone, hence SOUND: it can only keep extra files at
    * >2^53 magnitudes, never skip a matching one — [[statsMayMatch]]'s
    * exact BigDecimal compare remains the per-file reference
    * semantics); everything else compares as rendered strings, which
    * the fixed-width ISO renderings make order-correct. Every
    * unprovable case (no stats, missing bounds, unparsable literal,
    * unknown column) fails OPEN via coalesce — keep the file. */
  def prunedFiles(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, version: Option[Long] = None): Seq[String] = {
    val active = activeAddsDF(spark, dir, version, allowCm = true)
    val fieldOpt = tableSchema(spark, dir, version).find(_.name == column)
    val keep: Column = fieldOpt match {
      case None => F.lit(true) // not a table column: nothing to prune on
      case Some(field) =>
        val dt = field.dataType
        // a column-mapped table's stats keys are PHYSICAL names —
        // translate the logical lookup (identity when unmapped)
        val cn = physicalNameOf(field)
        require(cn.matches("[A-Za-z_][A-Za-z0-9_-]*"),
          s"unprunable column name for a JSON-path lookup: '$cn'")
        // bracket JSON paths: sound for plain names AND the hyphenated
        // `col-<uuid>` physical names id-mode mapping produces
        val minS = F.get_json_object(F.col("stats"), s"$$['minValues']['$cn']")
        val maxS = F.get_json_object(F.col("stats"), s"$$['maxValues']['$cn']")
        val nc = F.get_json_object(F.col("stats"), s"$$['nullCount']['$cn']")
          .cast("long")
        val nr = F.get_json_object(F.col("stats"), "$.numRecords").cast("long")
        def cv(c: Column): Column = dt match {
          case _: NumericType => c.cast("double")
          case _ => c
        }
        val below = cv(maxS) < cv(F.lit(lo)) // max < lo ⇒ cannot match
        val above = cv(minS) > cv(F.lit(hi)) // min > hi ⇒ cannot match
        val boundsKeep = F.coalesce(F.not(below || above), F.lit(true))
        // no bounds: skip only a PROVEN all-null column (a range
        // predicate never matches NULL)
        val nullsKeep = F.coalesce(F.not(nr > 0 && nc === nr), F.lit(true))
        F.when(minS.isNull || maxS.isNull, nullsKeep).otherwise(boundsKeep)
    }
    requireNoDv(active.where(F.col("stats").isNull || keep)
      .select("path", "dvStorage").orderBy("path").collect(), 1, dir)
      .map(_.getString(0)).toSeq
  }

  /** Read only the files [[prunedFiles]] keeps. Row-level filtering is
    * still the CALLER's job — bounds only prove which files cannot
    * match, exactly like any zone-map scan. A fully-pruned read returns
    * an empty frame with the log's metaData schema. */
  def readPruned(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String): DataFrame = {
    val files = prunedFiles(spark, dir, column, lo, hi)
    val schema = tableSchema(spark, dir)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else mapToLogical(
      Manifest.readFiles(spark, dir, files.map(decodeActionPath)), schema)
  }

  /** Read the table THROUGH the exported delta log (latest version). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, -1L)

  /** commitInfo timestamp per retained commit version, ascending.
    * Versions folded into a checkpoint no longer carry commitInfo —
    * timestamp travel resolves over the retained commit JSONs, exactly
    * the window Delta itself can serve after log cleanup. */
  def versionTimestamps(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val (fsys, base) = fs(spark, dir)
    val ld = logDir(base)
    val vs = versions(spark, dir)
    if (vs.isEmpty) return Nil
    // one scan over the commit JSONs (each carries exactly one
    // commitInfo line); result ∝ retained versions, not log bytes
    val ciT = StructType(Seq(StructField("commitInfo",
      StructType(Seq(StructField("timestamp", LongType))))))
    spark.read.text(vs.map(v => commitPath(ld, v).toString): _*)
      .select(
        F.from_json(F.col("value"), ciT).getField("commitInfo")
          .getField("timestamp").as("ts"),
        F.regexp_extract(F.col("_metadata.file_path"), "(\\d{20})\\.json$", 1)
          .cast("long").as("version"))
      .where(F.col("ts").isNotNull)
      .groupBy("version").agg(F.min("ts").as("ts"))
      .orderBy("version")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
  }

  /** `TIMESTAMP AS OF` through the log: the newest version whose commit
    * instant is ≤ `tsMillis` (the manifests' own `committed_at`, which
    * the export stamps into commitInfo). */
  def readVersionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): DataFrame = {
    val vts = versionTimestamps(spark, dir)
    val v = vts.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no delta version committed at or before $tsMillis under $dir " +
          s"(earliest retained: ${vts.headOption.map(_._2)})"))
    readVersion(spark, dir, v)
  }

  /** Time travel through the log; `version < 0` means latest.
    *
    * This is the one reader that APPLIES foreign deletion vectors
    * instead of refusing them: each active add's DV descriptor decodes
    * through [[DeletionVector]] (z85 / portable RoaringBitmapArray /
    * CRC-verified file slices) and the deleted (file, row-index) pairs
    * anti-join the scan — the same merge-on-read shape as the engine's
    * own position deletes. The stats/partition collectors keep the loud
    * guard: their file lists would misrepresent a DV table. */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val vOpt = if (version < 0) None else Some(version)
    val adds = activeAddsDF(spark, dir, vOpt, allowCm = true)
      .select("path", "dv").orderBy("path").collect()
    // percent-decoded ONCE here, so the scan paths and the DV suffix
    // join keys stay consistent
    val files = adds.map(r => decodeActionPath(r.getString(0))).toSeq
    require(files.nonEmpty, s"delta version has no data files under $dir")
    // only the DESCRIPTORS come to the driver (∝ DV-carrying files,
    // same scale as the file list itself); the positions they encode
    // decode executor-side inside [[applyPositionDeletes]] — a foreign
    // table with 100M deleted rows stays a few MB of driver state
    // instead of gigabytes of (file, pos) tuples
    val descs: Seq[DvRef] = adds.toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else {
        val d = r.getStruct(1)
        Some(DvRef(decodeActionPath(r.getString(0)), d.getString(0),
          d.getString(1),
          if (d.isNullAt(2)) None else Some(d.getInt(2)), d.getInt(3),
          if (d.isNullAt(4)) -1L else d.getLong(4)))
      }
    }
    val raw =
      if (descs.isEmpty) Manifest.readFiles(spark, dir, files)
      else applyPositionDeletes(spark, dir, files, descs)
    // COLUMN MAPPING (foreign tables, mode name/id): the parquet files
    // carry PHYSICAL column names; the logical names live in the
    // schemaString field metadata — resolve on every whole-row surface
    mapToLogical(raw, tableSchema(spark, dir, vOpt))
  }

  /** Delta action paths (add/remove/cdc) are PERCENT-ENCODED relative
    * or absolute URIs — the protocol's serialization, which delta-spark
    * decodes via `new Path(new URI(p))` (ADVICE r11). Decode before
    * resolving against the table root: a foreign path with a space or
    * %XX would otherwise resolve to a wrong path — usually a loud open
    * failure, but a glob metacharacter can silently match OTHER files
    * in spark.read.parquet. Unparsable strings pass through raw so a
    * spec-violating writer fails on the open, not here. */
  private[io] def decodeActionPath(p: String): String =
    scala.util.Try(new Path(new java.net.URI(p)).toString).getOrElse(p)

  /** A field's PHYSICAL name — the key its parquet columns, stats-JSON
    * entries, and partitionValues use — per the columnMapping field
    * metadata; the logical name itself when unmapped. */
  private def physicalNameOf(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** physical → LOGICAL remap of a data read (identity when the schema
    * carries no mapping). */
  private def mapToLogical(raw: DataFrame, schema: StructType): DataFrame =
    if (!schema.fields.exists(
        _.metadata.contains("delta.columnMapping.physicalName"))) raw
    else raw.select(schema.fields.map(f =>
      F.col(s"`${physicalNameOf(f)}`").as(f.name)): _*)

  /** One add action's deletion-vector descriptor, with the file it
    * deletes from — the DRIVER-side unit of MOR state (positions stay
    * distributed). `cardinality < 0` means the descriptor carried
    * none (legal in foreign logs). */
  private[io] final case class DvRef(file: String, storageType: String,
      pathOrInlineDv: String, offset: Option[Int], sizeInBytes: Int,
      cardinality: Long)

  /** Broadcast the decoded delete side only while its total position
    * count stays comfortably under the default broadcast budget
    * (~70 bytes per (path, pos) row); bigger delete states shuffle —
    * a sort-merge anti-join on (file-name tail, pos). */
  private[io] val MaxBroadcastDvPositions = 1000000L

  /** Anti-join DV positions against the scan. The descriptors ship as a
    * tiny Dataset and each DECODES INSIDE A TASK
    * ([[DeletionVector.positionsConf]] — CRC-verified slice reads), so
    * the deleted-row tuples are born distributed; broadcast vs shuffle
    * is chosen from the descriptors' summed cardinality. Rows key by
    * (`_metadata.file_path` ending in "/" + the add's relative path,
    * `_metadata.row_index`): the file-name TAIL is the hash key (an
    * equi-join Spark can plan), the full suffix match stays as the
    * residual, and suffix UNIQUENESS across active paths is asserted
    * loudly up front — without it a path that suffixes another (e.g.
    * `x/part-0.parquet` vs `y/x/part-0.parquet`) would delete rows
    * from the wrong file. */
  private def applyPositionDeletes(spark: SparkSession, dir: String,
      files: Seq[String], descs: Seq[DvRef]): DataFrame = {
    import spark.implicits._
    // suffix-collision guard: sorted by reversed path, a collision is
    // an adjacent reversed-prefix pair — O(n log n) over the file list
    // the scan already holds
    val revSorted = files.map(f => ("/" + f).reverse).sorted
    revSorted.sliding(2).foreach {
      case scala.collection.Seq(a, b) if b.startsWith(a) =>
        throw new IllegalStateException(
          s"active add paths under $dir are not suffix-unique " +
            s"('${a.reverse}' suffixes '${b.reverse}'): suffix-keyed " +
            "deletion-vector matching would hit the wrong file")
      case _ =>
    }
    val (fsys, base) = fs(spark, dir)
    val qualDir = fsys.makeQualified(base).toString
    val serConf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val conf = serConf
    val root = qualDir
    val delDf = descs.toDS()
      .repartition(math.min(descs.size, spark.sparkContext.defaultParallelism))
      .flatMap { d =>
        DeletionVector.positionsConf(conf.value, root, d.storageType,
          d.pathOrInlineDv, d.offset, d.sizeInBytes)
          .map(p => (d.file, p))
      }
      .toDF("_dv_file", "_dv_pos")
    val knownCard = descs.forall(_.cardinality >= 0)
    val totalCard = descs.map(_.cardinality).sum
    val delSide =
      if (knownCard && totalCard <= MaxBroadcastDvPositions)
        F.broadcast(delDf)
      else delDf
    Manifest.readFiles(spark, dir, files, positions = true)
      .withColumn("_g_tail", F.element_at(F.split(F.col("_graft_file"), "/"), -1))
      .join(
        delSide.withColumn("_dv_tail",
          F.element_at(F.split(F.col("_dv_file"), "/"), -1)),
        F.col("_g_tail") === F.col("_dv_tail") &&
          F.col("_graft_pos") === F.col("_dv_pos") &&
          F.col("_graft_file").endsWith(F.concat(F.lit("/"), F.col("_dv_file"))),
        "left_anti")
      .drop("_graft_file", "_graft_pos", "_g_tail")
  }
}
