package graft.io

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Apache Iceberg (format v2) metadata EXPORT of a [[Manifest]] table —
 * the second table-format face next to [[DeltaLog]], per the public
 * Iceberg Table Spec (iceberg.apache.org/spec). Together they close the
 * lakehouse-interop gap from both directions: engines that mount Delta
 * read the `_delta_log`, engines that mount Iceberg (Trino, Spark's
 * iceberg runtime, DuckDB iceberg, pyiceberg) read this.
 *
 * Mapping, derived from the same source of truth (the Manifest
 * history), using the HadoopTables filesystem-catalog convention:
 *
 *  - snapshot-id = sequence-number = `commit_seq`.
 *  - `metadata/v<N>.metadata.json` per export generation plus
 *    `metadata/version-hint.text` (the HadoopTables current pointer);
 *    the metadata JSON carries format-version 2, a stable table-uuid,
 *    the schema with per-field `id`s (assigned by a depth-first walk of
 *    the parquet schema), an unpartitioned default spec, the full
 *    snapshot list with `manifest-list` pointers, and a `main` branch
 *    ref — the required v2 field set.
 *  - One manifest-list Avro (`snap-<seq>.avro`) and one manifest Avro
 *    (`seq-<seq>-m0.avro`) per snapshot, both written once and never
 *    rewritten (re-export is incremental, cost ∝ new commits). Avro
 *    schemas carry the spec's `field-id` attributes (500-series for
 *    manifest_file, 0/1/3/4/2 + 100-series for manifest_entry) — the
 *    ids Iceberg readers resolve by.
 *  - Entry status: a data file is ADDED (1) in the snapshot whose
 *    commit introduced it and EXISTING (0) in later snapshots that
 *    carry it forward; `sequence_number`/`file_sequence_number` pin the
 *    introducing commit. `record_count` comes from the parquet footer
 *    (metadata-only, no data scan).
 *
 * Merge-on-read state exports as real v2 POSITION-DELETE manifests:
 * each snapshot carrying [[Manifest.deleteRangeMOR]] delete files gets
 * a content=1 manifest whose entries point at converted delete
 * parquets (`_iceberg_deletes/…`, full-URI `file_path` per the spec's
 * delete-file schema), listed next to the data manifest in the
 * snapshot's manifest list; [[activeDeleteFiles]]/[[read]] apply them
 * the way a v2 reader must. Equality deletes remain out of scope (the
 * engine never produces them). Overwrite commits drop files by simply
 * not listing them — correct for state reads and time travel. No
 * Iceberg reader installs in this offline sandbox (documented in
 * SURVEY §5.2), so conformance is proven by an independent
 * raw-Avro/JSON parse in the spec plus the in-repo reader.
 */
object IcebergExport {

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def metaDir(base: Path) = new Path(base, "metadata")

  private def tableUuid(fsys: FileSystem, base: Path): String =
    UUID.nameUUIDFromBytes(
      ("graft-iceberg:" + fsys.makeQualified(base).toString)
        .getBytes(StandardCharsets.UTF_8)).toString

  // ---- Iceberg schema JSON (field-ids by depth-first walk) --------------

  private def icebergType(dt: DataType, nextId: () => Int): JValue = dt match {
    case LongType => JString("long")
    case IntegerType => JString("int")
    case ShortType => JString("int")
    case DoubleType => JString("double")
    case FloatType => JString("float")
    case StringType => JString("string")
    case BooleanType => JString("boolean")
    case DateType => JString("date")
    case TimestampType => JString("timestamptz")
    case TimestampNTZType => JString("timestamp")
    case BinaryType => JString("binary")
    case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
    case ArrayType(elem, containsNull) =>
      val elemId = nextId()
      JObject(
        "type" -> JString("list"),
        "element-id" -> JInt(elemId),
        "element" -> icebergType(elem, nextId),
        "element-required" -> JBool(!containsNull))
    case StructType(fields) =>
      // ids for THIS struct's fields first, nested types after — any
      // unique assignment is spec-valid; this one is deterministic
      val withIds = fields.map(f => (f, nextId()))
      JObject(
        "type" -> JString("struct"),
        "fields" -> JArray(withIds.toList.map { case (f, id) =>
          JObject(
            "id" -> JInt(id),
            "name" -> JString(f.name),
            "required" -> JBool(!f.nullable),
            "type" -> icebergType(f.dataType, nextId))
        }))
    case other =>
      throw new IllegalArgumentException(s"unsupported Iceberg export type: $other")
  }

  // ---- STABLE field ids across schema evolution --------------------------
  // Iceberg's core evolution rule: a column keeps its id for the table's
  // lifetime, new columns get fresh ids, ids are never reused. The
  // allocator keys on the field PATH ("a", "a.element", "s.x"), seeds
  // itself from every schema in the PREVIOUS metadata generation (so
  // re-exports of an already-published table cannot re-number), and
  // hands out ids above the historical maximum for unseen paths.

  private final class IdAlloc(seed: Map[String, Int]) {
    private val ids = scala.collection.mutable.Map[String, Int](seed.toSeq: _*)
    private var max = (ids.values.toSeq :+ 0).max
    def apply(path: String): Int = ids.getOrElseUpdate(path,
      { max += 1; max })
    def lastId: Int = max
  }

  private def icebergTypeStable(dt: DataType, prefix: String,
      alloc: IdAlloc): JValue = dt match {
    case ArrayType(elem, containsNull) =>
      val elemId = alloc(s"$prefix.element")
      JObject(
        "type" -> JString("list"),
        "element-id" -> JInt(elemId),
        "element" -> icebergTypeStable(elem, s"$prefix.element", alloc),
        "element-required" -> JBool(!containsNull))
    case StructType(fields) =>
      // id allocation keys on the PHYSICAL name (column mapping): the
      // physical name is frozen across renames, so a renamed column
      // KEEPS its field id (Iceberg's rename semantics) while the
      // displayed name follows the logical schema; unmapped fields have
      // physical == logical, so nothing changes for them
      def seg(f: StructField) = Manifest.ColumnMapping.physicalNameOf(f)
      val withIds = fields.map(f =>
        (f, alloc(if (prefix.isEmpty) seg(f) else s"$prefix.${seg(f)}")))
      JObject(
        "type" -> JString("struct"),
        "fields" -> JArray(withIds.toList.map { case (f, id) =>
          JObject(
            "id" -> JInt(id),
            "name" -> JString(f.name),
            "required" -> JBool(!f.nullable),
            "type" -> icebergTypeStable(f.dataType,
              if (prefix.isEmpty) seg(f) else s"$prefix.${seg(f)}", alloc))
        }))
    case leaf => icebergType(leaf, () => 0) // primitives carry no ids
  }

  /** Seed the allocator from every schema the previous metadata
    * generation declared: path → id over top-level fields, struct
    * members, and list elements. */
  private def seedFromMetadata(meta: JValue): Map[String, Int] = {
    val out = scala.collection.mutable.Map[String, Int]()
    def walkType(t: JValue, prefix: String): Unit = t match {
      case JObject(_) if t \ "type" == JString("struct") =>
        t \ "fields" match {
          case JArray(fs) => fs.foreach { f =>
            (f \ "name", f \ "id") match {
              case (JString(n), JInt(i)) =>
                val p = if (prefix.isEmpty) n else s"$prefix.$n"
                out(p) = i.toInt
                walkType(f \ "type", p)
              case _ =>
            }
          }
          case _ =>
        }
      case JObject(_) if t \ "type" == JString("list") =>
        (t \ "element-id") match {
          case JInt(i) => out(s"$prefix.element") = i.toInt
          case _ =>
        }
        walkType(t \ "element", s"$prefix.element")
      case _ =>
    }
    meta \ "schemas" match {
      case JArray(ss) => ss.foreach(walkType(_, ""))
      case _ =>
    }
    // the name-mapping property (column-mapped tables) seeds the
    // PHYSICAL paths: schema field names are logical, so after a rename
    // only the mapping still carries the alloc key the ids live under
    meta \ "properties" \ "schema.name-mapping.default" match {
      case JString(j) => JsonMethods.parse(j) match {
        case JArray(es) => es.foreach { e =>
          (e \ "field-id", e \ "names") match {
            case (JInt(id), JArray(ns)) =>
              ns.foreach { case JString(n) => out(n) = id.toInt; case _ => }
            case _ =>
          }
        }
        case _ =>
      }
      case _ =>
    }
    out.toMap
  }

  // ---- Avro schemas for manifest list / manifest (spec field-ids) -------

  private val manifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  // the four per-column stats maps are the spec's data-skipping surface:
  // map<int,…> keyed by FIELD ID, serialized the way Iceberg writes
  // non-string-keyed maps in Avro — an array of key/value records with
  // logicalType "map" — and bounds values carry the spec's single-value
  // binary serialization (Appendix D: little-endian numerics, UTF-8
  // strings), decoded back by [[activeFilesPruned]] and the spec
  /** Manifest-entry Avro schema. The `partition` record (field-id 102)
    * is built PER TABLE: one typed field per identity-partition column
    * (ids 1000+, matching the partition spec), empty for an
    * unpartitioned table — the layout every Iceberg reader resolves
    * partition tuples from. */
  private def manifestEntrySchemaFor(
      partFields: Seq[(String, String, Int)]): AvroSchema = {
    val pf = partFields.map { case (n, t, id) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"partition column '$n' is not an exportable Avro field name")
      s"""{"name":"$n","type":["null","$t"],"default":null,"field-id":$id}"""
    }.mkString(",")
    new AvroSchema.Parser().parse(
      manifestEntryTemplate.replace("__PARTITION_FIELDS__", pf))
  }

  private val manifestEntryTemplate: String =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |{"name":"content","type":"int","field-id":134},
      |{"name":"file_path","type":"string","field-id":100},
      |{"name":"file_format","type":"string","field-id":101},
      |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[__PARTITION_FIELDS__]}},
      |{"name":"record_count","type":"long","field-id":103},
      |{"name":"file_size_in_bytes","type":"long","field-id":104},
      |{"name":"value_counts","field-id":109,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k119_v120","fields":[
      |    {"name":"key","type":"int","field-id":119},
      |    {"name":"value","type":"long","field-id":120}]}}]},
      |{"name":"null_value_counts","field-id":110,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[
      |    {"name":"key","type":"int","field-id":121},
      |    {"name":"value","type":"long","field-id":122}]}}]},
      |{"name":"lower_bounds","field-id":125,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
      |    {"name":"key","type":"int","field-id":126},
      |    {"name":"value","type":"bytes","field-id":127}]}}]},
      |{"name":"upper_bounds","field-id":128,"default":null,"type":["null",
      |  {"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
      |    {"name":"key","type":"int","field-id":129},
      |    {"name":"value","type":"bytes","field-id":130}]}}]}
      |]}}]}""".stripMargin

  /** The partition spec's `fields` array as JSON: identity transforms,
    * `source-id` = the column's schema field id, `field-id` = the
    * 1000-series partition field id — shared by the metadata JSON and
    * every manifest's `partition-spec` meta so they cannot drift. */
  private def partSpecFieldsJson(partFields: Seq[(String, String, Int)],
      fieldIds: Map[String, Int]): String =
    partFields.map { case (n, _, pid) =>
      s"""{"name":"$n","transform":"identity",""" +
        s""""source-id":${fieldIds.getOrElse(n, -1)},"field-id":$pid}"""
    }.mkString("[", ",", "]")

  /** Identity-partition descriptors of the CURRENT layout: (column,
    * avro type, partition-field id 1000+i), derived from the hive path
    * segments + the basePath-read schema. Only string/long/int columns
    * are exportable partition sources (the types the testdata and the
    * reference pipeline partition by); anything else fails loudly. */
  private def partitionFieldsOf(files: Seq[String],
      schema: StructType): Seq[(String, String, Int)] =
    files.headOption.map(Manifest.partitionValuesOf(_).map(_._1))
      .getOrElse(Nil).zipWithIndex.map { case (n, i) =>
        val t = schema.find(_.name == n).map(_.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"partition column '$n' missing from recovered schema"))
        val avroT = t match {
          case StringType => "string"
          case LongType => "long"
          case IntegerType | ShortType => "int"
          case other => throw new IllegalArgumentException(
            s"unsupported Iceberg partition source type for '$n': $other")
        }
        (n, avroT, 1000 + i)
      }

  private def writeAvroFile(fsys: FileSystem, dest: Path, schema: AvroSchema,
      meta: Map[String, String], records: Seq[GenericRecord]): Long = {
    val tmp = new Path(dest.getParent, "." + dest.getName + ".tmp")
    val out = fsys.create(tmp, true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    try { w.create(schema, out); records.foreach(w.append) } finally w.close()
    if (!fsys.rename(tmp, dest)) {
      fsys.delete(tmp, false)
      if (!fsys.exists(dest))
        throw new RuntimeException(s"iceberg metadata write failed for $dest")
    }
    fsys.getFileStatus(dest).getLen
  }

  private def readAvroFile(fsys: FileSystem, p: Path): Seq[GenericRecord] = {
    val in = fsys.open(p)
    val r = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  // ---- single-value binary serialization (spec Appendix D) --------------
  // little-endian numerics, UTF-8 strings — the byte layout every
  // Iceberg reader decodes lower_bounds/upper_bounds with

  private def leBytes(n: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n).array
  private def leBytes(n: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(n).array

  /** Encode one [[FileStats]] bound for the Spark column type it came
    * from; None = type outside the export's stats coverage (readers
    * treat a missing bound as "cannot prune" — always sound). */
  private def encodeBound(dt: DataType, v: Any): Option[Array[Byte]] =
    (dt, v) match {
      case (IntegerType | ShortType, n: Long) => Some(leBytes(n.toInt))
      case (LongType, n: Long) => Some(leBytes(n))
      case (FloatType, d: Double) => Some(
        java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putFloat(d.toFloat).array)
      case (DoubleType, d: Double) => Some(
        java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array)
      case (StringType, s: String) =>
        Some(s.getBytes(StandardCharsets.UTF_8))
      case (BooleanType, b: Boolean) =>
        Some(Array[Byte](if (b) 1 else 0))
      case (DateType, days: Long) => Some(leBytes(days.toInt))
      case (TimestampType | TimestampNTZType, micros: Long) =>
        Some(leBytes(micros))
      case _ => None
    }

  /** Decode a bound per the snapshot schema's Iceberg type name — the
    * reader half [[activeFilesPruned]] and the conformance spec use. */
  private[graft] def decodeBound(icebergType: String, bytes: Array[Byte]): Any = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    icebergType match {
      case "int" | "date" => bb.getInt.toLong
      case "long" | "timestamp" | "timestamptz" => bb.getLong
      case "float" => bb.getFloat.toDouble
      case "double" => bb.getDouble
      case "string" => new String(bytes, StandardCharsets.UTF_8)
      case "boolean" => bytes(0) != 0
      case other =>
        throw new IllegalArgumentException(s"undecodable bound type: $other")
    }
  }

  /** Parse a user-facing bound literal into [[decodeBound]]'s value
    * space: numerics as numbers, `date` as ISO date → epoch-day,
    * `timestamp[tz]` as ISO date-time (optional fraction / trailing Z)
    * → epoch-micros, strings verbatim. */
  private def parseBound(icebergType: String, s: String): Any = icebergType match {
    case "int" | "long" => s.toLong
    case "float" | "double" => s.toDouble
    case "date" => java.time.LocalDate.parse(s).toEpochDay
    case "timestamp" | "timestamptz" =>
      val ldt = java.time.LocalDateTime.parse(s.stripSuffix("Z"))
      ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L
    case "string" => s
    case "boolean" => s.toBoolean
    case other =>
      throw new IllegalArgumentException(s"unsupported prune type: $other")
  }

  private def cmpBound(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalArgumentException(
      s"incomparable bounds: ${a.getClass} vs ${b.getClass}")
  }

  /** Top-level column name → Iceberg field id, read back OFF the
    * generated schema JSON so exporter and readers can never disagree
    * on the id assignment. */
  private def topLevelIds(schJ: JValue): Map[String, Int] =
    schJ \ "fields" match {
      case JArray(fs) => fs.flatMap { f =>
        (f \ "name", f \ "id") match {
          case (JString(n), JInt(i)) => Some(n -> i.toInt)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }

  /** Export/refresh the Iceberg metadata tree from the retained Manifest
    * history. Returns the metadata generation written (the
    * `version-hint.text` value). Incremental: per-snapshot Avro files
    * are immutable; only the metadata JSON generation advances. */
  def exportTable(spark: SparkSession, dir: String): Int = {
    val (fsys, base) = fs(spark, dir)
    val ms = Manifest.history(spark, dir)
    require(ms.nonEmpty, s"no committed snapshot under $dir")
    val md = metaDir(base)
    fsys.mkdirs(md)

    val now = System.currentTimeMillis()
    val qualBase = fsys.makeQualified(base).toString

    // first commit that listed each file — the file's data sequence number
    val firstSeq = scala.collection.mutable.LinkedHashMap[String, Long]()
    ms.foreach(m => m.files.foreach(f =>
      if (!firstSeq.contains(f)) firstSeq(f) = m.seq))
    val firstDelSeq = scala.collection.mutable.LinkedHashMap[String, Long]()
    ms.foreach(m => m.deleteFiles.foreach(f =>
      if (!firstDelSeq.contains(f)) firstDelSeq(f) = m.seq))

    // ---- POSITION-DELETE conversion (merge-on-read state) --------------
    // the engine's delete parquets key on manifest-RELATIVE paths; the
    // Iceberg spec requires the delete row's `file_path` to equal the
    // data file's full URI, so each deletes-<snap> dir converts ONCE
    // (immutable, incremental) into `_iceberg_deletes/<snap-dir>/` with
    // qualified URIs — KBs of rewrite, never data
    def ensureConvertedDeletes(delDirName: String,
        srcRels: Seq[String]): (Seq[String], Long) = {
      val outDir = new Path(base, s"_iceberg_deletes/$delDirName")
      // idempotence keys on COMPLETION, not bare existence: a conversion
      // job that crashed mid-commit leaves the dir without Spark's
      // _SUCCESS marker — reusing it would publish content=1 manifests
      // referencing a partial delete set and silently resurrect
      // MOR-deleted rows for every external reader. Delete and redo.
      if (fsys.exists(outDir) && !fsys.exists(new Path(outDir, "_SUCCESS")))
        fsys.delete(outDir, true)
      if (!fsys.exists(outDir)) {
        import org.apache.spark.sql.functions.{col, concat, lit}
        spark.read.parquet(srcRels.map(f => s"$dir/$f"): _*)
          .select(concat(lit(qualBase + "/"), col("file_path")).as("file_path"),
            col("pos"))
          .orderBy("file_path", "pos")
          .coalesce(1).write.parquet(outDir.toString)
      }
      val outs = fsys.listStatus(outDir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .sorted.map(n => s"_iceberg_deletes/$delDirName/$n")
      val rows = spark.read.parquet(outs.map(f => s"$dir/$f"): _*).count()
      (outs, rows)
    }

    // ONE distributed parquet-footer pass over exactly the files the
    // NEW snapshots reference (already-exported snapshots skip below):
    // record_count, size, and the per-column stats maps all come from
    // it — no driver-side per-file footer loop, which at a 100 TB
    // table's file count is the difference between a one-job export
    // and hours of serial object-store round-trips
    val needExport = ms.filter(m =>
      !fsys.exists(new Path(md, s"snap-${m.seq}.avro")))
    val fstats = FileStats.collect(spark, base,
      needExport.flatMap(_.files).distinct)

    // ---- stable schema lineage across the retained history -------------
    // ids seed from the PREVIOUS metadata generation (a re-export can
    // never re-number a published column), new paths allocate above the
    // historical max; per-snapshot schemas dedupe in commit order into
    // the metadata's `schemas` list with schema-ids 0..k. Cost: one
    // footer-schema read per retained snapshot (retention-bounded).
    val alloc = new IdAlloc(
      if (fsys.exists(new Path(md, "version-hint.text")))
        seedFromMetadata(currentMetadata(spark, dir))
      else Map.empty)
    val schemaBodies =
      scala.collection.mutable.LinkedHashMap[String, (JObject, Int)]()
    val snapStruct = scala.collection.mutable.Map[Long, StructType]()
    val snapSchemaId = scala.collection.mutable.Map[Long, Int]()
    val snapSchemaJ = scala.collection.mutable.Map[Long, JValue]()
    ms.foreach { m =>
      // per-snapshot schema: the sidecar's declared history wins when
      // the table carries one (a metadata-only ALTER commit exports the
      // evolved schema before any file does — the Delta face's rule);
      // footer recovery remains the fallback for never-declared tables
      val st = Manifest.declaredSchemaAt(spark, dir, m.seq).getOrElse(
        Manifest.readFiles(spark, dir, m.files).schema)
      val JObject(bf) = icebergTypeStable(st, "", alloc)
      val key = JsonMethods.compact(JsonMethods.render(JObject(bf)))
      val (_, sid) = schemaBodies.getOrElseUpdate(key,
        (JObject(bf), schemaBodies.size))
      snapStruct(m.seq) = st
      snapSchemaId(m.seq) = sid
      snapSchemaJ(m.seq) = JObject(("schema-id" -> JInt(sid)) :: bf)
    }

    // ---- per-snapshot manifest + manifest list (immutable) -------------
    ms.foreach { m =>
      val manifestPath = new Path(md, s"seq-${m.seq}-m0.avro")
      val listPath = new Path(md, s"snap-${m.seq}.avro")
      if (!fsys.exists(listPath)) {
        // basePath read: hive partition columns JOIN the schema — Iceberg
        // treats partition sources as table columns
        val snapSchema = snapStruct(m.seq)
        val schJ = snapSchemaJ(m.seq)
        // stats keys come from parquet FOOTERS — PHYSICAL names; re-key
        // the id/type lookups so a renamed column's bounds still encode
        // under its (stable) field id
        val logicalIds = topLevelIds(schJ)
        val fieldIds = snapSchema.fields.flatMap(f =>
          logicalIds.get(f.name).map(id =>
            Manifest.ColumnMapping.physicalNameOf(f) -> id)).toMap
        val sparkTypeOf = snapSchema.fields.map(f =>
          Manifest.ColumnMapping.physicalNameOf(f) -> f.dataType).toMap
        val partFields = partitionFieldsOf(m.files, snapSchema)
        val entrySchema = manifestEntrySchemaFor(partFields)
        val dfSchema = entrySchema.getField("data_file").schema()
        def mapSchema(field: String) =
          dfSchema.getField(field).schema().getTypes.get(1) // non-null branch
        def statsMaps(fst: FileStats.FileStat) = {
          def rec(field: String, id: Int, v: AnyRef): GenericRecord = {
            val r = new GenericData.Record(mapSchema(field).getElementType)
            r.put("key", id); r.put("value", v); r
          }
          def arr(field: String, rs: Seq[GenericRecord]) = {
            val a = new GenericData.Array[GenericRecord](
              rs.size, mapSchema(field))
            rs.foreach(a.add); a
          }
          val vc = fst.columns.flatMap { case (n, _) => fieldIds.get(n)
            .map(rec("value_counts", _, java.lang.Long.valueOf(fst.numRecords))) }
          val nc = fst.columns.flatMap { case (n, c) =>
            for (id <- fieldIds.get(n); nulls <- c.nullCount)
              yield rec("null_value_counts", id, java.lang.Long.valueOf(nulls)) }
          def bounds(field: String, pick: FileStats.ColumnStat => Option[Any]) =
            fst.columns.flatMap { case (n, c) =>
              for {
                id <- fieldIds.get(n); v <- pick(c)
                dt <- sparkTypeOf.get(n); bytes <- encodeBound(dt, v)
              } yield rec(field, id, java.nio.ByteBuffer.wrap(bytes)) }
          (arr("value_counts", vc), arr("null_value_counts", nc),
            arr("lower_bounds", bounds("lower_bounds", _.min)),
            arr("upper_bounds", bounds("upper_bounds", _.max)))
        }
        val entries = m.files.map { f =>
          val fst = fstats(f)
          val fseq = firstSeq(f)
          val df = new GenericData.Record(dfSchema)
          df.put("content", 0)
          df.put("file_path", s"$qualBase/$f")
          df.put("file_format", "PARQUET")
          val part = new GenericData.Record(
            df.getSchema.getField("partition").schema())
          val pv = Manifest.partitionValuesOf(f).toMap
          partFields.foreach { case (n, t, _) =>
            pv.get(n).foreach { v =>
              part.put(n, t match {
                case "long" => java.lang.Long.valueOf(v.toLong)
                case "int" => java.lang.Integer.valueOf(v.toInt)
                case _ => v
              })
            }
          }
          df.put("partition", part)
          df.put("record_count", java.lang.Long.valueOf(fst.numRecords))
          df.put("file_size_in_bytes", java.lang.Long.valueOf(fst.size))
          val (vc, nc, lb, ub) = statsMaps(fst)
          df.put("value_counts", vc)
          df.put("null_value_counts", nc)
          df.put("lower_bounds", lb)
          df.put("upper_bounds", ub)
          val e = new GenericData.Record(entrySchema)
          e.put("status", if (fseq == m.seq) 1 else 0) // ADDED vs EXISTING
          e.put("snapshot_id", java.lang.Long.valueOf(m.seq))
          e.put("sequence_number", java.lang.Long.valueOf(fseq))
          e.put("file_sequence_number", java.lang.Long.valueOf(fseq))
          e.put("data_file", df)
          e
        }
        val curSchemaJson = JsonMethods.compact(JsonMethods.render(schJ))
        val specFieldsJson = partSpecFieldsJson(partFields, fieldIds)
        val mlen = writeAvroFile(fsys, manifestPath, entrySchema,
          Map("schema" -> curSchemaJson, "partition-spec" -> specFieldsJson,
            "partition-spec-id" -> "0", "format-version" -> "2",
            "content" -> "data"),
          entries)
        val added = entries.filter(_.get("status") == 1)
        val existing = entries.filter(_.get("status") == 0)
        def rows(es: Seq[GenericRecord]) = es.map(
          _.get("data_file").asInstanceOf[GenericRecord]
            .get("record_count").asInstanceOf[java.lang.Long].longValue()).sum
        val mf = new GenericData.Record(manifestFileSchema)
        mf.put("manifest_path", fsys.makeQualified(manifestPath).toString)
        mf.put("manifest_length", java.lang.Long.valueOf(mlen))
        mf.put("partition_spec_id", 0)
        mf.put("content", 0)
        mf.put("sequence_number", java.lang.Long.valueOf(m.seq))
        mf.put("min_sequence_number", java.lang.Long.valueOf(
          if (m.files.isEmpty) m.seq else m.files.map(firstSeq).min))
        mf.put("added_snapshot_id", java.lang.Long.valueOf(m.seq))
        mf.put("added_files_count", added.size)
        mf.put("existing_files_count", existing.size)
        mf.put("deleted_files_count", 0)
        mf.put("added_rows_count", java.lang.Long.valueOf(rows(added)))
        mf.put("existing_rows_count", java.lang.Long.valueOf(rows(existing)))
        mf.put("deleted_rows_count", java.lang.Long.valueOf(0L))
        // MERGE-ON-READ state: one POSITION-DELETE manifest (content=1)
        // per snapshot that carries delete files, per the v2 spec
        val delMfs = if (m.deleteFiles.isEmpty) Nil else {
          val delManifestPath = new Path(md, s"seq-${m.seq}-m1-deletes.avro")
          val byDir = m.deleteFiles.groupBy(_.split('/').head).toSeq.sortBy(_._1)
          val delEntries = byDir.flatMap { case (dn, srcs) =>
            val fseq = firstDelSeq(srcs.head)
            val (outs, rows) = ensureConvertedDeletes(dn, srcs)
            outs.map { rel =>
              val st = fsys.getFileStatus(new Path(base, rel))
              val ddf = new GenericData.Record(dfSchema)
              ddf.put("content", 1) // POSITION_DELETES
              ddf.put("file_path", s"$qualBase/$rel")
              ddf.put("file_format", "PARQUET")
              ddf.put("partition", new GenericData.Record(
                ddf.getSchema.getField("partition").schema()))
              ddf.put("record_count", java.lang.Long.valueOf(rows))
              ddf.put("file_size_in_bytes", java.lang.Long.valueOf(st.getLen))
              val e = new GenericData.Record(entrySchema)
              e.put("status", if (fseq == m.seq) 1 else 0)
              e.put("snapshot_id", java.lang.Long.valueOf(m.seq))
              e.put("sequence_number", java.lang.Long.valueOf(fseq))
              e.put("file_sequence_number", java.lang.Long.valueOf(fseq))
              e.put("data_file", ddf)
              e
            }
          }
          val dlen = writeAvroFile(fsys, delManifestPath, entrySchema,
            Map("schema" -> curSchemaJson, "partition-spec" -> specFieldsJson,
              "partition-spec-id" -> "0", "format-version" -> "2",
              "content" -> "deletes"),
            delEntries)
          val dAdded = delEntries.filter(_.get("status") == 1)
          val dExisting = delEntries.filter(_.get("status") == 0)
          val dmf = new GenericData.Record(manifestFileSchema)
          dmf.put("manifest_path", fsys.makeQualified(delManifestPath).toString)
          dmf.put("manifest_length", java.lang.Long.valueOf(dlen))
          dmf.put("partition_spec_id", 0)
          dmf.put("content", 1) // DELETES manifest
          dmf.put("sequence_number", java.lang.Long.valueOf(m.seq))
          dmf.put("min_sequence_number", java.lang.Long.valueOf(
            m.deleteFiles.map(firstDelSeq).min))
          dmf.put("added_snapshot_id", java.lang.Long.valueOf(m.seq))
          dmf.put("added_files_count", dAdded.size)
          dmf.put("existing_files_count", dExisting.size)
          dmf.put("deleted_files_count", 0)
          dmf.put("added_rows_count", java.lang.Long.valueOf(rows(dAdded)))
          dmf.put("existing_rows_count", java.lang.Long.valueOf(rows(dExisting)))
          dmf.put("deleted_rows_count", java.lang.Long.valueOf(0L))
          Seq(dmf)
        }
        writeAvroFile(fsys, listPath, manifestFileSchema,
          Map("format-version" -> "2", "snapshot-id" -> m.seq.toString,
            "sequence-number" -> m.seq.toString),
          Seq(mf) ++ delMfs)
      }
    }

    // ---- table metadata JSON generation + version hint -----------------
    val current = ms.last
    val schJ = snapSchemaJ(current.seq)
    val lastColId = alloc.lastId
    val curPartFields = partitionFieldsOf(current.files, snapStruct(current.seq))
    // real commit instants from the manifests themselves — time travel
    // by timestamp needs the COMMIT time, not the export time. The
    // lineage is forced MONOTONE in commit order: a manifest without
    // committed_at (pre-stamping provenance) inherits the previous
    // entry's instant instead of the export time — a `now` fallback
    // would stamp an OLD snapshot after newer ones' real instants and
    // break every timestamp-ordered resolution over the mixed history
    // (clock-skewed real instants clamp the same way).
    val tsBySeq: Map[Long, Long] = {
      var prev = 0L
      ms.map { m =>
        val t = if (m.committedAt > 0) math.max(m.committedAt, prev) else prev
        prev = t
        m.seq -> t
      }.toMap
    }
    def tsOf(m: Manifest.ManifestData): Long = tsBySeq(m.seq)
    val snapshots = JArray(Manifest.steps(ms).toList.map { st =>
      val m = st.m
      JObject(
        "snapshot-id" -> JInt(m.seq),
        "sequence-number" -> JInt(m.seq),
        "timestamp-ms" -> JInt(BigInt(tsOf(m))),
        "manifest-list" -> JString(
          fsys.makeQualified(new Path(md, s"snap-${m.seq}.avro")).toString),
        // append = strictly ADDITIVE (every prior file kept, no
        // merge-on-read delete-state change) — the label the
        // incremental append scan ([[readAppendsSince]]) keys on;
        // anything that removed/re-packed files or changed delete
        // state exports as overwrite
        "summary" -> JObject("operation" -> JString(
          if (st.prev.isEmpty || st.isAppend) "append" else "overwrite")),
        "schema-id" -> JInt(snapSchemaId(m.seq)))
    })
    val metadata = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(tableUuid(fsys, base)),
      "location" -> JString(qualBase),
      "last-sequence-number" -> JInt(current.seq),
      "last-updated-ms" -> JInt(BigInt(now)),
      "last-column-id" -> JInt(lastColId),
      "current-schema-id" -> JInt(snapSchemaId(current.seq)),
      "schemas" -> JArray(schemaBodies.values.toList.map { case (body, sid) =>
        JObject(("schema-id" -> JInt(sid)) :: body.obj) }),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(List(JObject(
        "spec-id" -> JInt(0),
        "fields" -> JsonMethods.parse(
          partSpecFieldsJson(curPartFields, topLevelIds(schJ)))))),
      "last-partition-id" -> JInt(999 + curPartFields.size),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      // COLUMN MAPPING: the spec's name-mapping assigns field ids to
      // file columns that carry none — exactly our parquet files, whose
      // columns are PHYSICAL names. Entries are top-level (the mapping
      // scope graft supports); readers resolve children by name below
      "properties" -> JObject(
        if (!Manifest.ColumnMapping.hasMapping(snapStruct(current.seq)))
          Nil
        else {
          val ids = topLevelIds(snapSchemaJ(current.seq))
          val entries = JArray(snapStruct(current.seq).fields.toList
            .flatMap(f => ids.get(f.name).map(id => JObject(
              "field-id" -> (JInt(id): JValue),
              "names" -> (JArray(List(JString(
                Manifest.ColumnMapping.physicalNameOf(f)))): JValue)))))
          List("schema.name-mapping.default" ->
            (JString(JsonMethods.compact(JsonMethods.render(entries)))
              : JValue))
        }),
      "current-snapshot-id" -> JInt(current.seq),
      "snapshots" -> snapshots,
      // REFS (round 13): the spec's named-reference map — `main` tracks
      // the head, plus one `tag` per `graft.iceberg.ref.<name>` table
      // property (CALL <cat>.system.tag writes them through the
      // CAS-serialized ALTER path, so tags survive re-exports and race
      // safely with writers). A tag whose snapshot has been vacuumed
      // out of the retained history is OMITTED rather than emitted
      // dangling — the engine mounting the export would fail on the
      // missing manifest list anyway; retention is vacuum's contract.
      "refs" -> JObject(("main" -> (JObject(
        "snapshot-id" -> JInt(current.seq),
        "type" -> JString("branch")): JValue)) ::
        graft.catalog.GraftTableMeta.read(fsys, base)
          .map(_.properties).getOrElse(Map.empty)
          .collect { case (k, v) if k.startsWith(RefPropPrefix) =>
            (k.stripPrefix(RefPropPrefix), v.toLongOption)
          }
          .collect { case (name, Some(seq))
              if ms.exists(_.seq == seq) && name != "main" =>
            name -> (JObject(
              "snapshot-id" -> JInt(seq),
              "type" -> JString("tag")): JValue)
          }.toList.sortBy(_._1)),
      // the spec's timestamp→snapshot lineage, what AS OF <ts> resolves on
      "snapshot-log" -> JArray(ms.toList.map(m => JObject(
        "timestamp-ms" -> JInt(BigInt(tsOf(m))),
        "snapshot-id" -> JInt(m.seq)))))

    val gen = currentGeneration(fsys, md) + 1
    val mj = new Path(md, s"v$gen.metadata.json")
    val tmp = new Path(md, s".v$gen.metadata.json.tmp")
    val out = fsys.create(tmp, true)
    try out.write(JsonMethods.pretty(JsonMethods.render(metadata))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fsys.rename(tmp, mj)) {
      fsys.delete(tmp, false)
      if (!fsys.exists(mj))
        throw new RuntimeException(s"iceberg metadata json write failed for $mj")
    }
    val hint = new Path(md, "version-hint.text")
    val htmp = new Path(md, ".version-hint.text.tmp")
    val hout = fsys.create(htmp, true)
    try hout.write(gen.toString.getBytes(StandardCharsets.UTF_8))
    finally hout.close()
    fsys.delete(hint, false)
    if (!fsys.rename(htmp, hint))
      throw new RuntimeException(s"version-hint write failed under $md")

    // expiration, the protocol's expire-snapshots move: after
    // Manifest.vacuum truncates history, per-snapshot Avro files for
    // dropped seqs reference deleted data — remove them, plus metadata
    // JSON generations older than the previous one (HadoopTables keeps
    // current + previous; version-hint always points at a complete tree)
    val live = ms.map(_.seq).toSet
    fsys.listStatus(md).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      def seqOf(s: String): Option[Long] =
        if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
      val dropSnap = n.startsWith("snap-") && n.endsWith(".avro") &&
        seqOf(n.stripPrefix("snap-").stripSuffix(".avro")).exists(!live.contains(_))
      val dropMan = n.startsWith("seq-") && n.endsWith("-m0.avro") &&
        seqOf(n.stripPrefix("seq-").stripSuffix("-m0.avro")).exists(!live.contains(_))
      val dropDelMan = n.startsWith("seq-") && n.endsWith("-m1-deletes.avro") &&
        seqOf(n.stripPrefix("seq-").stripSuffix("-m1-deletes.avro"))
          .exists(!live.contains(_))
      val dropGen = n.startsWith("v") && n.endsWith(".metadata.json") && {
        val g = n.stripPrefix("v").stripSuffix(".metadata.json")
        g.forall(_.isDigit) && g.toInt < gen - 1
      }
      if (dropSnap || dropMan || dropDelMan || dropGen) fsys.delete(p, false)
    }
    // converted position-delete dirs whose source snapshot is gone
    val liveDelDirs = ms.flatMap(_.deleteFiles).map(_.split('/').head).toSet
    val convRoot = new Path(base, "_iceberg_deletes")
    if (fsys.exists(convRoot))
      fsys.listStatus(convRoot).toSeq.map(_.getPath)
        .filterNot(p => liveDelDirs.contains(p.getName))
        .foreach(fsys.delete(_, true))
    gen
  }

  private def currentGeneration(fsys: FileSystem, md: Path): Int =
    if (!fsys.exists(md)) 0
    else fsys.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json"))
      .filter(_.forall(_.isDigit)).map(_.toInt)
      .foldLeft(0)(math.max)

  // ---- reader side (HadoopTables resolution), for specs + queries ------

  /** Manifest entries of one snapshot as a DataFrame: the KB-sized
    * manifest LIST resolves driver-side, but the entry manifests
    * themselves (∝ file count) decode EXECUTOR-side through
    * [[AvroIO.readAvro]] (one task per manifest file) — so readers
    * filter and prune inside the frame and collect only the final scan
    * list, keeping driver state bounded by the query's selectivity
    * rather than the table's file count. */
  /** A snapshot's manifest references as (path, content, sequence):
    * the manifest-list when the snapshot has one — a missing `content`
    * field reads as a DATA manifest and a missing `sequence_number` as
    * 0, which is exactly the v1-upgrade rule the spec prescribes — else
    * the LEGACY v1 inline `manifests` array (all data manifests, seq
    * 0). */
  private def manifestRefs(fsys: FileSystem, snap: JValue,
      dir: String): Seq[(String, Int, Long)] =
    snap \ "manifest-list" match {
      case JString(listPath) =>
        // a v1 list schema has neither field (see [[optField]])
        readAvroFile(fsys, new Path(listPath)).map { r =>
          (r.get("manifest_path").toString,
            optField(r, "content")
              .map(_.asInstanceOf[Number].intValue()).getOrElse(0),
            optField(r, "sequence_number")
              .map(_.asInstanceOf[Number].longValue()).getOrElse(0L))
        }
      case _ => snap \ "manifests" match {
        case JArray(ms) => ms.collect { case JString(p) => (p, 0, 0L) }
        case _ => throw new IllegalStateException(
          s"iceberg snapshot under $dir has neither a manifest-list " +
            "nor a legacy manifests array")
      }
    }

  /** Optional Avro field access: a v1 record schema simply lacks the
    * v2-only fields, and `GenericRecord.get` THROWS on unknown names —
    * presence must route through the record's own schema. */
  private def optField(r: GenericRecord, f: String): Option[AnyRef] =
    if (r.getSchema.getField(f) == null) None else Option(r.get(f))

  /** The metadata's schema list — `schemas` (v2, and late-v1 writers)
    * or the LEGACY single `schema` object (early v1). */
  private def schemasOf(meta: JValue, dir: String): List[JValue] =
    meta \ "schemas" match {
      case JArray(ss) => ss
      case _ => meta \ "schema" match {
        case s: JObject => List(s)
        case _ => throw new IllegalStateException(
          s"iceberg metadata under $dir carries neither a schemas " +
            "array nor a legacy schema object")
      }
    }

  private def entriesDF(spark: SparkSession, fsys: FileSystem,
      snap: JValue, dir: String, content: Int): Option[DataFrame] = {
    val mfs = manifestRefs(fsys, snap, dir)
      .filter(_._2 == content).map { case (p, _, s) => (p, s) }
    if (mfs.isEmpty) None
    else {
      // several manifest files per manifest-list is the NORMAL foreign
      // shape (Iceberg appends a new manifest per commit and merges
      // lazily) — union by name so field-order/optional-field drift
      // between manifests cannot misalign columns
      val unioned = mfs.map { case (p, mseq) =>
        AvroIO.readAvro(spark, p).withColumn("_g_mf_seq", F.lit(mseq))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      // SEQUENCE-NUMBER INHERITANCE (spec): an entry written with a null
      // sequence_number inherits its manifest's — the shape every
      // foreign writer produces for ADDED entries
      val withSeq =
        if (unioned.columns.contains("sequence_number"))
          unioned.withColumn("_g_entry_seq",
            F.coalesce(F.col("sequence_number"), F.col("_g_mf_seq")))
        else unioned.withColumn("_g_entry_seq", F.col("_g_mf_seq"))
      // the spec's entry status: 2 = DELETED. A foreign writer's
      // rewritten manifest legitimately KEEPS deleted entries (they
      // record the removal for incremental readers); including them in
      // a state read would resurrect deleted data files. Our own export
      // never writes status=2, so this is a pure foreign-table guard —
      // filtered in-frame, null-safe (a missing status keeps the entry).
      Some(withSeq.where(F.col("status").isNull || F.col("status") =!= 2))
    }
  }

  /** Little-endian two's-complement bytes → signed long, in pure SQL:
    * hex-render, reorder to big-endian, sign-extend to 64 bits, signed
    * base-16→10 `conv` — the executor-side face of [[decodeBound]] for
    * the integral kinds (int/long/date/timestamp/boolean). */
  private def leSigned(value: Column, width: Int): Column = {
    val h = F.hex(value) // uppercase, two chars per byte
    val be =
      if (width == 1) h
      else F.concat((width to 1 by -1).map(i =>
        F.substring(h, (i - 1) * 2 + 1, 2)): _*)
    val ext =
      if (width == 8) be
      else F.when(
        F.substring(be, 1, 1).isin("8", "9", "A", "B", "C", "D", "E", "F"),
        F.concat(F.lit("F" * ((8 - width) * 2)), be)).otherwise(be)
    F.conv(ext, 16, -10).cast("long")
  }

  private def readText(fsys: FileSystem, p: Path): String = {
    val in = fsys.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The current table metadata JSON, resolved through version-hint.
    * FOREIGN-table guard: format-version 1 and 2 read — v1 per the
    * spec's upgrade rule (no sequence numbers: every manifest and entry
    * reads at sequence 0; no delete content: every manifest is a data
    * manifest; the shapes this reader routes on all tolerate the
    * missing Avro fields, verified by ForeignIcebergSpec's
    * hand-authored v1 tree). v3 reads for its DELETION-VECTOR subset
    * (Puffin DVs are Delta's RoaringBitmapArray serialization, which
    * the engine already decodes) — the v3 features whose silent
    * ignorance would corrupt a read are refused BY NAME: row lineage
    * (a `row-lineage: true` table promises `_row_id` semantics this
    * reader cannot serve) and column default values (a field with
    * `initial-default` must back-fill rows in files that predate it —
    * null-filling instead would silently change data). Anything
    * declaring a different format-version still fails loudly. */
  def currentMetadata(spark: SparkSession, dir: String): JValue = {
    val (fsys, base) = fs(spark, dir)
    val md = metaDir(base)
    val gen = readText(fsys, new Path(md, "version-hint.text")).trim.toInt
    val meta = JsonMethods.parse(
      readText(fsys, new Path(md, s"v$gen.metadata.json")))
    meta \ "format-version" match {
      case JInt(v) if v == 1 || v == 2 =>
      case JInt(v) if v == 3 =>
        meta \ "row-lineage" match {
          case JBool(true) => throw new UnsupportedOperationException(
            s"iceberg v3 table under $dir declares ROW LINEAGE " +
              "(row-lineage: true); this reader implements the v3 " +
              "deletion-vector subset only and cannot serve _row_id " +
              "semantics")
          case _ => ()
        }
        val defaulted = schemasOf(meta, dir).flatMap(s => s \ "fields" match {
          case JArray(fs2) => fs2.filter(f =>
            (f \ "initial-default") != JNothing)
          case _ => Nil
        })
        if (defaulted.nonEmpty) throw new UnsupportedOperationException(
          s"iceberg v3 table under $dir declares COLUMN DEFAULT VALUES " +
            s"(initial-default on ${defaulted.flatMap(f => f \ "name" match {
              case JString(n) => Some(n); case _ => None
            }).mkString(", ")}); null-filling them would silently " +
            "change data - this reader implements the v3 " +
            "deletion-vector subset only")
      case other => throw new UnsupportedOperationException(
        s"iceberg table under $dir declares format-version $other; this " +
          "reader implements the v1/v2 specs plus the v3 " +
          "deletion-vector subset only")
    }
    meta
  }

  /** Resolve the target snapshot's JSON node (default: current). */
  private def snapJ(meta: JValue, dir: String,
      snapshotId: Option[Long]): JValue = {
    val target = snapshotId.getOrElse(meta \ "current-snapshot-id" match {
      case JInt(v) => v.toLong
      case _ => throw new IllegalStateException("no current-snapshot-id")
    })
    (meta \ "snapshots") match {
      case JArray(ss) => ss.find(s => (s \ "snapshot-id") == JInt(target))
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot $target under $dir"))
      case _ => throw new IllegalStateException("no snapshots array")
    }
  }

  /** Data-file URIs of a snapshot (default: current), resolved the way a
    * reader does: metadata JSON → snapshot's manifest list → manifest
    * entries. */
  def activeFiles(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): Seq[String] =
    activeFilesWithSeq(spark, dir, snapshotId).map(_._1)

  /** [[activeFiles]] plus each file's DATA SEQUENCE NUMBER (explicit or
    * inherited from its manifest) — the ordinal the spec scopes delete
    * application by. */
  private def activeFilesWithSeq(spark: SparkSession, dir: String,
      snapshotId: Option[Long]): Seq[(String, Long)] = {
    val (fsys, _) = fs(spark, dir)
    val meta = currentMetadata(spark, dir)
    // executor-side decode; collect = the scan's file list (inherent
    // for an unpruned read — it IS the plan; pruned reads go through
    // [[activeFilesPruned]], which filters before collecting)
    entriesDF(spark, fsys, snapJ(meta, dir, snapshotId), dir, 0).toSeq.flatMap(
      _.select(F.col("data_file.file_path"), F.col("_g_entry_seq"))
        .collect().map(r => r.getString(0) -> r.getLong(1)))
  }

  /** One snapshot's merge-on-read DELETE STATE: position-delete file
    * URIs, plus equality-delete groups as (apply-sequence, equality
    * field ids, file URIs). Both lists are metadata-scale. */
  /** An iceberg-v3 deletion-vector reference: the Puffin file, the
    * blob's offset/size within it, and the ONE data file it applies to. */
  private[graft] final case class IcebergDvRef(puffinPath: String,
      offset: Long, size: Long, referencedFile: String)

  private[graft] final case class DeleteState(posFiles: Seq[String],
      eqGroups: Seq[(Long, Seq[Int], Seq[String])],
      dvs: Seq[IcebergDvRef] = Nil)

  private def deleteState(spark: SparkSession, dir: String,
      snapshotId: Option[Long]): DeleteState = {
    val (fsys, _) = fs(spark, dir)
    val meta = currentMetadata(spark, dir)
    entriesDF(spark, fsys, snapJ(meta, dir, snapshotId), dir, 1) match {
      case None => DeleteState(Nil, Nil)
      case Some(e) =>
        val dfT = e.schema("data_file").dataType.asInstanceOf[StructType]
        def optCol(n: String, dt: org.apache.spark.sql.types.DataType): Column =
          if (dfT.fieldNames.contains(n)) F.col(s"data_file.$n")
          else F.lit(null).cast(dt)
        val eqIds: Column = optCol("equality_ids", ArrayType(IntegerType))
        val rows = e.select(F.col("data_file.file_path"),
          F.col("data_file.content"), F.col("_g_entry_seq"),
          eqIds.as("_g_eq_ids"),
          optCol("referenced_data_file", StringType).as("_g_dv_ref"),
          optCol("content_offset", LongType).as("_g_dv_off"),
          optCol("content_size_in_bytes", LongType).as("_g_dv_size"))
          .collect()
        // a content=1 entry WITH a content_offset is a v3 DELETION
        // VECTOR (one Puffin blob scoped to one referenced data file);
        // without it, a classic position-delete parquet
        val (dvRows, posRows) = rows.filter(_.getInt(1) == 1)
          .partition(r => !r.isNullAt(5))
        val dvs = dvRows.map { r =>
          require(!r.isNullAt(4),
            s"iceberg v3 deletion-vector entry ${r.getString(0)} under " +
              s"$dir lacks referenced_data_file: cannot scope it; " +
              "reading would silently include deleted rows")
          IcebergDvRef(r.getString(0), r.getLong(5),
            if (r.isNullAt(6)) -1L else r.getLong(6), r.getString(4))
        }.toSeq
        val pos = posRows.map(_.getString(0)).toSeq
        val eq = rows.filter(_.getInt(1) == 2).map { r =>
          val ids =
            if (r.isNullAt(3)) Nil
            else r.getSeq[Any](3).map(_.asInstanceOf[Number].intValue()).toSeq
          // content=2 names EQUALITY deletes; one without equality_ids
          // is unreadable — refusing loudly beats resurrecting rows
          if (ids.isEmpty) throw new UnsupportedOperationException(
            s"iceberg snapshot under $dir carries an EQUALITY delete file " +
              s"(content=2, ${r.getString(0)}) with no equality_ids: " +
              "cannot apply it; reading would silently include deleted rows")
          (r.getString(0), r.getLong(2), ids)
        }.toSeq
        val groups = eq.groupBy(x => (x._2, x._3)).toSeq
          .sortBy(_._1._1)
          .map { case ((seq, ids), xs) => (seq, ids, xs.map(_._1).sorted) }
        DeleteState(pos, groups, dvs)
    }
  }

  /** POSITION-DELETE file URIs of a snapshot (content=1 manifests) —
    * the merge-on-read state a v2 reader must apply to the data scan.
    * NOTE: equality deletes (content=2) are NOT in this list — only the
    * full read paths ([[read]]/[[readSnapshot]]/[[readPruned]]) apply
    * the complete delete state. */
  def activeDeleteFiles(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): Seq[String] =
    deleteState(spark, dir, snapshotId).posFiles

  /** Data-skipping scan plan: the current snapshot's data files that MAY
    * hold rows with `column` ∈ [lo, hi], judged from the manifests'
    * `lower_bounds`/`upper_bounds` (decoded per the spec's single-value
    * binary serialization) — exactly the file-prune an Iceberg engine
    * performs before touching data. Files whose bounds maps lack the
    * column are KEPT unless `value_counts`/`null_value_counts` prove the
    * column all-null (a range predicate never matches NULL). Bound
    * literals parse per the column's Iceberg type ("1995-03-15",
    * "1995-03-15T00:00:00", plain numerics, strings verbatim). */
  def activeFilesPruned(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, snapshotId: Option[Long] = None): Seq[String] = {
    val (fsys, _) = fs(spark, dir)
    val meta = currentMetadata(spark, dir)
    val target = snapshotId.getOrElse(meta \ "current-snapshot-id" match {
      case JInt(v) => v.toLong
      case _ => throw new IllegalStateException("no current-snapshot-id")
    })
    val snap = (meta \ "snapshots") match {
      case JArray(ss) => ss.find(s => (s \ "snapshot-id") == JInt(target))
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot $target under $dir"))
      case _ => throw new IllegalStateException("no snapshots array")
    }
    // the column's id/type must resolve against the schema the TARGET
    // snapshot was committed with (its `schema-id`; fall back to
    // current-schema-id) — `schemas[0]` is merely the OLDEST schema in
    // the dedup list: after evolution it can lack an added column
    // entirely, or (worse) carry a different type whose decodeBound
    // byte width would silently mis-prune
    val wantSchemaId: Option[BigInt] =
      (snap \ "schema-id" match { case JInt(i) => Some(i); case _ => None })
        .orElse(meta \ "current-schema-id" match {
          case JInt(i) => Some(i); case _ => None })
    val schemas = schemasOf(meta, dir)
    val schemaJ = wantSchemaId
      .flatMap(id => schemas.find(s => (s \ "schema-id") == JInt(id)))
      .orElse(schemas.headOption)
      .getOrElse(throw new IllegalStateException("empty schemas array"))
    val field = schemaJ \ "fields" match {
      case JArray(fs) => fs.find(f => f \ "name" == JString(column))
        .getOrElse(throw new IllegalArgumentException(
          s"no top-level column '$column' in the Iceberg schema " +
            s"(schema-id ${wantSchemaId.getOrElse(0)}) under $dir"))
      case _ => throw new IllegalStateException("no schema fields array")
    }
    val JInt(fid) = field \ "id"
    val typeName = field \ "type" match {
      case JString(t) => t
      case other => throw new IllegalArgumentException(
        s"cannot prune on non-primitive column '$column': $other")
    }
    val (loV, hiV) = (parseBound(typeName, lo), parseBound(typeName, hi))

    // a foreign entry schema may OMIT the optional stats maps entirely
    // (see [[optField]])
    def boundOf(df: GenericRecord, mapField: String): Option[Any] =
      optField(df, mapField).flatMap {
        case a: java.util.Collection[_] =>
          a.asScala.collectFirst {
            case r: GenericRecord if r.get("key") == fid.toInt =>
              val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
              val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
              decodeBound(typeName, bytes)
          }
        case _ => None
      }
    def countOf(df: GenericRecord, mapField: String): Option[Long] =
      optField(df, mapField).flatMap {
        case a: java.util.Collection[_] =>
          a.asScala.collectFirst {
            case r: GenericRecord if r.get("key") == fid.toInt =>
              r.get("value").asInstanceOf[java.lang.Long].longValue()
          }
        case _ => None
      }

    // identity-PARTITION source? then each entry's partition record
    // holds the column's exact value — an equality-grade prune, tighter
    // than any bounds reasoning
    val specFields: Option[List[JValue]] =
      meta \ "partition-specs" match {
        case JArray(specs) => specs.headOption.flatMap(sp =>
          sp \ "fields" match {
            case JArray(pfs) => Some(pfs); case _ => None
          })
        // legacy v1 shape: `partition-spec` is the field array directly
        case _ => meta \ "partition-spec" match {
          case JArray(pfs) => Some(pfs); case _ => None
        }
      }
    val isPartitionSource = specFields.exists(_.exists(pf =>
      pf \ "name" == JString(column) &&
        pf \ "transform" == JString("identity")))
    def partitionValueOf(df: GenericRecord): Option[Any] = {
      val part = df.get("partition").asInstanceOf[GenericRecord]
      if (part.getSchema.getField(column) == null) None
      else Option(part.get(column)).map {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case other => other.toString
      }
    }

    typeName match {
      case "float" | "double" =>
        // IEEE bound bytes have no sound pure-SQL decode — the ONE kind
        // that still judges driver-side (state ∝ files for the duration
        // of the prune; disclosed)
        manifestRefs(fsys, snap, dir)
          .filter(_._2 == 0)
          .flatMap { case (mfPath, _, _) =>
            readAvroFile(fsys, new Path(mfPath))
              // same DELETED-entry (status=2) guard as [[entriesDF]] —
              // this branch bypasses the frame, so it filters here
              .filter(e => e.get("status") == null || e.get("status") != 2)
              .flatMap { e =>
                val df = e.get("data_file").asInstanceOf[GenericRecord]
                val partKeep =
                  if (!isPartitionSource) None
                  else partitionValueOf(df).map(v =>
                    cmpBound(v, loV) >= 0 && cmpBound(v, hiV) <= 0)
                val keep = partKeep.getOrElse(
                  (boundOf(df, "lower_bounds"), boundOf(df, "upper_bounds")) match {
                    case (Some(mn), Some(mx)) =>
                      !(cmpBound(mx, loV) < 0 || cmpBound(mn, hiV) > 0)
                    case _ =>
                      !(for (vc <- countOf(df, "value_counts");
                             nc <- countOf(df, "null_value_counts"))
                        yield vc > 0 && vc == nc).getOrElse(false)
                  })
                if (keep) Some(df.get("file_path").toString) else None
              }
          }
      case _ =>
        // DISTRIBUTED prune: bounds decode + range test run inside the
        // entries frame; only surviving file paths are collected
        val entries = entriesDF(spark, fsys, snap, dir, 0) match {
          case Some(e) => e
          case None => return Nil
        }
        val dfc = F.col("data_file")
        val dfT = entries.schema("data_file").dataType.asInstanceOf[StructType]
        // a FOREIGN manifest may omit the optional stats maps entirely —
        // a missing field reads as null, which every branch below treats
        // as "cannot prove", i.e. keep the file
        def mapVal(field: String): Column =
          if (!dfT.fieldNames.contains(field)) F.lit(null)
          else F.element_at(F.filter(dfc.getField(field),
            x => x.getField("key") === F.lit(fid.toInt)), 1).getField("value")
        def dec(c: Column): Column = typeName match {
          case "int" | "date" => leSigned(c, 4)
          case "long" | "timestamp" | "timestamptz" => leSigned(c, 8)
          case "boolean" => leSigned(c, 1)
          case "string" => c.cast("string")
          case other => throw new IllegalArgumentException(
            s"undecodable bound type: $other")
        }
        val (loC, hiC) = typeName match {
          case "string" => (F.lit(lo), F.lit(hi))
          case "boolean" =>
            (F.lit(if (lo.toBoolean) 1L else 0L),
              F.lit(if (hi.toBoolean) 1L else 0L))
          case _ =>
            (F.lit(parseBound(typeName, lo).asInstanceOf[Long]),
              F.lit(parseBound(typeName, hi).asInstanceOf[Long]))
        }
        val loB = dec(mapVal("lower_bounds"))
        val hiB = dec(mapVal("upper_bounds"))
        val vc = mapVal("value_counts")
        val nc = mapVal("null_value_counts")
        // bounds verdict when provable; else the all-null skip; every
        // null/unprovable branch falls OPEN to keep
        val boundsKeep = F.coalesce(
          F.not(hiB < loC || loB > hiC),
          F.coalesce(F.not(vc > F.lit(0L) && vc === nc), F.lit(true)))
        val keep =
          if (!isPartitionSource || !dfT.fieldNames.contains("partition") ||
            !dfT("partition").dataType.isInstanceOf[StructType]) boundsKeep
          else {
            val partT = dfT("partition").dataType.asInstanceOf[StructType]
            if (!partT.fieldNames.contains(column)) boundsKeep
            else {
              // identity-partition value: an equality-grade prune,
              // tighter than any bounds reasoning
              val pv0 = dfc.getField("partition").getField(column)
              val (pv, pl, ph) = typeName match {
                case "string" => (pv0, F.lit(lo), F.lit(hi))
                case _ => (pv0.cast("long"),
                  F.lit(parseBound(typeName, lo).asInstanceOf[Long]),
                  F.lit(parseBound(typeName, hi).asInstanceOf[Long]))
              }
              F.when(pv.isNotNull, pv >= pl && pv <= ph).otherwise(boundsKeep)
            }
          }
        entries.where(keep).select(F.col("data_file.file_path"))
          .collect().map(_.getString(0)).toSeq
    }
  }

  /** Read only the files [[activeFilesPruned]] keeps; row-level
    * filtering stays the caller's job (bounds prove non-matches, not
    * matches). A fully-pruned read returns an empty frame with the
    * table's schema (footer of one active file — metadata-only). */
  def readPruned(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String): DataFrame = {
    val files = activeFilesPruned(spark, dir, column, lo, hi)
    if (files.nonEmpty)
      toLogicalNames(spark, dir, None,
        readUrisApplyingDeletes(spark, dir, files,
          activeFilesWithSeq(spark, dir, None).toMap,
          deleteState(spark, dir, None),
          ids => eqColumnNames(spark, dir, None, ids)))
    else read(spark, dir).limit(0)
  }

  /** Read the table THROUGH the Iceberg metadata (current snapshot). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val fseq = activeFilesWithSeq(spark, dir, None)
    require(fseq.nonEmpty, s"iceberg snapshot has no data files under $dir")
    toLogicalNames(spark, dir, None,
      readUrisApplyingDeletes(spark, dir, fseq.map(_._1), fseq.toMap,
        deleteState(spark, dir, None),
        ids => eqColumnNames(spark, dir, None, ids)))
  }

  /** The schema JSON a snapshot was committed with (its `schema-id`;
    * current-schema-id as the fallback). */
  private def snapshotSchemaJ(meta: JValue, dir: String,
      snapshotId: Option[Long]): JValue = {
    val wantSchemaId: Option[BigInt] =
      (snapJ(meta, dir, snapshotId) \ "schema-id" match {
        case JInt(i) => Some(i); case _ => None
      }).orElse(meta \ "current-schema-id" match {
        case JInt(i) => Some(i); case _ => None
      })
    val schemas = schemasOf(meta, dir)
    wantSchemaId
      .flatMap(id => schemas.find(s => (s \ "schema-id") == JInt(id)))
      .orElse(schemas.headOption)
      .getOrElse(throw new IllegalStateException(s"empty schemas under $dir"))
  }

  /** physical -> LOGICAL projection for a column-mapped export: the
    * `schema.name-mapping.default` property gives field-id -> physical
    * file-column name, the snapshot's schema gives field-id -> logical
    * name; the scan read the files' physical columns. Identity when the
    * table carries no mapping (the overwhelmingly common case — one
    * property probe per read). */
  private def toLogicalNames(spark: SparkSession, dir: String,
      snapshotId: Option[Long], df: DataFrame): DataFrame = {
    val meta = currentMetadata(spark, dir)
    val physById: Map[Int, String] =
      meta \ "properties" \ "schema.name-mapping.default" match {
        case JString(j) => JsonMethods.parse(j) match {
          case JArray(es) => es.flatMap { e =>
            (e \ "field-id", e \ "names") match {
              case (JInt(id), JArray(ns)) =>
                ns.collectFirst { case JString(n) => id.toInt -> n }
              case _ => None
            }
          }.toMap
          case _ => return df
        }
        case _ => return df
      }
    val cols: Seq[(String, String)] =
      snapshotSchemaJ(meta, dir, snapshotId) \ "fields" match {
        case JArray(fs) => fs.flatMap { f =>
          (f \ "name", f \ "id") match {
            case (JString(n), JInt(id)) =>
              Some(physById.getOrElse(id.toInt, n) -> n)
            case _ => None
          }
        }
        case _ => return df
      }
    if (cols.forall { case (p, l) => p == l }) df
    else df.select(cols.map { case (p, l) =>
      F.col("`" + p.replace("`", "``") + "`").as(l) }: _*)
  }

  /** Absolute-URI file-list read with hive partition-column recovery:
    * same per-data-dir grouping as [[Manifest.readFiles]] (one basePath
    * cannot span several `data-<snapshot>` roots). */
  private def readUris(spark: SparkSession, dir: String,
      files: Seq[String]): DataFrame = {
    val (fsys, base) = fs(spark, dir)
    val qualBase = fsys.makeQualified(base).toString
    val rels = files.map(_.stripPrefix(qualBase + "/"))
    if (rels.forall(Manifest.partitionValuesOf(_).isEmpty))
      spark.read.parquet(files: _*)
    else rels.groupBy(_.split('/').head).toSeq.sortBy(_._1)
      .map { case (dataDir, fs2) =>
        spark.read.option("basePath", s"$qualBase/$dataDir")
          .parquet(fs2.map(f => s"$qualBase/$f"): _*)
      }
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  private val pathTailRe = "(data-[^/]+/(?:[^/=]+=[^/]*/)*part-[^/]*\\.parquet)$"

  /** Top-level field-id → name for the snapshot's schema — what
    * `equality_ids` resolve through. Nested or unknown ids refuse
    * loudly: guessing a column would delete the wrong rows. */
  private def eqColumnNames(spark: SparkSession, dir: String,
      snapshotId: Option[Long], ids: Seq[Int]): Seq[String] = {
    val meta = currentMetadata(spark, dir)
    val snap = snapJ(meta, dir, snapshotId)
    val wantSchemaId: Option[BigInt] =
      (snap \ "schema-id" match { case JInt(i) => Some(i); case _ => None })
        .orElse(meta \ "current-schema-id" match {
          case JInt(i) => Some(i); case _ => None })
    val schemas = schemasOf(meta, dir)
    val schemaJ = wantSchemaId
      .flatMap(id => schemas.find(s => (s \ "schema-id") == JInt(id)))
      .orElse(schemas.headOption)
      .getOrElse(throw new IllegalStateException("empty schemas array"))
    val byId: Map[Int, String] = schemaJ \ "fields" match {
      case JArray(fs) => fs.flatMap { f =>
        (f \ "id", f \ "name") match {
          case (JInt(i), JString(n)) => Some(i.toInt -> n)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    ids.map(id => byId.getOrElse(id, throw new UnsupportedOperationException(
      s"iceberg equality delete under $dir names field id $id, which is " +
        "not a top-level schema column; cannot apply it safely")))
  }

  /** [[readUris]] with the snapshot's full merge-on-read DELETE STATE
    * applied, per the v2 spec's sequence-number scoping:
    *
    *  - POSITION deletes: the delete rows' `file_path` URIs and the
    *    scan's `_metadata.file_path` reduce to their `data-…/part-…`
    *    tail, then a broadcast anti-join on (tail, row index) — robust
    *    to URI-prefix rendering differences (fail-open on an
    *    unextractable tail).
    *  - EQUALITY deletes (content=2 — what Flink CDC writers produce):
    *    each (sequence, equality_ids) group anti-joins the named
    *    columns NULL-SAFELY (`<=>`: the spec matches null to null)
    *    against rows whose data file has a STRICTLY SMALLER data
    *    sequence number; rows from files at or above the delete's
    *    sequence are exempt — they were written with or after it. File
    *    sequence numbers attach to rows via a broadcast map keyed on
    *    the file-name tail (uniqueness asserted loudly). */
  private def readUrisApplyingDeletes(spark: SparkSession, dir: String,
      files: Seq[String], fileSeq: Map[String, Long], ds: DeleteState,
      eqNamesOf: Seq[Int] => Seq[String]): DataFrame = {
    if (ds.posFiles.isEmpty && ds.eqGroups.isEmpty && ds.dvs.isEmpty)
      return readUris(spark, dir, files)
    import org.apache.spark.sql.functions.{broadcast, col, regexp_extract}
    val (fsys, base) = fs(spark, dir)
    val qualBase = fsys.makeQualified(base).toString
    val rels = files.map(_.stripPrefix(qualBase + "/"))
    def withMeta(df: DataFrame): DataFrame =
      df.select(col("*"), col("_metadata.file_path").as("_g_file"),
        col("_metadata.row_index").as("_g_pos"))
    val metaDf =
      if (rels.forall(Manifest.partitionValuesOf(_).isEmpty))
        withMeta(spark.read.parquet(files: _*))
      else rels.groupBy(_.split('/').head).toSeq.sortBy(_._1)
        .map { case (dataDir, fs2) =>
          withMeta(spark.read.option("basePath", s"$qualBase/$dataDir")
            .parquet(fs2.map(f => s"$qualBase/$f"): _*))
        }
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val dataCols = readUris(spark, dir, files).columns
    var cur = metaDf
    if (ds.posFiles.nonEmpty || ds.dvs.nonEmpty) {
      // reduce both sides to a matchable tail: the graft layout's
      // `data-…/part-…` suffix when present, else the FILE NAME (a
      // foreign table's layout owes us nothing) — with name uniqueness
      // asserted, a silent fail-open here would RESURRECT deleted rows
      val tailRe = new scala.util.matching.Regex(pathTailRe)
      if (!rels.forall(r => tailRe.findFirstIn(r).isDefined)) {
        val names = files.map(_.split('/').last)
        require(names.distinct.size == names.size,
          s"iceberg data-file names under $dir are not unique across " +
            "directories: cannot key position deletes by file name")
      }
      def tailOf(c: Column): Column = {
        val g = regexp_extract(c, pathTailRe, 1)
        F.when(g =!= "", g).otherwise(F.element_at(F.split(c, "/"), -1))
      }
      val posDels =
        if (ds.posFiles.isEmpty) None
        else Some(spark.read.parquet(ds.posFiles: _*)
          .select(tailOf(col("file_path")).as("_g_dfile"),
            col("pos").as("_g_dpos")))
      // v3 deletion vectors: the tiny descriptor set ships as a
      // Dataset and each blob DECODES INSIDE A TASK (CRC-verified
      // slice read of the Puffin file), so the deleted-position tuples
      // are born distributed — the same shape [[DeltaLog]] uses for
      // Delta DVs (they are the same serialization)
      val dvDels =
        if (ds.dvs.isEmpty) None
        else {
          import spark.implicits._
          val serConf = new org.apache.spark.SerializableWritable(
            spark.sparkContext.hadoopConfiguration)
          Some(ds.dvs.map(d =>
              (d.puffinPath, d.offset, d.size, d.referencedFile)).toDS()
            .repartition(math.min(ds.dvs.size,
              spark.sparkContext.defaultParallelism))
            .flatMap { case (pp, off, sz, ref) =>
              graft.io.DeletionVector
                .positionsPuffin(serConf.value, pp, off, sz)
                .map(p => (ref, p))
            }
            .toDF("_g_dref", "_g_dpos")
            .select(tailOf(col("_g_dref")).as("_g_dfile"),
              col("_g_dpos")))
      }
      val dels = (posDels.toSeq ++ dvDels.toSeq).reduce(_.unionByName(_))
      cur = cur.withColumn("_g_rel", tailOf(col("_g_file")))
        .join(broadcast(dels),
          col("_g_rel") =!= "" && col("_g_rel") === col("_g_dfile") &&
            col("_g_pos") === col("_g_dpos"),
          "left_anti")
        .drop("_g_rel")
    }
    if (ds.eqGroups.nonEmpty) {
      import spark.implicits._
      val tails = files.map(u => u.split('/').last -> fileSeq.getOrElse(u, 0L))
      require(tails.map(_._1).distinct.size == tails.size,
        s"iceberg data-file names under $dir are not unique across " +
          "directories: cannot scope equality deletes by file sequence")
      val tailDf = tails.toDF("_g_ftail", "_g_fseq")
      cur = cur
        .withColumn("_g_tail0", F.element_at(F.split(col("_g_file"), "/"), -1))
        .join(broadcast(tailDf), col("_g_tail0") === col("_g_ftail"), "left")
        .drop("_g_tail0", "_g_ftail")
      ds.eqGroups.foreach { case (s, ids, uris) =>
        val names = eqNamesOf(ids)
        val del = spark.read.parquet(uris: _*)
          .select(names.map(n => col(n).as(s"_ed_$n")): _*).distinct()
        val cond = names.map(n => col(n) <=> col(s"_ed_$n")).reduce(_ && _)
        val affected = cur.where(col("_g_fseq") < F.lit(s))
        val exempt = cur.where(col("_g_fseq").isNull || col("_g_fseq") >= F.lit(s))
        cur = affected.join(broadcast(del), cond, "left_anti")
          .unionByName(exempt)
      }
    }
    cur.select(dataCols.map(col): _*)
  }

  /** `TIMESTAMP AS OF` per the spec: resolve `tsMillis` through the
    * metadata's `snapshot-log` (commit instants from the manifests'
    * own `committed_at`) to the newest snapshot at or before it. */
  def snapshotIdAsOf(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val meta = currentMetadata(spark, dir)
    val entries = meta \ "snapshot-log" match {
      case JArray(es) => es.flatMap(e =>
        (e \ "timestamp-ms", e \ "snapshot-id") match {
          case (JInt(ts), JInt(id)) => Some(ts.toLong -> id.toLong)
          case _ => None
        })
      case _ => Nil
    }
    // resolve by MAX timestamp (snapshot-id breaks ties), not by list
    // position — correct even over a snapshot-log an older exporter
    // wrote non-monotone
    entries.filter(_._1 <= tsMillis)
      .maxByOption(e => (e._1, e._2)).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"no iceberg snapshot committed at or before $tsMillis under $dir"))
  }

  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    readSnapshot(spark, dir, snapshotIdAsOf(spark, dir, tsMillis))

  /** Table property namespace for exported Iceberg TAGS: every
    * `graft.iceberg.ref.<name> -> <seq>` property becomes a `tag`
    * entry in the metadata's refs map on the next export. Written by
    * `CALL <catalog>.system.tag(...)` through the CAS-serialized ALTER
    * path; removed with `ALTER TABLE ... UNSET TBLPROPERTIES`. */
  val RefPropPrefix = "graft.iceberg.ref."

  /** Read a NAMED REFERENCE (branch or tag) through the metadata
    * tree's refs map — the engine-side face of
    * `VERSION AS OF '<ref>'`. */
  def readRef(spark: SparkSession, dir: String, ref: String): DataFrame = {
    val meta = currentMetadata(spark, dir)
    meta \ "refs" \ ref \ "snapshot-id" match {
      case JInt(id) => readSnapshot(spark, dir, id.toLong)
      case _ =>
        val known = meta \ "refs" match {
          case JObject(fields) => fields.map(_._1).sorted.mkString(", ")
          case _ => ""
        }
        throw new IllegalArgumentException(
          s"iceberg table under $dir has no ref '$ref' (refs: $known)")
    }
  }

  /** Time travel through the metadata tree. */
  def readSnapshot(spark: SparkSession, dir: String, snapshotId: Long): DataFrame = {
    val fseq = activeFilesWithSeq(spark, dir, Some(snapshotId))
    require(fseq.nonEmpty, s"iceberg snapshot $snapshotId has no data files")
    toLogicalNames(spark, dir, Some(snapshotId),
      readUrisApplyingDeletes(spark, dir, fseq.map(_._1), fseq.toMap,
        deleteState(spark, dir, Some(snapshotId)),
        ids => eqColumnNames(spark, dir, Some(snapshotId), ids)))
  }

  /** INCREMENTAL APPEND SCAN (the spec's incremental read; round 12):
    * the rows ADDED after snapshot `sinceSnapshotId` up to the current
    * snapshot — the change feed a downstream incremental job consumes
    * instead of rescanning the table, served as the data-file
    * difference between the two snapshots' manifests (cost ∝ new
    * files; the metadata tree is never listed). Sound only while every
    * snapshot in the span is a pure APPEND (`summary.operation`):
    * an overwrite/rewrite/delete snapshot re-packs or removes rows the
    * baseline already contained, so a file diff would mis-serve them —
    * such a span FAILS LOUDLY and the consumer re-baselines (the same
    * contract as [[Manifest.readChangesSince]] and Iceberg's own
    * incremental append scan, which rejects non-append snapshots).
    * None = `since` is current / no files were added. */
  def readAppendsSince(spark: SparkSession, dir: String,
      sinceSnapshotId: Long): Option[DataFrame] = {
    val meta = currentMetadata(spark, dir)
    def snapId(s: JValue): Long = s \ "snapshot-id" match {
      case JInt(v) => v.toLong
      case _ => throw new IllegalStateException(s"snapshot without id under $dir")
    }
    def seqOfSnap(s: JValue): Long = s \ "sequence-number" match {
      case JInt(v) => v.toLong
      case _ => snapId(s) // v1 metadata: ids are the only ordering
    }
    def opOf(s: JValue): String = s \ "summary" \ "operation" match {
      case JString(o) => o
      case _ => "unknown" // a foreign snapshot without a summary: refuse
    }
    val snaps = (meta \ "snapshots") match {
      case JArray(ss) => ss
      case _ => throw new IllegalStateException(s"no snapshots array under $dir")
    }
    val since = snaps.find(snapId(_) == sinceSnapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot $sinceSnapshotId under $dir " +
          s"(retained: ${snaps.map(snapId).mkString(", ")})"))
    val currentId = meta \ "current-snapshot-id" match {
      case JInt(v) => v.toLong
      case _ => throw new IllegalStateException(s"no current-snapshot-id under $dir")
    }
    if (currentId == sinceSnapshotId) return None
    val current = snaps.find(snapId(_) == currentId).get
    val span = snaps.filter(s => seqOfSnap(s) > seqOfSnap(since) &&
      seqOfSnap(s) <= seqOfSnap(current))
    span.filterNot(opOf(_) == "append").foreach(s =>
      throw new IllegalStateException(
        s"cannot serve appends since $sinceSnapshotId under $dir: snapshot " +
          s"${snapId(s)} is '${opOf(s)}' - its files re-pack or remove rows " +
          "the baseline already contained; re-baseline on a snapshot at or " +
          "after it"))
    val base = activeFiles(spark, dir, Some(sinceSnapshotId)).toSet
    val added = activeFiles(spark, dir, Some(currentId)).filterNot(base)
    if (added.isEmpty) None
    else Some(toLogicalNames(spark, dir, Some(currentId),
      readUris(spark, dir, added)))
  }
}
