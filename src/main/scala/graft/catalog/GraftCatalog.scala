package graft.catalog

import java.util.Locale

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.io.Manifest

/**
 * A V2 `TableCatalog` over graft (Manifest) tables — the
 * deploy-then-query model the reference ships (its schema stage
 * registers every table in a catalog and analysts only ever touch the
 * NAMES, reference create_database_schema.py:4-8, README.md:424-436),
 * at engine-native fidelity:
 *
 * {{{
 *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
 *   spark.sql.catalog.graft.warehouse = s3://bucket/warehouse
 *
 *   CREATE NAMESPACE graft.db;
 *   CREATE TABLE graft.db.t USING graft PARTITIONED BY (k) AS SELECT …;
 *   INSERT INTO graft.db.t SELECT …;
 *   DELETE FROM graft.db.t WHERE …;
 *   SELECT * FROM graft.db.t VERSION AS OF 1;   -- commit_seq
 *   SELECT * FROM graft.db.t TIMESTAMP AS OF '2026-01-01 00:00:00';
 * }}}
 *
 * Layout: a table named `db.t` lives at `<warehouse>/db/t` — a plain
 * Manifest table dir (the catalog adds NOTHING to the data path; any
 * catalog table is also readable by path and vice versa). A
 * `.graft-table.json` sidecar written by DDL carries what a manifest
 * cannot: the declared schema of a still-empty table (a manifest
 * snapshot must list at least one file, so CREATE-then-INSERT needs
 * the schema parked somewhere), the declared partition columns, a
 * `location` redirect for `CREATE TABLE … LOCATION` over an existing
 * path table, and table properties. Identifiers are restricted to
 * `[A-Za-z0-9_.-]` so a name can never escape the warehouse root.
 *
 * Execution stays on the V1 fast path: reads resolve through
 * [[GraftCatalogReadRule]], which swaps the `DataSourceV2Relation`
 * for the SAME snapshot-pinned `HadoopFsRelation` the path-based
 * `spark.read.format("graft")` face builds (vectorized parquet,
 * manifest partition pruning, footer-bounds skipping, accurate
 * `sizeInBytes` broadcasts) — and, downstream of that swap, SQL
 * INSERT/DELETE/UPDATE/MERGE hit the existing interception rules, so
 * the catalog gets the full DML surface for free. Writes go through
 * the V2 `V1Write` fallback onto the same Manifest commits (append
 * rebases on lost CAS races; INSERT OVERWRITE = a truncate write = a
 * fresh snapshot, time travel keeps the history). Time travel
 * (`VERSION AS OF` = commit_seq or snapshot id, `TIMESTAMP AS OF`)
 * resolves through the catalog's `loadTable` overloads onto the same
 * selectors the path face exposes as options.
 *
 * At 100 TB nothing here is data-proportional: every catalog
 * operation is a LIST/read of KB-sized metadata keys; the listing
 * cost Spark pays to resolve a name is one directory LIST — the
 * manifest protocol's own resolution cost.
 */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def fsys: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name': set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // ---- path mapping ------------------------------------------------------

  private def validPart(s: String): String = {
    require(s.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
      s"graft catalog: unsafe identifier part '$s' " +
        "(allowed: [A-Za-z0-9_][A-Za-z0-9_.-]*)")
    s
  }

  private def nsPath(ns: Array[String]): Path =
    ns.map(validPart).foldLeft(new Path(warehouse))(new Path(_, _))

  private def identPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), validPart(ident.name))

  /** A dir is a TABLE when DDL left a sidecar or a writer committed a
    * manifest; it is a NAMESPACE when it exists and is neither. */
  private def isTable(p: Path): Boolean =
    fsys.exists(new Path(p, GraftTableMeta.SidecarName)) ||
      Manifest.hasManifest(fsys, p)

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fsys.exists(p) || isTable(p))
      throw new NoSuchNamespaceException(namespace)
    fsys.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath).filter(isTable)
      .map(tp => Identifier.of(namespace, tp.getName))
      .sortBy(_.name).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    scala.util.Try(isTable(identPath(ident))).getOrElse(false)

  override def loadTable(ident: Identifier): Table =
    loadTable(ident, Map.empty[String, String])

  /** SQL `VERSION AS OF v` — a commit_seq, or a snapshot id. An
    * all-digit string resolves as a commit_seq when one with that
    * number is retained, else falls back to a snapshot NAMED by the
    * digits (a metadata-scale peek: one manifest-key LIST); anything
    * non-numeric is a snapshot id. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val numericSeq = version.nonEmpty && version.forall(_.isDigit) && {
      val p = identPath(ident)
      val dir = GraftTableMeta.read(fsys, p).flatMap(_.location)
        .getOrElse(p.toString)
      Manifest.listedSeqs(spark, dir).exists(_.toString == version)
    }
    loadTable(ident,
      if (numericSeq) Map("versionasof" -> version)
      else Map("snapshotasof" -> version))
  }

  /** SQL `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident, Map("timestampasof" -> (timestamp / 1000L).toString))

  private def loadTable(ident: Identifier, timeTravel: Map[String, String]): Table = {
    val p = identPath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val meta = GraftTableMeta.read(fsys, p)
    val dir = meta.flatMap(_.location).getOrElse(p.toString)
    new GraftCatalogTable(
      (ident.namespace :+ ident.name).mkString(s"$catalogName.", ".", ""),
      dir, meta, timeTravel)
  }

  /** The catalog-level capability face: declaring
    * SUPPORT_TABLE_CONSTRAINT admits `CREATE TABLE … CHECK (…)` and
    * `ALTER TABLE … ADD CONSTRAINT` through Spark's own resolution
    * (without it the statements die before reaching this catalog). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** CREATE-time constraints (the TableInfo face): CHECK + ENFORCED
    * land as the same reserved properties ALTER ADD CONSTRAINT writes
    * — a brand-new table has no rows to validate, and a CTAS body is
    * enforced by the write path reading the sidecar the DDL already
    * landed. LOCATION registrations refuse CREATE-time constraints
    * (existing rows are unvalidated — add them with ALTER, which
    * scans). */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val conProps = info.constraints.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced,
          s"graft catalog: CHECK constraint '${c.name}' must be ENFORCED")
        val sql = Option(c.predicateSql).filter(_.nonEmpty)
          .getOrElse(throw new UnsupportedOperationException(
            s"graft catalog: CHECK constraint '${c.name}' carries no " +
              "predicate SQL"))
        (GraftTableMeta.ConstraintPropPrefix + c.name) -> sql
      case other => throw new UnsupportedOperationException(
        s"graft catalog: only ENFORCED CHECK constraints are supported " +
          s"(cannot enforce: ${other.toDDL})")
    }
    require(conProps.isEmpty ||
      !info.properties.containsKey(TableCatalog.PROP_LOCATION),
      "graft catalog: constraints on a LOCATION registration would " +
        "declare an invariant over unvalidated existing rows - register " +
        "first, then ALTER TABLE ... ADD CONSTRAINT (which scans)")
    val props = new java.util.HashMap[String, String](info.properties)
    conProps.foreach { case (k, v) => props.put(k, v) }
    createTable(ident, info.schema, info.partitions, props)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table = {
    val ns = nsPath(ident.namespace)
    if (!fsys.exists(ns) || isTable(ns))
      throw new NoSuchNamespaceException(ident.namespace)
    val p = identPath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    // CLUSTER BY (round 13, liquid-clustering shape): declared
    // clustering columns ride as a property; `CALL system.zorder`
    // without explicit columns applies them (writes land as-is — the
    // maintenance pass is what clusters, same as OPTIMIZE on Delta's
    // clustered tables)
    val clusterCols = partitions.toSeq.flatMap {
      case org.apache.spark.sql.connector.expressions
          .ClusterByTransform(refs) =>
        refs.map(_.fieldNames.mkString("."))
      case _ => Nil
    }
    clusterCols.foreach(c =>
      require(schema.isEmpty || schema.fieldNames.contains(c),
        s"graft catalog: cluster column '$c' is not in the table schema"))
    val partCols = partitions.toSeq
      .filter {
        case org.apache.spark.sql.connector.expressions
            .ClusterByTransform(_) => false
        case _ => true
      }
      .map {
        case t if t.name == "identity" && t.references.length == 1 =>
          t.references.head.fieldNames.mkString(".")
        case other => throw new UnsupportedOperationException(
          s"graft catalog: only identity PARTITIONED BY columns are " +
            s"supported, got $other")
      }
    partCols.foreach(c => require(schema.isEmpty || schema.fieldNames.contains(c),
      s"graft catalog: partition column '$c' is not in the table schema"))
    val props = properties.asScala.toMap
    val location = props.get(TableCatalog.PROP_LOCATION)
    require(location.isEmpty ||
      !props.keys.exists(_.startsWith(GraftTableMeta.ConstraintPropPrefix)),
      "graft catalog: constraints on a LOCATION registration would " +
        "declare an invariant over unvalidated existing rows - register " +
        "first, then ALTER TABLE ... ADD CONSTRAINT (which scans)")
    location.foreach { loc =>
      require(Manifest.head(spark, loc).nonEmpty,
        s"graft catalog: LOCATION '$loc' has no committed graft " +
          "snapshot - write one first (the catalog registers existing " +
          "manifest tables; it does not create empty external ones)")
    }
    require(schema.nonEmpty || location.nonEmpty,
      "graft catalog: CREATE TABLE needs a column list or a LOCATION " +
        "pointing at an existing graft table")
    val keepProps = (props -- Seq(TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER)) ++
      (if (clusterCols.isEmpty) Map.empty[String, String]
       else Map(GraftTableMeta.ClusterByProp -> clusterCols.mkString(",")))
    val meta = GraftTableMeta(
      // an external registration defers the schema to the target's
      // manifest — the sidecar must not freeze a schema it doesn't own
      schema = if (location.isDefined) None else Some(schema),
      partitionCols = partCols, location = location, properties = keepProps,
      // the declared schema is the contract from the FIRST commit on —
      // the base entry every later ALTER's per-seq entry supersedes
      schemaHistory =
        if (location.isDefined) Nil else Seq(0L -> schema))
    fsys.mkdirs(p)
    GraftTableMeta.write(fsys, p, meta)
    loadTable(ident)
  }

  /** SCHEMA EVOLUTION on the catalog's own face: `ALTER TABLE … ADD
    * COLUMN` (top-level, nullable — pre-evolution FILES read the new
    * column null-filled through the declared-schema scan) and
    * `SET/UNSET TBLPROPERTIES`. The change lands as a metadata-only
    * manifest commit (the CAS serialization point) plus a DDL-sidecar
    * schema-history entry keyed by that commit's seq — KB-sized
    * metadata writes; ZERO data files move, exactly Delta's
    * metadata-only evolution. The new schema is the authoritative read
    * contract from that commit ON (it wins over recovery in
    * [[GraftCatalogTable.schema]] and [[graft.sources.GraftSource
    * .buildRelation]]), while `VERSION/TIMESTAMP AS OF` a PRE-evolution
    * commit resolves the AS-COMMITTED schema from the history — Delta's
    * last-metaData-wins time travel. The next INSERT must supply the
    * column, and
    * the table-format exports re-declare the schema on their next
    * refresh. Everything else (drop/rename/retype a column) is
    * refused loudly: those require rewriting history or per-file
    * column mapping to be sound. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = identPath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    // `location` names the table dir itself and is not ALTERable, so it
    // cannot race
    val locDir = GraftTableMeta.read(fsys, p).flatMap(_.location)
    val dir = locDir.getOrElse(p.toString)
    val changesSchema = changes.exists {
      case _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn | _: TableChange.UpdateColumnType =>
        true
      case _ => false
    }
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    // the changes applied to the table as of retained history `priors`
    // (empty: the table has no snapshot yet). The base meta is the
    // newest embedded payload (payloads are cumulative), else the flat
    // sidecar.
    def evolve(priors: Seq[Manifest.ManifestData]): GraftTableMeta = {
      val cur = priors.lastOption
      val meta0raw = priors.reverseIterator.flatMap(_.metaB64).nextOption()
        .map(b => GraftTableMeta.fromB64(b).copy(location = locDir))
        .orElse(GraftTableMeta.read(fsys, p))
        .getOrElse(GraftTableMeta(None, Nil, None, Map.empty))
      // the pre-change effective schema: declared, else recovered from
      // `cur` (an ALTER on a recovery-schema table freezes the
      // recovered schema as the declared base contract, retroactive to
      // every retained snapshot — entry at seq 0)
      val meta0 =
        if (!changesSchema) meta0raw
        else {
          val pre = meta0raw.schema.getOrElse {
            val c0 = cur.filter(_.files.nonEmpty).getOrElse(
              throw new IllegalArgumentException(
                s"graft catalog: ${ident} has neither a declared schema " +
                  "nor a committed snapshot to evolve"))
            StructType(Manifest.readFilesApplyingDeletes(spark, dir,
              c0.files, c0.deleteFiles).schema.map(_.copy(nullable = true)))
          }
          meta0raw.copy(schema = Some(pre),
            schemaHistory =
              if (meta0raw.schemaHistory.nonEmpty) meta0raw.schemaHistory
              else Seq(0L -> pre))
        }
      val meta1 = changes.foldLeft(meta0) { (m, ch) =>
        ch match {
          case add: TableChange.AddColumn =>
            require(add.fieldNames.length == 1,
              "graft catalog: only top-level ADD COLUMN is supported " +
                s"(got ${add.fieldNames.mkString(".")})")
            val nm = add.fieldNames.head
            val sch = m.schema.get // normalized above when changesSchema
            require(!sch.fieldNames.exists(_.equalsIgnoreCase(nm)),
              s"graft catalog: column '$nm' already exists")
            require(add.isNullable,
              s"graft catalog: added column '$nm' must be nullable - " +
                "rows written before the evolution null-fill it")
            require(add.defaultValue == null,
              s"graft catalog: DEFAULT values on added columns are not " +
                "supported (pre-evolution rows read as NULL)")
            val f1 = StructField(nm, add.dataType, nullable = true)
            val f0 =
              // under COLUMN MAPPING the new column gets a FRESH
              // physical name: re-adding a dropped logical name must
              // never resurrect the dropped column's bytes
              if (!GraftTableMeta.mappingActive(m)) f1
              else {
                val maxId = GraftTableMeta.maxColumnId(m)
                f1.copy(metadata = new org.apache.spark.sql.types
                  .MetadataBuilder()
                  .putString(Manifest.ColumnMapping.Key,
                    s"col-${java.util.UUID.randomUUID().toString.take(8)}")
                  .putLong(Manifest.ColumnMapping.IdKey, maxId + 1)
                  .build())
              }
            val f = Option(add.comment).fold(f0)(f0.withComment)
            val fields = Option(add.position()) match {
              case None => sch.fields :+ f
              case Some(after: TableChange.After) =>
                val i = sch.fieldNames.indexWhere(
                  _.equalsIgnoreCase(after.column))
                require(i >= 0,
                  s"graft catalog: AFTER column '${after.column}' not found")
                val (pre, post) = sch.fields.splitAt(i + 1)
                pre ++ (f +: post)
              case Some(_) => f +: sch.fields // FIRST
            }
            val m2 = m.copy(schema = Some(StructType(fields)))
            if (!GraftTableMeta.mappingActive(m)) m2
            else m2.copy(properties = m2.properties +
              (GraftTableMeta.MaxIdProp ->
                (GraftTableMeta.maxColumnId(m) + 1).toString))
          case rn: TableChange.RenameColumn =>
            // COLUMN MAPPING (round 12, Delta name mode): the rename is
            // a metadata-only sidecar write — the field keeps (or gains)
            // its frozen PHYSICAL name, every file keeps its bytes, and
            // all read/write paths map through
            // [[graft.io.Manifest.ColumnMapping]]
            require(rn.fieldNames.length == 1,
              "graft catalog: only top-level RENAME COLUMN is supported " +
                s"(got ${rn.fieldNames.mkString(".")})")
            val from = rn.fieldNames.head
            val to = rn.newName
            val ma = GraftTableMeta.activateMapping(m)
            val sch = ma.schema.get
            val i = sch.fieldNames.indexWhere(_.equalsIgnoreCase(from))
            require(i >= 0, s"graft catalog: no column '$from' to rename")
            require(!sch.fieldNames.exists(_.equalsIgnoreCase(to)),
              s"graft catalog: column '$to' already exists")
            require(!ma.partitionCols.exists(_.equalsIgnoreCase(from)),
              s"graft catalog: cannot rename partition column '$from' - " +
                "its name is baked into the hive path layout")
            ma.copy(schema = Some(StructType(
              sch.fields.updated(i, sch.fields(i).copy(name = to)))))
          case delc: TableChange.DeleteColumn =>
            // DROP COLUMN = the field's removal from the declared
            // contract: files keep the bytes, no reader ever asks for
            // them, and mapping activation guarantees a later re-ADD of
            // the name gets a fresh physical column
            require(delc.fieldNames.length == 1,
              "graft catalog: only top-level DROP COLUMN is supported " +
                s"(got ${delc.fieldNames.mkString(".")})")
            val nm = delc.fieldNames.head
            val ma = GraftTableMeta.activateMapping(m)
            val sch = ma.schema.get
            val i = sch.fieldNames.indexWhere(_.equalsIgnoreCase(nm))
            if (i < 0 && delc.ifExists()) ma
            else {
              require(i >= 0, s"graft catalog: no column '$nm' to drop")
              require(sch.fields.length > 1,
                s"graft catalog: cannot drop the only column '$nm'")
              require(!ma.partitionCols.exists(_.equalsIgnoreCase(nm)),
                s"graft catalog: cannot drop partition column '$nm' - " +
                  "the hive path layout depends on it")
              ma.copy(schema = Some(StructType(
                sch.fields.patch(i, Nil, 1))))
            }
          case up: TableChange.UpdateColumnType =>
            // TYPE WIDENING (round 12, Delta's typeWidening shape): a
            // metadata-only retype, sound because Spark 4's parquet
            // reader upcasts per file (int32 files read under a BIGINT
            // schema, float under DOUBLE, decimal under a wider
            // precision) — old files stay narrow, new files land wide,
            // and time travel below the change reads the as-committed
            // narrow type via the schema history. Narrowing (or any
            // unprovable change) refuses: it would corrupt or refuse
            // every existing file at scan time.
            require(up.fieldNames.length == 1,
              "graft catalog: only top-level ALTER COLUMN TYPE is " +
                s"supported (got ${up.fieldNames.mkString(".")})")
            val nm = up.fieldNames.head
            val sch = m.schema.get // normalized above when changesSchema
            val i = sch.fieldNames.indexWhere(_.equalsIgnoreCase(nm))
            require(i >= 0, s"graft catalog: no column '$nm' to retype")
            require(!m.partitionCols.exists(_.equalsIgnoreCase(nm)),
              s"graft catalog: cannot retype partition column '$nm' - " +
                "its value rendering is baked into the hive path layout")
            val f = sch.fields(i)
            require(GraftTableMeta.isWidening(f.dataType, up.newDataType),
              s"graft catalog: only WIDENING type changes are supported " +
                s"(${f.dataType.simpleString} -> " +
                s"${up.newDataType.simpleString} is not; narrowing or " +
                "re-kinding would corrupt existing files)")
            m.copy(schema = Some(StructType(
              sch.fields.updated(i, f.copy(dataType = up.newDataType)))))
          case sp: TableChange.SetProperty =>
            require(!reserved.contains(sp.property),
              s"graft catalog: property '${sp.property}' is reserved")
            require(!sp.property.startsWith(GraftTableMeta.ConstraintPropPrefix),
              s"graft catalog: '${sp.property}' is constraint state - use " +
                "ALTER TABLE ... ADD CONSTRAINT (which validates existing " +
                "rows) instead of setting it directly")
            m.copy(properties = m.properties + (sp.property -> sp.value))
          case rp: TableChange.RemoveProperty =>
            m.copy(properties = m.properties - rp.property)
          case ac: TableChange.AddConstraint =>
            // CHECK constraints, ENFORCED (round 13): stored as a
            // reserved property and enforced on EVERY write path
            // (INSERT, DML rewrites, MOR update, streaming epochs —
            // see Manifest.checkConstraints); adding one VALIDATES the
            // existing rows first, so a declared constraint is a real
            // table invariant, never an aspiration. Unique/PK/FK are
            // refused: this engine cannot enforce them, and recording
            // an unenforced promise invites wrong query rewrites.
            ac.constraint match {
              case c: org.apache.spark.sql.connector.catalog
                  .constraints.Check =>
                require(c.enforced,
                  s"graft catalog: CHECK constraint '${c.name}' must be " +
                    "ENFORCED (informational constraints are refused - " +
                    "they promise an invariant nothing maintains)")
                val sql = Option(c.predicateSql).filter(_.nonEmpty)
                  .getOrElse(throw new UnsupportedOperationException(
                    s"graft catalog: CHECK constraint '${c.name}' carries " +
                      "no predicate SQL"))
                val key = GraftTableMeta.ConstraintPropPrefix + c.name
                require(!m.properties.contains(key),
                  s"graft catalog: constraint '${c.name}' already exists")
                // validate EXISTING rows (SQL semantics: TRUE and
                // UNKNOWN pass, FALSE violates); the scan reads the
                // attempt's head under the declared schema (mapping and
                // MOR deletes applied)
                cur.filter(_.files.nonEmpty).foreach { c0 =>
                  val bad = Manifest.readFilesApplyingDeletes(spark, dir,
                    c0.files, c0.deleteFiles, meta0.schema.map(s =>
                      StructType(s.map(_.copy(nullable = true)))))
                    .where(s"($sql) IS FALSE").limit(1).count()
                  require(bad == 0,
                    s"graft catalog: cannot add CHECK constraint " +
                      s"'${c.name}': existing rows violate ($sql)")
                }
                m.copy(properties = m.properties + (key -> sql))
              case other =>
                throw new UnsupportedOperationException(
                  s"graft catalog: only ENFORCED CHECK constraints are " +
                    s"supported (cannot enforce: ${other.toDDL})")
            }
          case cb: TableChange.ClusterBy =>
            val cols = cb.clusteringColumns.toSeq
              .map(_.fieldNames.mkString("."))
            m.schema.foreach(sch => cols.foreach(c =>
              require(sch.fieldNames.exists(_.equalsIgnoreCase(c)),
                s"graft catalog: cluster column '$c' is not in the " +
                  "table schema")))
            cols.foreach(c =>
              require(!m.partitionCols.exists(_.equalsIgnoreCase(c)),
                s"graft catalog: cluster column '$c' is a partition " +
                  "column - partition values are already path-exact"))
            // CLUSTER BY NONE clears the declaration
            if (cols.isEmpty)
              m.copy(properties = m.properties - GraftTableMeta.ClusterByProp)
            else m.copy(properties = m.properties +
              (GraftTableMeta.ClusterByProp -> cols.mkString(",")))
          case dc: TableChange.DropConstraint =>
            val key = GraftTableMeta.ConstraintPropPrefix + dc.name
            if (!m.properties.contains(key)) {
              require(dc.ifExists,
                s"graft catalog: no constraint '${dc.name}' to drop " +
                  "(use IF EXISTS)")
              m
            } else m.copy(properties = m.properties - key)
          case other =>
            throw new UnsupportedOperationException(
              s"graft catalog: unsupported ALTER TABLE change $other " +
                "(supported: ADD/RENAME/DROP COLUMN, widening ALTER " +
                "COLUMN TYPE, SET/UNSET TBLPROPERTIES)")
        }
      }
      if (!changesSchema) meta1
      else meta1.copy(schemaHistory = cur match {
        // no snapshot: no per-version schema to distinguish, so the
        // base entry is replaced
        case None => Seq(0L -> meta1.schema.get)
        // keyed by the seq the metadata commit publishes under
        case Some(c0) => meta0.schemaHistory :+ (c0.seq + 1 -> meta1.schema.get)
      })
    }
    if (Manifest.listedSeqs(spark, dir).isEmpty)
      // no snapshot, so no seq space to commit under: the flat sidecar
      // is the whole change
      writeSidecars(p, locDir, evolve(Nil))
    else {
      // the commit point: a same-files metadata commit CARRYING the new
      // meta (Delta's metaData-in-a-commit), derived from each commit
      // attempt's read — base meta, CHECK validation over its head,
      // schema-history key from its seq. A lost CAS re-derives, so two
      // racing ALTERs (or an ALTER racing a write) can never silently
      // drop a change.
      var won: GraftTableMeta = null
      Manifest.commitMetadata(spark, dir, s"alter-${System.currentTimeMillis()}-" +
          java.util.UUID.randomUUID().toString.take(8)) { priors =>
        won = evolve(priors)
        Some(GraftTableMeta.toB64(won.copy(location = None)))
      }
      // flat sidecars are a pure CACHE (read() prefers the embedded
      // payload) — losing or stale-overwriting them is harmless
      writeSidecars(p, locDir, won)
    }
    // resolved relations are snapshot-AND-schema pinned: invalidate so
    // the next statement sees the evolved contract
    spark.catalog.refreshByPath(dir)
    loadTable(ident)
  }

  /** LOCATION-registered tables: the path face recovers its sidecar
    * from the DATA dir, so the evolved contract must land there too —
    * and FIRST (ADVICE r11): the data-dir copy is the authoritative
    * contract every path read consults, so a crash between the two
    * writes leaves the catalog face stale (healed by the next ALTER)
    * rather than the data dir reading under a contract the catalog
    * never finished declaring. */
  private def writeSidecars(p: Path, location: Option[String],
      meta: GraftTableMeta): Unit =
    // serialize same-JVM cache overwrites per table path — the flat
    // file is a cache (DDL commits carry the truth), but un-torn cache
    // files keep the no-DDL fallback path clean
    p.toString.intern.synchronized {
      location.foreach { loc =>
        val lp = new Path(loc)
        val lfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        GraftTableMeta.write(lfs, lp, meta.copy(location = None))
      }
      GraftTableMeta.write(fsys, p, meta)
    }

  override def dropTable(ident: Identifier): Boolean = {
    val p = identPath(ident)
    if (!isTable(p)) return false
    fsys.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, rawNewIdent: Identifier): Unit = {
    // `RENAME TO a.b.c` hands the target name verbatim — when the user
    // re-qualified it with this catalog's name, strip that first part
    // (the same normalization delta's catalog performs)
    val newIdent =
      if (rawNewIdent.namespace.headOption.contains(catalogName))
        Identifier.of(rawNewIdent.namespace.tail, rawNewIdent.name)
      else rawNewIdent
    val from = identPath(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val toNs = nsPath(newIdent.namespace)
    if (!fsys.exists(toNs) || isTable(toNs))
      throw new NoSuchNamespaceException(newIdent.namespace)
    val to = identPath(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    require(fsys.rename(from, to),
      s"graft catalog: rename $from -> $to failed")
  }

  // ---- stored procedures (CALL <cat>.system.<proc>(...)) ------------------

  /** A procedure argument naming a table of THIS catalog ("db.t",
    * "<catalog>.db.t" — the fully-qualified form users write
    * everywhere else normalizes like [[renameTable]]'s — or "t" under
    * a single namespace) → its manifest dir plus the sidecar's declared
    * partition columns, through the same LOCATION redirect as table
    * resolution. */
  private[catalog] def resolveTable(name: String): (String, Seq[String]) = {
    val p = resolveTablePath(name)
    val meta = GraftTableMeta.read(fsys, p)
    (meta.flatMap(_.location).getOrElse(p.toString),
      meta.map(_.partitionCols).getOrElse(Nil))
  }

  /** The catalog-side sidecar path of a procedure's table argument. */
  private def resolveTablePath(name: String): Path = {
    require(name != null && name.nonEmpty,
      "graft catalog: the procedure's table argument must be a " +
        "non-null table name")
    val raw = name.split('.').toSeq
    require(raw.forall(_.nonEmpty),
      s"graft catalog: malformed table name '$name'")
    val parts =
      if (raw.size > 1 && raw.head == catalogName) raw.tail else raw
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val rootP = identPath(ident)
    // single-part names address root-level tables first; otherwise the
    // name resolves across ALL namespaces and must be UNAMBIGUOUS —
    // keying on "exactly one namespace exists" (pre-round-12) meant
    // creating a second namespace later silently changed what
    // `table => 't'` resolved to (ADVICE r11)
    val p =
      if (isTable(rootP) || parts.size > 1) rootP
      else {
        val cands = listNamespaces().toSeq
          .map(ns => identPath(Identifier.of(ns, parts.last)))
          .filter(isTable)
        cands match {
          case Seq(one) => one
          case Seq() => rootP
          case many => throw new IllegalArgumentException(
            s"graft catalog: table name '$name' is ambiguous - it exists " +
              s"in ${many.size} namespaces " +
              s"(${many.map(_.getParent.getName).sorted.mkString(", ")}); " +
              "qualify it as '<namespace>.<table>'")
        }
      }
    require(isTable(p), s"graft catalog: no table '$name' under $warehouse")
    p
  }

  /** RESTORE's metadata half (Delta RESTORE rolls back the table's
    * metaData with its data): re-declare the schema that was committed
    * AS OF the restore target, recorded as a fresh schema-history
    * entry keyed by the restore commit's seq — the head reads the
    * restored shape, while time travel ABOVE the restore still serves
    * the evolved one. Returns None (no-op) when the sidecar declares
    * no schema or the target's schema is already current. The caller
    * embeds the result IN the restore commit itself (ADVICE r12:
    * a post-commit flat write can race an ALTER and lose one side). */
  private[catalog] def restoredMetaFor(name: String, targetSeq: Long,
      newSeq: Long): Option[GraftTableMeta] = {
    val p = resolveTablePath(name)
    GraftTableMeta.read(fsys, p).flatMap { m0 =>
      m0.schemaAt(targetSeq) match {
        case Some(sOld) if m0.schema.exists(_ != sOld) =>
          val baseHist =
            if (m0.schemaHistory.nonEmpty) m0.schemaHistory
            else m0.schema.map(s => Seq(0L -> s)).getOrElse(Nil)
          Some(m0.copy(schema = Some(sOld),
            schemaHistory = baseHist :+ (newSeq -> sOld)))
        case _ => None
      }
    }
  }

  /** Refresh the flat sidecar CACHE after a DDL-carrying commit. */
  private[catalog] def refreshSidecarCache(name: String,
      meta: GraftTableMeta): Unit = {
    val p = resolveTablePath(name)
    writeSidecars(p, meta.location, meta)
  }

  /** Set one table property through the full CAS-serialized ALTER path
    * (procedures resolve tables by NAME, not Identifier — derive it
    * from the resolved path's warehouse-relative parts). */
  private[catalog] def setTableProperty(name: String, key: String,
      value: String): Unit = {
    val p = resolveTablePath(name)
    val rel = p.toUri.getPath
      .stripPrefix(new Path(warehouse).toUri.getPath).stripPrefix("/")
    val parts = rel.split('/')
    alterTable(Identifier.of(parts.init, parts.last),
      TableChange.setProperty(key, value))
  }

  private lazy val procedures = GraftProcedures.all(this)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system"),
      s"graft catalog: procedures live in the 'system' namespace " +
        s"(got ${ident.namespace.mkString(".")})")
    procedures.getOrElse(ident.name,
      throw new UnsupportedOperationException(
        s"graft catalog: no procedure '${ident.name}' " +
          s"(available: ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq != Seq("system")) Array.empty
    else procedures.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fsys.exists(root)) return Array.empty
    fsys.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(p => Array(p.getName)).sortBy(_.head).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = nsPath(namespace)
    if (!fsys.exists(p) || isTable(p))
      throw new NoSuchNamespaceException(namespace)
    fsys.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable).map(c => namespace :+ c.getName)
      .sortBy(_.mkString(".")).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      scala.util.Try {
        val p = nsPath(namespace); fsys.exists(p) && !isTable(p)
      }.getOrElse(false)

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString)
      .asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fsys.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!namespaceExists(namespace)) return false
    if (!cascade && fsys.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is not " +
          "empty - use DROP NAMESPACE ... CASCADE")
    fsys.delete(p, true)
  }
}

/** The `.graft-table.json` DDL sidecar (see [[GraftCatalog]] scaladoc
  * for what it carries and why a manifest alone cannot).
  *
  * `schemaHistory` (round 12 — PER-SNAPSHOT schema on time travel):
  * ordered (sinceSeq, schema) entries, oldest → newest; entry (s, S)
  * declares S the read contract for every manifest commit with
  * `commit_seq >= s` (until a later entry supersedes it). ALTER TABLE
  * publishes a metadata-only manifest commit and appends the entry at
  * that commit's seq, so `VERSION AS OF` a pre-evolution commit reads
  * the AS-COMMITTED schema — exactly Delta's last-metaData-wins
  * resolution — instead of the head schema with null-filled columns.
  * The flat `schema` field stays the CURRENT contract (the last
  * entry's schema); sidecars written before round 12 carry no history
  * and resolve their single schema retroactively, preserving their
  * old behavior. */
private[graft] final case class GraftTableMeta(schema: Option[StructType],
    partitionCols: Seq[String], location: Option[String],
    properties: Map[String, String],
    schemaHistory: Seq[(Long, StructType)] = Nil) {

  /** The schema committed AS OF manifest seq `v`: the newest history
    * entry with sinceSeq <= v; a snapshot predating every entry reads
    * as-committed (None → footer inference); a history-less sidecar
    * resolves its single schema retroactively (pre-round-12 files). */
  def schemaAt(v: Long): Option[StructType] = {
    val eligible = schemaHistory.filter(_._1 <= v)
    if (eligible.nonEmpty) Some(eligible.last._2)
    else if (schemaHistory.nonEmpty) None
    else schema
  }
}

private[graft] object GraftTableMeta {

  /** Reserved property prefix holding CHECK constraints: key =
    * `graft.constraint.<name>`, value = the predicate SQL. Guarded
    * against direct SET TBLPROPERTIES (adding must validate). */
  val ConstraintPropPrefix = "graft.constraint."

  /** Declared clustering columns (`CLUSTER BY`), comma-separated —
    * applied by `CALL system.zorder` when no explicit columns are
    * given. */
  val ClusterByProp = "graft.clusterBy"

  val SidecarName = ".graft-table.json"

  /** Delta's columnMapping table properties — stamped on activation so
    * the export face re-declares them verbatim. */
  val ModeProp = "delta.columnMapping.mode"
  val MaxIdProp = "delta.columnMapping.maxColumnId"

  /** Is `from` -> `to` a WIDENING promotion Spark 4's parquet reader
    * performs per file (probe-proven on this build): integral chain
    * byte<short<int<long, float->double, small-integral->double,
    * integral->decimal with enough integer digits, and decimal
    * precision growth at the SAME scale. Everything else refuses. */
  def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(f) < intRank(t)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType | IntegerType | LongType,
          t: DecimalType) =>
        // the decimal must hold every value of the integral type
        val needed = from match {
          case ByteType => 3; case ShortType => 5
          case IntegerType => 10; case _ => 20
        }
        t.scale == 0 && t.precision >= needed
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  def mappingActive(m: GraftTableMeta): Boolean =
    m.properties.get(ModeProp).contains("name")

  def maxColumnId(m: GraftTableMeta): Long =
    m.properties.get(MaxIdProp).flatMap(_.toLongOption).getOrElse(
      m.schema.map(_.fields.length.toLong).getOrElse(0L))

  /** First RENAME/DROP activates COLUMN MAPPING (Delta name mode):
    * every declared field freezes its CURRENT name as its physical
    * name and takes a stable column id — from then on the logical
    * layer is pure metadata. Idempotent. */
  def activateMapping(m: GraftTableMeta): GraftTableMeta = {
    if (mappingActive(m)) return m
    val sch = m.schema.getOrElse(throw new IllegalStateException(
      "graft catalog: column mapping needs a declared schema"))
    val fields = sch.fields.zipWithIndex.map { case (f, i) =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      if (!f.metadata.contains(Manifest.ColumnMapping.Key))
        mb.putString(Manifest.ColumnMapping.Key, f.name)
      if (!f.metadata.contains(Manifest.ColumnMapping.IdKey))
        mb.putLong(Manifest.ColumnMapping.IdKey, i + 1L)
      f.copy(metadata = mb.build())
    }
    m.copy(schema = Some(StructType(fields)),
      properties = m.properties + (ModeProp -> "name") +
        (MaxIdProp -> fields.length.toString))
  }

  /** The sidecar JSON codec, shared by the flat cache file and the
    * base64 payload DDL commits embed in their manifests. */
  def render(meta: GraftTableMeta): String = {
    val j = JObject(List(
      "version" -> JInt(1),
      "schemaJson" -> meta.schema.map(s => JString(s.json)).getOrElse(JNothing),
      "partitionCols" -> JArray(meta.partitionCols.map(JString(_)).toList),
      "location" -> meta.location.map(JString(_)).getOrElse(JNothing),
      "properties" -> JObject(meta.properties.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }),
      "schemaHistory" ->
        (if (meta.schemaHistory.isEmpty) JNothing
         else JArray(meta.schemaHistory.toList.map { case (s, sch) =>
           JObject(List("sinceSeq" -> (JInt(s): JValue),
             "schemaJson" -> (JString(sch.json): JValue)))
         }))))
    JsonMethods.pretty(JsonMethods.render(j))
  }

  def toB64(meta: GraftTableMeta): String =
    java.util.Base64.getEncoder.encodeToString(
      render(meta).getBytes("UTF-8"))

  def fromB64(b64: String): GraftTableMeta =
    parseJson(new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))

  def write(fsys: FileSystem, tableDir: Path, meta: GraftTableMeta): Unit = {
    val out = fsys.create(new Path(tableDir, SidecarName), true)
    try out.write(render(meta).getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's metadata view. AUTHORITY ORDER (ADVICE r12 — the
    * flat sidecar is a racy overwrite file, so a losing concurrent
    * ALTER can leave it stale): (1) the newest DDL commit's embedded
    * payload under the table's DATA dir — written atomically WITH its
    * manifest, so it is always the serialized truth; (2) for a
    * LOCATION-registered table whose data dir carries no embedded
    * payload (e.g. vacuumed away), the data-dir mirror sidecar (the
    * vacuum flatten refreshes it); (3) the flat sidecar at `tableDir`.
    * `location` always comes from (3) — it names the redirect itself
    * and is not ALTERable. */
  def read(fsys: FileSystem, tableDir: Path): Option[GraftTableMeta] = {
    // embedded-FIRST: when a DDL commit exists under tableDir, its
    // payload is complete and the flat cache never needs opening at
    // all (a LOCATION-registered catalog path holds no manifests, so
    // finding one here implies tableDir IS the data dir and location
    // is vacuously None)
    Manifest.newestEmbeddedMetaB64(fsys, tableDir).map(fromB64)
      .foreach(emb => return Some(emb.copy(location = None)))
    val flat = readFlat(fsys, tableDir)
    val dataDir = flat.flatMap(_.location).map(new Path(_))
    dataDir match {
      case None => flat
      case Some(lp) =>
        val dfs = lp.getFileSystem(fsys.getConf)
        Manifest.newestEmbeddedMetaB64(dfs, lp).map(fromB64) match {
          case Some(emb) =>
            Some(emb.copy(location = flat.flatMap(_.location)))
          case None =>
            readFlat(dfs, lp) match {
              case Some(mirror) =>
                Some(mirror.copy(location = flat.flatMap(_.location)))
              case None => flat
            }
        }
    }
  }

  private def readFlat(fsys: FileSystem, tableDir: Path)
      : Option[GraftTableMeta] = {
    val p = new Path(tableDir, SidecarName)
    // the cache write is a plain overwrite (not atomic), so a read
    // racing a concurrent refresh can see a torn file — retry briefly
    // before surfacing the error
    var last: Throwable = null
    var attempt = 0
    while (attempt < 5) {
      try {
        if (!fsys.exists(p)) return None
        val in = fsys.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        return Some(parseJson(text))
      } catch {
        case t: Throwable =>
          last = t; attempt += 1; Thread.sleep(10L * attempt)
      }
    }
    throw last
  }

  def parseJson(text: String): GraftTableMeta = {
    val j = JsonMethods.parse(text)
    def str(f: String): Option[String] = j \ f match {
      case JString(s) => Some(s); case _ => None
    }
    GraftTableMeta(
      schema = str("schemaJson")
        .map(s => org.apache.spark.sql.types.DataType.fromJson(s)
          .asInstanceOf[StructType]),
      partitionCols = j \ "partitionCols" match {
        case JArray(xs) => xs.collect { case JString(s) => s }
        case _ => Nil
      },
      location = str("location"),
      properties = j \ "properties" match {
        case JObject(fields) =>
          fields.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      },
      schemaHistory = j \ "schemaHistory" match {
        case JArray(xs) => xs.flatMap { e =>
          (e \ "sinceSeq", e \ "schemaJson") match {
            case (JInt(s), JString(sj)) =>
              Some(s.toLong -> org.apache.spark.sql.types.DataType
                .fromJson(sj).asInstanceOf[StructType])
            case _ => None
          }
        }.sortBy(_._1)
        case _ => Nil
      })
  }
}

/**
 * The catalog's `Table`: name + schema + partitioning for the
 * analyzer/DESCRIBE, a snapshot-pinned V1 relation for
 * [[GraftCatalogReadRule]] to swap in, and the `V1Write` fallback for
 * AppendData/Overwrite (INSERT, CTAS). Capabilities deliberately omit
 * BATCH_READ: reads are served by the swap rule's `HadoopFsRelation`,
 * and a session without the graft extensions fails LOUDLY at planning
 * instead of silently taking a slower scan path.
 */
private[graft] class GraftCatalogTable(ident: String, val dir: String,
    meta: Option[GraftTableMeta], timeTravel: Map[String, String])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {

  private def spark: SparkSession = SparkSession.active

  /** The pinned V1 relation (None while the table has no commits —
    * a declared-only table reads as empty). Resolved ONCE per loaded
    * table: the statement's analysis and execution see one snapshot. */
  lazy val relation: Option[BaseRelation] =
    if (Manifest.head(spark, dir).isEmpty) {
      require(timeTravel.isEmpty,
        s"graft catalog: $ident has no committed snapshot to time-travel to")
      None
    } else Some(graft.sources.GraftSource.buildRelation(spark, dir, timeTravel,
      meta.flatMap(_.schema)))

  override def name(): String = ident

  override lazy val schema: StructType =
    // a time-travel load's contract is the AS-COMMITTED schema — the
    // relation already resolved it from the sidecar's schema history;
    // a head load keeps the declared (possibly evolved) contract
    (if (timeTravel.nonEmpty) relation.map(_.schema)
     else meta.flatMap(_.schema).orElse(relation.map(_.schema))).getOrElse(
      throw new IllegalStateException(
        s"graft catalog: $ident has neither a declared schema nor a " +
          "committed snapshot"))

  override def partitioning(): Array[Transform] = {
    val declared = meta.map(_.partitionCols).getOrElse(Nil)
    val cols =
      if (declared.nonEmpty) declared
      else graft.sources.GraftSource.uniformPartitionColsOf(spark, dir)
    val cluster = meta.flatMap(_.properties.get(GraftTableMeta.ClusterByProp))
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .map(cs => org.apache.spark.sql.connector.expressions
        .ClusterByTransform(cs.map(c => Expressions.column(c)
          .asInstanceOf[org.apache.spark.sql.connector.expressions
            .NamedReference])))
    (cols.map(Expressions.identity) ++ cluster).toArray
  }

  /** Declared CHECK constraints, rebuilt from the reserved properties
    * — VALID: adding one validated the table, and every write path
    * since has enforced it ([[Manifest.checkConstraints]]). */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    meta.map(_.properties).getOrElse(Map.empty).toSeq
      .collect { case (k, v)
          if k.startsWith(GraftTableMeta.ConstraintPropPrefix) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(GraftTableMeta.ConstraintPropPrefix))
          .predicateSql(v)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build()
      }
      .sortBy(_.name)
      .toArray

  override def properties(): java.util.Map[String, String] =
    (meta.map(_.properties).getOrElse(Map.empty) +
      (TableCatalog.PROP_LOCATION -> dir) +
      (TableCatalog.PROP_PROVIDER -> "graft")).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION arms `MERGE … WITH SCHEMA EVOLUTION`:
    // the analyzer's ResolveMergeIntoSchemaEvolution computes the
    // missing columns and drives THIS catalog's alterTable (CAS'd ADD
    // COLUMN + schema-history entry) before the V1 swap intercepts the
    // merge itself
    // STREAMING_WRITE serves `df.writeStream.toTable(...)` natively:
    // epoch commits ride the manifest CAS with per-(queryId, epochId)
    // snapshot ids, so replays are no-ops (GraftStreamingWrite)
    // BATCH_READ backs the V1Scan SAFETY NET below: normal reads are
    // swapped to the vectorized V1 relation at resolution
    // (GraftCatalogReadRule), but surfaces that keep the V2 relation
    // through analysis — the ADD CONSTRAINT validation scan is one —
    // must pass TableCapabilityCheck and still execute correctly
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_READ,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** The V2 read face, as Spark's official V1 compatibility shim: a
    * [[org.apache.spark.sql.connector.read.V1Scan]] delegating to the
    * SAME pinned snapshot frame the swap rule serves. Only surfaces
    * the resolution-time swap cannot reach execute here (constraint
    * validation when the optimizer-time swap is not installed, foreign
    * tooling driving the V2 API directly) — correct rows at a
    * row-conversion tax, never a wrong answer or a refusal. */
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val declared = schema
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = declared
          override def toV1TableScan[T <: BaseRelation
              with org.apache.spark.sql.sources.TableScan](
              ctx: org.apache.spark.sql.SQLContext): T =
            (new BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = ctx
              override def schema: StructType = declared
              override def buildScan()
                  : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
                v1Frame.select(declared.fieldNames.toSeq.map(n =>
                  org.apache.spark.sql.functions.col(s"`$n`")): _*).rdd
            }).asInstanceOf[T]
        }
    }
  }

  /** The pinned snapshot as a DataFrame over the V1 relation (declared
    * column order restored by the caller). */
  private def v1Frame: org.apache.spark.sql.DataFrame = relation match {
    case Some(rel) =>
      val attrs = rel.schema.fields.toSeq.map(f =>
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          f.name, f.dataType, f.nullable, f.metadata)())
      org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel, attrs, None, false, None))
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(dir,
      meta.map(_.partitionCols).getOrElse(Nil), schema, info)
}

/** `V1Write` fallback: INSERT INTO → Manifest append (rebases on lost
  * CAS races), INSERT OVERWRITE / CTAS-replace → truncate() → a fresh
  * overwriting snapshot (time travel keeps the pre-write state). The
  * declared partition columns drive the hive layout; a table without
  * declared partitioning keeps its current snapshot's layout. */
private[graft] class GraftWriteBuilder(dir: String, declaredPartCols: Seq[String],
    declaredSchema: StructType, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
            ignored: Boolean): Unit = {
          val spark = data.sparkSession
          val partCols =
            if (declaredPartCols.nonEmpty) declaredPartCols
            else graft.sources.GraftSource.uniformPartitionColsOf(spark, dir)
          graft.sources.GraftInsert.commit(spark, dir, partCols, data, overwrite)
          spark.catalog.refreshByPath(dir)
        }
      }
    // writeStream.toTable: append rides epoch-append commits; Complete
    // mode arrives through truncate() and republishes per epoch
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(dir, declaredSchema, declaredPartCols,
        info.queryId(), info.schema(), overwrite)
  }
}
