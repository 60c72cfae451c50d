package graft.io

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types._

/**
 * Per-file column statistics lifted from PARQUET FOOTERS — the
 * data-skipping metadata both table-format exports attach to their file
 * entries ([[DeltaLog]] `add.stats`, [[IcebergExport]] bounds maps) and
 * the engine's own pruned readers consume.
 *
 * Two properties make this the only shape viable at 100 TB:
 *
 *  - **Metadata-only.** A footer read touches a few KB at the file tail;
 *    the data pages are never decoded. Cost is ∝ file COUNT, not table
 *    bytes — re-deriving the same stats with a `groupBy(input_file_name)`
 *    scan would re-read the whole table on every export.
 *  - **Distributed.** Footers are opened inside Spark tasks (one job,
 *    `files → executors`), not in a driver loop; only the tiny per-file
 *    stat records return. On an object store this is also the latency
 *    fix: N × ~10 ms round-trips happen 32-wide, not serially.
 *
 * Semantics: every value is a BOUND, not necessarily an exact extremum —
 * parquet writers may truncate binary min downward / max upward
 * (PARQUET-1685); bounds stay sound for pruning, which is the contract
 * both Delta (`stats`) and Iceberg (`lower_bounds`/`upper_bounds`)
 * define. When any row group of a file lacks usable statistics for a
 * column, that column's entry is dropped for the WHOLE file (a partial
 * bound would be unsound) while `numRecords` — from block row counts,
 * always present — survives.
 *
 * Covered: top-level primitive columns of the types the testdata and the
 * reference pipeline produce — int32/int64 (plain, date, timestamp of
 * any unit), float/double (dropped if a NaN reached the footer stats —
 * NaN ordering is writer-defined, so such bounds are untrustworthy),
 * boolean, UTF-8 binary. Unsigned ints, INT96, fixed-length and nested
 * columns get no stats entry (readers treat absence as "cannot prune").
 */
object FileStats {

  /** How a column's footer min/max maps to a logical value space. */
  sealed trait Kind extends Serializable
  object Kind {
    /** Numeric long space (plain int32/int64, and TIMESTAMP(NANOS) which
      * this engine reads as epoch-nanos long). */
    case object I64 extends Kind
    /** Numeric double space (float widened exactly, double). */
    case object F64 extends Kind
    case object Bool extends Kind
    /** UTF-8 string space; bounds compare lexicographically. */
    case object Str extends Kind
    /** Epoch-day int32; rendered `uuuu-MM-dd` (fixed width ⇒ string
      * order == date order). */
    case object Date extends Kind
    /** Epoch int64 timestamp, value ALWAYS normalized to MICROS at
      * extraction time (a MILLIS-unit source column is scaled ×1000, so
      * consumers never see the physical unit); `utc` keeps the
      * instant-vs-local distinction (timestamptz vs timestamp).
      * `srcMillis` records the physical unit purely for the scaling —
      * render/encode paths must treat `Ts(u, _)` as one kind. */
    final case class Ts(utc: Boolean, srcMillis: Boolean = false) extends Kind
  }

  /** Bounds for one column of one file. `min`/`max` hold Long / Double /
    * Boolean / String per [[Kind]]; `nullCount` is None when any row
    * group left null counts unset. min/max None + nullCount == numRecords
    * means an all-null column (prunable by any range predicate); min/max
    * None otherwise means "stats unavailable". */
  final case class ColumnStat(kind: Kind, nullCount: Option[Long],
      min: Option[Any], max: Option[Any])

  /** One file's stats: exact row count, file length/mtime (from the same
    * task — no extra driver RPC per file), per-column bounds in schema
    * order. */
  final case class FileStat(numRecords: Long, size: Long, modTime: Long,
      columns: Vector[(String, ColumnStat)])

  /** Hadoop Configuration is not Serializable; this is the standard
    * write-through wrapper so tasks can open HDFS/S3A/mock filesystems
    * with the session's exact conf. */
  private final class SerConf(@transient var value: Configuration)
      extends Serializable {
    @throws[IOException]
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    @throws[IOException]
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Footer stats for `relPaths` under `base`, read distributed (one
    * Spark job over the file list). Returns rel-path → stats; driver
    * memory is O(files × columns) — the same order as the Manifest's own
    * file list, which the caller already holds. */
  def collect(spark: SparkSession, base: Path,
      relPaths: Seq[String]): Map[String, FileStat] = {
    if (relPaths.isEmpty) return Map.empty
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualBase = fsys.makeQualified(base).toString
    val conf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(relPaths.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(relPaths, slices)
      .map(rel => rel -> readFooter(new Path(s"$qualBase/$rel"), conf.value))
      .collect().toMap
  }

  /** Single-file footer read (used inside tasks; callable directly for
    * driver-side one-offs like specs). */
  def readFooter(p: Path, conf: Configuration): FileStat = {
    val st = p.getFileSystem(conf).getFileStatus(p)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = r.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      import scala.jdk.CollectionConverters._
      val numRecords = blocks.asScala.map(_.getRowCount).sum
      val cols = (0 until schema.getFieldCount).toVector.flatMap { i =>
        val t = schema.getType(i)
        if (!t.isPrimitive ||
            t.getRepetition == org.apache.parquet.schema.Type.Repetition.REPEATED)
          None
        else kindOf(t.asPrimitiveType()).flatMap { kind =>
          columnStat(t.getName, kind, blocks.asScala.toSeq, numRecords)
            .map(cs => t.getName -> cs)
        }
      }
      FileStat(numRecords, st.getLen, st.getModificationTime, cols)
    } finally r.close()
  }

  private def kindOf(pt: PrimitiveType): Option[Kind] =
    (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
      case (INT32, _: DateLogicalTypeAnnotation) => Some(Kind.Date)
      case (INT32, a: IntLogicalTypeAnnotation) =>
        if (a.isSigned) Some(Kind.I64) else None // unsigned compare differs
      case (INT32, null | _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        if (pt.getLogicalTypeAnnotation == null) Some(Kind.I64) else None
      case (INT64, a: TimestampLogicalTypeAnnotation) => a.getUnit match {
        case TimeUnit.MICROS => Some(Kind.Ts(a.isAdjustedToUTC))
        case TimeUnit.MILLIS => Some(Kind.Ts(a.isAdjustedToUTC, srcMillis = true))
        // nanos: this engine's events contract reads the column as a
        // plain epoch-nanos long, so bound it in the long space
        case TimeUnit.NANOS => Some(Kind.I64)
      }
      case (INT64, a: IntLogicalTypeAnnotation) =>
        if (a.isSigned) Some(Kind.I64) else None
      case (INT64, null) => Some(Kind.I64)
      case (FLOAT, _) | (DOUBLE, _) => Some(Kind.F64)
      case (BOOLEAN, _) => Some(Kind.Bool)
      case (BINARY, _: StringLogicalTypeAnnotation) => Some(Kind.Str)
      case _ => None
    }

  /** Merge one column's statistics across all row groups; None when any
    * group's stats are unusable AND the column can't be proven all-null. */
  private def columnStat(name: String, kind: Kind,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      numRecords: Long): Option[ColumnStat] = {
    import scala.jdk.CollectionConverters._
    // the type parameter is erased and merge compares through the
    // statistics' own comparator, so one fake concrete binding satisfies
    // the Java bound `T extends Comparable<T>` for every real value type
    type S = Statistics[java.lang.Long]
    var merged: S = null
    var usable = true
    blocks.foreach { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == name) match {
        case Some(chunk) =>
          val s = chunk.getStatistics
          // isEmpty == the writer recorded nothing (or the reader judged
          // the legacy binary stats corrupt, PARQUET-251) — but an
          // empty row group (0 values) legitimately has empty stats
          if (s == null || (s.isEmpty && chunk.getValueCount > 0)) usable = false
          else if (chunk.getValueCount > 0) {
            // copy() before merging: mergeStatistics mutates the receiver
            // and the first block's object belongs to the open footer
            if (merged == null) merged = s.copy().asInstanceOf[S]
            else merged.mergeStatistics(s.asInstanceOf[S])
          }
        case None => usable = false
      }
    }
    if (!usable || merged == null) return None
    val nullCount = if (merged.isNumNullsSet) Some(merged.getNumNulls) else None
    if (!merged.hasNonNullValue) {
      // no non-null value seen: only trust it as "all null" if the null
      // count proves every record is null
      if (nullCount.contains(numRecords))
        Some(ColumnStat(kind, nullCount, None, None))
      else None
    } else {
      val mn = toValue(kind, merged.genericGetMin().asInstanceOf[AnyRef])
      val mx = toValue(kind, merged.genericGetMax().asInstanceOf[AnyRef])
      (mn, mx) match {
        case (Some(a), Some(b)) => Some(ColumnStat(kind, nullCount, Some(a), Some(b)))
        case _ => None // NaN bound etc. — drop min/max, keep nothing
      }
    }
  }

  private def toValue(kind: Kind, v: AnyRef): Option[Any] = kind match {
    case Kind.I64 => Some(v match {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
    })
    case Kind.Date => Some(v.asInstanceOf[java.lang.Integer].longValue())
    case Kind.F64 =>
      val d = v match {
        case f: java.lang.Float => f.doubleValue()
        case d: java.lang.Double => d.doubleValue()
      }
      if (d.isNaN) None else Some(d)
    case Kind.Bool => Some(v.asInstanceOf[java.lang.Boolean].booleanValue())
    case Kind.Str => Some(v.asInstanceOf[Binary].toStringUsingUTF8)
    case Kind.Ts(_, srcMillis) =>
      val raw = v.asInstanceOf[java.lang.Long].longValue()
      Some(if (srcMillis) math.multiplyExact(raw, 1000L) else raw)
  }

  // ---- the one file split: zone maps over Catalyst expressions --------

  /** Catalyst literal → the [[ColumnStat]] value space; None on any
    * mismatch (keep the file). */
  private def toStatSpace(v: Any, dt: DataType, kind: Kind): Option[Any] =
    (dt, kind) match {
      case (ByteType | ShortType | IntegerType, Kind.I64) =>
        Some(v.asInstanceOf[Number].longValue())
      case (LongType, Kind.I64) => Some(v.asInstanceOf[Long])
      case (FloatType | DoubleType, Kind.F64) =>
        Some(v.asInstanceOf[Number].doubleValue())
      case (StringType, Kind.Str) => Some(v.toString)
      case (BooleanType, Kind.Bool) => Some(v.asInstanceOf[Boolean])
      case (DateType, Kind.Date) =>
        Some(v.asInstanceOf[Number].longValue()) // catalyst days == epoch-day
      case (TimestampType | TimestampNTZType, Kind.Ts(_, _)) =>
        Some(v.asInstanceOf[Long]) // catalyst micros == stat micros
      case _ => None
    }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** The zone-map check: can the file hold a row satisfying this
    * conjunct? Attribute names are the files' PHYSICAL column names.
    * True whenever pruning cannot be PROVEN sound. Bounds are over
    * non-null values, so a provably all-null column fails every value
    * predicate (and satisfies IS NULL). */
  def mayMatch(fst: FileStat, e: Expression): Boolean = {
    def colStat(name: String): Option[ColumnStat] =
      fst.columns.find(_._1 == name).map(_._2)
    def allNull(c: ColumnStat): Boolean =
      fst.numRecords > 0 && c.nullCount.contains(fst.numRecords)
    // evaluate `test(min, max)` when the column has provable bounds;
    // all-null columns fail value predicates; anything unprovable keeps
    def onBounds(name: String)(test: (Any, Any) => Option[Boolean]): Boolean =
      colStat(name) match {
        case None => true
        case Some(c) => (c.min, c.max) match {
          case (Some(mn), Some(mx)) => test(mn, mx).getOrElse(true)
          case _ => !allNull(c)
        }
      }
    def lit(l: Literal, name: String): Option[Any] =
      colStat(name).flatMap(c => Option(l.value).flatMap(v =>
        toStatSpace(v, l.dataType, c.kind)))
    e match {
      case And(l, r) => mayMatch(fst, l) && mayMatch(fst, r)
      case EqualTo(a: AttributeReference, l: Literal) =>
        lit(l, a.name).forall(v => onBounds(a.name)((mn, mx) =>
          for (c1 <- cmp(mn, v); c2 <- cmp(mx, v)) yield c1 <= 0 && c2 >= 0))
      case EqualTo(l: Literal, a: AttributeReference) =>
        mayMatch(fst, EqualTo(a, l))
      case GreaterThan(a: AttributeReference, l: Literal) => // col > v
        lit(l, a.name).forall(v => onBounds(a.name)((_, mx) =>
          cmp(mx, v).map(_ > 0)))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        lit(l, a.name).forall(v => onBounds(a.name)((_, mx) =>
          cmp(mx, v).map(_ >= 0)))
      case LessThan(a: AttributeReference, l: Literal) => // col < v
        lit(l, a.name).forall(v => onBounds(a.name)((mn, _) =>
          cmp(mn, v).map(_ < 0)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        lit(l, a.name).forall(v => onBounds(a.name)((mn, _) =>
          cmp(mn, v).map(_ <= 0)))
      // flipped comparisons rewrite to the attribute-first form
      case GreaterThan(l: Literal, a: AttributeReference) =>
        mayMatch(fst, LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        mayMatch(fst, LessThanOrEqual(a, l))
      case LessThan(l: Literal, a: AttributeReference) =>
        mayMatch(fst, GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        mayMatch(fst, GreaterThanOrEqual(a, l))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => mayMatch(fst, EqualTo(a, v.asInstanceOf[Literal])))
      case IsNull(a: AttributeReference) =>
        colStat(a.name).forall(c => c.nullCount.forall(_ > 0))
      case IsNotNull(a: AttributeReference) =>
        colStat(a.name).forall(c => !allNull(c))
      case _ => true
    }
  }

  /** A hive path value as a Catalyst value of `dt` (the hive null
    * marker is null), cast in time zone `tz` — pass the session zone,
    * the zone `partitionBy` rendered timestamp values in. */
  def partitionValue(raw: String, dt: DataType, tz: String): Any =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else Cast(Literal(raw), dt, Some(tz)).eval()

  /** The one file split — the scan prune of the graft file index, SQL
    * DELETE/UPDATE and the library range DML all call it: (touch, keep)
    * of manifest-relative `files`, where keep-files provably hold no
    * row satisfying `rawCond`. Two prune classes, both fail-open:
    *
    *  - exact hive partition values: a partition column is constant per
    *    file, so a conjunct over partition columns (typed by `types`; a
    *    column absent from a file's path is never judged here) that
    *    evaluates FALSE or NULL on the file's values excludes the file.
    *    The values are cast in the SESSION time zone ([[partitionValue]])
    *    — casting them in any other zone folds the predicate FALSE on
    *    exactly the file holding the matching rows;
    *  - footer min/max bounds ([[mayMatch]]) of the partition-kept files,
    *    from `known` or from one [[collect]] job.
    *
    * Attributes carrying a column-mapping physical name look their
    * stats up under it: after `RENAME a TO b` then `ADD COLUMN a`, the
    * logical name `a` names a DIFFERENT physical column, and judging it
    * by the old column's bounds would let matching rows escape. Keep is
    * in `files` order. */
  def splitFiles(spark: SparkSession, dir: String, files: Seq[String],
      rawCond: Expression, types: Map[String, DataType],
      known: Option[Map[String, FileStat]] = None)
      : (Seq[String], Seq[String]) = {
    // fold constant subtrees (`CAST('2021-01-02' AS DATE)`) to the bare
    // Literals the zone-map patterns match; a fold that throws (an ANSI
    // cast of a bad literal) stays unfolded, which keeps the file
    val cond = rawCond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Try(Literal.create(e.eval(InternalRow.empty), e.dataType)).getOrElse(e)
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val partConjuncts = conjuncts(cond).filter(c => c.deterministic &&
      c.references.nonEmpty && c.references.forall(r => types.contains(r.name)))
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    def partitionMay(vals: Map[String, String]): Boolean =
      partConjuncts.forall { c =>
        if (!c.references.forall(r => vals.contains(r.name))) true
        // the cast runs INSIDE the Try: under ANSI mode an uncastable
        // partition value keeps the file instead of failing the caller
        else Try(c.transform { case a: AttributeReference =>
          Literal.create(partitionValue(vals(a.name), types(a.name), tz),
            a.dataType)
        }.eval()).toOption match {
          case Some(false) | Some(null) => false
          case _ => true // true or unevaluable: keep
        }
      }
    val verdict = files.map(Manifest.partitionValuesOf).distinct
      .map(v => v -> partitionMay(v.toMap)).toMap
    val partKept = files.filter(f => verdict(Manifest.partitionValuesOf(f)))
    val stats = known.getOrElse(collect(spark, new Path(dir), partKept))
    val physCond = cond.transform {
      case a: AttributeReference
          if a.metadata.contains(Manifest.ColumnMapping.Key) =>
        a.withName(a.metadata.getString(Manifest.ColumnMapping.Key))
    }
    val touch = partKept.filter(f => mayMatch(stats(f), physCond))
    val touched = touch.toSet
    (touch, files.filterNot(touched))
  }

  // ---- rendering for Delta stats JSON -----------------------------------

  private val dateFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd")
  private val tsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")
      .withZone(ZoneOffset.UTC)

  /** Render one bound as the JSON fragment Delta's stats schema uses:
    * numbers for numeric kinds, fixed-width ISO strings for date/
    * timestamp (fixed width ⇒ lexicographic order == value order, which
    * is what makes string-compare pruning on them sound), JSON strings
    * for text. Timestamp values are always micros ([[Kind.Ts]]). */
  def renderJson(kind: Kind, value: Any): String =
    kind match {
      case Kind.I64 => value.asInstanceOf[Long].toString
      case Kind.F64 =>
        val d = value.asInstanceOf[Double]
        if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
        else d.toString
      case Kind.Bool => value.asInstanceOf[Boolean].toString
      case Kind.Str => quote(value.asInstanceOf[String])
      case Kind.Date =>
        quote(dateFmt.format(LocalDate.ofEpochDay(value.asInstanceOf[Long])))
      case Kind.Ts(utc, _) =>
        val micros = value.asInstanceOf[Long]
        val inst = Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L)
        quote(tsFmt.format(inst) + (if (utc) "Z" else ""))
    }

  private def quote(s: String): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))

  /** The complete Delta `add.stats` JSON for one file (un-escaped; the
    * caller embeds it as a JSON string). Columns in schema order. */
  def deltaStatsJson(fs: FileStat): String = {
    val withBounds = fs.columns.filter(_._2.min.isDefined)
    val withNulls = fs.columns.filter(_._2.nullCount.isDefined)
    def obj(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "numRecords" -> fs.numRecords.toString,
      "minValues" -> obj(withBounds.map { case (n, c) =>
        n -> renderJson(c.kind, c.min.get) }),
      "maxValues" -> obj(withBounds.map { case (n, c) =>
        n -> renderJson(c.kind, c.max.get) }),
      "nullCount" -> obj(withNulls.map { case (n, c) =>
        n -> c.nullCount.get.toString })))
  }
}
