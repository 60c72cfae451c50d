package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.io.{AvroIO, Manifest}

/** One task's landed files, relative to the epoch staging dir (with
  * their `k=v/` hive segments when the table is partitioned). */
case class GraftStreamFileCommit(files: Seq[String]) extends WriterCommitMessage

/**
 * Native DSv2 streaming write — `df.writeStream.toTable("graft.db.t")`
 * (the standard Structured Streaming lakehouse API; reference tie-in:
 * the land→curated cadence of `dags/example_etl_dag.py:104-106`).
 *
 * Execution shape, designed for the 1000-executor case:
 *
 *  - **Executors write, the driver only renames.** Each epoch's
 *    [[DataWriter]]s stream their partition straight into parquet
 *    files under a per-(query, epoch) staging dir — through Spark's
 *    own `ParquetFileFormat.prepareWrite` factory, so compression,
 *    timestamp rendering and schema serialization are byte-identical
 *    to the batch path. The driver's epoch commit is |files| metadata
 *    renames plus ONE manifest CAS, never a data pass.
 *  - **Exactly-once out of at-least-once epochs.** The epoch's
 *    snapshot id is `stream-q<queryId8>-e<epochId>` — the
 *    per-(queryId, epochId) txn record (Delta's `txn` action shape,
 *    keyed through the manifest itself): a replayed epoch finds its
 *    snapshot already committed and no-ops; a crashed attempt's
 *    partial `data-` dir is abandoned and re-landed. The query id is
 *    stable across restarts of one checkpoint, so restart replays
 *    dedupe; a FRESH checkpoint is a fresh query id, a new writer.
 *  - **Append commits rebase.** The manifest publish carries the head
 *    forward under the same CAS-with-rebase as batch INSERT, so a
 *    stream and concurrent batch writers interleave without loss.
 *  - **Partitioned tables** get true dynamic hive layout: writers
 *    route rows to per-partition-value files (session-timezone value
 *    rendering, hive path escaping — the same contract as the batch
 *    `partitionBy` path), so partition pruning works on streamed data
 *    exactly as on batch data.
 *
 * OutputMode: Append carries forward; Complete (via the builder's
 * `truncate()`) republishes the full result per epoch as an
 * overwrite-class commit. Update is refused (a keyless table cannot
 * apply upserts) — the same contract as the path-based sink.
 */
class GraftStreamingWrite(dir: String, declared: StructType,
    partCols: Seq[String], queryId: String, incoming: StructType,
    overwrite: Boolean) extends StreamingWrite {

  private val qid8 = queryId.replace("-", "").take(8)
  private def stagingRoot = s"${dir.stripSuffix("/")}/.stream-staging-$qid8"
  private def snapOf(epochId: Long): String = s"stream-q$qid8-e$epochId"

  // ---- schema alignment (driver, once) ---------------------------------
  // Resolve every DECLARED column in the incoming frame by name
  // (case-insensitive, Spark's resolution); types must match exactly —
  // the analyzer has already run the by-name cast/reorder for toTable,
  // so a residual mismatch is a real contract violation, not noise.
  private def ordinalOf(name: String): Int = {
    val hits = incoming.fields.zipWithIndex.filter(_._1.name
      .equalsIgnoreCase(name))
    require(hits.size == 1,
      s"graft streaming write: column '$name' of table $dir resolved " +
        s"${hits.size} times in the stream schema " +
        s"${incoming.fieldNames.mkString("(", ", ", ")")}")
    hits.head._2
  }
  private val dataFields = declared.fields.filterNot(f =>
    partCols.exists(_.equalsIgnoreCase(f.name)))
  private val dataOrdinals = dataFields.map(f => ordinalOf(f.name))
  private val partOrdinals = partCols.map(ordinalOf)
  declared.fields.foreach { f =>
    val in = incoming.fields(ordinalOf(f.name))
    require(DataType.equalsIgnoreCaseAndNullability(in.dataType, f.dataType),
      s"graft streaming write: column '${f.name}' is ${f.dataType.sql} " +
        s"in table $dir but ${in.dataType.sql} in the stream - align " +
        "the stream explicitly (cast before writeStream)")
  }
  require(incoming.size == declared.size,
    s"graft streaming write: the stream carries " +
      s"${incoming.size - declared.size} column(s) the table $dir does " +
      "not declare - drop or align them before writeStream")

  // files land under PHYSICAL names (column mapping's one choke point
  // for this path — mirrors Manifest.writeImpl)
  private val physDataSchema =
    Manifest.ColumnMapping.physicalSchema(StructType(dataFields))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    // no epoch is in flight at query (re)start: clear stale staging
    val root = new Path(stagingRoot)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fsys.exists(root)) fsys.delete(root, true)
    // Spark's own parquet write factory: prepareWrite stamps the job
    // conf (schema, legacy-format, timestamp type, codec) exactly as
    // the batch writer does
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physDataSchema)
    new GraftStreamWriterFactory(
      AvroIO.confSnapshot(job.getConfiguration), factory, stagingRoot,
      incoming.json, physDataSchema.json, dataOrdinals, partOrdinals,
      partCols, spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val snap = snapOf(epochId)
    val epochDir = new Path(s"$stagingRoot/e$epochId")
    val fsys = epochDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = messages.collect {
      case m: GraftStreamFileCommit => m.files
    }.flatten.toSeq.sorted
    // replay of an already-committed epoch (restart, retry) is a no-op;
    // otherwise a crashed previous attempt may have promoted files but
    // not committed, and the snapshot id is free again once they're gone
    if (!Manifest.prepareReplay(spark, dir, snap) || files.isEmpty) {
      fsys.delete(epochDir, true)
      return
    }
    val dataDir = new Path(s"${dir.stripSuffix("/")}/data-$snap")
    files.foreach { rel =>
      val from = new Path(epochDir, rel)
      val to = new Path(dataDir, rel)
      fsys.mkdirs(to.getParent)
      if (!fsys.rename(from, to))
        throw new java.io.IOException(
          s"graft streaming write: promote rename failed: $from -> $to")
    }
    Manifest.commitLandedAppend(spark, dir, snap,
      files.map(f => s"data-$snap/$f"), overwrite = overwrite)
    fsys.delete(epochDir, true)
    spark.catalog.refreshByPath(dir)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val epochDir = new Path(s"$stagingRoot/e$epochId")
    epochDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(epochDir, true)
  }

  override def toString: String = s"GraftStreamingWrite[$dir]"
}

/** Executor side: routes each row to its partition's open parquet
  * writer (at most |values seen by this task| writers, the dynamic
  * partitioning shape), projecting data columns into the physical file
  * schema. */
class GraftStreamWriterFactory(confSnap: Array[(String, String)],
    parquetFactory: OutputWriterFactory, stagingRoot: String,
    incomingJson: String, physDataJson: String, dataOrdinals: Seq[Int],
    partOrdinals: Seq[Int], partCols: Seq[String], sessionTz: String)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val incoming = DataType.fromJson(incomingJson).asInstanceOf[StructType]
    val physData = DataType.fromJson(physDataJson).asInstanceOf[StructType]
    val conf = AvroIO.restoreConf(confSnap)
    val epochBase = new Path(s"$stagingRoot/e$epochId")
    val fsys = epochBase.getFileSystem(conf)
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID("graft-stream", partitionId,
        TaskType.MAP, partitionId), taskId.toInt & Int.MaxValue))
    val ext = parquetFactory.getFileExtension(ctx)
    val proj = UnsafeProjection.create(dataOrdinals.map(i =>
      BoundReference(i, incoming(i).dataType, incoming(i).nullable)).toArray
      .asInstanceOf[Array[org.apache.spark.sql.catalyst.expressions.Expression]])
    // hive partition-path rendering: session-timezone cast to string,
    // protocol escaping, NULL → __HIVE_DEFAULT_PARTITION__ — the same
    // contract the batch partitionBy layout produces
    val partRender = partOrdinals.map(i =>
      Cast(BoundReference(i, incoming(i).dataType, incoming(i).nullable),
        StringType, Some(sessionTz)))

    new DataWriter[InternalRow] {
      private val open = scala.collection.mutable.LinkedHashMap
        .empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
      private val done = Seq.newBuilder[String]

      private def relDirOf(row: InternalRow): String =
        partCols.indices.map { k =>
          val v = partRender(k).eval(row)
          val s =
            if (v == null) "__HIVE_DEFAULT_PARTITION__"
            else ExternalCatalogUtils.escapePathName(v.toString)
          s"${partCols(k)}=$s/"
        }.mkString

      override def write(row: InternalRow): Unit = {
        val relDir = relDirOf(row)
        val w = open.getOrElseUpdate(relDir, {
          val rel = f"${relDir}part-$partitionId%05d-t$taskId$ext"
          val p = new Path(epochBase, rel)
          fsys.mkdirs(p.getParent)
          done += rel
          parquetFactory.newInstance(p.toString, physData, ctx)
        })
        w.write(proj(row))
      }

      override def commit(): WriterCommitMessage = {
        open.values.foreach(_.close())
        GraftStreamFileCommit(done.result())
      }

      override def abort(): Unit = {
        open.values.foreach(w => scala.util.Try(w.close()))
        done.result().foreach(rel =>
          scala.util.Try(fsys.delete(new Path(epochBase, rel), false)))
      }

      override def close(): Unit = ()
    }
  }
}
