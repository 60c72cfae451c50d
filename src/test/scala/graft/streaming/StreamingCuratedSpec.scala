package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.io.Manifest

/** The reference's full cadence as ONE streaming job
  * ([[LandIngest.drainLandToCurated]]): land JSONL → gate → curate →
  * manifest-committed curated table, with exactly-once promotion proven
  * under the worst crash — a kill INSIDE the land→publish window. */
class StreamingCuratedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def writeJsonl(dir: Path, file: String, ids: Range): Unit = {
    val lines = ids.map(i => s"""{"id":$i,"name":"row$i"}""").mkString("\n")
    Files.write(dir.resolve(file), lines.getBytes("UTF-8"))
  }

  private def curate(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("name_uc", upper(col("name")))
      .withColumn("version", lit("v7"))

  test("two drain cycles: one append snapshot per micro-batch, curate applied, no re-reads") {
    val base = Files.createTempDirectory("stream_curated")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString

    writeJsonl(land, "week1.jsonl", 0 until 150)
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100)
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0"))
    val c1 = Manifest.read(spark, curated)
    assert(c1.count() === 150)
    assert(c1.filter(col("name_uc") === lit("ROW7") &&
      col("version") === lit("v7")).count() === 1)

    // cycle with nothing new: no batch, no snapshot, no duplicates
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100)
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0"))

    // second cadence cycle: only the delta becomes the next snapshot
    writeJsonl(land, "week2.jsonl", 1000 until 1120)
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100)
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0", "batch-1"))
    val c2 = Manifest.read(spark, curated)
    assert(c2.count() === 270)
    assert(c2.select("id").distinct().count() === 270)
    // time travel: the pre-append snapshot still replays exactly
    assert(Manifest.readAt(spark, curated, "batch-0").count() === 150)
  }

  test("partitioned cadence: each micro-batch appends a hive tree, prunes stay exact") {
    val base = Files.createTempDirectory("stream_part")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString
    def curateLang(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("lang",
        when(col("id") % 2 === 0, lit("de")).otherwise(lit("en")))

    writeJsonl(land, "week1.jsonl", 0 until 150)
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curateLang, minRows = 100, partitionCols = Seq("lang"))
    writeJsonl(land, "week2.jsonl", 1000 until 1120)
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curateLang, minRows = 100, partitionCols = Seq("lang"))

    assert(Manifest.snapshots(spark, curated) === Seq("batch-0", "batch-1"))
    assert(Manifest.currentFiles(spark, curated)
      .forall(_.matches("data-batch-[01]/lang=(de|en)/part-.*\\.parquet")))
    assert(Manifest.read(spark, curated).count() === 270)
    // the partition prune spans BOTH micro-batches' trees
    val de = Manifest.readWherePartitions(spark, curated, Map("lang" -> "de"))
    assert(de.count() === 135)
    assert(de.inputFiles.forall(_.contains("lang=de")))
    assert(de.inputFiles.exists(_.contains("data-batch-0")) &&
      de.inputFiles.exists(_.contains("data-batch-1")))
  }

  test("maintenance: tiny micro-batches trigger exactly ONE compaction; faces stay consistent") {
    val base = Files.createTempDirectory("stream_maint")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString
    // every streamed part file is tiny, so `maxSmallFiles = 3` is the
    // binding constraint: the 4th accreted file must trigger one purge
    val policy = Some(LandIngest.MaintenancePolicy(
      maxFiles = 100, smallFileBytes = 1L << 20,
      maxSmallFiles = 3, targetFileBytes = 1L << 30))
    def drain(): Unit =
      LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
        ckpt, curate, minRows = 100, exportDeltaLog = true,
        exportIceberg = true, maintenance = policy)

    (0 until 5).foreach { i =>
      writeJsonl(land, s"week$i.jsonl", (i * 1000) until (i * 1000 + 150))
      drain()
    }
    val snaps = Manifest.snapshots(spark, curated)
    // batches 0..2 accrete 1..3 small files (under threshold); batch 3
    // pushes to 4 → exactly one maintenance commit; batch 4 then lands
    // on the compacted base (2 files) without re-triggering
    assert(snaps.count(_.startsWith("maint-")) === 1,
      s"exactly one compaction expected, got $snaps")
    assert(snaps === Seq("batch-0", "batch-1", "batch-2", "batch-3",
      "maint-3", "batch-4"))
    assert(Manifest.currentFiles(spark, curated).size === 2)
    // no rows lost or duplicated across the purge
    val cur = Manifest.read(spark, curated)
    assert(cur.count() === 750 && cur.select("id").distinct().count() === 750)
    // both lakehouse faces re-exported AFTER the compaction: they read
    // the SAME state as the manifest, through their own metadata
    assert(graft.io.DeltaLog.read(spark, curated).count() === 750)
    assert(graft.io.IcebergExport.read(spark, curated).count() === 750)
    assert(graft.io.DeltaLog.versions(spark, curated).size === 6)
    // time travel across the purge still replays the retained history
    assert(Manifest.readAt(spark, curated, "batch-2").count() === 450)
    // a rewrite commit refuses the change feed (re-baseline contract)
    intercept[IllegalStateException] {
      Manifest.readChangesSince(spark, curated, "batch-1")
    }
    assert(Manifest.readChangesSince(spark, curated, "maint-3")
      .get.count() === 150)
  }

  test("maintenance on a partitioned cadence keeps the hive layout prunable") {
    val base = Files.createTempDirectory("stream_maint_part")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString
    def curateLang(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("lang",
        when(col("id") % 2 === 0, lit("de")).otherwise(lit("en")))
    val policy = Some(LandIngest.MaintenancePolicy(
      maxFiles = 100, smallFileBytes = 1L << 20, maxSmallFiles = 3))
    def drain(): Unit =
      LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
        ckpt, curateLang, minRows = 100, partitionCols = Seq("lang"),
        maintenance = policy)
    (0 until 2).foreach { i => // 2 part files per batch (de + en)
      writeJsonl(land, s"week$i.jsonl", (i * 1000) until (i * 1000 + 150))
      drain()
    }
    val snaps = Manifest.snapshots(spark, curated)
    assert(snaps.count(_.startsWith("maint-")) === 1, s"got $snaps")
    // the compacted snapshot kept the hive tree: one file per partition
    val files = Manifest.currentFiles(spark, curated)
    assert(files.forall(_.matches("data-maint-1/lang=(de|en)/part-.*\\.parquet")),
      s"compaction must preserve the partition layout: $files")
    assert(files.size === 2)
    val de = Manifest.readWherePartitions(spark, curated, Map("lang" -> "de"))
    assert(de.count() === 150 && de.inputFiles.forall(_.contains("lang=de")))
    assert(Manifest.read(spark, curated).count() === 300)
  }

  test("maintenance with a non-positive targetFileBytes fails naming it") {
    val base = Files.createTempDirectory("stream_maint_bad")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString
    // maxSmallFiles = 0: the first batch's file triggers the compaction
    val policy = Some(LandIngest.MaintenancePolicy(
      smallFileBytes = 1L << 20, maxSmallFiles = 0, targetFileBytes = 0))
    writeJsonl(land, "week0.jsonl", 0 until 150)
    val e = intercept[Exception](
      LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
        ckpt, curate, minRows = 100, maintenance = policy))
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("targetFileBytes")),
      s"expected an IllegalArgumentException naming targetFileBytes: $e")
    // the batch itself committed; the maintenance commit never did
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0"))
  }

  test("kill between curate-landing and manifest publish: replay promotes exactly once") {
    val base = Files.createTempDirectory("stream_curated_kill")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString

    writeJsonl(land, "week1.jsonl", 0 until 150)
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100)
    assert(Manifest.read(spark, curated).count() === 150)

    // week 2 lands; the job is KILLED after the curated data dir landed,
    // immediately before the manifest rename — the widest failure window
    writeJsonl(land, "week2.jsonl", 1000 until 1120)
    var killed = false
    intercept[Exception] {
      LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
        ckpt, curate, minRows = 100,
        beforeCommit = _ => { killed = true; throw new RuntimeException("kill -9") })
    }
    assert(killed)
    // nothing was promoted: the commit point was never reached, readers
    // still see week 1 only — but the orphan data dir IS on disk
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0"))
    assert(Manifest.read(spark, curated).count() === 150)
    assert(new java.io.File(s"$curated/data-batch-1").exists())

    // restart: foreachBatch replays the SAME batch id (checkpoint never
    // advanced), the orphan is reclaimed, the commit lands exactly once
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100)
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0", "batch-1"))
    val out = Manifest.read(spark, curated)
    assert(out.count() === 270)               // no loss
    assert(out.select("id").distinct().count() === 270) // no duplicate
    // and a further idle cycle changes nothing
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100)
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0", "batch-1"))
    assert(Manifest.read(spark, curated).count() === 270)
  }

  test("exportDeltaLog keeps a Delta version per micro-batch, surviving a mid-commit kill") {
    import graft.io.DeltaLog
    val base = Files.createTempDirectory("stream_curated_delta")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString

    writeJsonl(land, "week1.jsonl", 0 until 150)
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100, exportDeltaLog = true, exportIceberg = true)
    assert(DeltaLog.versions(spark, curated) === Seq(0L))
    assert(DeltaLog.read(spark, curated).count() === 150)
    assert(graft.io.IcebergExport.read(spark, curated).count() === 150)

    // kill inside the land→publish window: the manifest did not advance,
    // so the delta log must not either
    writeJsonl(land, "week2.jsonl", 1000 until 1120)
    intercept[Exception] {
      LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
        ckpt, curate, minRows = 100, exportDeltaLog = true,
        beforeCommit = _ => throw new RuntimeException("kill -9"))
    }
    assert(DeltaLog.versions(spark, curated) === Seq(0L))

    // replay: exactly one new manifest commit AND exactly one new delta
    // version; the external (log-reading) view equals the manifest view
    LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
      ckpt, curate, minRows = 100, exportDeltaLog = true, exportIceberg = true)
    assert(Manifest.snapshots(spark, curated) === Seq("batch-0", "batch-1"))
    assert(DeltaLog.versions(spark, curated) === Seq(0L, 1L))
    assert(DeltaLog.activeFiles(spark, curated).sorted ===
      Manifest.currentFiles(spark, curated).sorted)
    assert(DeltaLog.read(spark, curated).count() === 270)
    // time travel through the LOG to the pre-append version
    assert(DeltaLog.readVersion(spark, curated, 0L).count() === 150)
    // the Iceberg face advanced in lockstep: one snapshot per batch
    assert(graft.io.IcebergExport.read(spark, curated).count() === 270)
    assert(graft.io.IcebergExport.readSnapshot(spark, curated, 0L).count() === 150)
  }

  test("the row-count gate fails the batch BEFORE anything lands in the curated table") {
    val base = Files.createTempDirectory("stream_curated_gate")
    val land = Files.createDirectory(base.resolve("land"))
    val curated = base.resolve("curated").toString
    val ckpt = base.resolve("ckpt").toString

    writeJsonl(land, "thin.jsonl", 0 until 40) // < 100: reference gate
    intercept[Exception] {
      LandIngest.drainLandToCurated(spark, land.toString, schema, curated,
        ckpt, curate, minRows = 100)
    }
    // gate fired pre-promotion: the table was never created
    intercept[IllegalArgumentException] { Manifest.read(spark, curated) }
  }
}
