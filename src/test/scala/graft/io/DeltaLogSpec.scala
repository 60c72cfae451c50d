package graft.io

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/**
 * The Delta-protocol export, proven against an INDEPENDENT parse of the
 * log (raw json4s here, not [[DeltaLog]]'s own reader) plus the reader
 * API, across overwrite → append → overwrite → vacuum+checkpoint.
 */
class DeltaLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("deltalog").toString

  private def logFiles(dir: String): Seq[String] = {
    val ld = new java.io.File(dir, "_delta_log")
    if (!ld.exists()) Nil else ld.listFiles().map(_.getName).sorted.toSeq
  }

  private def commitLines(dir: String, v: Long): Seq[JValue] = {
    val f = new java.io.File(new java.io.File(dir, "_delta_log"), f"$v%020d.json")
    assert(f.exists(), s"missing commit json for version $v")
    scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
      .map(JsonMethods.parse(_)).toSeq
  }

  private def field(j: JValue, path: String*): JValue =
    path.foldLeft(j)(_ \ _)

  test("export maps manifest history to protocol-conformant versioned commits") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "s1")
    Manifest.append((101 to 130).toDF("v"), dir, "s2")
    Manifest.write((1 to 40).toDF("v"), dir, "s3")

    val written = DeltaLog.exportLog(spark, dir)
    assert(written == Seq(0L, 1L, 2L))
    // zero-padded 20-digit names, one per commit_seq
    assert(logFiles(dir).filter(_.endsWith(".json")) == Seq(
      "00000000000000000000.json", "00000000000000000001.json",
      "00000000000000000002.json"))

    // version 0: protocol + metaData + full add set, one action per line
    val v0 = commitLines(dir, 0)
    val protos = v0.filter(j => field(j, "protocol") != JNothing)
    assert(protos.size == 1)
    assert(field(protos.head, "protocol", "minReaderVersion") == JInt(1))
    val metas = v0.filter(j => field(j, "metaData") != JNothing)
    assert(metas.size == 1)
    val JString(schemaString) = field(metas.head, "metaData", "schemaString")
    // schemaString is Delta's schema serialization = Spark StructType JSON
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaString)
      .asInstanceOf[StructType]
    assert(schema.fieldNames.toSeq == Seq("v"))
    val JString(fmt) = field(metas.head, "metaData", "format", "provider")
    assert(fmt == "parquet")
    val v0adds = v0.flatMap(j => field(j, "add", "path") match {
      case JString(p) => Some(p); case _ => None })
    assert(v0adds.nonEmpty && v0adds.forall(_.startsWith("data-s1/")))
    // add actions carry real size + modificationTime
    v0.filter(j => field(j, "add") != JNothing).foreach { j =>
      val JInt(sz) = field(j, "add", "size")
      assert(sz > 0)
      assert(field(j, "add", "dataChange") == JBool(true))
    }

    // version 1 (append): adds only, no removes
    val v1 = commitLines(dir, 1)
    assert(v1.forall(j => field(j, "remove") == JNothing))
    val v1adds = v1.flatMap(j => field(j, "add", "path") match {
      case JString(p) => Some(p); case _ => None })
    assert(v1adds.nonEmpty && v1adds.forall(_.startsWith("data-s2/")))

    // version 2 (overwrite): removes every s1+s2 file, adds s3's
    val v2 = commitLines(dir, 2)
    val v2removes = v2.flatMap(j => field(j, "remove", "path") match {
      case JString(p) => Some(p); case _ => None })
    assert(v2removes.toSet == (v0adds ++ v1adds).toSet)
    assert(v2.flatMap(j => field(j, "add", "path") match {
      case JString(p) => Some(p); case _ => None }).forall(_.startsWith("data-s3/")))
  }

  test("reader reconstruction equals the Manifest view at every version") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "s1")
    Manifest.append((101 to 130).toDF("v"), dir, "s2")
    Manifest.write((1 to 40).toDF("v"), dir, "s3")
    DeltaLog.exportLog(spark, dir)

    assert(DeltaLog.versions(spark, dir) == Seq(0L, 1L, 2L))
    // active file set per version == the manifest the version came from
    assert(DeltaLog.activeFiles(spark, dir, Some(0L)).sorted ==
      Manifest.history(spark, dir).head.files.sorted)
    assert(DeltaLog.activeFiles(spark, dir, Some(1L)).sorted ==
      Manifest.history(spark, dir)(1).files.sorted)
    assert(DeltaLog.activeFiles(spark, dir).sorted ==
      Manifest.currentFiles(spark, dir).sorted)
    // row-level equality through the log, latest + time travel
    assert(DeltaLog.read(spark, dir).as[Int].collect().sorted.toSeq == (1 to 40))
    assert(DeltaLog.readVersion(spark, dir, 1L).as[Int].collect().sorted.toSeq ==
      (1 to 130))
  }

  test("incremental re-export writes only missing versions; commits are immutable") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    assert(DeltaLog.exportLog(spark, dir) == Seq(0L))
    val before = new java.io.File(
      new java.io.File(dir, "_delta_log"), "00000000000000000000.json").lastModified()
    Manifest.append((11 to 15).toDF("v"), dir, "s2")
    assert(DeltaLog.exportLog(spark, dir) == Seq(1L))
    val after = new java.io.File(
      new java.io.File(dir, "_delta_log"), "00000000000000000000.json").lastModified()
    assert(before == after, "existing commit json must not be rewritten")
    assert(DeltaLog.exportLog(spark, dir).isEmpty, "nothing new ⇒ no writes")
  }

  test("vacuumed history exports a checkpoint + _last_checkpoint and prunes covered json") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    Manifest.write((1 to 20).toDF("v"), dir, "s2")
    Manifest.write((1 to 30).toDF("v"), dir, "s3")
    DeltaLog.exportLog(spark, dir)
    assert(DeltaLog.versions(spark, dir) == Seq(0L, 1L, 2L))

    Manifest.vacuum(spark, dir, keepLast = 2)
    val written = DeltaLog.exportLog(spark, dir)
    assert(written == Seq(1L), "checkpoint (re)written at oldest retained seq")
    val lf = logFiles(dir)
    assert(lf.contains("00000000000000000001.checkpoint.parquet"))
    assert(lf.contains("_last_checkpoint"))
    assert(!lf.contains("00000000000000000000.json"), "covered commit pruned")
    val lc = JsonMethods.parse(scala.io.Source.fromFile(
      new java.io.File(new java.io.File(dir, "_delta_log"), "_last_checkpoint"),
      "UTF-8").mkString)
    assert(field(lc, "version") == JInt(1))

    // checkpoint parquet carries full state: protocol + metaData + adds
    val ck = spark.read.parquet(
      s"$dir/_delta_log/00000000000000000001.checkpoint.parquet")
    assert(ck.where("protocol IS NOT NULL").count() == 1)
    assert(ck.where("metaData IS NOT NULL").count() == 1)
    assert(ck.where("add IS NOT NULL").count() ==
      Manifest.history(spark, dir).head.files.size)

    // reader starts at the checkpoint and folds forward
    assert(DeltaLog.read(spark, dir).as[Int].collect().sorted.toSeq == (1 to 30))
    assert(DeltaLog.readVersion(spark, dir, 1L).as[Int].collect().sorted.toSeq ==
      (1 to 20))
  }

  test("add actions carry footer stats; bounds agree with a full scan") {
    val dir = tmpDir()
    // range-clustered land: repartitionByRange gives each part file a
    // tight disjoint id range — the zone-map-friendly layout
    Manifest.write(
      spark.range(0, 1000)
        .selectExpr("id", "CAST(NULL AS STRING) AS dead",
          "timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*3600) AS ts")
        .repartitionByRange(5, org.apache.spark.sql.functions.col("id")),
      dir, "s1")
    DeltaLog.exportLog(spark, dir)
    val stats = commitLines(dir, 0).flatMap(j =>
      field(j, "add", "stats") match {
        case JString(s) => Some(JsonMethods.parse(s)); case _ => None
      })
    assert(stats.size == 5, "every add action must carry stats")
    def longs(path: String*) = stats.map(s =>
      path.foldLeft(s)(_ \ _) match { case JInt(n) => n.toLong })
    assert(longs("numRecords").sum == 1000)
    assert(longs("minValues", "id").min == 0)
    assert(longs("maxValues", "id").max == 999)
    // disjoint clustering: per-file ranges must not all span the table
    assert(longs("maxValues", "id").min < 999)
    // all-null column: proven by nullCount, absent from bounds
    stats.foreach { s =>
      assert(s \ "minValues" \ "dead" == JNothing)
      assert(s \ "nullCount" \ "dead" == s \ "numRecords")
    }
    // timestamp bounds render fixed-width ISO (lexicographically sound)
    val tsMins = stats.map(s => s \ "minValues" \ "ts" match {
      case JString(t) => t })
    assert(tsMins.min.startsWith("2020-01-01T00:00:00"))
    assert(tsMins.forall(_.length == tsMins.head.length))
  }

  test("data skipping prunes files by stats and loses no rows") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("id")
        .repartitionByRange(5, org.apache.spark.sql.functions.col("id")),
      dir, "s1")
    DeltaLog.exportLog(spark, dir)
    val all = DeltaLog.activeFiles(spark, dir)
    val kept = DeltaLog.prunedFiles(spark, dir, "id", "100", "299")
    assert(kept.nonEmpty && kept.size < all.size,
      s"bounds must prune some of ${all.size} files, kept ${kept.size}")
    // zone-map contract: pruning + row filter == full scan + row filter
    assert(DeltaLog.readPruned(spark, dir, "id", "100", "299")
      .where("id BETWEEN 100 AND 299").count() == 200)
    // fully-out-of-range: zero files, empty frame, schema intact
    val none = DeltaLog.readPruned(spark, dir, "id", "5000", "9999")
    assert(DeltaLog.prunedFiles(spark, dir, "id", "5000", "9999").isEmpty)
    assert(none.count() == 0 && none.schema.fieldNames.toSeq == Seq("id"))
    // stats survive the checkpoint: vacuum past v0, prune again
    Manifest.write(
      spark.range(1000, 2000).toDF("id")
        .repartitionByRange(5, org.apache.spark.sql.functions.col("id")),
      dir, "s2")
    Manifest.vacuum(spark, dir, keepLast = 1)
    DeltaLog.exportLog(spark, dir)
    val keptCk = DeltaLog.prunedFiles(spark, dir, "id", "1000", "1099")
    assert(keptCk.nonEmpty &&
      keptCk.size < DeltaLog.activeFiles(spark, dir).size,
      "checkpoint add.stats must keep pruning effective")
    assert(DeltaLog.readPruned(spark, dir, "id", "1000", "1099")
      .where("id < 1100").count() == 100)
  }

  test("partitioned tables: partitionColumns + partitionValues in the log, exact prune") {
    val dir = tmpDir()
    val df = spark.sql(
      """SELECT id, CASE CAST(id % 3 AS INT) WHEN 0 THEN 'de'
        |  WHEN 1 THEN 'en' ELSE 'fr' END AS lang
        |FROM range(0, 300)""".stripMargin)
    Manifest.writePartitioned(df, dir, "p1", Seq("lang"))
    DeltaLog.exportLog(spark, dir)
    // metaData: partitionColumns carries the hive column, and the
    // schemaString INCLUDES it (Delta's contract — partition columns
    // are table columns even though the data files don't store them)
    val v0 = commitLines(dir, 0)
    val meta = v0.find(j => field(j, "metaData") != JNothing).get
    assert(field(meta, "metaData", "partitionColumns") ==
      JArray(List(JString("lang"))))
    val JString(schemaStr) = field(meta, "metaData", "schemaString")
    assert(org.apache.spark.sql.types.DataType.fromJson(schemaStr)
      .asInstanceOf[StructType].fieldNames.toSet == Set("id", "lang"))
    // every add action carries its file's partitionValues
    v0.filter(j => field(j, "add") != JNothing).foreach { j =>
      val JString(p) = field(j, "add", "path")
      val JString(l) = field(j, "add", "partitionValues", "lang")
      assert(p.contains(s"lang=$l"))
    }
    // reader: partition prune straight off the log, then basePath read
    val en = DeltaLog.readPartitionPruned(spark, dir, Map("lang" -> "en"))
    assert(en.count() == 100)
    assert(en.inputFiles.forall(_.contains("lang=en")))
    assert(DeltaLog.partitionPrunedFiles(spark, dir, Map("lang" -> "en")).size <
      DeltaLog.activeFiles(spark, dir).size)
    assert(DeltaLog.readPartitionPruned(spark, dir, Map("lang" -> "zz")).count() == 0)
    // partitionValues survive the checkpoint after vacuum
    Manifest.writePartitioned(df.where("id < 150"), dir, "p2", Seq("lang"))
    Manifest.vacuum(spark, dir, keepLast = 1)
    DeltaLog.exportLog(spark, dir)
    val en2 = DeltaLog.readPartitionPruned(spark, dir, Map("lang" -> "en"))
    assert(en2.count() == 50)
    assert(en2.inputFiles.forall(_.contains("lang=en")))
  }

  test("schema evolution: the changing commit carries a fresh metaData action") {
    val dir = tmpDir()
    Manifest.write((1 to 50).toDF("v"), dir, "s1")
    Manifest.write((1 to 60).toDF("v")
      .withColumn("tag", org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("t"), org.apache.spark.sql.functions.col("v"))), dir, "s2")
    Manifest.write((1 to 20).toDF("v")
      .withColumn("tag", org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("u"), org.apache.spark.sql.functions.col("v"))), dir, "s3")
    DeltaLog.exportLog(spark, dir)
    def metasOf(v: Long) = commitLines(dir, v)
      .filter(j => field(j, "metaData") != JNothing)
    assert(metasOf(0).size == 1, "v0 always carries metaData")
    assert(metasOf(1).size == 1, "the schema-changing commit re-declares metaData")
    assert(metasOf(2).isEmpty, "unchanged schema stays silent")
    def schemaFields(j: JValue): Set[String] = {
      val JString(s) = field(j, "metaData", "schemaString")
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[StructType].fieldNames.toSet
    }
    assert(schemaFields(metasOf(0).head) == Set("v"))
    assert(schemaFields(metasOf(1).head) == Set("v", "tag"))
    // reader: last-metaData-wins per version
    assert(DeltaLog.tableSchema(spark, dir, Some(0L)).fieldNames.toSeq == Seq("v"))
    assert(DeltaLog.tableSchema(spark, dir).fieldNames.toSet == Set("v", "tag"))
    assert(DeltaLog.readVersion(spark, dir, 0L).columns.toSeq == Seq("v"))
    assert(DeltaLog.read(spark, dir).columns.toSet == Set("v", "tag"))
  }

  test("clustered compaction tightens bounds: post-OPTIMIZE prune keeps fewer files") {
    val dir = tmpDir()
    // land SHUFFLED: every file spans ~the whole id range, so stats
    // cannot prune anything
    Manifest.write(
      spark.range(0, 2000).toDF("id")
        .repartition(6, org.apache.spark.sql.functions.col("id")),
      dir, "messy")
    DeltaLog.exportLog(spark, dir)
    val before = DeltaLog.prunedFiles(spark, dir, "id", "0", "99")
    assert(before.size == DeltaLog.activeFiles(spark, dir).size,
      "hash-shuffled files all overlap [0,99] - nothing prunable")
    val bytes = Manifest.currentFiles(spark, dir).map(f =>
      new java.io.File(s"$dir/$f").length).sum
    Manifest.compact(spark, dir, "optimized", bytes / 5, clusterBy = Seq("id"))
    DeltaLog.exportLog(spark, dir)
    val after = DeltaLog.prunedFiles(spark, dir, "id", "0", "99")
    assert(after.nonEmpty &&
      after.size < DeltaLog.activeFiles(spark, dir).size,
      s"clustered layout must make the range prunable, kept ${after.size}")
    assert(DeltaLog.readPruned(spark, dir, "id", "0", "99")
      .where("id < 100").count() == 100)
  }

  test("MOR snapshots export as DELETION VECTORS; reads and time travel apply them") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      dir, "base")
    Manifest.deleteRangeMOR(spark, dir, "id", "10", "19", "mor")
    // round 8: the export EMITS the protocol's own MOR encoding instead
    // of refusing — DV files + descriptors on re-added actions, with the
    // protocol upgraded to reader-v3/deletionVectors in the DV commit
    DeltaLog.exportLog(spark, dir)
    val v1 = commitLines(dir, 1L)
    assert(v1.exists(j => j \ "protocol" \ "minReaderVersion" == JInt(3)),
      "the DV-carrying commit must upgrade the protocol")
    assert(v1.exists(j =>
      (j \ "add" \ "deletionVector" \ "storageType") == JString("u")),
      "the delete-targeted file must re-add with a DV descriptor")
    // the read path decodes + applies; time travel BELOW the DV commit
    // reads the pre-delete state (and is now delete-correct everywhere)
    assert(DeltaLog.read(spark, dir).count() == 90)
    assert(DeltaLog.readVersion(spark, dir, 0L).count() == 100)
    // collectors whose file lists would misrepresent a DV table refuse
    intercept[UnsupportedOperationException] {
      DeltaLog.activeFileStats(spark, dir)
    }
    // compaction purges the MOR state; the incremental export resumes
    // plain adds and every collector works again
    Manifest.compact(spark, dir, "purged", Long.MaxValue)
    DeltaLog.exportLog(spark, dir)
    assert(DeltaLog.read(spark, dir).count() == 90)
    assert(DeltaLog.activeFileStats(spark, dir).nonEmpty)
  }

  test("removes repeat the cancelled add's DV descriptor; (path, dvId)-keyed replay is exact") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      dir, "base")
    // two successive MOR deletes hit the SAME file (ids 0-49 cluster in
    // one range file), so its DV descriptor CHANGES between v1 and v2;
    // the compaction at v3 then removes a DV-carrying file outright —
    // the two shapes Delta state reconstruction keys by (path, dvId)
    Manifest.deleteRangeMOR(spark, dir, "id", "10", "19", "mor1")
    Manifest.deleteRangeMOR(spark, dir, "id", "30", "34", "mor2")
    Manifest.compact(spark, dir, "compacted", Long.MaxValue)
    DeltaLog.exportLog(spark, dir)

    def dvId(j: JValue, action: String): Option[String] =
      field(j, action, "deletionVector", "pathOrInlineDv") match {
        case JString(s) => Some(s); case _ => None
      }
    // v1: the file had NO prior DV — its remove must carry none
    val v1 = commitLines(dir, 1)
    assert(v1.exists(j => field(j, "remove") != JNothing))
    assert(v1.forall(j => dvId(j, "remove").isEmpty))
    val v1add = v1.flatMap(dvId(_, "add"))
    assert(v1add.size == 1, "v1 re-adds the file with its first DV")
    // v2 (second MOR delete, DV changes): the remove must repeat the
    // OLD descriptor — a bare remove would only cancel (path, null) and
    // a (path, dvId)-keyed replay would keep BOTH adds live
    val v2 = commitLines(dir, 2)
    val v2rm = v2.flatMap(dvId(_, "remove"))
    assert(v2rm == v1add, "remove must carry the descriptor it cancels")
    val v2add = v2.flatMap(dvId(_, "add"))
    assert(v2add.size == 1 && v2add != v1add, "the re-add carries the NEW DV")
    // v3 (compaction removes the DV-carrying file): descriptor repeated
    val v3 = commitLines(dir, 3)
    assert(v3.flatMap(dvId(_, "remove")) == v2add)

    // independent (path, dvUniqueId)-keyed state reconstruction — the
    // keying delta-spark's InMemoryLogReplay uses
    val state = scala.collection.mutable.Set[(String, Option[String])]()
    (0L to 3L).foreach { v =>
      commitLines(dir, v).foreach { j =>
        field(j, "remove", "path") match {
          case JString(p) => state -= (p -> dvId(j, "remove"))
          case _ =>
        }
        field(j, "add", "path") match {
          case JString(p) => state += (p -> dvId(j, "add"))
          case _ =>
        }
      }
    }
    assert(state.map(_._1) == DeltaLog.activeFiles(spark, dir).toSet,
      "keyed replay must agree with the reader — no resurrected (path, dv) pairs")
    assert(state.forall(_._2.isEmpty), "compaction purged every DV")
    assert(DeltaLog.read(spark, dir).count() == 85)
  }

  test("change data feed: cdc actions serve row-level changes across rewrite commits") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      dir, "base")
    Manifest.deleteRange(spark, dir, "id", "10", "19", "cut") // COW rewrite
    Manifest.append((1000L to 1009L).toDF("id"), dir, "more")
    DeltaLog.exportLog(spark, dir, changeData = true)
    // the file-diff reader REFUSES to span the rewrite — that fencing is
    // exactly what the CDF export exists to relieve
    intercept[IllegalStateException] {
      Manifest.readChangesSince(spark, dir, "base")
    }
    val ch = DeltaLog.readChanges(spark, dir, 0L)
    assert(ch.where("_change_type = 'delete'")
      .select("id").as[Long].collect().sorted.toSeq == (10L to 19L))
    assert(ch.where("_change_type = 'insert'")
      .select("id").as[Long].collect().sorted.toSeq == (1000L to 1009L))
    // per-version attribution: v1 = the COW delete, v2 = the append
    // (derived from adds — no cdc actions on an append-only commit)
    assert(ch.where("_commit_version = 1 AND _change_type = 'delete'").count() == 10)
    assert(ch.where("_commit_version = 2").count() == 10)
    assert(commitLines(dir, 2).forall(j => field(j, "cdc") == JNothing))
    // EXTERNAL-style read: raw cdc actions + direct parquet must match
    // the keyed changelog of the same two snapshots
    val v1cdc = commitLines(dir, 1).flatMap(j => field(j, "cdc", "path") match {
      case JString(p) => Some(p); case _ => None
    })
    assert(v1cdc.nonEmpty, "the rewrite commit must carry cdc actions")
    val external = spark.read.parquet(v1cdc.map(p => s"$dir/$p"): _*)
    val diff = graft.ops.Merge.diffSnapshots(
      Manifest.readAt(spark, dir, "base"), Manifest.readAt(spark, dir, "cut"), "id")
    assert(external.where("_change_type = 'delete'").select("id")
      .as[Long].collect().sorted.toSeq ==
      diff.where("op = 'D'").select("id").as[Long].collect().sorted.toSeq)
    assert(external.count() == 10, "the rewrite's carried rows must NOT reappear")
    // pure compaction: zero row changes — the cdc action still exists
    // (an empty change file), so readers never derive bogus inserts
    // from the re-packed adds
    Manifest.compact(spark, dir, "packed", Long.MaxValue)
    DeltaLog.exportLog(spark, dir, changeData = true)
    val v3cdc = commitLines(dir, 3).flatMap(j => field(j, "cdc", "path") match {
      case JString(p) => Some(p); case _ => None
    })
    assert(v3cdc.nonEmpty)
    assert(spark.read.parquet(v3cdc.map(p => s"$dir/$p"): _*).count() == 0)
    assert(DeltaLog.readChanges(spark, dir, 2L).count() == 0)
    // a rewrite exported WITHOUT changeData still fails loudly
    val dir2 = tmpDir()
    Manifest.write((1 to 50).toDF("v"), dir2, "b")
    Manifest.write((1 to 20).toDF("v"), dir2, "ow")
    DeltaLog.exportLog(spark, dir2)
    val ex = intercept[UnsupportedOperationException] {
      DeltaLog.readChanges(spark, dir2, 0L)
    }
    assert(ex.getMessage.contains("changeData"))
  }

  test("readChanges applies DV descriptors on adds-only windows (no deleted rows as inserts)") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      dir, "base")
    Manifest.deleteRangeMOR(spark, dir, "id", "10", "19", "mor")
    // keep only the MOR snapshot: its export is ONE adds-only version
    // whose adds carry deletionVector descriptors (the ADVICE r9
    // scenario — also the shape of a foreign log's DV-carrying appends)
    Manifest.vacuum(spark, dir, keepLast = 1)
    DeltaLog.exportLog(spark, dir)
    val ch = DeltaLog.readChanges(spark, dir, 0L)
    assert(ch.where("_change_type = 'insert'").select("id")
      .as[Long].collect().sorted.toSeq ==
      ((0L to 9L) ++ (20L to 99L)),
      "DV-deleted rows must not be reported as inserts")
  }

  test("incremental CDF upgrade: fresh metaData + protocol ride the first new commit") {
    val dir = tmpDir()
    Manifest.write((1 to 50).toDF("v"), dir, "b")
    DeltaLog.exportLog(spark, dir) // exported WITHOUT changeData
    // nothing new to carry the configuration upgrade: loud, never a
    // feed foreign readers refuse while _change_data silently exists
    val ex = intercept[IllegalArgumentException] {
      DeltaLog.exportLog(spark, dir, changeData = true)
    }
    assert(ex.getMessage.contains("re-export"))
    Manifest.append((51 to 60).toDF("v"), dir, "more")
    DeltaLog.exportLog(spark, dir, changeData = true)
    val v1 = commitLines(dir, 1)
    assert(v1.exists(j =>
      field(j, "metaData", "configuration", "delta.enableChangeDataFeed") ==
        JString("true")),
      "the first newly exported version must carry the CDF configuration")
    assert(v1.exists(j => field(j, "protocol", "minWriterVersion") == JInt(4)),
      "the protocol must declare the changeDataFeed-capable writer version")
    // once declared, later incremental exports stay silent
    Manifest.append((61 to 65).toDF("v"), dir, "more2")
    DeltaLog.exportLog(spark, dir, changeData = true)
    assert(commitLines(dir, 2).forall(j => field(j, "metaData") == JNothing))
    assert(DeltaLog.readChanges(spark, dir, 0L)
      .where("_change_type = 'insert'").count() == 15)
  }

  test("unreferenced deletion-vector files reclaim after the grace window") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      dir, "base")
    Manifest.deleteRangeMOR(spark, dir, "id", "10", "19", "mor")
    DeltaLog.exportLog(spark, dir)
    def dvFiles = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("deletion_vector_")).toSeq
    assert(dvFiles.size == 1)
    // purge the MOR state and drop its version from retained history
    Manifest.compact(spark, dir, "purged", Long.MaxValue)
    Manifest.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    DeltaLog.exportLog(spark, dir)
    // unreferenced but YOUNG: the grace window protects a concurrent
    // exporter's in-flight DV
    assert(dvFiles.size == 1)
    val past = System.currentTimeMillis() - 2 * 3600000L
    dvFiles.foreach(f => assert(f.setLastModified(past)))
    DeltaLog.exportLog(spark, dir)
    assert(dvFiles.isEmpty, "aged unreferenced DV must be reclaimed")
    assert(DeltaLog.read(spark, dir).count() == 90)
  }

  test("multi-part checkpoints (foreign writers) reconstruct exactly") {
    val dir = tmpDir()
    (1 to 3).foreach(i =>
      if (i == 1) Manifest.write((1 to 40).toDF("v"), dir, s"s$i")
      else Manifest.append(((i * 100) to (i * 100 + 9)).toDF("v"), dir, s"s$i"))
    Manifest.vacuum(spark, dir, keepLast = 2)
    DeltaLog.exportLog(spark, dir) // writes the single-file checkpoint
    val ld = new java.io.File(dir, "_delta_log")
    val single = ld.listFiles
      .find(_.getName.endsWith(".checkpoint.parquet")).get
    val v = single.getName.stripSuffix(".checkpoint.parquet").toLong
    // split the checkpoint into TWO part files the way a foreign writer
    // names them, drop the single file, point _last_checkpoint at parts
    val rows = spark.read.parquet(single.toString).collect().toSeq
    val schema = spark.read.parquet(single.toString).schema
    def writePart(part: Int, slice: Seq[org.apache.spark.sql.Row]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ckptpart").toString + "/out"
      spark.createDataFrame(
        spark.sparkContext.parallelize(slice, 1), schema)
        .coalesce(1).write.parquet(tmp)
      val p = new java.io.File(tmp).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath, new java.io.File(ld,
        f"$v%020d.checkpoint.$part%010d.${2}%010d.parquet").toPath)
    }
    val (h1, h2) = rows.splitAt(rows.size / 2)
    writePart(1, h1); writePart(2, h2)
    assert(single.delete())
    new java.io.File(ld, s".${single.getName}.crc").delete()
    val lc = new java.io.File(ld, "_last_checkpoint")
    val w = new java.io.PrintWriter(lc)
    try w.write(s"""{"version":$v,"size":${rows.size},"parts":2}""")
    finally w.close()
    new java.io.File(ld, "._last_checkpoint.crc").delete()
    // reconstruction reads BOTH parts: counts and schema exact
    assert(DeltaLog.read(spark, dir).count() == 50 + 10)
    assert(DeltaLog.activeFiles(spark, dir).nonEmpty)
    assert(DeltaLog.tableSchema(spark, dir).fieldNames.toSeq == Seq("v"))
  }

  test("timestamp time travel resolves through the manifests' own commit instants") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    Manifest.write((1 to 25).toDF("v"), dir, "s2")
    DeltaLog.exportLog(spark, dir)
    val vts = DeltaLog.versionTimestamps(spark, dir)
    assert(vts.map(_._1) == Seq(0L, 1L))
    assert(vts(0)._2 < vts(1)._2, "commitInfo must carry COMMIT instants")
    assert(DeltaLog.readVersionAsOf(spark, dir, mid).count() == 10)
    assert(DeltaLog.readVersionAsOf(spark, dir,
      System.currentTimeMillis()).count() == 25)
    intercept[IllegalArgumentException] {
      DeltaLog.readVersionAsOf(spark, dir, vts(0)._2 - 1000)
    }
    // a LATE export still reports the original commit times, not its own
    assert(vts(1)._2 < System.currentTimeMillis() + 1)
  }

  test("append-only streaming cadence: each commit exports as an APPEND of new files") {
    val dir = tmpDir()
    Manifest.write((1 to 5).toDF("v"), dir, "b0")
    (1 to 3).foreach(i => Manifest.append(((i * 10) to (i * 10 + 4)).toDF("v"), dir, s"b$i"))
    DeltaLog.exportLog(spark, dir)
    (1L to 3L).foreach { v =>
      val lines = commitLines(dir, v)
      assert(lines.forall(j => field(j, "remove") == JNothing))
      val JString(op) = field(
        lines.find(j => field(j, "commitInfo") != JNothing).get, "commitInfo", "operation")
      assert(op == "APPEND")
    }
    assert(DeltaLog.read(spark, dir).count() == 20)
  }

  test("10k-file log resolves as Spark jobs; collects only what survives the prune") {
    val dir = tmpDir()
    val ld = new java.io.File(dir, "_delta_log"); ld.mkdirs()
    // hand-authored log at file-count scale (no data files needed):
    // v0 adds 6000 files, v1 removes the first 1000 and adds 5000 more
    // — 10000 active, each with id bounds [i*100, i*100+99] and a
    // partition value b = i % 7
    def statsJ(i: Long) =
      s"""{\\"numRecords\\":100,\\"minValues\\":{\\"id\\":${i * 100}},""" +
        s"""\\"maxValues\\":{\\"id\\":${i * 100 + 99}},\\"nullCount\\":{\\"id\\":0}}"""
    def addLine(i: Long) =
      s"""{"add":{"path":"f-$i.parquet","partitionValues":{"b":"${i % 7}"},""" +
        s""""size":10,"modificationTime":1,"dataChange":true,"stats":"${statsJ(i)}"}}"""
    def removeLine(i: Long) =
      s"""{"remove":{"path":"f-$i.parquet","deletionTimestamp":2,"dataChange":true}}"""
    val schemaStr = JsonMethods.compact(JsonMethods.render(JString(
      new StructType().add("id", "long").json)))
    val metaLine =
      s"""{"metaData":{"id":"t0","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaStr,"partitionColumns":["b"],""" +
        s""""configuration":{},"createdTime":1}}"""
    def writeCommit(v: Long, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(ld, f"$v%020d.json"))
      try lines.foreach(w.println) finally w.close()
    }
    writeCommit(0L,
      Seq("""{"commitInfo":{"timestamp":1000,"operation":"WRITE","operationParameters":{}}}""",
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaLine) ++ (0L until 6000L).map(addLine))
    writeCommit(1L,
      Seq("""{"commitInfo":{"timestamp":2000,"operation":"WRITE","operationParameters":{}}}""") ++
        (0L until 1000L).map(removeLine) ++ (6000L until 11000L).map(addLine))

    // the replay must run as SPARK JOBS (executor-side fold), not a
    // driver loop over 11k JSON lines
    spark.sparkContext.setJobGroup("graft-replay", "synthetic log replay", false)
    val files = try DeltaLog.activeFiles(spark, dir)
      finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("graft-replay").nonEmpty,
      "active-file resolution must run as Spark jobs")
    assert(files.size == 10000)
    assert(!files.contains("f-0.parquet") && !files.contains("f-999.parquet"))
    assert(files.contains("f-1000.parquet") && files.contains("f-10999.parquet"))
    // bounds prune filters INSIDE the frame: only the 10 overlapping
    // files are collected
    assert(DeltaLog.prunedFiles(spark, dir, "id", "500000", "500999").sorted ==
      (5000 to 5009).map(i => s"f-$i.parquet").sorted)
    // partition prune likewise collects only the matching slice
    val pp = DeltaLog.partitionPrunedFiles(spark, dir, Map("b" -> "3"))
    assert(pp.toSet == (1000L until 11000L).filter(_ % 7 == 3)
      .map(i => s"f-$i.parquet").toSet)
    // time travel to v0 sees the pre-remove state; timestamps resolve
    assert(DeltaLog.activeFiles(spark, dir, Some(0L)).size == 6000)
    assert(DeltaLog.versionTimestamps(spark, dir) ==
      Seq(0L -> 1000L, 1L -> 2000L))
    assert(DeltaLog.tableSchema(spark, dir).fieldNames.toSeq == Seq("id"))
  }

  test("action paths percent-encode on export and decode on read (hive-escaped partitions)") {
    // partition values that hive-escape to literal %XX in the dir name
    // (':' → %3A, ' ' → %20); ADVICE r12: writing the RAW on-disk path
    // while decoding on read mangles graft's own export round-trip
    val dir = tmpDir()
    val df = Seq((1, "a:b"), (2, "p 1"), (3, "plain")).toDF("v", "k")
    Manifest.writePartitioned(df, dir, "s1", Seq("k"))
    DeltaLog.exportLog(spark, dir)
    // the serialized add.path must be URI-encoded (the raw dir has a
    // literal '%' which must double-encode to %25)
    val addPaths = commitLines(dir, 0)
      .map(j => field(j, "add", "path"))
      .collect { case JString(p) => p }
    assert(addPaths.nonEmpty)
    assert(addPaths.exists(_.contains("%253A")),
      s"hive-escaped ':' (%3A on disk) must export as %%253A, got $addPaths")
    // graft's own conformant reader resolves the encoded paths back
    val back = DeltaLog.read(spark, dir)
    assert(back.orderBy("v").collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a:b"), (2, "p 1"), (3, "plain")))
    // append across the escape keeps incremental commits readable too
    Manifest.append(Seq((4, "x:y")).toDF("v", "k"), dir, "s2")
    DeltaLog.exportLog(spark, dir)
    assert(DeltaLog.read(spark, dir).count() == 4)
  }
}
