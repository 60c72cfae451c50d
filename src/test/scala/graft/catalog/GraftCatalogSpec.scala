package graft.catalog

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.io.Manifest

/**
 * The V2 TableCatalog face: named graft tables under a warehouse root,
 * driven end-to-end through plain SQL — namespace CRUD, CREATE/CTAS/
 * DROP/SHOW/DESCRIBE, INSERT (append/overwrite/column list), SQL time
 * travel (`VERSION AS OF` / `TIMESTAMP AS OF`), row-level DML, LOCATION
 * registration of an existing path table, and the loud refusals. Also
 * asserts the performance contract: a catalog read executes as the
 * same vectorized `FileSourceScanExec` over the manifest FileIndex the
 * path face uses, partition-pruned.
 */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestBase.session
    val wh = java.nio.file.Files.createTempDirectory("graftwh").toString
    s.conf.set("spark.sql.catalog.gcat", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    s
  }
  import spark.implicits._

  private def sql(q: String) = spark.sql(q)

  test("namespace CRUD and SHOW NAMESPACES") {
    sql("CREATE NAMESPACE gcat.nsa")
    sql("CREATE NAMESPACE gcat.nsb")
    assert(sql("SHOW NAMESPACES IN gcat").collect().map(_.getString(0)).toSet
      .contains("nsa"))
    intercept[Exception](sql("CREATE NAMESPACE gcat.nsa"))
    sql("CREATE TABLE gcat.nsb.keep (x INT) USING graft")
    intercept[Exception](sql("DROP NAMESPACE gcat.nsb")) // non-empty
    sql("DROP NAMESPACE gcat.nsb CASCADE")
    assert(!sql("SHOW NAMESPACES IN gcat").collect()
      .map(_.getString(0)).contains("nsb"))
  }

  test("CREATE TABLE, empty read, INSERT append/overwrite, column-list INSERT") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.t1 (id BIGINT, name STRING, v DOUBLE) USING graft")
    // declared-but-empty table reads as zero rows WITH the schema
    val empty = sql("SELECT * FROM gcat.db.t1")
    assert(empty.columns.toSeq == Seq("id", "name", "v"))
    assert(empty.count() == 0)
    sql("INSERT INTO gcat.db.t1 VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    sql("INSERT INTO gcat.db.t1 (name, id, v) VALUES ('c', 3, 3.5)") // by list
    assert(sql("SELECT * FROM gcat.db.t1").count() == 3)
    assert(sql("SELECT name FROM gcat.db.t1 WHERE id = 3").collect()
      .head.getString(0) == "c")
    sql("INSERT OVERWRITE gcat.db.t1 VALUES (9, 'z', 0.0)")
    assert(sql("SELECT * FROM gcat.db.t1").count() == 1)
    // the pre-overwrite state is still one commit back (seqs start at 0)
    assert(sql("SELECT * FROM gcat.db.t1 VERSION AS OF 1").count() == 3)
  }

  test("CTAS partitioned: SHOW TABLES, DESCRIBE, pruned vectorized scan") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    spark.range(0, 400).toDF("id")
      .withColumn("seg", org.apache.spark.sql.functions.expr(
        "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END"))
      .createOrReplaceTempView("ctas_src")
    sql("CREATE TABLE gcat.db.parted USING graft PARTITIONED BY (seg) " +
      "AS SELECT id, seg FROM ctas_src")
    assert(sql("SHOW TABLES IN gcat.db").collect()
      .map(_.getString(1)).contains("parted"))
    // declared column order survives the hive layout's reordering
    assert(sql("SELECT * FROM gcat.db.parted").columns.toSeq == Seq("id", "seg"))
    assert(sql("DESCRIBE TABLE gcat.db.parted").collect()
      .map(_.getString(0)).contains("# Partition Information"))
    val q = sql("SELECT id FROM gcat.db.parted WHERE seg = 'e'")
    assert(q.count() == 200)
    // the catalog read IS the vectorized path-face scan, partition-pruned
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "catalog read must plan as FileSourceScanExec")
    assert(scans.head.relation.location.isInstanceOf[graft.sources.GraftFileIndex])
    val files = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files)
    assert(files.forall(_.getPath.toString.contains("seg=e")),
      "partition filter must prune at the manifest file list")
  }

  test("SQL time travel: VERSION AS OF seq + snapshot id, TIMESTAMP AS OF") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    Seq(1, 2, 3).toDF("v").createOrReplaceTempView("tt_src")
    sql("CREATE TABLE gcat.db.tt USING graft AS SELECT v FROM tt_src")
    sql("INSERT INTO gcat.db.tt VALUES (4), (5)")
    assert(sql("SELECT count(*) AS n FROM gcat.db.tt").collect().head.getLong(0) == 5)
    assert(sql("SELECT count(*) FROM gcat.db.tt VERSION AS OF 0")
      .collect().head.getLong(0) == 3)
    // snapshot-id form of VERSION AS OF
    val whDir = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val snaps = Manifest.snapshots(spark, s"$whDir/db/tt")
    assert(sql(s"SELECT count(*) FROM gcat.db.tt VERSION AS OF '${snaps.head}'")
      .collect().head.getLong(0) == 3)
    assert(sql("SELECT count(*) FROM gcat.db.tt TIMESTAMP AS OF '2099-01-01'")
      .collect().head.getLong(0) == 5)
    intercept[Exception](
      sql("SELECT * FROM gcat.db.tt VERSION AS OF 999").collect())
  }

  test("row-level DML through catalog names: DELETE, UPDATE, MERGE") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    spark.range(0, 100).toDF("id")
      .withColumn("v", $"id".cast("double"))
      .createOrReplaceTempView("dml_src")
    sql("CREATE TABLE gcat.db.dml USING graft AS SELECT id, v FROM dml_src")
    sql("DELETE FROM gcat.db.dml WHERE id >= 90")
    assert(sql("SELECT count(*) FROM gcat.db.dml").collect().head.getLong(0) == 90)
    sql("UPDATE gcat.db.dml SET v = v * 2 WHERE id < 10")
    assert(sql("SELECT sum(v) FROM gcat.db.dml WHERE id < 10")
      .collect().head.getDouble(0) == 90.0)
    Seq((1L, 100.0), (200L, 1.0)).toDF("id", "nv")
      .createOrReplaceTempView("dml_merge_src")
    sql("""MERGE INTO gcat.db.dml t USING dml_merge_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
          |""".stripMargin)
    assert(sql("SELECT v FROM gcat.db.dml WHERE id = 1")
      .collect().head.getDouble(0) == 100.0)
    assert(sql("SELECT count(*) FROM gcat.db.dml").collect().head.getLong(0) == 91)
  }

  test("LOCATION registers an existing path table; both faces see the same data") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val ext = java.nio.file.Files.createTempDirectory("graftext").toString
    Manifest.write(Seq((1, "x"), (2, "y")).toDF("k", "s"), ext, "base")
    sql(s"CREATE TABLE gcat.db.linked USING graft LOCATION '$ext'")
    assert(sql("SELECT * FROM gcat.db.linked").count() == 2)
    // a path-face write is immediately visible under the name
    Manifest.append(Seq((3, "z")).toDF("k", "s"), ext, "more")
    assert(sql("SELECT * FROM gcat.db.linked").count() == 3)
    // registering a location with no committed table refuses loudly
    val hollow = java.nio.file.Files.createTempDirectory("graftnone").toString
    val e = intercept[Exception](
      sql(s"CREATE TABLE gcat.db.hollow USING graft LOCATION '$hollow'"))
    assert(e.getMessage.contains("no committed graft snapshot"))
  }

  test("DML on a declared-but-empty table: DELETE/UPDATE no-op, MERGE is the initial load") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.fresh (k INT, v DOUBLE) USING graft")
    // no commits yet: DELETE and UPDATE are well-defined no-ops
    sql("DELETE FROM gcat.db.fresh WHERE k = 1")
    sql("UPDATE gcat.db.fresh SET v = 0 WHERE k = 1")
    assert(sql("SELECT * FROM gcat.db.fresh").count() == 0)
    // MERGE INTO the empty table = the initial load
    Seq((1, 1.5), (2, 2.5)).toDF("k", "nv")
      .createOrReplaceTempView("fresh_src")
    sql("""MERGE INTO gcat.db.fresh t USING fresh_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)
          |""".stripMargin)
    assert(sql("SELECT sum(v) FROM gcat.db.fresh").collect()
      .head.getDouble(0) == 4.0)
  }

  test("VERSION AS OF resolves an all-digit snapshot NAME when no seq matches") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val whDir = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    sql("CREATE TABLE gcat.db.numsnap (v INT) USING graft")
    graft.io.Manifest.write(Seq(1, 2, 3).toDF("v"),
      s"$whDir/db/numsnap", "20260101") // snapshot NAMED by digits, seq 0
    graft.io.Manifest.append(Seq(4).toDF("v"),
      s"$whDir/db/numsnap", "later")
    // seq takes precedence when one matches...
    assert(sql("SELECT count(*) FROM gcat.db.numsnap VERSION AS OF 0")
      .collect().head.getLong(0) == 3)
    // ...and a non-seq digit string falls back to the snapshot id
    assert(sql("SELECT count(*) FROM gcat.db.numsnap VERSION AS OF '20260101'")
      .collect().head.getLong(0) == 3)
  }

  test("CALL procedures: compact, vacuum, export_delta, export_iceberg via SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val whDir = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val dir = s"$whDir/db/maint"
    // a fragmented history: 1 base + 3 appends = 4 commits, many files
    Manifest.write(spark.range(0, 1000).toDF("id")
      .repartition(8), dir, "base")
    (1 to 3).foreach(i =>
      Manifest.append(Seq(10000L + i).toDF("id"), dir, s"a$i"))
    assert(Manifest.currentFiles(spark, dir).size >= 11)
    // compact through SQL: one row back with the new snapshot's stats
    val c = sql("CALL gcat.system.compact(table => 'db.maint')").collect()
    assert(c.head.schema.fieldNames.toSeq == Seq("snapshot", "files"))
    assert(sql("SELECT count(*) FROM gcat.db.maint")
      .collect().head.getLong(0) == 1003)
    assert(Manifest.currentFiles(spark, dir).size < 11)
    // vacuum drops the pre-compaction snapshots
    val v = sql("CALL gcat.system.vacuum(table => 'db.maint', " +
      "keep_last => 1, orphan_grace_ms => 0)").collect()
    assert(v.head.getLong(0) > 0, "vacuum must reclaim the old data dirs")
    assert(Manifest.snapshots(spark, dir).size == 1)
    // both lakehouse exports run and report
    assert(sql("CALL gcat.system.export_delta(table => 'db.maint')")
      .collect().head.getLong(0) >= 1)
    assert(sql("CALL gcat.system.export_iceberg(table => 'db.maint')")
      .collect().head.getInt(0) >= 1)
    // the exported delta log reads back the compacted state
    assert(graft.io.DeltaLog.read(spark, dir).count() == 1003)
    // unknown procedure and missing table refuse loudly
    val e1 = intercept[Exception](
      sql("CALL gcat.system.frobnicate(table => 'db.maint')"))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(e1).contains("frobnicate"),
      "the unknown-procedure refusal must name the procedure")
    val e2 = intercept[Exception](
      sql("CALL gcat.system.compact(table => 'db.missing')").collect())
    assert(e2.getMessage.contains("no table"))
  }

  test("CALL compact repairs a mixed layout to the DECLARED partitioning; " +
      "qualified names and explicit size targets behave") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val whDir = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    spark.range(0, 100).toDF("id")
      .withColumn("k", org.apache.spark.sql.functions.expr("id % 2"))
      .createOrReplaceTempView("rep_src")
    sql("CREATE TABLE gcat.db.rep USING graft PARTITIONED BY (k) " +
      "AS SELECT id, k FROM rep_src")
    // a path-side append WITHOUT partitionBy demotes the layout to mixed
    Manifest.append(Seq((9999L, 0L)).toDF("id", "k"), s"$whDir/db/rep", "flat")
    assert(!Manifest.currentFiles(spark, s"$whDir/db/rep")
      .forall(_.contains("k=")), "fixture must be mixed-layout")
    // compact via the CATALOG-QUALIFIED name: declared partitioning wins
    // and the layout is repaired, not finalized flat
    sql("CALL gcat.system.compact(table => 'gcat.db.rep')")
    assert(Manifest.currentFiles(spark, s"$whDir/db/rep")
      .forall(_.contains("k=")),
      "compact must repair the table back to its declared hive layout")
    assert(sql("SELECT count(*) FROM gcat.db.rep WHERE k = 0")
      .collect().head.getLong(0) == 51)
    // an explicit size target on a partitioned layout refuses loudly
    val e = intercept[Exception](sql(
      "CALL gcat.system.compact(table => 'db.rep', " +
        "target_file_bytes => 1048576)"))
    assert(e.getMessage.contains("not configurable"))
  }

  test("readStream.table streams a DECLARED-but-empty table from creation") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.cdc (v INT) USING graft")
    val out = java.nio.file.Files.createTempDirectory("gcatcdc").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("gcatcdc-ckpt").toString
    def drain(): Unit =
      spark.readStream.table("gcat.db.cdc")
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    // empty history: the stream idles (no batch, no sink table yet)
    drain()
    assert(Manifest.history(spark, out).isEmpty)
    // rows arrive: the same checkpoint picks them up
    sql("INSERT INTO gcat.db.cdc VALUES (1), (2)")
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("CALL compact preserves a hive-partitioned layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val whDir = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val dir = s"$whDir/db/pmaint"
    Manifest.writePartitioned(
      spark.range(0, 200).toDF("id")
        .withColumn("k", org.apache.spark.sql.functions.expr("id % 2"))
        .repartition(6),
      dir, "base", Seq("k"))
    Manifest.appendPartitioned(
      Seq((9999L, 0L)).toDF("id", "k"), dir, "a1", Seq("k"))
    sql("CALL gcat.system.compact(table => 'db.pmaint')")
    assert(Manifest.currentFiles(spark, dir).forall(_.contains("k=")),
      "compaction must keep the hive layout")
    assert(sql("SELECT count(*) FROM gcat.db.pmaint WHERE k = 0")
      .collect().head.getLong(0) == 101)
  }

  test("readStream.table streams a catalog table by NAME (commit-seq offsets)") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val whDir = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    Seq(1, 2, 3).toDF("v").createOrReplaceTempView("st_src")
    sql("CREATE TABLE gcat.db.streamed USING graft AS SELECT v FROM st_src")
    val out = java.nio.file.Files.createTempDirectory("gcatstream").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("gcatstream-ckpt").toString
    def drain(): Unit =
      spark.readStream.table("gcat.db.streamed")
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // new commits stream incrementally; SQL INSERT feeds the stream
    sql("INSERT INTO gcat.db.streamed VALUES (4), (5)")
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq == (1 to 5))
    // a maintenance rewrite mid-stream: skipChangeCommits passes through
    sql("CALL gcat.system.compact(table => 'db.streamed')")
    sql("INSERT INTO gcat.db.streamed VALUES (6)")
    def drainSkip(): Unit =
      spark.readStream.option("skipChangeCommits", "true")
        .table("gcat.db.streamed")
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drainSkip()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq == (1 to 6),
      "compaction skipped, append served once")
  }

  test("writeStream.toTable lands native epoch commits (STREAMING_WRITE)") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.ssrc USING graft AS SELECT * FROM VALUES (1), (2), (3) AS t(v)")
    sql("CREATE TABLE gcat.db.sdst (v INT) USING graft")
    val ckpt = java.nio.file.Files.createTempDirectory("toTable-ckpt").toString
    def drain(): Unit =
      spark.readStream.table("gcat.db.ssrc")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gcat.db.sdst").awaitTermination()
    drain()
    assert(sql("SELECT v FROM gcat.db.sdst").collect().map(_.getInt(0))
      .sorted.toSeq == Seq(1, 2, 3))
    // incremental: new source commits stream as fresh epoch appends
    sql("INSERT INTO gcat.db.ssrc VALUES (4), (5)")
    drain()
    assert(sql("SELECT v FROM gcat.db.sdst").collect().map(_.getInt(0))
      .sorted.toSeq == (1 to 5))
    // epoch commits are manifest appends readable by every face
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.sdst")
    assert(Manifest.history(spark, dir).forall(
      _.snapshot.startsWith("stream-q")))
    // RESTART-REPLAY: drop the sink commit-log entry for the last
    // batch; the restarted query re-fires that epoch and the write's
    // per-(queryId, epochId) txn record must make it a no-op
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent,
      "." + commits.last.getName + ".crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    val seqBefore = Manifest.history(spark, dir).last.seq
    drain()
    assert(sql("SELECT v FROM gcat.db.sdst").collect().map(_.getInt(0))
      .sorted.toSeq == (1 to 5),
      "a replayed epoch must commit exactly once (no duplicate rows)")
    assert(Manifest.history(spark, dir).last.seq == seqBefore,
      "the replayed epoch must not publish a second commit")
  }

  test("writeStream.toTable into a PARTITIONED table lands the hive layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("""CREATE TABLE gcat.db.psrc USING graft AS
          |SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, NULL)
          |AS t(v, k)""".stripMargin)
    sql("CREATE TABLE gcat.db.pdst (v INT, k STRING) USING graft PARTITIONED BY (k)")
    val ckpt = java.nio.file.Files.createTempDirectory("toTableP-ckpt").toString
    spark.readStream.table("gcat.db.psrc")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gcat.db.pdst").awaitTermination()
    assert(sql("SELECT v, k FROM gcat.db.pdst ORDER BY v").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq == Seq((1, "a"), (2, "b"), (3, "a"), (4, null)))
    // the manifest's file paths carry the hive partition segments, so
    // pruning works on streamed data exactly as on batch data
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.pdst")
    val files = Manifest.history(spark, dir).last.files
    assert(files.forall(_.contains("k=")), s"hive layout expected: $files")
    assert(files.exists(_.contains("k=__HIVE_DEFAULT_PARTITION__")))
    val pruned = sql("SELECT v FROM gcat.db.pdst WHERE k = 'a'")
    assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }
    assert(scan.isDefined)
    val prunedFiles = scan.get.relation.location
      .listFiles(scan.get.partitionFilters, scan.get.dataFilters)
      .flatMap(_.files)
    assert(prunedFiles.nonEmpty &&
      prunedFiles.forall(_.getPath.toString.contains("k=a")),
      "partition pruning must read only k=a files")
    // Complete mode: the aggregate republishes per epoch as overwrite
    sql("CREATE TABLE gcat.db.adst (k STRING, n BIGINT) USING graft")
    val ckpt2 = java.nio.file.Files.createTempDirectory("toTableC-ckpt").toString
    spark.readStream.table("gcat.db.psrc")
      .groupBy("k").count().withColumnRenamed("count", "n")
      .writeStream.option("checkpointLocation", ckpt2)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gcat.db.adst").awaitTermination()
    assert(sql("SELECT k, n FROM gcat.db.adst ORDER BY k").collect()
      .map(r => (Option(r.getString(0)).getOrElse("null"), r.getLong(1)))
      .toSeq == Seq(("null", 1L), ("a", 2L), ("b", 1L)))
    // schema misalignment refuses loudly
    sql("CREATE TABLE gcat.db.bad (v STRING, k STRING) USING graft PARTITIONED BY (k)")
    val ckpt3 = java.nio.file.Files.createTempDirectory("toTableB-ckpt").toString
    val err = intercept[Exception] {
      spark.readStream.table("gcat.db.psrc")
        .writeStream.option("checkpointLocation", ckpt3)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gcat.db.bad").awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(m => m.contains("align") || m.contains("cast") ||
      m.contains("INCOMPATIBLE") || m.contains("type")), msgs(err).mkString("; "))
  }

  test("writeStream.toTable lands PHYSICAL names on a column-mapped target") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.msrc USING graft AS SELECT * FROM VALUES (1, 'x'), (2, 'y') AS t(k, label)")
    sql("CREATE TABLE gcat.db.mdst (k INT, name STRING) USING graft")
    sql("INSERT INTO gcat.db.mdst VALUES (0, 'seed')")
    sql("ALTER TABLE gcat.db.mdst RENAME COLUMN name TO label") // mapping on
    val ckpt = java.nio.file.Files.createTempDirectory("toTableM-ckpt").toString
    spark.readStream.table("gcat.db.msrc")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gcat.db.mdst").awaitTermination()
    assert(sql("SELECT k, label FROM gcat.db.mdst ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "seed"), (1, "x"), (2, "y")))
    // the streamed files carry the frozen PHYSICAL column name
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.mdst")
    val streamed = Manifest.history(spark, dir).last.files
      .filter(_.startsWith("data-stream-q"))
    assert(streamed.nonEmpty)
    val footer = spark.read.parquet(streamed.map(f => s"$dir/$f"): _*)
    assert(footer.columns.contains("name") && !footer.columns.contains("label"),
      "streamed epochs must land under the frozen physical name")
  }

  test("ALTER TABLE ADD COLUMN: old data null-fills, new INSERT carries it, exports re-declare") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.evo (id BIGINT, name STRING) USING graft")
    sql("INSERT INTO gcat.db.evo VALUES (1, 'a'), (2, 'b')")
    sql("ALTER TABLE gcat.db.evo ADD COLUMN score DOUBLE")
    // old rows read NULL-filled under the evolved contract
    assert(sql("SELECT * FROM gcat.db.evo").columns.toSeq ==
      Seq("id", "name", "score"))
    assert(sql("SELECT * FROM gcat.db.evo WHERE score IS NULL").count() == 2)
    // the next INSERT must carry the column, and mixed files read right
    sql("INSERT INTO gcat.db.evo VALUES (3, 'c', 3.5)")
    val rows = sql("SELECT id, name, score FROM gcat.db.evo ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toSeq
    assert(rows.map(_._1) == Seq(1L, 2L, 3L))
    assert(rows(2)._3 == 3.5 && rows(0)._3.isNaN && rows(1)._3.isNaN)
    // PER-SNAPSHOT schema on time travel (round 12): a version BELOW
    // the evolution reads the AS-COMMITTED schema — the added column
    // does not exist there (Delta's last-metaData-wins), while the
    // ALTER's own metadata commit (seq 1) and everything above carry it
    assert(sql("SELECT * FROM gcat.db.evo VERSION AS OF 0").columns.toSeq ==
      Seq("id", "name"))
    intercept[Exception](
      sql("SELECT score FROM gcat.db.evo VERSION AS OF 0").collect())
    assert(sql("SELECT score FROM gcat.db.evo VERSION AS OF 1")
      .collect().forall(_.isNullAt(0)))
    // DML across the evolution boundary: touched old files re-land
    // with the evolved schema, values of the new column survive
    sql("UPDATE gcat.db.evo SET score = 0.0 WHERE id = 1")
    assert(sql("SELECT score FROM gcat.db.evo WHERE id = 1")
      .collect().head.getDouble(0) == 0.0)
    assert(sql("SELECT score FROM gcat.db.evo WHERE id = 3")
      .collect().head.getDouble(0) == 3.5)
    // the Delta export's newest metaData re-declares the evolved schema
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.evo")
    graft.io.DeltaLog.exportLog(spark, dir)
    val logDir = new java.io.File(dir, "_delta_log")
    val lastJson = logDir.listFiles().filter(_.getName.endsWith(".json"))
      .sortBy(_.getName).last
    val text = new String(java.nio.file.Files.readAllBytes(lastJson.toPath))
    assert(text.contains("score"),
      "the newest exported Delta commit must re-declare the evolved schema")
  }

  test("per-snapshot schema: path-face + library time travel, RESTORE rolls metadata, Delta export agrees") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.evoasof (id BIGINT, v STRING) USING graft")
    sql("INSERT INTO gcat.db.evoasof VALUES (1, 'a')") // seq 0
    sql("ALTER TABLE gcat.db.evoasof ADD COLUMN extra INT") // seq 1: metadata commit
    sql("INSERT INTO gcat.db.evoasof VALUES (2, 'b', 7)") // seq 2
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.evoasof")
    // the path face resolves the same as-committed schema the catalog does
    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(dir)
    assert(v0.columns.toSeq == Seq("id", "v"))
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dir)
      .columns.toSeq == Seq("id", "v", "extra"))
    // library time travel (readAt by snapshot id) agrees
    val firstSnap = Manifest.snapshots(spark, dir).head
    assert(Manifest.readAt(spark, dir, firstSnap).columns.toSeq ==
      Seq("id", "v"))
    // the Delta export face serves the SAME per-version schemas (its
    // versions are the manifest seqs; last-metaData-wins fold)
    graft.io.DeltaLog.exportLog(spark, dir)
    assert(!graft.io.DeltaLog.tableSchema(spark, dir, Some(0L))
      .fieldNames.contains("extra"))
    assert(graft.io.DeltaLog.tableSchema(spark, dir, Some(1L))
      .fieldNames.contains("extra"))
    // RESTORE rolls the METADATA back with the data (Delta semantics)
    sql("CALL gcat.system.restore(table => 'db.evoasof', version => 0)")
    assert(sql("SELECT * FROM gcat.db.evoasof").columns.toSeq ==
      Seq("id", "v"))
    assert(sql("SELECT * FROM gcat.db.evoasof").count() == 1)
    // ... while time travel to the evolved middle still serves it
    assert(sql("SELECT * FROM gcat.db.evoasof VERSION AS OF 2").columns.toSeq
      == Seq("id", "v", "extra"))
    // the restored table re-evolves cleanly (the name is free again)
    sql("ALTER TABLE gcat.db.evoasof ADD COLUMN extra INT")
    assert(sql("SELECT * FROM gcat.db.evoasof").columns.toSeq ==
      Seq("id", "v", "extra"))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target through the catalog, then upserts") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.mevo (k BIGINT, v STRING) USING graft")
    sql("INSERT INTO gcat.db.mevo VALUES (1, 'a'), (2, 'b')") // seq 0
    Seq((2L, "B", 20.0), (3L, "C", 30.0)).toDF("k", "v", "score")
      .createOrReplaceTempView("mevo_src")
    // the analyzer's own ResolveMergeIntoSchemaEvolution drives the
    // catalog's ADD COLUMN (seq 1, metadata commit) because the swap
    // rule defers the V1 swap while needSchemaEvolution holds; the
    // merge itself then lands as seq 2 against the widened target
    sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gcat.db.mevo t
        |USING mevo_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = sql("SELECT k, v, score FROM gcat.db.mevo ORDER BY k")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(2), "pre-evolution row must null-fill")
    assert(rows(1).getString(1) == "B" && rows(1).getDouble(2) == 20.0)
    assert(rows(2).getDouble(2) == 30.0)
    // the evolution rode the catalog's schema history: time travel
    // below the merge reads the pre-evolution shape
    assert(sql("SELECT * FROM gcat.db.mevo VERSION AS OF 0").columns.toSeq
      == Seq("k", "v"))
    // a second evolving merge is idempotent on the schema
    sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gcat.db.mevo t
        |USING mevo_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(sql("SELECT * FROM gcat.db.mevo").columns.toSeq ==
      Seq("k", "v", "score"))
  }

  test("COLUMN MAPPING: RENAME COLUMN is metadata-only; reads, writes, DML and time travel follow") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.cmap (k BIGINT, name STRING, v DOUBLE) USING graft")
    sql("INSERT INTO gcat.db.cmap VALUES (1, 'a', 1.0), (2, 'b', 2.0)") // seq 0
    sql("ALTER TABLE gcat.db.cmap RENAME COLUMN name TO label") // seq 1
    // reads resolve the new logical name; the old one is gone
    assert(sql("SELECT * FROM gcat.db.cmap").columns.toSeq ==
      Seq("k", "label", "v"))
    assert(sql("SELECT label FROM gcat.db.cmap ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    intercept[Exception](sql("SELECT name FROM gcat.db.cmap").collect())
    // the rename moved ZERO data: the base snapshot's files are intact
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.cmap")
    val hist = Manifest.history(spark, dir)
    assert(hist.map(_.files).distinct.size == 1,
      "RENAME must commit metadata only - same file list")
    // new INSERTs land under the frozen PHYSICAL name; mixed files read
    sql("INSERT INTO gcat.db.cmap VALUES (3, 'c', 3.0)") // seq 2
    assert(sql("SELECT label FROM gcat.db.cmap WHERE k = 3").collect()
      .head.getString(0) == "c")
    val newest = Manifest.history(spark, dir).last.files
      .filterNot(hist.last.files.toSet)
    assert(newest.nonEmpty)
    val footer = spark.read.parquet(newest.map(f => s"$dir/$f"): _*)
    assert(footer.columns.contains("name") && !footer.columns.contains("label"),
      "files must carry the PHYSICAL column name")
    // DML binds the logical name end-to-end (rewrite keeps the mapping)
    sql("UPDATE gcat.db.cmap SET label = 'B' WHERE k = 2")
    sql("DELETE FROM gcat.db.cmap WHERE label = 'a'")
    assert(sql("SELECT label FROM gcat.db.cmap ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("B", "c"))
    // time travel below the rename reads the AS-COMMITTED logical name
    assert(sql("SELECT * FROM gcat.db.cmap VERSION AS OF 0").columns.toSeq
      == Seq("k", "name", "v"))
    // the Delta export declares the mapping; its own conformant reader
    // (the foreign-Delta face) resolves logical names through it
    graft.io.DeltaLog.exportLog(spark, dir)
    val viaDelta = graft.io.DeltaLog.read(spark, dir)
    assert(viaDelta.columns.toSeq == Seq("k", "label", "v"))
    assert(viaDelta.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("B", "c"))
    // the Iceberg face exports the mapping as the spec's name-mapping
    // (schema carries LOGICAL names; the property maps field ids to
    // the files' physical columns) and its own reader resolves it
    graft.io.IcebergExport.exportTable(spark, dir)
    val viaIceberg = graft.io.IcebergExport.read(spark, dir)
    assert(viaIceberg.columns.toSeq == Seq("k", "label", "v"))
    assert(viaIceberg.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("B", "c"))
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath))
    assert(metaTxt.contains("schema.name-mapping.default"),
      "a mapped table's Iceberg metadata must carry the name mapping")
    assert(metaTxt.contains("\\\"names\\\":[\\\"name\\\"]") ||
      metaTxt.contains("\"names\":[\"name\"]"),
      "the mapping must reference the PHYSICAL column name")
  }

  test("concurrent ALTERs serialize through the commit CAS: no change is dropped") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.race (id BIGINT) USING graft")
    sql("INSERT INTO gcat.db.race VALUES (1)")
    // ADVICE r12: the old post-commit sidecar overwrite let two ALTERs
    // compute from the same pre-state and the later flat write dropped
    // the other's change. With the meta payload riding IN the CAS'd
    // commit, every interleaving must keep all four columns.
    val cols = Seq("c1", "c2", "c3", "c4")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = cols.map { c =>
      new Thread(() => {
        gate.await()
        try sql(s"ALTER TABLE gcat.db.race ADD COLUMN $c INT")
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing ALTERs must all succeed: ${errs}")
    val got = sql("SELECT * FROM gcat.db.race").columns.toSet
    assert(got == (cols :+ "id").toSet,
      s"every racing ALTER's column must survive, got $got")
    // history entries are cumulative and keyed by distinct seqs
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.race")
    val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val meta = GraftTableMeta.read(fsys, new org.apache.hadoop.fs.Path(dir)).get
    assert(meta.schemaHistory.map(_._1).distinct.size ==
      meta.schemaHistory.size)
    assert(meta.schemaHistory.last._2.fieldNames.toSet == got)
  }

  test("a stale flat sidecar cannot shadow a committed ALTER (embedded meta wins)") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.stale (id BIGINT) USING graft")
    sql("INSERT INTO gcat.db.stale VALUES (1)")
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.stale")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preAlter = GraftTableMeta.read(fsys, p).get
    sql("ALTER TABLE gcat.db.stale ADD COLUMN extra STRING")
    // simulate the ADVICE r12 loser: overwrite the flat cache with the
    // pre-ALTER state AFTER the ALTER committed
    GraftTableMeta.write(fsys, p, preAlter)
    assert(GraftTableMeta.read(fsys, p).get.schema.get.fieldNames.toSeq ==
      Seq("id", "extra"),
      "read() must prefer the DDL commit's embedded meta over the flat cache")
    spark.catalog.refreshByPath(dir)
    assert(sql("SELECT * FROM gcat.db.stale").columns.toSeq ==
      Seq("id", "extra"))
    // vacuum flattens the embedded meta into the cache before dropping
    // the DDL commit's manifest
    sql("INSERT INTO gcat.db.stale VALUES (2, 'x')")
    Manifest.vacuum(spark, dir, keepLast = 1)
    assert(GraftTableMeta.read(fsys, p).get.schema.get.fieldNames.toSeq ==
      Seq("id", "extra"),
      "vacuum must not lose ALTERed schema with the dropped DDL manifest")
  }

  test("COLUMN MAPPING: DML stats pruning resolves PHYSICAL names (swap-rename)") {
    // swap-rename a<->b: logical a now stores under physical column b.
    // A stats prune keyed on LOGICAL names would judge `a > 102` against
    // physical column a's bounds [1,3], prune the file, and the DELETE
    // would silently remove nothing (ADVICE r12 high).
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.cswap (a BIGINT, b BIGINT) USING graft")
    sql("INSERT INTO gcat.db.cswap VALUES (1, 101), (2, 102), (3, 103)")
    sql("ALTER TABLE gcat.db.cswap RENAME COLUMN a TO tmp")
    sql("ALTER TABLE gcat.db.cswap RENAME COLUMN b TO a")
    sql("ALTER TABLE gcat.db.cswap RENAME COLUMN tmp TO b")
    assert(sql("SELECT a FROM gcat.db.cswap ORDER BY a").collect()
      .map(_.getLong(0)).toSeq == Seq(101L, 102L, 103L))
    sql("DELETE FROM gcat.db.cswap WHERE a > 102")
    assert(sql("SELECT a FROM gcat.db.cswap ORDER BY a").collect()
      .map(_.getLong(0)).toSeq == Seq(101L, 102L),
      "DELETE under a swap-rename must touch the file (physical-name stats)")
    sql("UPDATE gcat.db.cswap SET b = b + 10 WHERE a = 101")
    assert(sql("SELECT b FROM gcat.db.cswap WHERE a = 101").collect()
      .head.getLong(0) == 11L)
    // the inverse direction still PRUNES: no logical-a value beyond the
    // physical-b bounds, so the split keeps every file untouched
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.cswap")
    val before = Manifest.history(spark, dir).last
    sql("DELETE FROM gcat.db.cswap WHERE a > 1000")
    assert(Manifest.history(spark, dir).last.seq == before.seq,
      "an out-of-bounds DELETE must prune every file (no new commit)")
  }

  test("COLUMN MAPPING: library range DML prunes on the PHYSICAL column (rename, re-add)") {
    // after RENAME a TO c and ADD COLUMN a, the files' physical column
    // `a` holds c's values; judging logical `a` by those bounds would
    // prune every file and keep the a = 1 row
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.creadd (a BIGINT, b BIGINT) USING graft")
    sql("INSERT INTO gcat.db.creadd VALUES (10, 1), (20, 2)")
    sql("ALTER TABLE gcat.db.creadd RENAME COLUMN a TO c")
    sql("ALTER TABLE gcat.db.creadd ADD COLUMN a BIGINT")
    sql("INSERT INTO gcat.db.creadd VALUES (30, 3, 1), (40, 4, 2)")
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.creadd")
    val r = Manifest.deleteRange(spark, dir, "a", "1", "1", "del-a1")
    assert(r.committed.contains("del-a1"))
    spark.catalog.refreshByPath(dir)
    assert(sql("SELECT c FROM gcat.db.creadd ORDER BY c").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 20L, 40L),
      "the a = 1 row must be deleted, every other row kept")
  }

  test("COLUMN MAPPING: DROP COLUMN hides the bytes; re-ADD never resurrects them") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.cdrop (k BIGINT, junk STRING, v DOUBLE) USING graft")
    sql("INSERT INTO gcat.db.cdrop VALUES (1, 'secret', 1.0), (2, 'hidden', 2.0)")
    sql("ALTER TABLE gcat.db.cdrop DROP COLUMN junk")
    assert(sql("SELECT * FROM gcat.db.cdrop").columns.toSeq == Seq("k", "v"))
    // maintenance across the drop keeps reading/writing soundly
    sql("CALL gcat.system.compact(table => 'db.cdrop')")
    assert(sql("SELECT * FROM gcat.db.cdrop").count() == 2)
    // re-ADD of the dropped name: a FRESH physical column - all NULL
    sql("ALTER TABLE gcat.db.cdrop ADD COLUMN junk STRING")
    val vals = sql("SELECT junk FROM gcat.db.cdrop").collect()
    assert(vals.forall(_.isNullAt(0)),
      "re-added column must NOT resurrect dropped values")
    sql("INSERT INTO gcat.db.cdrop VALUES (3, 3.0, 'fresh')")
    assert(sql("SELECT junk FROM gcat.db.cdrop WHERE k = 3").collect()
      .head.getString(0) == "fresh")
    // time travel below the drop still reads the dropped column
    assert(sql("SELECT junk FROM gcat.db.cdrop VERSION AS OF 0").collect()
      .map(_.getString(0)).toSet == Set("secret", "hidden"))
    // refusals: partition-column rename, dropping the only column
    sql("CREATE TABLE gcat.db.cpart (k BIGINT, p STRING) USING graft PARTITIONED BY (p)")
    sql("INSERT INTO gcat.db.cpart VALUES (1, 'x')")
    intercept[Exception](sql("ALTER TABLE gcat.db.cpart RENAME COLUMN p TO q"))
    intercept[Exception](sql("ALTER TABLE gcat.db.cpart DROP COLUMN p"))
    sql("CREATE TABLE gcat.db.conecol (x INT) USING graft")
    intercept[Exception](sql("ALTER TABLE gcat.db.conecol DROP COLUMN x"))
  }

  test("CALL tag records Iceberg refs; the export emits them and readRef resolves") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.reft USING graft AS SELECT * FROM VALUES (1), (2) AS t(v)")
    sql("INSERT INTO gcat.db.reft VALUES (3), (4)") // seq 1
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.reft")
    // tag the FIRST commit by version, the head by default
    val r = sql("CALL gcat.system.tag(table => 'db.reft', name => 'v1', version => 0)")
      .collect().head
    assert(r.getString(0) == "v1" && r.getLong(1) == 0L)
    sql("CALL gcat.system.tag(table => 'db.reft', name => 'latest')")
    sql("CALL gcat.system.export_iceberg(table => 'db.reft')")
    // the metadata tree carries main + both tags
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath))
    assert(metaTxt.contains("\"refs\"") && metaTxt.contains("\"v1\"") &&
      metaTxt.contains("\"latest\"") && metaTxt.contains("\"tag\""))
    // reads resolve through the refs map: the tag pins seq 0
    assert(graft.io.IcebergExport.readRef(spark, dir, "v1")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(graft.io.IcebergExport.readRef(spark, dir, "main")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4))
    // the tag SURVIVES new commits and re-exports; main tracks the head
    sql("INSERT INTO gcat.db.reft VALUES (5)")
    sql("CALL gcat.system.export_iceberg(table => 'db.reft')")
    assert(graft.io.IcebergExport.readRef(spark, dir, "v1")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(graft.io.IcebergExport.readRef(spark, dir, "main")
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
    // unknown refs refuse with the known list
    val e = intercept[IllegalArgumentException](
      graft.io.IcebergExport.readRef(spark, dir, "nope"))
    assert(e.getMessage.contains("latest, main, v1"))
    // UNSET drops the tag on the next export
    sql("ALTER TABLE gcat.db.reft UNSET TBLPROPERTIES ('graft.iceberg.ref.latest')")
    sql("CALL gcat.system.export_iceberg(table => 'db.reft')")
    intercept[IllegalArgumentException](
      graft.io.IcebergExport.readRef(spark, dir, "latest"))
    assert(graft.io.IcebergExport.readRef(spark, dir, "v1")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // refusals: tagging 'main', an unknown snapshot, both selectors
    intercept[Exception](
      sql("CALL gcat.system.tag(table => 'db.reft', name => 'main')"))
    intercept[Exception](sql(
      "CALL gcat.system.tag(table => 'db.reft', name => 'x', version => 99)"))
  }

  test("single-part procedure table names refuse cross-namespace ambiguity") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.amb1")
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.amb2")
    sql("CREATE TABLE gcat.amb1.dup (x INT) USING graft")
    sql("CREATE TABLE gcat.amb2.dup (x INT) USING graft")
    sql("INSERT INTO gcat.amb1.dup VALUES (1)")
    sql("INSERT INTO gcat.amb2.dup VALUES (2)")
    // ADVICE r11: resolution used to key on "exactly one namespace
    // exists", so a later namespace silently changed what 't' meant
    val e = intercept[Exception](
      sql("CALL gcat.system.history(table => 'dup')").collect())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("ambiguous")),
      s"expected an ambiguity refusal, got: ${chain(e).mkString(" | ")}")
    // namespace-qualified names keep resolving
    assert(sql("CALL gcat.system.history(table => 'amb1.dup')").count() >= 1)
  }

  test("ALTER COLUMN TYPE widens in place; old files upcast per file; time travel keeps the narrow type") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.widen (k INT, v FLOAT, d DECIMAL(5,2)) USING graft")
    sql("INSERT INTO gcat.db.widen VALUES " +
      "(1, CAST(1.5 AS FLOAT), 12.34), (2, CAST(2.5 AS FLOAT), 1.00)") // seq 0
    sql("ALTER TABLE gcat.db.widen ALTER COLUMN k TYPE BIGINT") // seq 1
    sql("ALTER TABLE gcat.db.widen ALTER COLUMN v TYPE DOUBLE") // seq 2
    sql("ALTER TABLE gcat.db.widen ALTER COLUMN d TYPE DECIMAL(12,2)") // seq 3
    // a value no INT can hold proves the widening is real
    sql("ALTER TABLE gcat.db.widen ADD COLUMN tag STRING") // seq 4
    sql("INSERT INTO gcat.db.widen VALUES " +
      "(3000000000, 3.5, 9999999999.99, 'wide')")
    val sch = sql("SELECT * FROM gcat.db.widen").schema
    assert(sch("k").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(sch("d").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    // old narrow files upcast per file inside the reader
    assert(sql("SELECT SUM(k) FROM gcat.db.widen").collect()
      .head.getLong(0) == 3000000003L)
    assert(sql("SELECT SUM(d) FROM gcat.db.widen").collect()
      .head.getDecimal(0).toString == "10000000013.33")
    // DML across the widening boundary rewrites narrow files WIDE
    sql("UPDATE gcat.db.widen SET v = 7.0 WHERE k = 1")
    assert(sql("SELECT v FROM gcat.db.widen WHERE k = 1").collect()
      .head.getDouble(0) == 7.0)
    // time travel below the widening reads the AS-COMMITTED narrow types
    val v0 = sql("SELECT * FROM gcat.db.widen VERSION AS OF 0").schema
    assert(v0("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(v0("v").dataType == org.apache.spark.sql.types.FloatType)
    // refusals: narrowing, re-kinding
    intercept[Exception](
      sql("ALTER TABLE gcat.db.widen ALTER COLUMN k TYPE INT"))
    intercept[Exception](
      sql("ALTER TABLE gcat.db.widen ALTER COLUMN v TYPE STRING"))
    // partition-column retype refuses (path rendering is baked in)
    sql("CREATE TABLE gcat.db.widenp (x INT, p INT) USING graft PARTITIONED BY (p)")
    sql("INSERT INTO gcat.db.widenp VALUES (1, 7)")
    intercept[Exception](
      sql("ALTER TABLE gcat.db.widenp ALTER COLUMN p TYPE BIGINT"))
  }

  test("MERGE WITH SCHEMA EVOLUTION composes with column mapping (fresh physical name)") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.mevocm (k BIGINT, junk STRING, v STRING) USING graft")
    sql("INSERT INTO gcat.db.mevocm VALUES (1, 'old', 'a')")
    // activate mapping by DROPPING a column, then evolve THROUGH a merge
    // whose source re-introduces the dropped NAME: the evolution must
    // mint a fresh physical column — the dropped bytes stay dead
    sql("ALTER TABLE gcat.db.mevocm DROP COLUMN junk")
    Seq((1L, "A", "fresh"), (2L, "B", "new")).toDF("k", "v", "junk")
      .createOrReplaceTempView("mevocm_src")
    sql(
      """MERGE WITH SCHEMA EVOLUTION INTO gcat.db.mevocm t
        |USING mevocm_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = sql("SELECT k, v, junk FROM gcat.db.mevocm ORDER BY k")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1),
      r.getString(2))).toSeq == Seq((1L, "A", "fresh"), (2L, "B", "new")),
      "the re-added column must carry the MERGE's values, never 'old'")
    // the evolved column landed under a FRESH physical name
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.mevocm")
    val sidecar = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, ".graft-table.json")))
    assert(sidecar.contains("col-"),
      "re-added column must take a col-<uuid> physical name")
  }

  test("CALL zorder(where_partition) clusters ONE partition, carries the rest") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    spark.range(0, 4000).toDF("id")
      .withColumn("seg", org.apache.spark.sql.functions.expr(
        "CASE WHEN id % 2 = 0 THEN 'hot' ELSE 'cold' END"))
      .createOrReplaceTempView("zw_src")
    // deliberate small-file spray inside each partition, hash-shuffled
    // so footer bounds prune nothing
    sql("CREATE TABLE gcat.db.zw USING graft PARTITIONED BY (seg) " +
      "AS SELECT /*+ REPARTITION(6) */ id, seg FROM zw_src")
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.zw")
    val before = Manifest.history(spark, dir).last.files
    val coldBefore = before.filter(_.contains("seg=cold/"))
    sql("CALL gcat.system.zorder(table => 'db.zw', columns => 'id', " +
      "where_partition => 'seg=hot', target_file_bytes => 4096)")
    val after = Manifest.history(spark, dir).last.files
    // every cold file carried by reference; hot files rewritten
    assert(coldBefore.forall(after.contains),
      "non-matching partitions must carry by reference")
    assert(after.filter(_.contains("seg=hot/"))
      .forall(f => !before.contains(f)), "matched partition must rewrite")
    // the hot partition is now range-clustered: a selective read opens
    // fewer files than the spray held
    val hotAfter = after.filter(_.contains("seg=hot/"))
    assert(hotAfter.size > 1, "target_file_bytes must split the partition")
    val q = sql("SELECT id FROM gcat.db.zw WHERE seg = 'hot' " +
      "AND id BETWEEN 100 AND 120")
    assert(q.count() == 11)
    val scanned = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles")
    }.flatten.map(_.value).sum
    assert(scanned < hotAfter.size,
      s"clustered bounds must prune: scanned $scanned of ${hotAfter.size}")
    // content is intact
    assert(sql("SELECT COUNT(*), SUM(id) FROM gcat.db.zw").collect()
      .map(r => (r.getLong(0), r.getLong(1))).head ==
      (4000L, (0L until 4000L).sum))
    // no matching partition refuses loudly
    intercept[Exception](sql(
      "CALL gcat.system.zorder(table => 'db.zw', columns => 'id', " +
        "where_partition => 'seg=nope')"))
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES and evolution refusals") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.props (x INT) USING graft")
    sql("ALTER TABLE gcat.db.props SET TBLPROPERTIES ('owner.team' = 'etl', 'tier' = 'gold')")
    val props = sql("SHOW TBLPROPERTIES gcat.db.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("owner.team").contains("etl"))
    assert(props.get("tier").contains("gold"))
    sql("ALTER TABLE gcat.db.props UNSET TBLPROPERTIES ('tier')")
    assert(!sql("SHOW TBLPROPERTIES gcat.db.props").collect()
      .map(_.getString(0)).contains("tier"))
    // refusals: duplicate add, non-nullable add, retype (drop/rename
    // are supported since round 12 via column mapping)
    sql("ALTER TABLE gcat.db.props ADD COLUMN y INT")
    intercept[Exception](sql("ALTER TABLE gcat.db.props ADD COLUMN y INT"))
    intercept[Exception](
      sql("ALTER TABLE gcat.db.props ADD COLUMN z INT NOT NULL"))
    // re-kinding refuses (INT -> BIGINT widening is legal since r12)
    intercept[Exception](
      sql("ALTER TABLE gcat.db.props ALTER COLUMN y TYPE STRING"))
  }

  test("ALTER TABLE ADD COLUMN on a partitioned table keeps pruning and layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    spark.range(0, 100).toDF("id")
      .withColumn("seg", org.apache.spark.sql.functions.expr(
        "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END"))
      .createOrReplaceTempView("evo_part_src")
    sql("CREATE TABLE gcat.db.evop USING graft PARTITIONED BY (seg) " +
      "AS SELECT id, seg FROM evo_part_src")
    sql("ALTER TABLE gcat.db.evop ADD COLUMN tag STRING")
    sql("INSERT INTO gcat.db.evop VALUES (1000, 'e', 'fresh')")
    val q = sql("SELECT id, tag FROM gcat.db.evop WHERE seg = 'e'")
    assert(q.count() == 51)
    assert(q.where("tag = 'fresh'").count() == 1)
    // the partition-pruned scan still only reads seg=e files
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.inputRDDs().nonEmpty))
    assert(sql("SELECT * FROM gcat.db.evop WHERE seg = 'o' AND tag IS NOT NULL")
      .count() == 0)
  }

  test("CALL zorder turns an unprunable layout prunable via pure SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    // interleaved key: every one of the hash-shuffled files spans the
    // whole key space, so footer bounds prune NOTHING before zorder
    spark.range(0, 4000).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.expr("k * 2"))
      .repartition(8)
      .createOrReplaceTempView("zorder_src")
    sql("CREATE TABLE gcat.db.zod USING graft AS SELECT k, v FROM zorder_src")
    def scanned(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      val scan = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      scan.metrics("numFiles").value
    }
    val before = scanned(sql(
      "SELECT * FROM gcat.db.zod WHERE k >= 100 AND k <= 299"))
    val res = sql(
      "CALL gcat.system.zorder(table => 'db.zod', columns => 'k', " +
        "target_file_bytes => 8192)").collect()
    assert(res.length == 1 && res.head.getLong(1) >= 2)
    val after = scanned(sql(
      "SELECT * FROM gcat.db.zod WHERE k >= 100 AND k <= 299"))
    assert(after < before,
      s"zorder must make the selective read prune files ($after vs $before)")
    assert(sql("SELECT * FROM gcat.db.zod WHERE k >= 100 AND k <= 299")
      .count() == 200)
    assert(sql("SELECT * FROM gcat.db.zod").count() == 4000)
  }

  test("CALL zorder on a partitioned table clusters WITHIN the hive layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    spark.range(0, 2000).toDF("k")
      .withColumn("seg", org.apache.spark.sql.functions.expr(
        "CASE WHEN k % 2 = 0 THEN 'e' ELSE 'o' END"))
      .repartition(6)
      .createOrReplaceTempView("zorderp_src")
    sql("CREATE TABLE gcat.db.zodp USING graft PARTITIONED BY (seg) " +
      "AS SELECT k, seg FROM zorderp_src")
    sql("CALL gcat.system.zorder(table => 'db.zodp', columns => 'k', " +
      "target_file_bytes => 4096)")
    // the layout survives — partition-exact reads keep working …
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.zodp")
    val files = Manifest.currentFiles(spark, dir)
    assert(files.forall(_.contains("seg=")),
      s"zorder must keep the hive layout: $files")
    assert(sql("SELECT * FROM gcat.db.zodp WHERE seg = 'e'").count() == 1000)
    assert(sql("SELECT * FROM gcat.db.zodp").count() == 2000)
    // … and cluster columns may not name partition columns
    intercept[Exception](sql(
      "CALL gcat.system.zorder(table => 'db.zodp', columns => 'seg')"))
  }

  test("CALL restore rolls the head back by version or snapshot; history lists commits") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.rst (x INT) USING graft")
    sql("INSERT INTO gcat.db.rst VALUES (1), (2)") // seq 0
    sql("INSERT INTO gcat.db.rst VALUES (3)") // seq 1
    sql("DELETE FROM gcat.db.rst WHERE x = 1") // seq 2 (rewrite)
    assert(sql("SELECT * FROM gcat.db.rst").count() == 2)
    // restore to the pre-delete state by VERSION — zero data movement
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.rst")
    val filesBefore = Manifest.currentFiles(spark, dir).toSet
    // the PRE-DELETE (seq 1) snapshot's exact file list is the restore
    // target — capture it for the by-reference proof below
    val v1Files = graft.io.Manifest.history(spark, dir)
      .find(_.seq == 1L).get.files.toSet
    val r = sql("CALL gcat.system.restore(table => 'db.rst', version => 1)")
      .collect()
    assert(r.length == 1 && r.head.getString(1) != null)
    assert(sql("SELECT * FROM gcat.db.rst").orderBy("x")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // the restored head lists EXACTLY the target snapshot's files by
    // reference (zero data movement; the rolled-back rewrite's files
    // are simply no longer referenced)
    val filesAfter = Manifest.currentFiles(spark, dir).toSet
    assert(filesAfter != filesBefore)
    assert(filesAfter == v1Files,
      s"restore must re-reference the target snapshot's files verbatim: " +
        s"$filesAfter vs $v1Files")
    // history shows the whole chain incl. the restore (a rewrite commit)
    val hist = sql("CALL gcat.system.history(table => 'db.rst')").collect()
    assert(hist.length == 4)
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(hist.last.getBoolean(5), "a restore commit is rewrite-flagged")
    // restoring the current head is a no-op (null new_snapshot)
    val cur = hist.last.getString(1)
    val noop = sql(
      s"CALL gcat.system.restore(table => 'db.rst', snapshot => '$cur')")
      .collect()
    assert(noop.head.isNullAt(1))
    assert(sql("CALL gcat.system.history(table => 'db.rst')")
      .collect().length == 4)
    // exactly one selector required; unknown version refuses
    intercept[Exception](sql("CALL gcat.system.restore(table => 'db.rst')"))
    intercept[Exception](sql(
      "CALL gcat.system.restore(table => 'db.rst', version => 99)"))
  }

  test("CALL compact(where_partition) compacts ONE partition, carries the rest") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.hot (x INT, seg STRING) USING graft " +
      "PARTITIONED BY (seg)")
    // three small-file appends per partition — the hot-partition spray
    (1 to 3).foreach(i =>
      sql(s"INSERT INTO gcat.db.hot VALUES ($i, 'e'), (${i + 10}, 'o')"))
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.hot")
    val before = Manifest.currentFiles(spark, dir)
    assert(before.count(_.contains("seg=e")) == 3)
    val res = sql("CALL gcat.system.compact(table => 'db.hot', " +
      "where_partition => 'seg=e')").collect()
    assert(res.head.getLong(1) == 4, // 1 compacted seg=e + 3 carried seg=o
      "files reports the table's post-compaction file count")
    val after = Manifest.currentFiles(spark, dir)
    // seg=e compacted to ONE file; every seg=o file carried VERBATIM
    assert(after.count(_.contains("seg=e")) == 1)
    assert(before.filter(_.contains("seg=o")).forall(after.contains),
      "unmatched partitions must carry by reference")
    assert(sql("SELECT * FROM gcat.db.hot WHERE seg = 'e'").count() == 3)
    assert(sql("SELECT * FROM gcat.db.hot").count() == 6)
    // no matching partition refuses loudly
    intercept[Exception](sql("CALL gcat.system.compact(" +
      "table => 'db.hot', where_partition => 'seg=zzz')"))
  }

  test("CALL compact and zorder report the committed snapshot's file count") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.fcount (x INT) USING graft")
    sql("INSERT INTO gcat.db.fcount VALUES (1), (2), (3)")
    sql("INSERT INTO gcat.db.fcount VALUES (4), (5)")
    val (dir, _) = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog].resolveTable("db.fcount")
    // a target far below the table's bytes plans more files than there
    // are rows: the count must be what was committed, not what was planned
    val target = math.max(1L, Manifest.filesBytes(spark, dir,
      Manifest.currentFiles(spark, dir)).get / 20)
    Seq(s"compact(table => 'db.fcount', target_file_bytes => $target)",
      s"zorder(table => 'db.fcount', columns => 'x', " +
        s"target_file_bytes => $target)").foreach { call =>
      val res = sql(s"CALL gcat.system.$call").collect()
      val files = Manifest.currentFiles(spark, dir)
      assert(files.forall(_.startsWith(s"data-${res.head.getString(0)}/")))
      assert(res.head.getLong(1) == files.size,
        s"$call reported ${res.head.getLong(1)} files, committed ${files.size}")
      assert(files.size < 20, "five rows cannot fill the ~20 planned files")
    }
    assert(sql("SELECT SUM(x) FROM gcat.db.fcount").collect().head.getLong(0) == 15)
  }

  test("maintenance on an evolved FLAT table keeps the evolved column's values") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    // flat layout on purpose: a mixed old/new file list read through
    // ONE sampled footer is exactly the shape that could silently drop
    // the evolved column during a full-table rewrite
    sql("CREATE TABLE gcat.db.evomaint (id BIGINT) USING graft")
    sql("INSERT INTO gcat.db.evomaint VALUES (1), (2)") // pre-evolution file
    sql("ALTER TABLE gcat.db.evomaint ADD COLUMN score DOUBLE")
    sql("INSERT INTO gcat.db.evomaint VALUES (3, 3.5), (4, 4.5)")
    // compact (a full rewrite), then zorder (another full rewrite):
    // both must re-land post-evolution rows WITH their score values
    sql("CALL gcat.system.compact(table => 'db.evomaint')")
    assert(sql("SELECT score FROM gcat.db.evomaint WHERE id = 3")
      .collect().head.getDouble(0) == 3.5,
      "compaction must not drop the evolved column's values")
    sql("CALL gcat.system.zorder(table => 'db.evomaint', columns => 'id')")
    val rows = sql(
      "SELECT id, score FROM gcat.db.evomaint ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows(0).isNullAt(1) && rows(1).isNullAt(1))
    assert(rows(2).getDouble(1) == 3.5 && rows(3).getDouble(1) == 4.5)
    // RESTORE across the evolution boundary rolls the METADATA back
    // with the data (round 12, Delta semantics): the pre-evolution
    // schema returns at the head
    sql("CALL gcat.system.restore(table => 'db.evomaint', version => 0)")
    assert(sql("SELECT * FROM gcat.db.evomaint").columns.toSeq == Seq("id"))
    assert(sql("SELECT * FROM gcat.db.evomaint").count() == 2)
  }

  test("ALTER on a LOCATION-registered table evolves the PATH face too") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    val ext = java.nio.file.Files.createTempDirectory("graftevoloc").toString
    Manifest.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), ext, "base")
    sql(s"CREATE TABLE gcat.db.evoloc USING graft LOCATION '$ext'")
    sql("ALTER TABLE gcat.db.evoloc ADD COLUMN score DOUBLE")
    sql("INSERT INTO gcat.db.evoloc VALUES (3, 'c', 3.5)")
    // the PATH face must see the same evolved contract as the catalog
    val byPath = spark.read.format("graft").load(ext)
    assert(byPath.columns.toSeq == Seq("id", "name", "score"))
    assert(byPath.where("score = 3.5").count() == 1)
    assert(byPath.where("score IS NULL").count() == 2)
    // and the library read too (maintenance runs through it)
    assert(Manifest.read(spark, ext).columns.toSeq ==
      Seq("id", "name", "score"))
  }

  test("DROP TABLE, rename, and the loud refusals") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    sql("CREATE TABLE gcat.db.victim (x INT) USING graft")
    assert(spark.catalog.tableExists("gcat.db.victim"))
    sql("ALTER TABLE gcat.db.victim RENAME TO gcat.db.renamed")
    assert(!spark.catalog.tableExists("gcat.db.victim"))
    sql("DROP TABLE gcat.db.renamed")
    assert(!spark.catalog.tableExists("gcat.db.renamed"))
    intercept[Exception](sql("SELECT * FROM gcat.db.renamed"))
    // non-identity partition transform refused
    intercept[Exception](sql(
      "CREATE TABLE gcat.db.bucketed (x INT, b INT) USING graft " +
        "PARTITIONED BY (bucket(4, b))"))
    // path-escaping identifier refused
    intercept[Exception](sql("CREATE NAMESPACE gcat.`..`"))
  }
}
