package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.io.Manifest

/**
 * CHANGE DATA FEED (round 13): row-level changes served across DML —
 * the face the plain `changesSince` file-diff refuses. DML commits
 * record their changed rows as `cdc-<snapshot>/` parquet at commit
 * time (cost ∝ changed rows, never table size — the reference's
 * incremental land→curated cadence needs exactly this to propagate
 * deletes/updates downstream without a full rescan); appends derive
 * inserts from their added files at zero recording cost; maintenance
 * rewrites record "no logical change". Batch face:
 * `.option("readChangeFeed", "true")`; streaming face: the same option
 * on `readStream`. Change-type vocabulary is Delta CDF's, verbatim.
 */
class GraftCdfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graftcdf").toString

  private def cdf(dir: String, since: String = "start",
      until: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft")
      .option("readChangeFeed", "true").option("changesSince", since)
    until.foreach(u => r.option("changesUntil", u))
    r.load(dir)
  }

  private def byType(df: DataFrame): Map[String, Long] =
    df.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("DELETE and UPDATE record their changed rows; appends derive inserts") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id").withColumn("v", $"id" * 10),
      dir, "base")
    Manifest.append(
      spark.range(100, 150).toDF("id").withColumn("v", $"id" * 10),
      dir, "more")
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_t1")
    spark.sql("DELETE FROM cdf_t1 WHERE id >= 10 AND id < 20")
    // re-resolve: the view pins the snapshot it was created against
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_t1")
    spark.sql("UPDATE cdf_t1 SET v = v * 2 WHERE id < 5")

    val feed = cdf(dir, since = "base")
    assert(byType(feed) == Map("insert" -> 50L, "delete" -> 10L,
      "update_preimage" -> 5L, "update_postimage" -> 5L))
    // postimages carry the applied values, preimages the originals
    assert(feed.where("_change_type = 'update_postimage'")
      .agg(sum("v")).head.getLong(0) ==
      (0 until 5).map(_ * 20L).sum)
    assert(feed.where("_change_type = 'update_preimage'")
      .agg(sum("v")).head.getLong(0) ==
      (0 until 5).map(_ * 10L).sum)
    assert(feed.where("_change_type = 'delete'")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (10L until 20L))
    // commit versions stamp each slice with its own seq, monotonically
    val vByType = feed.groupBy("_change_type")
      .agg(min("_commit_version").as("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vByType("insert") < vByType("delete"))
    assert(vByType("delete") < vByType("update_preimage"))
    assert(vByType("update_preimage") == vByType("update_postimage"))
    assert(feed.where("_commit_timestamp IS NULL").count() == 0)
    // since "start" additionally serves the base snapshot as inserts
    assert(byType(cdf(dir))("insert") == 150L)
    // bounded span: up to the append only — inserts alone
    assert(byType(cdf(dir, since = "base", until = Some("more"))) ==
      Map("insert" -> 50L))
  }

  test("MERGE records update pairs, deletes, and explicit inserts") {
    val dir = tmpDir()
    Manifest.write(Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40))
      .toDF("k", "name", "v"), dir, "base")
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_m_t")
    Seq((2, 200), (3, -1), (9, 900)).toDF("k", "nv")
      .createOrReplaceTempView("cdf_m_s")
    spark.sql(
      """MERGE INTO cdf_m_t t USING cdf_m_s s ON t.k = s.k
        |WHEN MATCHED AND s.nv < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, name, v) VALUES (s.k, 'new', s.nv)
        |""".stripMargin)
    val feed = cdf(dir, since = "base")
    assert(byType(feed) == Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    assert(feed.where("_change_type = 'delete'").head.getInt(0) == 3)
    assert(feed.where("_change_type = 'update_preimage'")
      .select("v").head.getInt(0) == 20)
    assert(feed.where("_change_type = 'update_postimage'")
      .select("v").head.getInt(0) == 200)
    assert(feed.where("_change_type = 'insert'")
      .select("k", "name", "v").collect().map(r =>
        (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((9, "new", 900)))
  }

  test("maintenance rewrites serve an empty record; MOR deletes record rows") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id").withColumn("v", $"id" % 7),
      dir, "base")
    // compaction: a rewrite, but no logical change — the feed crosses
    // it and serves nothing for it (the plain changesSince face refuses)
    Manifest.compact(spark, dir, "squash", targetFileBytes = 1L << 30)
    assert(cdf(dir, since = "base").count() == 0)
    intercept[IllegalStateException](
      Manifest.readChangesSince(spark, dir, "base"))
    // MOR delete: no data file changes at all, only the recorded rows
    val mor = Manifest.deleteRangeMOR(spark, dir, "id", "40", "44", "mordel")
    assert(mor.deletedRows == 5)
    val feed = cdf(dir, since = "squash")
    assert(byType(feed) == Map("delete" -> 5L))
    assert(feed.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (40L to 44L))
    // a later compaction purges the MOR state — still no feed rows
    Manifest.compact(spark, dir, "squash2", targetFileBytes = 1L << 30)
    assert(byType(cdf(dir, since = "squash")) == Map("delete" -> 5L))
  }

  test("library range DML records cdc; overwrites refuse with re-baseline") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id").withColumn("v", lit(1)),
      dir, "base")
    Manifest.deleteRange(spark, dir, "id", "90", "99", "drop-tail")
    Manifest.updateRange(spark, dir, "id", "0", "9", "bump",
      Map("v" -> lit(5)))
    val feed = cdf(dir, since = "base")
    assert(byType(feed) == Map("delete" -> 10L,
      "update_preimage" -> 10L, "update_postimage" -> 10L))
    assert(feed.where("_change_type = 'update_postimage' AND v = 5")
      .count() == 10)
    // an overwrite changes rows without a record: loud refusal naming it
    Manifest.write(spark.range(0, 3).toDF("id").withColumn("v", lit(0)),
      dir, "rewrite-all")
    val err = intercept[IllegalStateException](
      cdf(dir, since = "base").count())
    assert(err.getMessage.contains("rewrite-all") &&
      err.getMessage.contains("re-baseline"))
    // re-baselined on the overwrite, the feed serves again
    assert(cdf(dir, since = "rewrite-all").count() == 0)
  }

  test("vacuum retires cdc dirs with their manifests, keeps referenced ones") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 50).toDF("id"), dir, "base")
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_v_t")
    spark.sql("DELETE FROM cdf_v_t WHERE id < 5")   // cdc #1
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_v_t")
    spark.sql("DELETE FROM cdf_v_t WHERE id >= 45") // cdc #2
    Manifest.append(spark.range(100, 110).toDF("id"), dir, "tail")
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cdcDirs = fsys.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("cdc-")).sorted
    assert(cdcDirs.size == 2)
    assert(byType(cdf(dir, since = "base")) == Map("delete" -> 10L,
      "insert" -> 10L))
    val dml2 = Manifest.snapshots(spark, dir)(2)
    // keep the last two manifests (dml2, tail): the first DML's record
    // retires with its dropped manifest, the second's stays referenced
    Manifest.vacuum(spark, dir, keepLast = 2, orphanGraceMs = 0L)
    assert(cdcDirs == Seq(s"cdc-$dml2"))
    // the retained span still serves; a dropped baseline refuses loudly
    assert(byType(cdf(dir, since = dml2)) == Map("insert" -> 10L))
    intercept[IllegalArgumentException](cdf(dir, since = "base").count())
    // "start" serves the oldest retained snapshot's live rows as
    // inserts, then the later commits' changes
    assert(byType(cdf(dir, since = "start")) == Map("insert" -> 50L))
  }

  test("streaming: the change feed drains as typed micro-batches") {
    val dir = tmpDir()
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write(
      spark.range(0, 20).toDF("id").withColumn("v", $"id" * 10),
      dir, "base")
    // every non-initial micro-batch row, per stream: uncapped, and a
    // second stream draining one added file per trigger beside it
    val later = Seq.fill(2)(new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]())
    val ckptCapped = tmpDir() + "/ckpt1"
    def drain(capped: Boolean = false): DataFrame = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val reader = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
      if (capped) reader.option("maxFilesPerTrigger", "1")
      reader.load(dir)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = b.collect()
          rows.foreach(got.add)
          if (id > 0) rows.foreach(later(if (capped) 1 else 0).add)
        }
        .option("checkpointLocation", if (capped) ckptCapped else ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      val rows = got.toArray(Array.empty[org.apache.spark.sql.Row])
      val schema = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir).schema
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
    }
    // initial batch: the start snapshot as inserts
    assert(byType(drain()) == Map("insert" -> 20L))
    drain(capped = true)
    // an append (three files, so the capped stream splits it) and a DML
    // both flow as changes
    Manifest.append(
      spark.range(20, 30).toDF("id").withColumn("v", $"id" * 10)
        .repartition(3),
      dir, "more")
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_s_t")
    spark.sql("UPDATE cdf_s_t SET v = 0 WHERE id < 3")
    val m2 = drain()
    assert(byType(m2) == Map("insert" -> 10L,
      "update_preimage" -> 3L, "update_postimage" -> 3L))
    assert(m2.where("_change_type = 'update_postimage' AND v = 0")
      .count() == 3)
    // versions rode along per commit
    assert(m2.select("_commit_version").distinct().count() == 2)
    // a restart with nothing new serves nothing (offsets checkpointed)
    assert(drain().count() == 0)
    // the streams' non-initial batches ARE the batch feed since the
    // start snapshot, split or not
    drain(capped = true)
    def sorted(rows: Iterable[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.mkString("|")).toSeq.sorted
    val expected = sorted(
      Manifest.readChangeFeed(spark, dir, "base").collect())
    assert(expected.size == 16)
    later.foreach(q => assert(sorted(q.toArray(
      Array.empty[org.apache.spark.sql.Row])) == expected))
  }

  test("streaming: an unrecorded change commit refuses; skipChangeCommits skips") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 10).toDF("id"), dir, "base")
    def drain(ckpt: String, skip: Boolean = false): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong()
      spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", skip.toString).load(dir)
        .writeStream
        .foreachBatch((b: DataFrame, _: Long) => { n.addAndGet(b.count()); () })
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      n.get()
    }
    val ckpt1 = tmpDir() + "/c1"
    assert(drain(ckpt1) == 10)
    Manifest.write(spark.range(0, 4).toDF("id"), dir, "over") // no record
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(ckpt1))
    assert(err.getMessage.contains("change-data record") ||
      Option(err.getCause).exists(_.getMessage.contains("change-data record")))
    assert(drain(ckpt1, skip = true) == 0)
  }

  test("graft_table_changes: the SQL face serves the same feed by path and by name") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 30).toDF("id"), dir, "base")
    spark.read.format("graft").load(dir).createOrReplaceTempView("cdf_tvf_t")
    spark.sql("DELETE FROM cdf_tvf_t WHERE id < 4")
    // by PATH, bounded and unbounded spans
    val byPath = spark.sql(
      s"SELECT _change_type, COUNT(*) AS n FROM " +
        s"graft_table_changes('$dir', 'base') GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPath == Map("delete" -> 4L))
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft_table_changes('$dir', 'start')")
      .head.getLong(0) == 34) // 30 inserts + 4 deletes
    // by catalog NAME (must load as a graft table)
    val wh = java.nio.file.Files.createTempDirectory("graftwh_tvf").toString
    spark.conf.set("spark.sql.catalog.gtvf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtvf.warehouse", wh)
    spark.sql("CREATE NAMESPACE gtvf.db")
    spark.sql(
      "CREATE TABLE gtvf.db.t USING graft AS SELECT id FROM range(0, 5)")
    val snaps = Manifest.snapshots(spark, s"$wh/db/t")
    spark.sql("INSERT INTO gtvf.db.t VALUES (100)")
    assert(spark.sql(
      s"SELECT id FROM graft_table_changes('gtvf.db.t', '${snaps.head}')")
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
    // predicates push into the feed scan
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft_table_changes('$dir', 'start') " +
        "WHERE _change_type = 'insert' AND id < 10").head.getLong(0) == 10)
    // refusals name their reason
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_table_changes('gtvf.db.t')").collect())
    assert(e1.getMessage.contains("2 or 3") ||
      Option(e1.getCause).exists(_.getMessage.contains("2 or 3")))
    val e2 = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_table_changes('$dir', 'no-such-snap')").collect())
    assert(e2.getMessage.contains("no retained snapshot") ||
      Option(e2.getCause).exists(_.getMessage.contains("no retained snapshot")))
  }

  test("column-mapped tables serve the feed under logical names") {
    val wh = java.nio.file.Files.createTempDirectory("graftwh_cdf").toString
    spark.conf.set("spark.sql.catalog.gcdf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.warehouse", wh)
    spark.sql("CREATE NAMESPACE gcdf.db")
    spark.sql("CREATE TABLE gcdf.db.m (k INT, name STRING) USING graft")
    spark.sql("INSERT INTO gcdf.db.m VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gcdf.db.m RENAME COLUMN name TO label")
    val dir = s"$wh/db/m"
    val baseline = (dir, Manifest.snapshots(spark, dir).last)
    spark.sql("UPDATE gcdf.db.m SET label = 'z' WHERE k = 2")
    val feed = cdf(baseline._1, since = baseline._2)
    assert(feed.columns.take(2).toSeq == Seq("k", "label"))
    assert(byType(feed) ==
      Map("update_preimage" -> 1L, "update_postimage" -> 1L))
    assert(feed.where("_change_type = 'update_postimage'")
      .select("label").head.getString(0) == "z")
    // the recorded cdc parquet itself landed under the frozen PHYSICAL
    // name — uniform with the data layer
    val fsys = new org.apache.hadoop.fs.Path(baseline._1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cdcDir = fsys.listStatus(
      new org.apache.hadoop.fs.Path(baseline._1)).toSeq
      .map(_.getPath).filter(_.getName.startsWith("cdc-"))
    assert(cdcDir.nonEmpty)
    val raw = spark.read.parquet(cdcDir.map(_.toString): _*)
    assert(raw.columns.contains("name") && !raw.columns.contains("label"))
  }
}
