package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.io.Manifest

/**
 * Graft tables as Structured Streaming SOURCE and SINK: offsets are
 * manifest commit seqs (one number per checkpoint entry, never a file
 * list), micro-batches are exactly the files new commits added,
 * exactly-once sink state out of at-least-once batch delivery, and
 * the append-only contract enforced loudly across rewrites.
 */
class GraftStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graftstream").toString

  private val jsonSchema = StructType(Seq(
    StructField("id", LongType), StructField("tag", StringType)))

  private def writeJsonl(dir: String, file: String, ids: Range): Unit = {
    val lines = ids.map(i => s"""{"id":$i,"tag":"t$i"}""").mkString("\n")
    Files.write(java.nio.file.Paths.get(dir, file), lines.getBytes("UTF-8"))
  }

  test("sink: micro-batches land as exactly-once manifest commits") {
    val land = tmpDir()
    val table = tmpDir() + "/t"
    val ckpt = tmpDir() + "/ckpt"
    writeJsonl(land, "a.jsonl", 0 until 100)
    def drain(): Unit =
      spark.readStream.schema(jsonSchema).json(land)
        .withColumn("tag_uc", upper(col("tag")))
        .writeStream.format("graft").option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    // the snapshot id is scoped per QUERY: stream-q<qid8>-b<batchId>,
    // stable across restarts of the same checkpoint
    val batch0 = "stream-q[0-9a-f]{8}-b0"
    assert(Manifest.snapshots(spark, table).map(_.matches(batch0)) == Seq(true))
    val b0Name = Manifest.snapshots(spark, table).head
    assert(Manifest.read(spark, table).count() == 100)
    // nothing new: no batch, no commit — and the restarted query reuses
    // the SAME query id (from the checkpoint), so the key is identical
    drain()
    assert(Manifest.snapshots(spark, table) == Seq(b0Name))
    // the delta lands as the NEXT append commit; prior state time-travels
    writeJsonl(land, "b.jsonl", 1000 until 1050)
    drain()
    assert(Manifest.snapshots(spark, table) ==
      Seq(b0Name, b0Name.stripSuffix("b0") + "b1"))
    assert(Manifest.read(spark, table).count() == 150)
    assert(Manifest.readAt(spark, table, b0Name).count() == 100)
    // the curate column flowed through the streaming plan
    assert(Manifest.read(spark, table)
      .where("tag_uc = 'T7'").count() == 1)
  }

  test("sink: a re-baselined query (new checkpoint) is NOT deduped against the old query's batches") {
    val land = tmpDir()
    val table = tmpDir() + "/t"
    writeJsonl(land, "a.jsonl", 0 until 40)
    def drain(ckpt: String): Unit =
      spark.readStream.schema(jsonSchema).json(land)
        .writeStream.format("graft").option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain(tmpDir() + "/ckpt1")
    assert(Manifest.read(spark, table).count() == 40)
    // a NEW checkpoint restarts batchIds at 0 under a FRESH query id:
    // its batch 0 must COMMIT (at-least-once re-serve), never be
    // silently skipped as "already committed" by the old query's b0 —
    // the table-scoped-key data-loss mode the per-query key closes
    drain(tmpDir() + "/ckpt2")
    assert(Manifest.read(spark, table).count() == 80)
    val snaps = Manifest.snapshots(spark, table)
    assert(snaps.size == 2 && snaps.distinct.size == 2,
      s"two distinct per-query batch-0 commits expected: $snaps")
    assert(snaps.forall(_.matches("stream-q[0-9a-f]{8}-b0")), s"$snaps")
  }

  test("sink: at-least-once replay of a committed batch is a no-op") {
    val table = tmpDir() + "/t"
    Manifest.write((1 to 10).toDF("id"), table, "stream-b5")
    val sink = new GraftSink(spark, table, Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    // a replayed batchId that already committed must not duplicate
    sink.addBatch(5L, (100 to 200).toDF("id"))
    assert(Manifest.read(spark, table).count() == 10)
    assert(Manifest.snapshots(spark, table) == Seq("stream-b5"))
  }

  test("source: offsets are commit seqs; each batch is the new files only") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write((1 to 100).toDF("v"), table, "s0")
    def drain(): Unit =
      spark.readStream.format("graft").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    // initial batch = the full starting snapshot
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq == (1 to 100))
    val outBase = Manifest.snapshots(spark, out).last
    // append two commits; the restarted stream serves ONLY the new rows
    Manifest.append((101 to 130).toDF("v"), table, "s1")
    Manifest.append((131 to 140).toDF("v"), table, "s2")
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq == (1 to 140))
    // over the append-only span the stream served exactly the rows the
    // incremental read serves
    def changes(dir: String, since: String) =
      Manifest.readChangesSince(spark, dir, since).get
        .as[Int].collect().sorted.toSeq
    assert(changes(out, outBase) == changes(table, "s0"))
    // no new commits: no batch, no sink commit
    val nBefore = Manifest.snapshots(spark, out).size
    drain()
    assert(Manifest.snapshots(spark, out).size == nBefore)
  }

  test("source: streaming a COLUMN-MAPPED table serves logical names across a rename") {
    val table = tmpDir()
    val wh = tmpDir()
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    spark.conf.set("spark.sql.catalog.gstr", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstr.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstr.db")
    spark.sql(s"CREATE TABLE gstr.db.cm (k BIGINT, name STRING) USING graft")
    spark.sql("INSERT INTO gstr.db.cm VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gstr.db.cm RENAME COLUMN name TO label")
    // post-rename INSERT lands under the frozen PHYSICAL name
    spark.sql("INSERT INTO gstr.db.cm VALUES (3, 'c')")
    val dir = s"$wh/db/cm"
    def drain(): Unit =
      spark.readStream.format("graft").load(dir)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    val got = Manifest.read(spark, out)
    assert(got.columns.toSeq == Seq("k", "label"),
      "the stream must serve LOGICAL names")
    assert(got.orderBy("k").collect().map(_.getString(1)).toSeq ==
      Seq("a", "b", "c"),
      "physical-named files must map through on every batch")
    // incremental batches across mixed pre/post-rename files too
    spark.sql("INSERT INTO gstr.db.cm VALUES (4, 'd')")
    drain()
    assert(Manifest.read(spark, out).count() == 4)
  }

  test("source: a rewrite inside the window fails loudly, never re-serves rows") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write((1 to 50).toDF("v"), table, "s0")
    def drain(): Unit =
      spark.readStream.format("graft").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    assert(Manifest.read(spark, out).count() == 50)
    // a compaction re-packs rows the stream already served
    Manifest.compact(spark, table, "packed", Long.MaxValue)
    val ex = intercept[Exception] { drain() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("rewrite") || m.contains("re-baseline")),
      s"must name the rewrite: ${msgs(ex)}")
    // the sink was not polluted by the failed window
    assert(Manifest.read(spark, out).count() == 50)
  }

  test("source: initial load applies merge-on-read deletes; later MOR fails the window") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write(spark.range(0, 100).toDF("id")
      .repartitionByRange(2, col("id")), table, "s0")
    Manifest.deleteRangeMOR(spark, table, "id", "10", "19", "mor0")
    def drain(): Unit =
      spark.readStream.format("graft").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    // the stream starts AT the MOR snapshot: deletes applied in the
    // initial state
    drain()
    assert(Manifest.read(spark, out).count() == 90)
    // a further MOR delete cannot be represented in an append stream
    Manifest.deleteRangeMOR(spark, table, "id", "30", "34", "mor1")
    val ex = intercept[Exception] { drain() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("merge-on-read")), s"${msgs(ex)}")
  }

  test("sink: partitioned streaming land via partitionBy") {
    val land = tmpDir()
    val table = tmpDir() + "/t"
    val ckpt = tmpDir() + "/ckpt"
    writeJsonl(land, "a.jsonl", 0 until 60)
    spark.readStream.schema(jsonSchema).json(land)
      .withColumn("lang", when(col("id") % 2 === 0, "en").otherwise("fr"))
      .writeStream.format("graft").option("path", table)
      .partitionBy("lang")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    assert(Manifest.readWherePartitions(spark, table,
      Map("lang" -> "en")).count() == 30)
    assert(Manifest.currentFiles(spark, table).forall(_.contains("lang=")))
  }

  test("source: skipChangeCommits streams on through compaction and MOR " +
      "deletes with no duplicate rows") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write((1 to 50).toDF("v"), table, "s0")
    def drain(): Unit =
      spark.readStream.format("graft")
        .option("skipChangeCommits", "true").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    assert(Manifest.read(spark, out).count() == 50)
    // maintenance mid-stream: a compaction re-packs every row, then a
    // fresh append lands — the stream must skip the re-pack and serve
    // ONLY the appended rows (the option's insert-only contract)
    Manifest.compact(spark, table, "packed", Long.MaxValue)
    Manifest.append((51 to 70).toDF("v"), table, "s1")
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq ==
      (1 to 70), "appends served once; compaction repack never re-served")
    // a MOR delete is likewise skipped (insert-only: the sink keeps the
    // deleted rows), and later appends keep flowing
    Manifest.deleteRangeMOR(spark, table, "v", "1", "10", "mor0")
    Manifest.append((71 to 80).toDF("v"), table, "s2")
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq ==
      (1 to 80))
  }

  test("source: maxCommitsPerTrigger drains a commit backlog in bounded batches") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write(Seq(0).toDF("v"), table, "s0")
    def drain(): Unit =
      spark.readStream.format("graft")
        .option("maxCommitsPerTrigger", "3").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain() // initial snapshot (uncapped by design: one snapshot read)
    assert(Manifest.read(spark, out).count() == 1)
    // a 9-commit backlog lands while the stream is down
    (1 to 9).foreach(i =>
      Manifest.append(Seq(i).toDF("v"), table, s"b$i"))
    // round 11: the source implements SupportsTriggerAvailableNow, so
    // ONE AvailableNow start drains the whole backlog in bounded
    // batches (3 commits each) — one sink commit per batch proves the
    // admission steps without restarts
    drain()
    assert(Manifest.read(spark, out).count() == 10)
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq ==
      (0 to 9))
    val sinkCommits = Manifest.snapshots(spark, out)
    assert(sinkCommits.size == 4, // initial batch + three 3-commit batches
      s"expected 1+3 bounded sink batches, got $sinkCommits")
  }

  test("source: maxFilesPerTrigger bounds the batch by ADDED FILES, not commits") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write(Seq(0).toDF("v"), table, "s0")
    def drain(): Unit =
      spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "4").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain() // initial snapshot: uncapped by design
    // six commits of TWO files each land while the stream is down:
    // a commit cap of 4 would admit 4 commits (8 files); the FILE cap
    // of 4 must admit only 2 commits per batch
    (1 to 6).foreach(i =>
      Manifest.append(
        Seq(i * 10, i * 10 + 1).toDF("v").repartition(2), table, s"b$i"))
    // one AvailableNow start drains all 12 files as three 2-commit
    // (4-file) batches — one sink commit per batch
    drain()
    assert(Manifest.read(spark, out).count() == 13)
    val sinkCommits = Manifest.snapshots(spark, out)
    assert(sinkCommits.size == 4, // initial + three 4-file batches
      s"expected 1+3 bounded sink batches, got $sinkCommits")
  }

  test("source: an OVERSIZED commit splits on file boundaries; a restart resumes mid-commit") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write(Seq(0L).toDF("v"), table, "s0")
    def run(trigger: Trigger): Unit =
      spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "4").load(table)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start().awaitTermination()
    run(Trigger.AvailableNow()) // initial snapshot (uncapped)
    assert(Manifest.read(spark, out).count() == 1)
    // ONE 12-file commit lands while the stream is down — pre-round-12
    // it passed whole; now it must drain as 4-file batches whose
    // offsets carry the intra-commit file count
    Manifest.append(
      spark.range(1, 13).toDF("v").repartition(12), table, "big")
    // first: a SINGLE batch (Trigger.Once) — 4 of the 12 files — then
    // the query STOPS, leaving a partial `seq#4` offset in the
    // checkpoint
    run(Trigger.Once())
    assert(Manifest.read(spark, out).count() == 5,
      "one capped batch must serve exactly 4 of the 12 files")
    // restart: the new query resumes MID-COMMIT from the checkpointed
    // partial offset and drains the rest in bounded batches
    run(Trigger.AvailableNow())
    assert(Manifest.read(spark, out).as[Long].collect().sorted.toSeq ==
      (0L to 12L), "every row of the split commit exactly once")
    val sinkCommits = Manifest.snapshots(spark, out)
    assert(sinkCommits.size == 4, // initial + 4 + 4 + 4
      s"expected 1+3 bounded batches, got $sinkCommits")
    // byte-bounded variant on a fresh stream: a 1-byte cap drains the
    // same table one FILE per batch instead of stalling or passing the
    // commit whole
    val out2 = tmpDir() + "/out2"
    val ckpt2 = tmpDir() + "/ckpt2"
    spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1").load(table)
      .writeStream.format("graft").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    // initial snapshot batch, then 12 one-file batches? No: the initial
    // batch is the full snapshot AT THE LATEST offset (uncapped), so a
    // fresh stream sees one batch — append one more 3-file commit and
    // check it drains one file at a time
    Manifest.append(
      spark.range(20, 23).toDF("v").repartition(3), table, "tail3")
    spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1").load(table)
      .writeStream.format("graft").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    assert(Manifest.read(spark, out2).as[Long].collect().sorted.toSeq ==
      ((0L to 12L) ++ (20L to 22L)))
    assert(Manifest.snapshots(spark, out2).size == 4, // initial + 3 files
      "a 3-file commit under a 1-byte cap must drain one file per batch")
  }

  test("source: maxBytesPerTrigger admits at least one commit however small the cap") {
    val table = tmpDir() + "/t"
    val out = tmpDir() + "/out"
    val ckpt = tmpDir() + "/ckpt"
    Manifest.write(Seq(0).toDF("v"), table, "s0")
    def drain(): Unit =
      spark.readStream.format("graft")
        .option("maxBytesPerTrigger", "1").load(table) // 1 byte: every
        // single-file commit is oversized; at-least-one-FILE progress
        // admits exactly one file (here = one commit) per batch
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    (1 to 3).foreach(i => Manifest.append(Seq(i).toDF("v"), table, s"b$i"))
    // every one-file commit is over the 1-byte cap; the no-stall rule
    // admits one file per batch and one AvailableNow start drains all
    drain()
    assert(Manifest.read(spark, out).as[Int].collect().sorted.toSeq ==
      (0 to 3))
    val sinkCommits = Manifest.snapshots(spark, out)
    assert(sinkCommits.size == 4, // initial + three one-commit batches
      s"expected 1+3 one-commit sink batches, got $sinkCommits")
    // a garbage size fails loudly once the source is actually built
    // (readStream.load is lazy — only sourceSchema runs before start)
    intercept[Exception] {
      spark.readStream.format("graft")
        .option("maxBytesPerTrigger", "not-a-size").load(table)
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }
}
