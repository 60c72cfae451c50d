package graft.io

import java.net.URI
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** A local filesystem under its own scheme that counts `open` calls on
  * `manifest-<seq>.json` keys (the manifest parses an operation costs)
  * and can run a hook inside a commit's landing window: once, when the
  * committer lists the finished `data-<snapshot>` dir it just landed.
  * Statuses are plain (no POSIX permissions), so Spark's listings never
  * ask RawLocalFileSystem to load permissions for a non-file:// path. */
class ManifestProbeFS extends RawLocalFileSystem {
  override def getScheme: String = "mprobe"
  override def getUri: URI = URI.create("mprobe:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.matches("manifest-\\d+\\.json"))
      ManifestProbeFS.opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, s.getPath)

  override def listStatus(p: Path): Array[FileStatus] = {
    ManifestProbeFS.landed.get match {
      case t @ (snap, hook) if p.getName == s"data-$snap" &&
          exists(new Path(p, "_SUCCESS")) &&
          ManifestProbeFS.landed.compareAndSet(t, null) =>
        hook()
      case _ =>
    }
    super.listStatus(p).map(plain)
  }

  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
}

object ManifestProbeFS {
  val opens = new AtomicLong
  /** (snapshot, hook): run `hook` once the snapshot's data has landed. */
  val landed = new AtomicReference[(String, () => Unit)]
}

class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("manifest").toString

  /** A fresh table dir on [[ManifestProbeFS]]. */
  private def probeDir(): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mprobe.impl", classOf[ManifestProbeFS].getName)
    conf.set("fs.mprobe.impl.disable.cache", "true")
    s"mprobe:${tmpDir()}/tbl"
  }

  test("write commits atomically: readers see old or new snapshot, never a mix") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "s1")
    assert(Manifest.read(spark, dir).count() == 100)

    // resolve the OLD snapshot's files, then land a new one: the old
    // file list stays fully readable (no mix, no missing files)
    val oldFiles = Manifest.currentFiles(spark, dir)
    Manifest.write((1 to 250).toDF("v"), dir, "s2")
    assert(Manifest.read(spark, dir).count() == 250)
    val oldDf = spark.read.parquet(oldFiles.map(f => s"$dir/$f"): _*)
    assert(oldDf.count() == 100)
  }

  test("a write that dies before the manifest commit leaves the table untouched") {
    val dir = tmpDir()
    Manifest.write((1 to 50).toDF("v"), dir, "s1")
    // simulate a job that landed data but crashed pre-commit: an orphan
    // data dir appears, the current snapshot is still s1
    (51 to 60).toDF("v").write.parquet(s"$dir/data-crashed")
    assert(Manifest.read(spark, dir).count() == 50)
    Manifest.write((1 to 70).toDF("v"), dir, "s2")

    // default grace window: the orphan might be an IN-FLIGHT write that
    // has landed data but not yet committed — vacuum must not touch it
    val careful = Manifest.vacuum(spark, dir)
    assert(careful.toSet == Set("data-s1", "manifest-s1"))
    assert(new java.io.File(s"$dir/data-crashed").exists())

    // past the grace window (0 here) the orphan is a crashed write: gone
    val removed = Manifest.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(removed.toSet == Set("data-crashed"))
    assert(Manifest.read(spark, dir).count() == 70)
  }

  test("time travel: retained snapshots replay exactly; retention drops the oldest") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "v1")
    Manifest.write((1 to 20).toDF("v"), dir, "v2")
    Manifest.write((1 to 30).toDF("v"), dir, "v3")
    assert(Manifest.snapshots(spark, dir) == Seq("v1", "v2", "v3"))
    assert(Manifest.readAt(spark, dir, "v1").count() == 10)
    assert(Manifest.readAt(spark, dir, "v2").count() == 20)
    assert(Manifest.read(spark, dir).count() == 30)

    // keepLast=2: v1's manifest and data go, v2 stays time-travelable
    val removed = Manifest.vacuum(spark, dir, keepLast = 2)
    assert(removed.toSet == Set("data-v1", "manifest-v1"))
    assert(Manifest.snapshots(spark, dir) == Seq("v2", "v3"))
    assert(Manifest.readAt(spark, dir, "v2").count() == 20)
    intercept[IllegalArgumentException] {
      Manifest.readAt(spark, dir, "v1")
    }
  }

  test("compact keeps bytes, shrinks file count, swaps without a race window") {
    val dir = tmpDir()
    Manifest.write((1 to 10000).toDF("v").repartition(16), dir, "s1")
    assert(Manifest.currentFiles(spark, dir).size == 16)
    val sumBefore = Manifest.read(spark, dir).agg(sum("v")).collect().head.getLong(0)
    Manifest.compact(spark, dir, "s1-compacted", targetFileBytes = 1L << 30)
    val files = Manifest.currentFiles(spark, dir)
    assert(files.size == 1 && files.head.startsWith("data-s1-compacted/"))
    assert(Manifest.read(spark, dir).agg(sum("v")).collect().head.getLong(0) == sumBefore)
  }

  /** One [[Manifest.compact]] layout: flat or hive-partitioned by
    * `seg`, clustered on `id` or not, whole-table or scoped to `seg=e`. */
  private case class CompactCase(partitioned: Boolean, clustered: Boolean,
      scoped: Boolean) {
    def name: String = Seq(if (partitioned) "partitioned" else "flat",
      if (clustered) "clustered" else "unclustered",
      if (scoped) "where seg=e" else "whole table").mkString(", ")
  }

  private val compactCases = for {
    partitioned <- Seq(false, true)
    clustered <- Seq(false, true)
    scoped <- Seq(false, true) if partitioned || !scoped
  } yield CompactCase(partitioned, clustered, scoped)

  compactCases.foreach { c =>
    test(s"compact keeps rows, layout and the rewrite contract: ${c.name}") {
      val dir = tmpDir()
      def rows(from: Long, to: Long) = spark.range(from, to).toDF("id")
        .withColumn("seg", when(col("id") % 2 === 0, "e").otherwise("o"))
        .withColumn("v", col("id") * 3)
      // a fragmented history with pending MOR deletes in both partitions
      if (c.partitioned) {
        Manifest.writePartitioned(rows(0, 1000).repartition(4), dir, "base",
          Seq("seg"))
        Manifest.appendPartitioned(rows(1000, 1010), dir, "a1", Seq("seg"))
      } else {
        Manifest.write(rows(0, 1000).repartition(4), dir, "base")
        Manifest.append(rows(1000, 1010), dir, "a1")
      }
      Manifest.deleteRangeMOR(spark, dir, "id", "100", "149", "mor")
      val before = Manifest.history(spark, dir).last
      assert(before.deleteFiles.nonEmpty)
      def content = Manifest.read(spark, dir)
        .select("id", "seg", "v").as[(Long, String, Long)].collect().sorted.toSeq
      val rowsBefore = content
      assert(rowsBefore.size == 960)
      val bytes = Manifest.filesBytes(spark, dir, before.files).get
      // flat rewrites split into two files; partitioned ones write one
      // file per value (clustered: one range task)
      val target = if (c.partitioned) Long.MaxValue else bytes / 2 + 1
      val res = Manifest.compact(spark, dir, "packed", target,
        clusterBy = if (c.clustered) Seq("id") else Nil,
        where = if (c.scoped) Map("seg" -> "e") else Map.empty)

      assert(content == rowsBefore, "compaction must not change any row")
      val after = Manifest.history(spark, dir).last
      assert(after.snapshot == "packed" && res.committed.contains("packed"))
      if (c.partitioned) {
        assert(after.files.forall(_.matches(".*/seg=(e|o)/part-.*")),
          s"the hive layout must survive: ${after.files}")
        assert(Manifest.readWherePartitions(spark, dir, Map("seg" -> "e"))
          .count() == rowsBefore.count(_._2 == "e"))
      } else assert(after.files.forall(!_.contains("=")), after.files)
      val (rewritten, carried) =
        if (c.scoped) before.files.partition(_.contains("/seg=e/"))
        else (before.files, Nil)
      assert(res.rewritten == rewritten && res.carried == carried)
      assert(after.files.count(_.startsWith("data-packed/")) ==
        (if (c.scoped) 1 else 2))
      assert(after.files.size == carried.size +
        after.files.count(_.startsWith("data-packed/")))
      assert(carried.forall(after.files.contains))
      // whole table purges the MOR state; a scoped rewrite carries it
      // for the files it did not touch
      assert(after.deleteFiles ==
        (if (c.scoped) before.deleteFiles else Nil))
      assert(after.rewrite && after.cdcRecorded && after.cdcFiles.isEmpty,
        "a compaction is a rewrite with an empty change record")
    }
  }

  test("compact on a writePartitioned table keeps the hive layout by default") {
    val dir = tmpDir()
    Manifest.writePartitioned(
      spark.range(0, 200).toDF("id")
        .withColumn("seg", when(col("id") % 2 === 0, "e").otherwise("o"))
        .repartition(4),
      dir, "base", Seq("seg"))
    Manifest.compact(spark, dir, "packed", 1L << 30)
    val files = Manifest.currentFiles(spark, dir)
    assert(files.forall(f => f.contains("/seg=e/") || f.contains("/seg=o/")),
      s"compaction must not flatten the hive layout: $files")
    assert(Manifest.readWherePartitions(spark, dir, Map("seg" -> "e"))
      .count() == 100)
  }

  test("compact refuses a non-positive targetFileBytes before it commits") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "s1")
    Seq(0L, -1L).foreach { t =>
      val e = intercept[IllegalArgumentException](
        Manifest.compact(spark, dir, s"bad$t".replace('-', 'm'), t))
      assert(e.getMessage.contains("targetFileBytes"), e.getMessage)
    }
    assert(Manifest.snapshots(spark, dir) == Seq("s1"))
  }

  test("spark.graft.write.targetFileBytes must be a positive byte count") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "s1")
    val key = "spark.graft.write.targetFileBytes"
    Seq("0", "-5", "64MB").foreach { bad =>
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](
          Manifest.append((101 to 110).toDF("v"), dir, "s2"))
        assert(e.getMessage.contains(key), e.getMessage)
      } finally spark.conf.unset(key)
      assert(Manifest.snapshots(spark, dir) == Seq("s1"))
      assert(!new java.io.File(s"$dir/data-s2").exists())
    }
    Manifest.append((101 to 110).toDF("v"), dir, "s2")
    assert(Manifest.read(spark, dir).count() == 110)
  }

  test("two writers racing the same commit_seq: exactly one wins, the loser throws") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1") // seq 0
    // Writer A stages its manifest for seq 1, and INSIDE its commit
    // window writer B runs a full write — B also computes seq 1 and
    // publishes manifest-1.json first. A's publish rename then hits an
    // existing key: the CAS refuses, A throws, B's commit stands.
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.writeImpl((11 to 30).toDF("v"), dir, "a-loser",
        beforePublish = () => Manifest.write((31 to 80).toDF("v"), dir, "b-winner"))
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // no silent supersede: the table's history is s1 -> b-winner only
    assert(Manifest.snapshots(spark, dir) == Seq("s1", "b-winner"))
    assert(Manifest.read(spark, dir).count() == 50)
    intercept[IllegalArgumentException] { Manifest.readAt(spark, dir, "a-loser") }
    // the loser's landed data is an orphan: invisible to readers,
    // reclaimed by vacuum once past the grace window
    assert(new java.io.File(s"$dir/data-a-loser").exists())
    val removed = Manifest.vacuum(spark, dir, keepLast = 2, orphanGraceMs = 0L)
    assert(removed.contains("data-a-loser"))
    assert(Manifest.read(spark, dir).count() == 50)
  }

  test("two racing APPENDS both commit: the loser rebases onto the winner's head") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "base") // seq 0
    // Writer B stages its append for seq 1; INSIDE its commit window
    // writer A lands and publishes its own append at seq 1. B's CAS
    // rename refuses — but an append's files are disjoint by
    // construction, so B re-reads the head (now including A), rebases
    // its carry-forward, and commits at seq 2. BOTH file sets live.
    var raced = false
    Manifest.appendImpl((21 to 30).toDF("v"), dir, "b-rebased", () => {
      if (!raced) { raced = true; Manifest.append((11 to 20).toDF("v"), dir, "a-winner") }
    })
    assert(Manifest.snapshots(spark, dir) == Seq("base", "a-winner", "b-rebased"))
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq == (1 to 30))
    // time travel: the intermediate head holds base + a-winner only
    assert(Manifest.readAt(spark, dir, "a-winner").count() == 20)
    // a rebased append must also carry the winner's MOR delete state:
    // race an append against a winner that MOR-deletes
    val dir2 = tmpDir()
    Manifest.write((1 to 100).toDF("id")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      dir2, "base")
    var raced2 = false
    Manifest.appendImpl((1000 to 1009).toDF("id"), dir2, "b2", () => {
      if (!raced2) {
        raced2 = true
        Manifest.deleteRangeMOR(spark, dir2, "id", "10", "19", "mor-winner")
      }
    })
    assert(Manifest.read(spark, dir2).count() == 100L - 10 + 10,
      "the rebased append must keep the winner's deletes applied")
    assert(Manifest.snapshots(spark, dir2) == Seq("base", "mor-winner", "b2"))
  }

  test("two racing COW deletes on DISJOINT files both commit: the loser " +
      "rebases file-level (Delta's conflict check)") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 1000).toDF("id")
      .repartitionByRange(10, col("id")), dir, "base")
    // loser deletes [100,199]; inside its commit window the winner
    // deletes [800,899] — different files on a range-clustered table,
    // so the loser rebases onto the winner's head and BOTH apply
    var raced = false
    Manifest.deleteRange(spark, dir, "id", "100", "199", "cow-loser",
      () => {
        if (!raced) {
          raced = true
          Manifest.deleteRange(spark, dir, "id", "800", "899", "cow-winner")
        }
      })
    assert(Manifest.snapshots(spark, dir) ==
      Seq("base", "cow-winner", "cow-loser"))
    assert(Manifest.read(spark, dir).count() == 800)
    assert(Manifest.read(spark, dir)
      .where("id BETWEEN 100 AND 199 OR id BETWEEN 800 AND 899")
      .count() == 0)
    // and a COW delete racing a plain APPEND rebases too, carrying the
    // winner's files — appended rows are NOT re-judged by the delete's
    // predicate (WriteSerializable, Delta's default)
    val dir2 = tmpDir()
    Manifest.write(spark.range(0, 100).toDF("id")
      .repartitionByRange(2, col("id")), dir2, "base")
    var raced2 = false
    Manifest.deleteRange(spark, dir2, "id", "0", "49", "cow2",
      () => {
        if (!raced2) {
          raced2 = true
          Manifest.append(Seq(25L).toDF("id"), dir2, "ap-winner")
        }
      })
    assert(Manifest.read(spark, dir2).as[Long].collect().sorted.toSeq ==
      ((50L to 99L) :+ 25L).sorted)
  }

  test("two racing COW deletes on OVERLAPPING files: the loser still throws") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 1000).toDF("id")
      .repartitionByRange(10, col("id")), dir, "base")
    var raced = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.deleteRange(spark, dir, "id", "100", "199", "cow-loser",
        () => {
          if (!raced) {
            raced = true
            Manifest.deleteRange(spark, dir, "id", "150", "250", "cow-winner")
          }
        })
    }
    assert(ex.getMessage.contains("rewrote or removed"))
    // only the winner's delete stands; the loser's range survives intact
    assert(Manifest.snapshots(spark, dir) == Seq("base", "cow-winner"))
    assert(Manifest.read(spark, dir).where("id BETWEEN 100 AND 149").count() == 50)
    // a COW delete racing a MOR delete (delete state changed under it)
    // is also a true conflict
    val dir2 = tmpDir()
    Manifest.write(spark.range(0, 1000).toDF("id")
      .repartitionByRange(10, col("id")), dir2, "base")
    var raced2 = false
    val ex2 = intercept[java.util.ConcurrentModificationException] {
      Manifest.deleteRange(spark, dir2, "id", "100", "199", "cow2",
        () => {
          if (!raced2) {
            raced2 = true
            Manifest.deleteRangeMOR(spark, dir2, "id", "900", "910", "mor-winner")
          }
        })
    }
    assert(ex2.getMessage.contains("merge-on-read delete state"))
  }

  test("a racing MOR delete rebases onto appends; throws if its targets were rewritten") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 100).toDF("id")
      .repartitionByRange(2, col("id")), dir, "base")
    // MOR delete racing an append: position deletes are additive — rebase
    var raced = false
    val res = Manifest.deleteRangeMOR(spark, dir, "id", "10", "19", "mor1",
      () => {
        if (!raced) {
          raced = true
          Manifest.append((1000L to 1009L).toDF("id"), dir, "ap-winner")
        }
      })
    assert(res.committed.contains("mor1"))
    assert(Manifest.snapshots(spark, dir) == Seq("base", "ap-winner", "mor1"))
    assert(Manifest.read(spark, dir).count() == 100 - 10 + 10)
    // two concurrent MOR deletes COMPOSE (both delete sets apply)
    var raced2 = false
    Manifest.deleteRangeMOR(spark, dir, "id", "20", "24", "mor2",
      () => {
        if (!raced2) {
          raced2 = true
          Manifest.deleteRangeMOR(spark, dir, "id", "30", "34", "mor3")
        }
      })
    assert(Manifest.read(spark, dir).count() == 100 - 10 - 5 - 5 + 10)
    // MOR delete racing a COW delete of DISJOINT files: only the MOR
    // delete's TARGETED files must survive the winner — rebase, both apply
    val dirD = tmpDir()
    Manifest.write(spark.range(0, 1000).toDF("id")
      .repartitionByRange(10, col("id")), dirD, "base")
    var racedD = false
    val resD = Manifest.deleteRangeMOR(spark, dirD, "id", "100", "149", "morD",
      () => {
        if (!racedD) {
          racedD = true
          Manifest.deleteRange(spark, dirD, "id", "800", "899", "cowD")
        }
      })
    assert(resD.committed.contains("morD"))
    assert(Manifest.read(spark, dirD).count() == 1000 - 100 - 50)
    // MOR delete racing a COMPACTION of its targets: positions would be
    // invalid against the re-packed files — a true conflict
    val dir2 = tmpDir()
    Manifest.write(spark.range(0, 100).toDF("id")
      .repartitionByRange(2, col("id")), dir2, "base")
    var raced3 = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.deleteRangeMOR(spark, dir2, "id", "10", "19", "mor-bad",
        () => {
          if (!raced3) {
            raced3 = true
            Manifest.compact(spark, dir2, "packed", Long.MaxValue)
          }
        })
    }
    assert(ex.getMessage.contains("rewrote or removed"))
    assert(Manifest.read(spark, dir2).count() == 100)
  }

  test("a true conflict still throws: overwrite does not rebase") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    // overwrite racing an append: the overwrite loses and throws (its
    // semantics replace a head that no longer exists)
    intercept[java.util.ConcurrentModificationException] {
      Manifest.writeImpl((11 to 30).toDF("v"), dir, "ow-loser",
        beforePublish = () => Manifest.append((31 to 40).toDF("v"), dir, "ap-winner"))
    }
    assert(Manifest.snapshots(spark, dir) == Seq("s1", "ap-winner"))
    assert(Manifest.read(spark, dir).count() == 20)
  }

  test("every commit parses each retained manifest once per attempt") {
    val dir = probeDir()
    Manifest.write(spark.range(0, 100).toDF("id")
      .repartitionByRange(2, col("id")), dir, "s0")
    var n = 0
    def deepen(to: Int): Unit =
      while (Manifest.snapshots(spark, dir).size < to) {
        n += 1
        Manifest.append(Seq(1000L + n).toDF("id"), dir, s"s$n")
      }
    def opens(op: => Unit): Long = {
      ManifestProbeFS.opens.set(0)
      op
      ManifestProbeFS.opens.get
    }
    // the six ops at depth d … d+5; each range hits live rows. The
    // metadata commit keeps the head's files, so restoring the version
    // before it leaves the rows as they were
    def ops(tag: String, lo: Int): Seq[Long] = Seq(
      opens(Manifest.append(Seq(2000L + lo).toDF("id"), dir, s"ap-$tag")),
      opens(Manifest.deleteRange(spark, dir, "id", s"$lo", s"${lo + 4}",
        s"cow-$tag")),
      opens(Manifest.deleteRangeMOR(spark, dir, "id", s"${lo + 50}",
        s"${lo + 54}", s"mor-$tag")),
      opens(Manifest.commitMetadata(spark, dir, s"meta-$tag")(_ => None)),
      opens(Manifest.restoreTo(spark, dir,
        Right(Manifest.head(spark, dir).get.seq - 1))),
      opens(replayEpoch(s"ep-$tag", 3000L + lo)))
    // a replayed streaming epoch: a crashed attempt's orphan, the
    // dedupe, the re-promoted files, the commit
    def replayEpoch(snap: String, id: Long): Unit = {
      Seq(id).toDF("id").write.parquet(s"$dir/data-$snap")
      assert(Manifest.prepareReplay(spark, dir, snap))
      Seq(id).toDF("id").coalesce(1).write.parquet(s"$dir/data-$snap")
      val fs = new Path(s"$dir/data-$snap")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Manifest.commitLandedAppend(spark, dir, snap,
        fs.listStatus(new Path(s"$dir/data-$snap")).toSeq.map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).map(f => s"data-$snap/$f"))
    }
    deepen(10)
    val shallow = ops("a", 0)
    deepen(20)
    val deep = ops("b", 5)
    // ten more retained manifests cost ten more opens per parse: one
    // parse of each per commit, two for the epoch (its dedupe and its
    // commit). The depth-independent opens (the head reads, the
    // embedded-meta cache fill) cancel in the difference.
    Seq("append" -> 10, "deleteRange" -> 10, "deleteRangeMOR" -> 10,
        "commitMetadata" -> 10, "restore by version" -> 10,
        "replayed epoch" -> 20).zipWithIndex.foreach {
      case ((op, more), i) =>
        assert(deep(i) - shallow(i) == more,
          s"$op: ${shallow(i)} manifest opens at depth ${10 + i}, " +
            s"${deep(i)} at depth ${20 + i}")
    }
    assert(!Manifest.prepareReplay(spark, dir, "ep-b"))
    assert(Manifest.read(spark, dir).count() == 100 - 20 + n + 4)
  }

  test("commits and a vacuum during a landing: an append rebases, an " +
      "overwrite refuses; neither publishes below the head") {
    val dir = probeDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    // while `snap` lands, two commits publish and vacuum retires every
    // manifest but the head — the seq the landing's read implies is a
    // free key again, so only the head check can refuse it
    def raceLanding(snap: String, a: Int): Unit =
      ManifestProbeFS.landed.set((snap, () => {
        Manifest.append((a until a + 10).toDF("v"), dir, s"r$a")
        Manifest.append((a + 10 until a + 20).toDF("v"), dir, s"r${a + 10}")
        Manifest.vacuum(spark, dir, keepLast = 1)
      }))
    raceLanding("ap", 100)
    Manifest.append((11 to 20).toDF("v"), dir, "ap")
    assert(ManifestProbeFS.landed.get == null, "the landing hook never ran")
    assert(Manifest.history(spark, dir).map(h => h.snapshot -> h.seq) ==
      Seq("r110" -> 2L, "ap" -> 3L))
    val afterAppend = (1 to 20) ++ (100 until 120)
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq ==
      afterAppend)
    // a blind overwrite publishes against its pre-landing head: the
    // commits that landed meanwhile make it refuse, never vanish
    raceLanding("ow", 200)
    intercept[java.util.ConcurrentModificationException] {
      Manifest.write((900 to 905).toDF("v"), dir, "ow")
    }
    assert(Manifest.snapshots(spark, dir) == Seq("r210"))
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq ==
      afterAppend ++ (200 until 220))
  }

  test("a MOR delete refuses once a rewrite removed a touched file, even " +
      "before its first attempt") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 20).toDF("id")
      .repartitionByRange(2, col("id")), dir, "base")
    // the SQL MOR DELETE's order: positions from the pinned head, then
    // the commit — here a COW delete rewrites a touched file in between
    val l = Manifest.landing(spark, dir, "mor", lands = true)
    val touch = l.priors.last.files
    val hits = Manifest.readFilesMetaApplyingDeletes(spark, dir, touch, Nil)
      .where("id < 5").localCheckpoint()
    Manifest.deleteRange(spark, dir, "id", "0", "2", "cow")
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.deleteHitsMOR(spark, l, touch, hits)
    }
    assert(ex.getMessage.contains("rewrote or removed"))
    assert(Manifest.snapshots(spark, dir) == Seq("base", "cow"))
    assert(Manifest.read(spark, dir).as[Long].collect().sorted.toSeq ==
      (3L until 20L))
  }

  test("the same-JVM rename lock is one entry per table, not per commit") {
    val dir = tmpDir()
    Manifest.write(Seq(0).toDF("v"), dir, "s0")
    (1 until 20).foreach(i => Manifest.append(Seq(i).toDF("v"), dir, s"s$i"))
    assert(Manifest.snapshots(spark, dir).size == 20)
    assert(Manifest.renameLocks.keySet.asScala
      .count(k => k.endsWith(s"#$dir") || k.contains(s"$dir/")) == 1)
  }

  test("race matrix: a streaming epoch append rebases onto a racing append") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "base")
    // the epoch's files land first (executor-side in a real stream)
    (11 to 20).toDF("v").coalesce(1).write.parquet(s"$dir/data-e1")
    val landed = new java.io.File(s"$dir/data-e1").list().toSeq
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
      .map(f => s"data-e1/$f")
    var raced = false
    Manifest.commitLandedAppend(spark, dir, "e1", landed,
      beforePublish = () => if (!raced) {
        raced = true
        Manifest.append((21 to 30).toDF("v"), dir, "ap-winner")
      })
    assert(Manifest.snapshots(spark, dir) == Seq("base", "ap-winner", "e1"))
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq == (1 to 30))
  }

  test("race matrix: a MOR UPDATE refuses a racing append") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 20).toDF("id")
      .repartitionByRange(2, col("id")), dir, "base")
    val cur = Manifest.head(spark, dir).get
    val hits = Manifest.readFilesMetaApplyingDeletes(spark, dir, cur.files,
      Nil).where("id < 5").localCheckpoint()
    val post = hits.select((col("id") + 100).as("id"))
    val cdc = post.withColumn(Manifest.CdfTypeCol, lit("update_postimage"))
    intercept[java.util.ConcurrentModificationException] {
      Manifest.updateHitsMOR(spark, dir, "upd", hits, post, cdc, Nil,
        () => Manifest.append(Seq(50L).toDF("id"), dir, "ap-winner"))
    }
    assert(Manifest.snapshots(spark, dir) == Seq("base", "ap-winner"))
    assert(Manifest.read(spark, dir).as[Long].collect().sorted.toSeq ==
      (0L until 20L) :+ 50L)
  }

  test("race matrix: a whole-table compact refuses a racing append") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 20).toDF("id").repartition(4), dir, "base")
    intercept[java.util.ConcurrentModificationException] {
      Manifest.compact(spark, dir, "packed", Long.MaxValue,
        beforePublish = () => Manifest.append(Seq(50L).toDF("id"), dir, "ap-winner"))
    }
    assert(Manifest.snapshots(spark, dir) == Seq("base", "ap-winner"))
    assert(Manifest.read(spark, dir).as[Long].collect().sorted.toSeq ==
      (0L until 20L) :+ 50L)
  }

  test("race matrix: a where-scoped compact rebases over an append to " +
      "a disjoint partition") {
    val dir = tmpDir()
    Manifest.writePartitioned(spark.range(0, 20).selectExpr("id", "id % 2 AS p")
      .repartition(4), dir, "base", Seq("p"))
    var raced = false
    val res = Manifest.compact(spark, dir, "packed", Long.MaxValue,
      where = Map("p" -> "0"), beforePublish = () => if (!raced) {
        raced = true
        Manifest.appendPartitioned(Seq((100L, 1L)).toDF("id", "p"), dir,
          "ap-winner", Seq("p"))
      })
    assert(res.committed.contains("packed"))
    assert(Manifest.snapshots(spark, dir) == Seq("base", "ap-winner", "packed"))
    assert(Manifest.read(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == (0L until 20L) :+ 100L)
    // p=0 is one re-packed file; p=1 keeps its files and the winner's
    val files = Manifest.currentFiles(spark, dir)
    assert(files.count(_.contains("/p=0/")) == 1)
    assert(files.exists(_.startsWith("data-ap-winner/p=1/")))
  }

  test("race matrix: RESTORE refuses a racing append") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    Manifest.append((11 to 20).toDF("v"), dir, "s2")
    intercept[java.util.ConcurrentModificationException] {
      Manifest.restore(spark, dir, "s1",
        beforePublish = () => Manifest.append((21 to 30).toDF("v"), dir, "ap1"))
    }
    assert(Manifest.snapshots(spark, dir) == Seq("s1", "s2", "ap1"))
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq == (1 to 30))
  }

  test("race matrix: a metadata commit re-derives over a racing append") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    Manifest.append((11 to 20).toDF("v"), dir, "s2")
    var raced = false
    var heads = Seq.empty[String]
    Manifest.commitMetadata(spark, dir, "meta1", beforePublish = () =>
      if (!raced) {
        raced = true
        Manifest.append((31 to 40).toDF("v"), dir, "ap2")
      }) { priors =>
      heads :+= priors.last.snapshot
      None
    }
    assert(heads == Seq("s2", "ap2"), "derive runs once per attempt")
    assert(Manifest.snapshots(spark, dir) == Seq("s1", "s2", "ap2", "meta1"))
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq ==
      (1 to 20) ++ (31 to 40))
  }

  test("a data commit refuses to rebase over a metadata commit it never read") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.mcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mcat.db")
    spark.sql("CREATE TABLE mcat.db.chk (v INT) USING graft")
    spark.sql("INSERT INTO mcat.db.chk VALUES (1)")
    val dir = s"$wh/db/chk"
    // the append's constraint gate ran before the ALTER committed, so a
    // rebase would publish a row the new constraint forbids
    var raced = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.appendImpl(Seq(-5).toDF("v"), dir, "ap", () => if (!raced) {
        raced = true
        spark.sql("ALTER TABLE mcat.db.chk ADD CONSTRAINT pos CHECK (v > 0)")
      })
    }
    assert(ex.getMessage.contains("metadata commit"), ex.getMessage)
    assert(!Manifest.snapshots(spark, dir).contains("ap"))
    assert(Manifest.checkConstraints(spark, dir).map(_._1) == Seq("pos"))
    // re-run, the append reads the constraint
    intercept[IllegalStateException] {
      Manifest.append(Seq(-7).toDF("v"), dir, "ap2")
    }
    Manifest.append(Seq(7).toDF("v"), dir, "ap3")
    assert(Manifest.read(spark, dir).as[Int].collect().sorted.toSeq == Seq(1, 7))
  }

  test("duplicate snapshot ids and never-committed reads are refused") {
    val dir = tmpDir()
    Manifest.write((1 to 5).toDF("v"), dir, "s1")
    intercept[IllegalArgumentException] {
      Manifest.write((1 to 5).toDF("v"), dir, "s1")
    }
    intercept[IllegalArgumentException] {
      Manifest.read(spark, tmpDir())
    }
  }

  test("append commits carry files forward; readChangesSince serves exactly the delta") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "base")
    Manifest.append((101 to 160).toDF("v"), dir, "wk1")
    Manifest.append((161 to 200).toDF("v"), dir, "wk2")
    // the append chain accumulates; time travel sees each prefix
    assert(Manifest.read(spark, dir).count() === 200)
    assert(Manifest.readAt(spark, dir, "wk1").count() === 160)
    assert(Manifest.readAt(spark, dir, "base").count() === 100)
    // incremental consumer: exactly the rows landed after its snapshot
    val d1 = Manifest.readChangesSince(spark, dir, "base").get
    assert(d1.agg(min(col("v")), max(col("v"))).head.toSeq === Seq(101, 200))
    assert(d1.count() === 100)
    val d2 = Manifest.readChangesSince(spark, dir, "wk1").get
    assert(d2.count() === 40 && d2.agg(min(col("v"))).head.getInt(0) === 161)
    // caught-up consumer: no changes, not an empty scan
    assert(Manifest.readChangesSince(spark, dir, "wk2").isEmpty)
    intercept[IllegalArgumentException] {
      Manifest.readChangesSince(spark, dir, "nope")
    }
    // an overwrite commit resets the file set: the diff never re-serves
    // rows the baseline already had
    Manifest.write((1 to 30).toDF("v"), dir, "rebuilt")
    val d3 = Manifest.readChangesSince(spark, dir, "wk1").get
    assert(d3.count() === 30) // only the rebuilt snapshot's files
  }

  test("deleteRange rewrites only stat-overlapping files; carried files untouched") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("id").repartitionByRange(5, col("id")),
      dir, "base")
    val before = Manifest.currentFiles(spark, dir)
    val r = Manifest.deleteRange(spark, dir, "id", "300", "499", "del-mid")
    assert(r.committed.contains("del-mid"))
    assert(r.rewritten.nonEmpty && r.rewritten.size < before.size,
      s"stats must confine the rewrite: touched ${r.rewritten.size}/${before.size}")
    assert((r.rewritten ++ r.carried).sorted == before.sorted)
    // carried files appear in the NEW manifest verbatim — same bytes,
    // zero copies; only the touched ranges landed in the new data dir
    val after = Manifest.currentFiles(spark, dir)
    assert(r.carried.forall(after.contains))
    assert(r.rewritten.forall(f => !after.contains(f)))
    assert(after.exists(_.startsWith("data-del-mid/")))
    // row-level truth: exactly [300,499] gone
    assert(Manifest.read(spark, dir).as[Long].collect().sorted.toSeq ==
      ((0L to 299L) ++ (500L to 999L)))
    // pre-delete snapshot still replays (provenance survives the delete)
    assert(Manifest.readAt(spark, dir, "base").count() == 1000)
  }

  test("deleteRange: proven-no-overlap range is a no-op with no commit") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id").repartitionByRange(2, col("id")),
      dir, "base")
    val r = Manifest.deleteRange(spark, dir, "id", "5000", "6000", "noop")
    assert(r.committed.isEmpty && r.rewritten.isEmpty)
    assert(Manifest.snapshots(spark, dir) == Seq("base"))
    assert(Manifest.read(spark, dir).count() == 100)
  }

  test("deleteRange keeps NULL rows and handles string and timestamp columns") {
    val dir = tmpDir()
    Manifest.write(
      spark.sql(
        """SELECT * FROM VALUES
          |  (1L, 'alpha'), (2L, 'beta'), (3L, CAST(NULL AS STRING)),
          |  (4L, 'gamma'), (5L, 'delta')
          |AS t(id, name)"""
        .stripMargin), dir, "base")
    Manifest.deleteRange(spark, dir, "name", "b", "dz", "del-bd")
    // 'beta' and 'delta' fall in ["b","dz"]; NULL must SURVIVE a delete
    assert(Manifest.read(spark, dir).selectExpr("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))

    val dir2 = tmpDir()
    Manifest.write(
      spark.range(0, 48)
        .selectExpr("id",
          "timestamp_ntz'2022-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0) AS ts")
        .repartitionByRange(4, col("ts")),
      dir2, "base")
    val r2 = Manifest.deleteRange(spark, dir2, "ts",
      "2022-01-01T12:00:00", "2022-01-02T05:59:59.999999", "del-window")
    assert(r2.rewritten.nonEmpty &&
      r2.rewritten.size < (r2.rewritten.size + r2.carried.size))
    assert(Manifest.read(spark, dir2).count() == 48 - 18)
  }

  test("range DML casts timestamp literals in the session time zone") {
    // written under UTC: one file holding 08:30Z and 12:00Z
    def table(): String = {
      val dir = tmpDir()
      Manifest.write(spark.sql(
        """SELECT * FROM VALUES
          |  (1L, TIMESTAMP'2021-01-02 08:30:00', 'ok'),
          |  (2L, TIMESTAMP'2021-01-02 12:00:00', 'ok')
          |AS t(id, ts, flag)""".stripMargin).coalesce(1), dir, "base")
      dir
    }
    def ids(dir: String) =
      Manifest.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    val (cow, upd, mor) = (table(), table(), table())
    // 00:00..01:00 in Los Angeles is 08:00Z..09:00Z: the 08:30Z row is
    // in range, as SQL `DELETE … WHERE ts BETWEEN` judges it
    val (lo, hi) = ("2021-01-02T00:00:00", "2021-01-02T01:00:00")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      assert(Manifest.deleteRange(spark, cow, "ts", lo, hi, "cow")
        .committed.contains("cow"))
      assert(ids(cow) == Seq(2L))
      assert(Manifest.updateRange(spark, upd, "ts", lo, hi, "upd",
        Map("flag" -> lit("hit"))).committed.contains("upd"))
      assert(Manifest.read(spark, upd).select("id", "flag").as[(Long, String)]
        .collect().sorted.toSeq == Seq(1L -> "hit", 2L -> "ok"))
      assert(Manifest.deleteRangeMOR(spark, mor, "ts", lo, hi, "mor")
        .deletedRows == 1)
      assert(ids(mor) == Seq(2L))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("updateRange rewrites in-range rows only, confined to overlapping files") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).selectExpr("id", "'ok' AS flag")
        .repartitionByRange(5, col("id")),
      dir, "base")
    val before = Manifest.currentFiles(spark, dir)
    val r = Manifest.updateRange(spark, dir, "id", "250", "349", "flag-mid",
      Map("flag" -> concat(lit("hot-"), col("id"))))
    assert(r.committed.contains("flag-mid"))
    assert(r.rewritten.nonEmpty && r.rewritten.size < before.size)
    val rows = Manifest.read(spark, dir)
      .selectExpr("id", "flag").as[(Long, String)].collect().toMap
    assert(rows.size == 1000, "update must not change the row count")
    (0L to 999L).foreach { i =>
      if (i >= 250 && i <= 349) assert(rows(i) == s"hot-$i")
      else assert(rows(i) == "ok")
    }
    // refusing to update the prune column itself (would break clustering)
    intercept[IllegalArgumentException] {
      Manifest.updateRange(spark, dir, "id", "0", "10", "bad",
        Map("id" -> lit(0L)))
    }
    // no-overlap update: no commit
    assert(Manifest.updateRange(spark, dir, "id", "5000", "6000", "noop",
      Map("flag" -> lit("x"))).committed.isEmpty)
  }

  test("partitioned snapshots: hive layout in the manifest, recovery, exact pruning") {
    val dir = tmpDir()
    val df = spark.sql(
      """SELECT id, CASE CAST(id % 3 AS INT) WHEN 0 THEN 'de'
        |  WHEN 1 THEN 'en' ELSE 'fr' END AS lang,
        |  id * 10 AS chars
        |FROM range(0, 300)""".stripMargin)
    Manifest.writePartitioned(df, dir, "p1", Seq("lang"))
    val files = Manifest.currentFiles(spark, dir)
    assert(files.nonEmpty && files.forall(_.matches(
      "data-p1/lang=(de|en|fr)/part-[^/]*\\.parquet")),
      s"manifest must list hive-nested part files, got ${files.take(3)}")
    assert(Manifest.partitionValuesOf(files.head).toMap.keySet == Set("lang"))
    // basePath read recovers the partition column
    val back = Manifest.read(spark, dir)
    assert(back.schema.fieldNames.toSet == Set("id", "lang", "chars"))
    assert(back.count() == 300)
    assert(back.where("lang = 'en'").count() == 100)
    // EXACT manifest-level prune: only en files feed the scan
    val en = Manifest.readWherePartitions(spark, dir, Map("lang" -> "en"))
    assert(en.count() == 100)
    assert(en.select("id").as[Long].collect().forall(_ % 3 == 1))
    assert(en.inputFiles.length < back.inputFiles.length)
    assert(en.inputFiles.forall(_.contains("lang=en")))
    // zero-match prune: empty, schema intact
    val none = Manifest.readWherePartitions(spark, dir, Map("lang" -> "zz"))
    assert(none.count() == 0 &&
      none.schema.fieldNames.toSet == Set("id", "lang", "chars"))
    // overwrite back to flat: the table stays readable either way
    Manifest.write(df.select("id", "chars"), dir, "p2-flat")
    assert(Manifest.read(spark, dir).count() == 300)
    assert(Manifest.readAt(spark, dir, "p1").where("lang='fr'").count() == 100)
  }

  test("partition-aware copy-on-write: one-partition DML touches one partition") {
    val dir = tmpDir()
    val df = spark.sql(
      """SELECT id, CASE CAST(id % 3 AS INT) WHEN 0 THEN 'de'
        |  WHEN 1 THEN 'en' ELSE 'fr' END AS lang, 'ok' AS flag
        |FROM range(0, 300)""".stripMargin)
    Manifest.writePartitioned(df, dir, "base", Seq("lang"))
    // delete one LANGUAGE: the partition values decide from the path
    // alone — only lang=en files rewritten, layout preserved
    val r = Manifest.deleteRange(spark, dir, "lang", "en", "en", "drop-en")
    assert(r.rewritten.nonEmpty && r.rewritten.forall(_.contains("lang=en")))
    assert(r.carried.forall(f => !f.contains("lang=en")))
    val after = Manifest.read(spark, dir)
    assert(after.count() == 200)
    assert(after.where("lang = 'en'").count() == 0)
    assert(Manifest.currentFiles(spark, dir)
      .forall(f => f.matches(".*lang=(de|fr)/.*") || !f.contains("lang=")))
    // update one language in the remaining table: layout survives
    val r2 = Manifest.updateRange(spark, dir, "lang", "fr", "fr", "flag-fr",
      Map("flag" -> concat(lit("fr-"), col("id"))))
    assert(r2.rewritten.forall(_.contains("lang=fr")))
    val flags = Manifest.read(spark, dir)
      .selectExpr("lang", "flag").distinct().as[(String, String)].collect()
    assert(flags.filter(_._1 == "de").forall(_._2 == "ok"))
    assert(flags.filter(_._1 == "fr").forall(_._2.startsWith("fr-")))
    assert(Manifest.currentFiles(spark, dir).exists(_.contains("lang=fr")))
  }

  test("appendPartitioned: micro-batches accumulate partitions with carry-forward") {
    val dir = tmpDir()
    def batch(lo: Int, hi: Int) = spark.sql(
      s"""SELECT id, CASE CAST(id % 2 AS INT) WHEN 0 THEN 'de' ELSE 'en' END AS lang
         |FROM range($lo, $hi)""".stripMargin)
    Manifest.writePartitioned(batch(0, 100), dir, "b0", Seq("lang"))
    Manifest.appendPartitioned(batch(100, 150), dir, "b1", Seq("lang"))
    assert(Manifest.read(spark, dir).count() == 150)
    val en = Manifest.readWherePartitions(spark, dir, Map("lang" -> "en"))
    assert(en.count() == 75)
    // both batches' en dirs feed the pruned read
    assert(en.inputFiles.exists(_.contains("data-b0")) &&
      en.inputFiles.exists(_.contains("data-b1")))
    assert(Manifest.readAt(spark, dir, "b0").count() == 100)
  }

  test("merge-on-read delete: no data file rewritten, readers apply position deletes") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("id").repartitionByRange(5, col("id")),
      dir, "base")
    val dataBefore = Manifest.currentFiles(spark, dir)
    val mtimes = dataBefore.map(f => f -> new java.io.File(s"$dir/$f").lastModified).toMap
    val r = Manifest.deleteRangeMOR(spark, dir, "id", "300", "499", "mor1")
    assert(r.committed.contains("mor1") && r.deletedRows == 200)
    assert(r.targeted.nonEmpty && r.targeted.size < dataBefore.size,
      "stats must confine the targeted set")
    // THE point of MOR: the data files are untouched, byte for byte
    assert(Manifest.currentFiles(spark, dir).sorted == dataBefore.sorted)
    dataBefore.foreach(f =>
      assert(new java.io.File(s"$dir/$f").lastModified == mtimes(f)))
    // readers see the delete
    assert(Manifest.read(spark, dir).as[Long].collect().sorted.toSeq ==
      ((0L to 299L) ++ (500L to 999L)))
    assert(Manifest.readAt(spark, dir, "base").count() == 1000,
      "pre-delete snapshot must still time-travel")
    // the delete file itself is the Iceberg position-delete shape
    val hist = Manifest.history(spark, dir)
    val delFiles = hist.last.deleteFiles
    assert(delFiles.nonEmpty && delFiles.forall(_.startsWith("deletes-mor1/")))
    val delDf = spark.read.parquet(delFiles.map(f => s"$dir/$f"): _*)
    assert(delDf.columns.toSeq == Seq("file_path", "pos"))
    assert(delDf.count() == 200)
    assert(delDf.selectExpr("min(file_path)").first().getString(0)
      .startsWith("data-base/"))
    // a second MOR delete ACCUMULATES
    val r2 = Manifest.deleteRangeMOR(spark, dir, "id", "0", "49", "mor2")
    assert(r2.deletedRows == 50)
    assert(Manifest.read(spark, dir).count() == 750)
    assert(Manifest.history(spark, dir).last.deleteFiles.size == delFiles.size + 1)
    // no-overlap MOR delete: no commit
    assert(Manifest.deleteRangeMOR(spark, dir, "id", "5000", "6000", "noop")
      .committed.isEmpty)
    // COW delete on the MOR table must NOT resurrect MOR-deleted rows
    val r3 = Manifest.deleteRange(spark, dir, "id", "600", "699", "cow-on-mor")
    assert(Manifest.read(spark, dir).as[Long].collect().sorted.toSeq ==
      ((50L to 299L) ++ (500L to 599L) ++ (700L to 999L)))
    assert(r3.rewritten.nonEmpty)
    // compaction PURGES the delete state: clean snapshot, same rows
    Manifest.compact(spark, dir, "purged", Long.MaxValue)
    val purged = Manifest.history(spark, dir).last
    assert(purged.deleteFiles.isEmpty)
    assert(Manifest.read(spark, dir).count() == 650)
    // vacuum retires the superseded deletes-* dirs with the data dirs
    Manifest.vacuum(spark, dir, keepLast = 1)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("deletes-")),
      s"vacuum must retire delete dirs, left: ${names.filter(_.startsWith("deletes-"))}")
    assert(Manifest.read(spark, dir).count() == 650)
  }

  test("merge-on-read delete respects partitions and NULLs") {
    val dir = tmpDir()
    Manifest.writePartitioned(
      spark.sql(
        """SELECT id, CASE CAST(id % 3 AS INT) WHEN 0 THEN 'de'
          |  WHEN 1 THEN 'en' ELSE 'fr' END AS lang,
          |  CASE WHEN id % 10 = 0 THEN CAST(NULL AS LONG) ELSE id END AS score
          |FROM range(0, 300)""".stripMargin),
      dir, "base", Seq("lang"))
    // partition-exact MOR: only lang=en files targeted, zero footer reads
    val r = Manifest.deleteRangeMOR(spark, dir, "lang", "en", "en", "mor-en")
    assert(r.targeted.forall(_.contains("lang=en")))
    assert(Manifest.read(spark, dir).where("lang = 'en'").count() == 0)
    assert(Manifest.read(spark, dir).count() == 200)
    // NULL rows survive a range MOR delete on a nullable column
    val r2 = Manifest.deleteRangeMOR(spark, dir, "score", "0", "1000", "mor-score")
    val left = Manifest.read(spark, dir)
    assert(left.count() == left.where("score IS NULL").count(),
      "every non-null score in range is deleted; NULLs survive")
  }

  test("symlink-manifest export: plain spark.read.parquet over the list is byte-identical") {
    val dir = tmpDir()
    Manifest.write((1 to 300).toDF("v").withColumn("sq", col("v") * col("v"))
      .repartition(3), dir, "s1")
    val uris = Manifest.exportSymlinkManifest(spark, dir)

    // an external engine's view: read the text file, feed the listed
    // parquet URIs straight to a vanilla reader — no graft code involved
    val listed = scala.io.Source.fromFile(
      s"$dir/_symlink_format_manifest/manifest")
    val lines = try listed.getLines().toList finally listed.close()
    assert(lines == uris.toList && lines.nonEmpty)
    assert(lines.forall(_.endsWith(".parquet")))
    val external = spark.read.parquet(lines: _*)
    val expected = Manifest.read(spark, dir)
    assert(external.orderBy("v").collect().toSeq ===
      expected.orderBy("v").collect().toSeq)

    // a new commit supersedes; re-export tracks the NEW current snapshot
    // and never mixes the two file sets
    Manifest.write((1 to 40).toDF("v").withColumn("sq", col("v") + 1), dir, "s2")
    val uris2 = Manifest.exportSymlinkManifest(spark, dir)
    assert(uris2.forall(_.contains("data-s2/")) && uris2.nonEmpty)
    val src2 = scala.io.Source.fromFile(s"$dir/_symlink_format_manifest/manifest")
    val lines2 = try src2.getLines().toList finally src2.close()
    assert(lines2 == uris2.toList)
    assert(spark.read.parquet(lines2: _*).count() == 40)

    // the export dir is invisible to the commit protocol: snapshots,
    // reads, and vacuum behave exactly as without it
    assert(Manifest.snapshots(spark, dir) == Seq("s1", "s2"))
    Manifest.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(Manifest.read(spark, dir).count() == 40)
    // exporting a never-committed table is an error, not an empty list
    intercept[IllegalArgumentException] {
      Manifest.exportSymlinkManifest(spark, tmpDir())
    }
  }

  test("string-typed partition pruning matches the row predicate's collation") {
    val dir = tmpDir()
    // mixed values force STRING partition inference; '9' IS inside
    // ['10','95'] lexicographically, so a numeric prune heuristic would
    // carry the k=9 file untouched while the row predicate matches its
    // rows — the silent skip ADVICE r7 flagged
    val df = Seq("9", "10", "95", "x")
      .flatMap(k => (1 to 10).map(i => (k, i))).toDF("k", "i")
    Manifest.writePartitioned(df, dir, "base", Seq("k"))
    assert(Manifest.read(spark, dir).schema("k").dataType ==
      org.apache.spark.sql.types.StringType)
    val r = Manifest.deleteRange(spark, dir, "k", "10", "95", "del")
    assert(r.committed.contains("del"))
    // '9', '10', '95' all match lexicographically; only 'x' survives
    val left = Manifest.read(spark, dir)
    assert(left.count() == 10)
    assert(left.select("k").distinct().as[String].collect().toSeq == Seq("x"))
    // the prune touched exactly the three matching partitions
    assert(r.rewritten.toSet.map((f: String) =>
      Manifest.partitionValuesOf(f).toMap.apply("k")) == Set("9", "10", "95"))
    assert(r.carried.forall(f =>
      Manifest.partitionValuesOf(f).toMap.apply("k") == "x"))
  }

  test("readChangesSince refuses to span a rewrite commit") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "base")
    Manifest.append((101 to 140).toDF("v"), dir, "wk1")
    // compaction re-packs pre-existing rows into new files: a file diff
    // across it would re-serve all 140 rows as "changes"
    Manifest.compact(spark, dir, "squashed", targetFileBytes = 1L << 30)
    val ex = intercept[IllegalStateException] {
      Manifest.readChangesSince(spark, dir, "base")
    }
    assert(ex.getMessage.contains("squashed"))
    // re-baselined at the rewrite: the clean incremental contract resumes
    assert(Manifest.readChangesSince(spark, dir, "squashed").isEmpty)
    Manifest.append((141 to 150).toDF("v"), dir, "wk2")
    assert(Manifest.readChangesSince(spark, dir, "squashed").get.count() == 10)
    // COW DML is a rewrite too (survivors of touched files re-land)
    val cow = Manifest.deleteRange(spark, dir, "v", "1", "10", "purge")
    assert(cow.committed.contains("purge"))
    intercept[IllegalStateException] {
      Manifest.readChangesSince(spark, dir, "wk2")
    }
  }

  /** Every field set, in the layout the string-template writer put on
    * disk before the manifest codec existed: two-space indent, one file
    * per line, optional fields after `files`. The partition values are
    * hive-escaped ('=' and ' ' rendered as %3D and %20). */
  private val prettyFixture =
    """{
      |  "snapshot": "s3",
      |  "commit_seq": 3,
      |  "committed_at": 1760000000000,
      |  "files": [
      |    "data-s1/tag=a%3Db/part-00000-1f.c000.snappy.parquet",
      |    "data-s2/tag=en%20us/part-00001-2e.c000.snappy.parquet"
      |  ],
      |  "delete_files": [
      |    "deletes-s3/part-00000-3d.c000.snappy.parquet"
      |  ],
      |  "rewrite": true,
      |  "meta_b64": "eyJzY2hlbWEiOiJ4In0=",
      |  "cdc_recorded": true,
      |  "cdc_files": [
      |    "cdc-s3/part-00000-4c.c000.snappy.parquet"
      |  ]
      |}
      |""".stripMargin

  private val fixtureData = Manifest.ManifestData("s3", 3L,
    Seq("data-s1/tag=a%3Db/part-00000-1f.c000.snappy.parquet",
      "data-s2/tag=en%20us/part-00001-2e.c000.snappy.parquet"),
    Seq("deletes-s3/part-00000-3d.c000.snappy.parquet"),
    committedAt = 1760000000000L, rewrite = true,
    metaB64 = Some("eyJzY2hlbWEiOiJ4In0="),
    cdcFiles = Seq("cdc-s3/part-00000-4c.c000.snappy.parquet"),
    cdcRecorded = true)

  /** Retained history of a table dir holding `text` as manifest-3. */
  private def historyOf(text: String) = {
    val dir = tmpDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "manifest-3.json"),
      text.getBytes("UTF-8"))
    Manifest.history(spark, dir)
  }

  test("pretty-printed and one-line manifests on disk read to the same data") {
    val oneLine = prettyFixture.linesIterator.map(_.trim).mkString
      .replace("\": ", "\":")
    assert(historyOf(prettyFixture) == Seq(fixtureData))
    assert(historyOf(oneLine) == Seq(fixtureData))
    assert(Manifest.partitionValuesOf(fixtureData.files.head) == Seq("tag" -> "a=b"))
    // a body without snapshot or commit_seq is no commit
    assert(historyOf(prettyFixture.replace("\"snapshot\"", "\"snap\"")).isEmpty)
    assert(historyOf(prettyFixture.replace("\"commit_seq\"", "\"seq\"")).isEmpty)
  }

  test("the manifest writer round-trips every field and omits empty ones") {
    assert(Manifest.decode(Manifest.encode(fixtureData)).contains(fixtureData))
    val optional = Seq("delete_files", "rewrite", "meta_b64", "cdc_recorded",
      "cdc_files")
    val bare = Manifest.ManifestData("s0", 0L, Seq("data-s0/part-0.parquet"),
      committedAt = 7L)
    val bareText = Manifest.encode(bare)
    assert(Manifest.decode(bareText).contains(bare))
    optional.foreach(k => assert(!bareText.contains(k), s"$k in $bareText"))
    // recorded with zero cdc files ("no row changed"): flag only
    val noChange = bare.copy(cdcRecorded = true)
    val noChangeText = Manifest.encode(noChange)
    assert(noChangeText.contains("cdc_recorded") &&
      !noChangeText.contains("cdc_files"))
    assert(Manifest.decode(noChangeText).contains(noChange))
    // a real commit's manifest carries what its history reports
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "w0")
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest-0.json")), "UTF-8")
    assert(Manifest.decode(text).toSeq == Manifest.history(spark, dir))
  }

  test("readWherePartitions applies the head's position deletes") {
    val dir = tmpDir()
    Manifest.writePartitioned(spark.range(0, 300)
      .selectExpr("id", "IF(id % 2 = 0, 'e', 'o') AS seg"), dir, "base",
      Seq("seg"))
    Manifest.deleteRangeMOR(spark, dir, "id", "0", "99", "mor")
    assert(Manifest.history(spark, dir).last.deleteFiles.nonEmpty)
    val e = Manifest.readWherePartitions(spark, dir, Map("seg" -> "e"))
    assert(e.columns.toSet == Set("id", "seg"))
    assert(e.select("id").as[Long].collect().sorted.toSeq ==
      (100L until 300L by 2))
  }

  test("the landing-size hint over a vanished file is None, not a throw") {
    val dir = tmpDir()
    Manifest.write((1 to 10).toDF("v"), dir, "s1")
    val files = Manifest.currentFiles(spark, dir)
    assert(Manifest.filesBytes(spark, dir, files).exists(_ > 0))
    // a concurrent rewrite plus vacuum removed a touched file
    assert(new java.io.File(s"$dir/${files.head}").delete())
    assert(Manifest.filesBytes(spark, dir, files).isEmpty)
  }
}
