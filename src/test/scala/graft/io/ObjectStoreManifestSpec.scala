package graft.io

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** A test-only Hadoop FileSystem with OBJECT-STORE semantics:
  * rename onto an existing key is refused (S3 has no atomic overwrite-
  * rename), an object is INVISIBLE until its write stream closes (S3 PUT:
  * no partially-uploaded key ever appears to a reader), every rename and
  * listStatus is recorded for assertions, and renames publishing a
  * `manifest-*` key can be forced to fail — the writer-dies-at-the-
  * commit-point probe. Data lives on the local disk; only the SEMANTICS
  * are object-store-shaped. */
class ObjectStoreFS extends RawLocalFileSystem {
  override def getScheme: String = "s3mock"
  override def getUri: URI = URI.create("s3mock:///")

  // ---- PUT-at-close: create() writes to a hidden staging key and the
  // object materializes atomically when the stream closes. Readers (and
  // listings) never observe in-progress bytes — the S3 visibility model
  // that local-FS tests silently violate.
  private def stagingOf(f: Path): Path =
    new Path(f.getParent, s".inprogress.${f.getName}")

  private def putAtClose(f: Path, overwrite: Boolean)(
      open: Path => org.apache.hadoop.fs.FSDataOutputStream)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (!overwrite && exists(f))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
    val staged = stagingOf(f)
    val out = open(staged)
    new org.apache.hadoop.fs.FSDataOutputStream(
      new java.io.FilterOutputStream(out) {
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          out.write(b, off, len)
        // Hadoop/Parquet writers routinely double-close streams; a
        // second close must be a no-op, not a NoSuchFileException on the
        // already-consumed staging file (ADVICE r6)
        private var closed = false
        override def close(): Unit = if (!closed) {
          out.close()
          // the PUT completes: materialize atomically (S3 PUT may
          // overwrite an existing key — last writer wins)
          java.nio.file.Files.move(
            pathToFile(staged).toPath, pathToFile(f).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          closed = true
        }
      }, null)
  }

  // both public create chains must stage: RawLocalFileSystem dispatches
  // FileSystem.create(Path, boolean) through the non-permission overload
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    putAtClose(f, overwrite)(p => super.create(p, permission, true,
      bufferSize, replication, blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    putAtClose(f, overwrite)(p => super.create(p, true,
      bufferSize, replication, blockSize, progress))

  private def isStaging(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.getPath.getName.startsWith(".inprogress.")

  override def rename(src: Path, dst: Path): Boolean = {
    ObjectStoreFS.renames.add((src.toUri.getPath, dst.toUri.getPath,
      exists(dst), getFileStatus(src).isDirectory))
    if (dst.getName.startsWith("manifest-") && ObjectStoreFS.failCommit.get())
      return false
    if (exists(dst)) return false // no overwrite-rename on an object store
    super.rename(src, dst)
  }

  // Objects carry no POSIX permissions (as on S3): return plain statuses
  // so recursive listings never hit RawLocalFileSystem's lazy
  // loadPermissionInfo, which chokes on a non-file:// URI scheme.
  private def plain(s: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory, 1,
      s.getBlockSize, s.getModificationTime, s.getPath)

  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ObjectStoreFS.lists.add(p.toUri.getPath)
    super.listStatus(p).filterNot(isStaging).map(plain)
  }

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    plain(super.getFileStatus(f))
}

object ObjectStoreFS {
  // (src, dst, dstExisted, srcWasDir)
  val renames = new ConcurrentLinkedQueue[(String, String, Boolean, Boolean)]
  val lists = new ConcurrentLinkedQueue[String]
  val failCommit = new AtomicBoolean(false)
  def reset(): Unit = { renames.clear(); lists.clear(); failCommit.set(false) }
}

/** Proves the [[Manifest]] design claims against object-store rename
  * semantics instead of asserting them in prose: the commit point is one
  * FILE rename onto a key that never existed, a commit-point failure
  * leaves the previous snapshot live, and reads resolve the file set
  * from manifests alone — no LIST over the data tree. */
class ObjectStoreManifestSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestBase.session
    s.sparkContext.hadoopConfiguration
      .set("fs.s3mock.impl", classOf[ObjectStoreFS].getName)
    // cached FileSystem instances would bypass a late impl registration,
    // so actually DISABLE the cache ("true") for this scheme
    s.sparkContext.hadoopConfiguration.set("fs.s3mock.impl.disable.cache", "true")
    s
  }
  import spark.implicits._

  private def freshTable(): String = {
    val local = Files.createTempDirectory("s3mock-manifest").toString
    s"s3mock:$local/tbl" // authority-less: RawLocalFileSystem's checkPath
  }

  test("commit on an object store is one file rename onto a never-existing manifest key") {
    ObjectStoreFS.reset()
    val dir = freshTable()
    Manifest.write((1 to 100).toDF("v"), dir, "s1")
    Manifest.write((101 to 200).toDF("v"), dir, "s2")

    val manifestRenames = ObjectStoreFS.renames.asScala
      .filter(_._2.contains("/manifest-")).toSeq
    // commit keys are seq-numbered (the CAS key), not snapshot-named
    assert(manifestRenames.map(_._2.split('/').last).sorted ===
      Seq("manifest-0.json", "manifest-1.json"))
    // the commit rename: dst never existed, src is a FILE — the two
    // properties that make the publish atomic-per-object on S3
    manifestRenames.foreach { case (src, _, dstExisted, srcWasDir) =>
      assert(!dstExisted, s"commit renamed onto an existing key from $src")
      assert(!srcWasDir, s"commit renamed a directory from $src")
    }
    // and no rename anywhere targeted an existing key (no delete-then-
    // rename dance hiding elsewhere in the write path either)
    assert(ObjectStoreFS.renames.asScala.count(_._3) === 0)

    assert(Manifest.read(spark, dir).count() === 100L)
    assert(Manifest.readAt(spark, dir, "s1").as[Int].collect().sum === (1 to 100).sum)
  }

  test("a writer dying at the commit point leaves the previous snapshot live") {
    ObjectStoreFS.reset()
    val dir = freshTable()
    Manifest.write((1 to 50).toDF("v"), dir, "base")

    ObjectStoreFS.failCommit.set(true)
    intercept[RuntimeException] {
      Manifest.write((51 to 90).toDF("v"), dir, "doomed")
    }
    ObjectStoreFS.failCommit.set(false)

    // reader still resolves the base snapshot; the orphan data dir is
    // invisible (and vacuum-able after the grace window)
    assert(Manifest.snapshots(spark, dir) === Seq("base"))
    assert(Manifest.read(spark, dir).count() === 50L)
    // retrying the snapshot id is refused (data landed), a FRESH id commits
    intercept[IllegalArgumentException] {
      Manifest.write((51 to 90).toDF("v"), dir, "doomed")
    }
    Manifest.write((51 to 90).toDF("v"), dir, "retry")
    assert(Manifest.read(spark, dir).count() === 40L)
  }

  test("snapshot resolution lists only manifest keys, never the data tree") {
    ObjectStoreFS.reset()
    val dir = freshTable()
    Manifest.write((1 to 60).toDF("v"), dir, "s1")

    ObjectStoreFS.lists.clear()
    val files = Manifest.currentFiles(spark, dir)
    assert(files.nonEmpty)
    val listed = ObjectStoreFS.lists.asScala.toSeq
    assert(listed.nonEmpty)
    // resolution = LIST of the KB-sized manifest keys at the table root;
    // at 100 TB the data tree holds millions of keys — listing it on
    // every read is the object-store pathology the design kills
    assert(!listed.exists(_.contains("/data-")),
      s"snapshot resolution listed the data tree: $listed")
  }

  test("RESTORE and partition-scoped compaction keep the object-store commit contract") {
    ObjectStoreFS.reset()
    val dir = freshTable()
    Manifest.writePartitioned(
      Seq((1, "e"), (2, "o"), (3, "e"), (4, "o")).toDF("v", "seg"),
      dir, "s1", Seq("seg"))
    Manifest.appendPartitioned(
      Seq((5, "e"), (6, "o")).toDF("v", "seg"), dir, "s2", Seq("seg"))
    // OPTIMIZE WHERE seg=e: one fresh data dir, one fresh manifest key
    val cw = Manifest.compact(spark, dir, "opt-e", 128L << 20,
      where = Map("seg" -> "e"))
    assert(cw.committed.contains("opt-e") && cw.rewritten.nonEmpty &&
      cw.rewritten.forall(_.contains("seg=e")) &&
      cw.carried.forall(!_.contains("seg=e")))
    // RESTORE to s2: a KB manifest write, ZERO data objects touched
    val putsBefore = ObjectStoreFS.renames.asScala.size
    val restored = Manifest.restore(spark, dir, "s2")
    assert(restored.isDefined)
    assert(Manifest.read(spark, dir).count() == 6)
    val renamesAfter = ObjectStoreFS.renames.asScala.drop(putsBefore)
    assert(renamesAfter.size == 1 &&
      renamesAfter.head._2.contains("/manifest-"),
      s"a restore must be exactly one manifest-key rename: $renamesAfter")
    // every commit in the whole sequence stayed fresh-key (no
    // delete-then-rename dance anywhere)
    assert(ObjectStoreFS.renames.asScala.count(_._3) === 0)
  }

  test("PUT-at-close: an in-progress object is invisible; it appears whole at close") {
    ObjectStoreFS.reset()
    val local = Files.createTempDirectory("s3mock-put").toString
    val dir = new Path(s"s3mock:$local/putsem")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val key = new Path(dir, "object.bin")
    val out = fs.create(key, true)
    out.write("hello ".getBytes("UTF-8"))
    // mid-upload: the key does not exist and listings do not show it
    assert(!fs.exists(key), "in-progress PUT is visible")
    assert(!fs.listStatus(dir).map(_.getPath.getName).contains("object.bin"))
    out.write("world".getBytes("UTF-8"))
    out.close()
    // at close the object materializes whole
    assert(fs.exists(key))
    val in = fs.open(key)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(txt === "hello world")
    // and create(overwrite=false) onto an existing key refuses up front
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fs.create(key, false)
    }
  }
}
