package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Manifest

/** One `graft` table under a mix of writes and reads. Every round runs
  * each op kind once, writes interleaved with reads, and ends with a
  * compaction; the seed sets the keys and values. DML targets keys of
  * recent batches and nothing is vacuumed, so the history deepens while
  * compaction bounds the file count. An in-memory model of the table
  * checks every op. */
final class TableChurn(ctx: Ctx) extends Workload {
  import TableChurn._
  private val spark = ctx.spark
  import spark.implicits._
  private val warehouse = s"${ctx.dir}/gcat"
  private val dir = s"$warehouse/db/churn"
  private val streamIn = s"${ctx.dir}/stream_in"
  private val ckpt = s"${ctx.dir}/stream_ckpt"

  // the model: live rows k -> (batch, v)
  private val live = mutable.HashMap.empty[Long, (Int, Long)]
  /** Model state (rows, Σk, Σv) after each commit, by snapshot id. */
  private val states = mutable.ArrayBuffer.empty[(String, (Long, Long, Long))]
  /** Change-feed row counts by change type, per commit (same order). */
  private val changes = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)] // key range per batch
  private var nextKey = 0L
  private var gen = 0
  private var snapN = 0
  private var morMode = false
  private var timed = false
  private var submittedBytes = 0L
  private var startBytes = 0L
  private var startFiles = 0
  private var startCommits = 0

  private def v(k: Long, g: Int): Long = Math.floorMod(k * 7919L + ctx.seed * 31L + g, 1000003L)
  private def rows(lo: Long, hi: Long, b: Int, g: Int): DataFrame =
    spark.range(lo, hi, 1, 1).select(col("id").as("k"), lit(b).as("b"),
      pmod(col("id") * 7919L + lit(ctx.seed * 31L + g), lit(1000003L)).as("v"))

  private def newBatch(n: Long): (Long, Long, Int) = {
    val lo = nextKey
    nextKey += n
    batches += ((lo, nextKey))
    (lo, nextKey, batches.size - 1)
  }

  /** A seeded key range of `width` inside the batch `back` batches before
    * the newest. Each op kind has its own fixed `back`, so every seed gives
    * an op the same amount of work. */
  private def recentRange(width: Long, back: Int): (Long, Long) = {
    val (lo, hi) = batches(math.max(0, batches.size - 1 - back))
    val start = lo + (ctx.rng.nextDouble() * math.max(1L, hi - lo - width)).toLong
    (start, start + width - 1)
  }

  private def snap(): String = { snapN += 1; s"c$snapN" }

  private def modelState: (Long, Long, Long) =
    (live.size.toLong, live.keysIterator.sum, live.valuesIterator.map(_._2).sum)

  private def agg(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Records the commits since the last known head: the op's change
    * counts go to the newest, metadata-only ones get none. */
  private def syncHead(change: Map[String, Long]): Unit = {
    val known = states.map(_._1).toSet
    val fresh = Manifest.snapshots(spark, dir).filterNot(known)
    fresh.zipWithIndex.foreach { case (s, i) =>
      states += s -> modelState
      changes += (if (i == fresh.size - 1) change else Map.empty)
    }
  }

  /** Model bookkeeping after a write, then the table must equal the model. */
  private def committed(change: Map[String, Long], submitted: => DataFrame = null): Boolean = {
    syncHead(change)
    if (timed && submitted != null) submittedBytes += parquetBytes(submitted)
    val want = modelState
    agg(Manifest.read(spark, dir)) == (if (ctx.corrupt) want.copy(_1 = want._1 + 1) else want)
  }

  private def parquetBytes(df: DataFrame): Long = {
    val ref = s"${ctx.dir}/ref"
    df.write.mode("overwrite").parquet(ref)
    try FsUtil.bytes(ref) finally FsUtil.delete(ref)
  }

  private def setMode(mor: Boolean): Unit = if (mor != morMode) {
    spark.sql(s"ALTER TABLE $Name SET TBLPROPERTIES ('graft.dml.mode' = '${mode(mor)}')")
    morMode = mor
    syncHead(Map.empty)
  }

  private def append(): Op = {
    var r = (0L, 0L, 0)
    Op("append", prep = () => r = newBatch(AppendRows),
      run = () => ctx.span("io.append")(Manifest.append(rows(r._1, r._2, r._3, 0), dir, snap())),
      check = () => {
        (r._1 until r._2).foreach(k => live(k) = (r._3, v(k, 0)))
        committed(Map("insert" -> (r._2 - r._1)), rows(r._1, r._2, r._3, 0))
      })
  }

  private def epoch(): Op = {
    var r = (0L, 0L, 0)
    Op("epoch",
      prep = () => {
        r = newBatch(EpochRows)
        rows(r._1, r._2, r._3, 0).write.mode("append").parquet(streamIn)
      },
      run = () => ctx.span("catalog.epoch") {
        spark.readStream.schema(Schema).parquet(streamIn)
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).toTable(Name).awaitTermination()
      },
      check = () => {
        (r._1 until r._2).foreach(k => live(k) = (r._3, v(k, 0)))
        committed(Map("insert" -> (r._2 - r._1)), rows(r._1, r._2, r._3, 0))
      })
  }

  private def delete(mor: Boolean): Op = {
    var lo, hi = 0L
    val (kind, layer) = if (mor) ("mor_delete", "io.mor_delete") else ("cow_delete", "io.cow_delete")
    Op(kind, prep = () => { val r = recentRange(DmlWidth, if (mor) 1 else 0); lo = r._1; hi = r._2 },
      run = () => ctx.span(layer) {
        if (mor) Manifest.deleteRangeMOR(spark, dir, "k", lo.toString, hi.toString, snap())
        else Manifest.deleteRange(spark, dir, "k", lo.toString, hi.toString, snap())
      },
      check = () => {
        val hit = (lo to hi).filter(live.contains)
        hit.foreach(live.remove)
        committed(Map("delete" -> hit.size.toLong))
      })
  }

  private def mode(mor: Boolean): String = if (mor) "mor" else "cow"

  private def update(mor: Boolean): Op = {
    var lo, hi = 0L
    Op(s"update_${mode(mor)}",
      prep = () => { setMode(mor); val r = recentRange(DmlWidth, 0); lo = r._1; hi = r._2 },
      run = () => ctx.span(s"sources.update_${mode(mor)}")(
        spark.sql(s"UPDATE $Name SET v = v + 1 WHERE k BETWEEN $lo AND $hi")),
      check = () => {
        val hit = (lo to hi).filter(live.contains)
        hit.foreach { k => val (b, x) = live(k); live(k) = (b, x + 1) }
        committed(Map("update_preimage" -> hit.size.toLong, "update_postimage" -> hit.size.toLong),
          hit.map(k => (k, live(k)._1, live(k)._2)).toDF("k", "b", "v"))
      })
  }

  private def merge(mor: Boolean): Op = {
    var lo, hi = 0L
    var fresh = (0L, 0L, 0)
    var g = 0
    Op(s"merge_${mode(mor)}",
      prep = () => {
        setMode(mor)
        val r = recentRange(MergeRows / 2, 1); lo = r._1; hi = r._2
        fresh = newBatch(MergeRows / 2)
        gen += 1; g = gen
        rows(lo, hi + 1, fresh._3, g).union(rows(fresh._1, fresh._2, fresh._3, g))
          .createOrReplaceTempView("churn_src")
      },
      run = () => ctx.span(s"sources.merge_${mode(mor)}")(spark.sql(
        s"""MERGE INTO $Name t USING churn_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET b = s.b, v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, b, v) VALUES (s.k, s.b, s.v)""".stripMargin)),
      check = () => {
        val keys = (lo to hi) ++ (fresh._1 until fresh._2)
        val matched = keys.count(live.contains).toLong
        keys.foreach(k => live(k) = (fresh._3, v(k, g)))
        committed(Map("update_preimage" -> matched, "update_postimage" -> matched,
          "insert" -> (keys.size - matched)), spark.table("churn_src"))
      })
  }

  private def compact(): Op =
    Op("compact", run = () => ctx.span("io.compact")(Manifest.compact(spark, dir, snap(), 64L << 20)),
      check = () => committed(Map.empty))

  private def load(): Op = {
    var df: DataFrame = null
    Op("load", run = () => df = ctx.span("sources.load")(spark.read.format("graft").load(dir)),
      check = () => df.columns.toSeq == Seq("k", "b", "v"))
  }

  private def scan(): Op = {
    var lo, hi = 0L
    var got = (0L, 0L, 0L)
    Op("scan", prep = () => { val r = recentRange(ScanWidth, 2); lo = r._1; hi = r._2 },
      run = () => got = ctx.span("sources.scan")(agg(spark.read.format("graft").load(dir)
        .where(col("k").between(lo, hi)))),
      check = () => {
        val in = live.filter { case (k, _) => k >= lo && k <= hi }
        got == ((in.size.toLong, in.keysIterator.sum, in.valuesIterator.map(_._2).sum))
      })
  }

  /** The index of the commit `Lookback` commits before the head. */
  private def pastCommit(): Int = math.max(0, states.size - 1 - Lookback)

  private def readAt(): Op = {
    var i = 0
    var got = (0L, 0L, 0L)
    Op("read_at", prep = () => i = pastCommit(),
      run = () => got = ctx.span("io.read_at")(agg(Manifest.readAt(spark, dir, states(i)._1))),
      check = () => got == states(i)._2)
  }

  private def cdf(): Op = {
    var i = 0
    var got = Map.empty[String, Long]
    Op("cdf", prep = () => i = math.min(pastCommit(), states.size - 2),
      run = () => got = ctx.span("io.cdf") {
        Manifest.readChangeFeed(spark, dir, states(i)._1)
          .groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      },
      check = () => {
        val want = changes.drop(i + 1).flatten.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
        got == want
      })
  }

  private def files(): Op = {
    var fs = Seq.empty[String]
    Op("files", run = () => fs = ctx.span("io.files")(Manifest.currentFiles(spark, dir)),
      check = () => fs.nonEmpty && fs.distinct.size == fs.size &&
        fs.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f))))
  }

  override def writeKinds: Set[String] =
    Set("append", "epoch", "cow_delete", "mor_delete", "update_cow", "merge_cow",
      "update_mor", "merge_mor", "compact")

  def generate(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    spark.sql(s"CREATE TABLE $Name (k BIGINT, b INT, v BIGINT) USING graft")
    syncHead(Map.empty)
    (1 to PreloadBatches).foreach { _ =>
      val op = append(); op.prep(); op.run(); require(op.check(), "table_churn preload failed")
    }
  }

  def warmup(): Unit = {
    round(0).foreach { op =>
      op.prep(); op.run(); require(op.check(), s"table_churn warm-up: ${op.kind} check failed")
    }
    timed = true
    startBytes = FsUtil.bytes(dir)
    startFiles = dataFiles
    startCommits = states.size
  }

  private def dataFiles: Int = FsUtil.files(dir).count(_._1.endsWith(".parquet"))

  def roundSeconds: Double = 9.0

  /** Every round runs UPDATE and MERGE in both `graft.dml.mode`s, each
    * mode its own op kind; the cow pair and the mor pair sit together so
    * a round switches the mode (a metadata-only commit) only twice. */
  def round(i: Int): Seq[Op] =
    Seq(append(), scan(), epoch(), readAt(), delete(mor = false), cdf(),
      delete(mor = true), update(mor = false), merge(mor = false), load(),
      update(mor = true), files(), merge(mor = true), compact())

  def finish(timedS: Double): Map[String, Double] = {
    val bytes = FsUtil.bytes(dir)
    val commits = math.max(1, states.size - startCommits)
    val liveBytes = parquetBytes(live.toSeq.map { case (k, (b, x)) => (k, b, x) }.toDF("k", "b", "v"))
    Map("write_amp" -> (bytes - startBytes).toDouble / submittedBytes,
      "space_amp" -> bytes.toDouble / liveBytes,
      "io.history_depth" -> Manifest.snapshots(spark, dir).size.toDouble,
      "io.live_files" -> Manifest.currentFiles(spark, dir).size.toDouble,
      "io.files_per_commit" -> (dataFiles - startFiles).toDouble / commits,
      "io.written_mb_per_commit" -> (bytes - startBytes) / 1048576.0 / commits) ++
      Layers.flatMap(l => ctx.tracer.layer(l))
  }
}

object TableChurn {
  val Name = "gcat.db.churn"
  val Schema = new org.apache.spark.sql.types.StructType()
    .add("k", "long").add("b", "int").add("v", "long")
  val AppendRows = 2000L
  val EpochRows = 1000L
  val MergeRows = 200L
  val DmlWidth = 100L
  val ScanWidth = 500L
  val PreloadBatches = 1
  val Lookback = 4
  private val Layers = Seq("io.append", "catalog.epoch", "io.cow_delete", "io.mor_delete",
    "sources.update_cow", "sources.update_mor", "sources.merge_cow", "sources.merge_mor",
    "io.compact", "sources.load", "sources.scan",
    "io.read_at", "io.cdf", "io.files")
  val LayerNames: Seq[String] =
    Layers.flatMap(l => Seq(s"${l}_ms", s"$l.jobs", s"$l.task_ms")) ++
      Seq("io.history_depth", "io.live_files", "io.files_per_commit", "io.written_mb_per_commit")
}
