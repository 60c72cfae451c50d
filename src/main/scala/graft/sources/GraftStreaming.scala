package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.io.Manifest

/**
 * STRUCTURED STREAMING faces for graft tables — with these, a pipeline
 * can run end-to-end on the engine's own table format
 * (`readStream.format("graft")` → transforms → `writeStream
 * .format("graft")`), the way Delta tables serve as both stream source
 * and sink:
 *
 *  - **Source** ([[GraftStreamSource]]): the stream's OFFSET is the
 *    manifest `commit_seq` — each micro-batch is exactly the data
 *    files the commits in `(start, end]` ADDED, resolved from the two
 *    manifests' file lists (no directory listing, no per-file state in
 *    the checkpoint; the offset is ONE number however many files a
 *    commit lands). The initial batch is the full snapshot at the
 *    first offset (merge-on-read deletes applied — it is simply "the
 *    state where the stream starts"). The append-only contract is
 *    ENFORCED per window: a rewrite commit (compaction, COW DML), a
 *    file removal, or a merge-on-read delete inside the window fails
 *    LOUDLY telling the operator to re-baseline — silently re-serving
 *    re-packed rows (or skipping deletions) is how streams corrupt
 *    downstream state. With `readChangeFeed` the stream follows the
 *    batch feed's `"start"` rule (Delta's streaming CDF): the initial
 *    batch serves that starting snapshot's live rows as `insert`,
 *    stamped with its commit, and every later window is the batch
 *    feed's own slice of the commits in it ([[Manifest.changeFeed]]).
 *    Every face judges a commit against its predecessor through the
 *    one classifier, [[Manifest.Step]].
 *  - **Sink** ([[GraftSink]]): each micro-batch lands as ONE manifest
 *    commit named `stream-q<queryId8>-b<batchId>` — the
 *    `prepareReplay` dedupe (skip committed, remove orphans) turns the
 *    engine's at-least-once batch delivery into EXACTLY-ONCE table
 *    state (the same protocol `streaming/LandIngest` proves), and the
 *    append-commit rebase means a concurrent maintenance job cannot
 *    abort the stream.
 *    The dedupe key is scoped PER QUERY (the streaming query id, which
 *    is stable across restarts of the same checkpoint but fresh for a
 *    re-baselined or second query) — Delta's sink keys its transaction
 *    by (appId, batchVersion) for the same reason: a table-scoped
 *    `stream-b<id>` key would silently skip batch N of a NEW query
 *    because an OLD query once committed its own batch N.
 *    Append mode appends; Complete mode lands each result as a fresh
 *    overwrite commit (time travel keeps every trigger's state);
 *    Update is refused (a keyless table cannot apply upserts).
 *
 * Both faces ride the V1 streaming provider API — the stable hook
 * `spark.readStream.format(...)` resolves, and the same one
 * `DataSourceRegister` alias ("graft") serves batch and streaming.
 */
/** The stream offset: a manifest commit seq, plus an optional
  * INTRA-COMMIT file count (round 12) — `"12"` = commit 12 fully
  * served; `"12#5"` = the first 5 ADDED files of commit 12 served, the
  * rest pending. Splitting WITHIN a commit is what keeps one giant
  * backfill commit from blowing a micro-batch's memory budget under
  * maxFiles/maxBytesPerTrigger (Delta splits on file boundaries the
  * same way). Checkpoint-compatible: pre-round-12 offsets parse as
  * fully-served commits, and a cap-free stream never emits the partial
  * form. Only PLAIN append commits split — a change commit (rewrite /
  * removal / MOR-state change) is served (or skipped/refused) whole. */
final case class GraftSourceOffset(seq: Long, served: Long = -1L)
    extends V1Offset {
  override def json: String =
    if (served < 0) seq.toString else s"$seq#$served"
}

private[sources] object GraftOffsets {
  /** (seq, served) with served = -1 meaning "commit complete". */
  def parse(json: String): (Long, Long) = {
    val s = json.trim
    val i = s.indexOf('#')
    if (i < 0) (s.toLong, -1L)
    else (s.substring(0, i).toLong, s.substring(i + 1).toLong)
  }

  private def rank(k: Long): Long = if (k < 0) Long.MaxValue else k

  /** Offset order: by seq, then served count (complete sorts last). */
  def lte(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && rank(a._2) <= rank(b._2))

  def max(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    if (lte(a, b)) b else a
}

/**
  * @param skipChangeCommits when set (Delta's option of the same name),
  *   a CHANGE commit inside the window — a rewrite, a file removal, or
  *   a merge-on-read delete-state change — is SKIPPED instead of
  *   failing the stream: none of its files are served (they re-pack or
  *   modify rows the stream already emitted), pure-append commits keep
  *   streaming, and maintenance (compaction, DML) no longer kills
  *   long-running streams. The stream then represents INSERTS ONLY —
  *   the caller opted out of seeing deletions, which is exactly the
  *   contract the option name declares.
  * @param maxCommitsPerTrigger admission control: cap each micro-batch
  *   at this many commits past the last served offset, so one huge
  *   backfill (a thousand commits while the stream was down) drains as
  *   bounded batches instead of one giant one. The INITIAL batch is
  *   one snapshot read however it is sliced, so it stays uncapped.
  * @param maxFilesPerTrigger admission control by ADDED FILE COUNT —
  *   commits vary wildly in size, so the commit cap alone cannot bound
  *   a micro-batch; this is Delta's knob of the same name. Round 12:
  *   a PLAIN commit larger than the cap SPLITS on file boundaries —
  *   the offset gains an intra-commit file count (`seq#k`,
  *   checkpoint-compatible) and the oversized backfill drains as
  *   bounded batches, always at least one file per trigger. Change
  *   commits (rewrite/removal/MOR change) never split.
  * @param maxBytesPerTrigger admission control by ADDED BYTES (file
  *   sizes from one metadata stat per newly admitted file — cost ∝
  *   backlog, never table size). Same file-boundary splitting.
  */
class GraftStreamSource(spark: SparkSession, dir: String,
    override val schema: StructType,
    skipChangeCommits: Boolean = false,
    maxCommitsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    readChangeFeed: Boolean = false) extends Source
    // the FileStreamSource precedent: a V1 Source that ALSO implements
    // the admission-control faces gets real Trigger.AvailableNow
    // semantics — the engine drives latestOffset() in a MULTI-batch
    // run until the backlog (pinned at start) drains, so a bounded
    // backfill completes in ONE start instead of one batch per restart
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Works for live [[GraftSourceOffset]]s AND the `SerializedOffset`
    * the checkpoint replays on restart. */
  private def stateOf(o: V1Offset): (Long, Long) = GraftOffsets.parse(o.json)

  /** The furthest offset this source has SERVED (getBatch end) — the
    * admission cap's base. Restart-safe: the engine re-plays the last
    * committed window through getBatch before asking for new offsets,
    * which re-seeds this. Volatile state never reaches the checkpoint
    * — offsets in the log are always real (seq[, served]) states. */
  @volatile private var lastEnd: Option[(Long, Long)] = None

  private def anyCap: Boolean = maxCommitsPerTrigger.isDefined ||
    maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined

  /** One metadata stat per file — only paid for files inside the
    * admission window, and only when a bytes cap is set. */
  private def bytesOf(rels: Seq[String]): Long = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fsys = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rels.map(f => fsys.getFileStatus(
      new org.apache.hadoop.fs.Path(base, f)).getLen).sum
  }

  /** Can `st` split on file boundaries? Only a commit served from its
    * added files can: a plain append — in change-feed mode, one without
    * a recorded change record (an insert-only MERGE is file-wise a plain
    * append but carries a record, served WHOLE). Every other commit is
    * a change commit: skipped, refused or served WHOLE. */
  private def splits(st: Manifest.Step): Boolean =
    st.isAppend && !(readChangeFeed && st.m.cdcRecorded)

  /** Walk the backlog, admitting until a cap would be exceeded —
    * always at least ONE FILE of progress (round 12; previously one
    * COMMIT), so an oversized commit drains as byte/file-bounded
    * partial batches instead of passing whole: under a file/byte cap a
    * PLAIN commit admits file by file and may end mid-commit (a
    * partial offset). Gap-tolerant: counts RETAINED commits, so
    * vacuumed seqs never starve the window. */
  private def admit(hist: Seq[Manifest.ManifestData], baseSeq: Long,
      baseServed: Long): (Long, Long) = {
    var commits = 0
    var files = 0L
    var bytes = 0L
    var endSeq = baseSeq
    var endServed = baseServed
    var progressed = false
    val splitCaps = maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined
    var stop = false
    // from the base commit on, unless it was already fully served
    val it = Manifest.steps(hist).iterator.filter(st =>
      st.m.seq > baseSeq || (st.m.seq == baseSeq && baseServed >= 0))
    while (!stop && it.hasNext) {
      val st = it.next()
      val m = st.m
      val isBase = m.seq == baseSeq
      if (commits > 0 &&
          maxCommitsPerTrigger.exists(c => commits + 1 > c)) {
        stop = true
      } else {
        val already = if (isBase) baseServed else 0L
        val pending = st.added.drop(already.toInt)
        if (!splits(st) || !splitCaps) {
          // whole-commit admission (change commits never split)
          val addedBytes =
            if (maxBytesPerTrigger.isDefined && pending.nonEmpty)
              bytesOf(pending)
            else 0L
          val over = progressed && (
            maxFilesPerTrigger.exists(f => files + pending.size > f) ||
              maxBytesPerTrigger.exists(b => bytes + addedBytes > b))
          if (over) stop = true
          else {
            commits += 1
            files += pending.size
            bytes += addedBytes
            endSeq = m.seq
            endServed = -1L
            progressed = true
          }
        } else {
          // plain commit under a file/byte cap: file-boundary admission
          var k = already.max(0L)
          var within = true
          val pendIt = pending.iterator
          while (within && pendIt.hasNext) {
            val f = pendIt.next()
            val fb = if (maxBytesPerTrigger.isDefined) bytesOf(Seq(f)) else 0L
            val over = progressed && (
              maxFilesPerTrigger.exists(c => files + 1 > c) ||
                maxBytesPerTrigger.exists(b => bytes + fb > b))
            if (over) within = false
            else {
              files += 1
              bytes += fb
              k += 1
              progressed = true
            }
          }
          if (k > already.max(0L) || pending.isEmpty) {
            endSeq = m.seq
            if (k >= st.added.size) {
              endServed = -1L
              commits += 1
            } else {
              endServed = k
              stop = true // mid-commit: nothing later can be served
            }
          } else stop = true
        }
      }
    }
    (endSeq, endServed)
  }

  /** Trigger.AvailableNow pins the run's END at start time: commits
    * landing while the run drains must not extend it (the "process
    * everything available NOW, then stop" contract). */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Manifest.head(spark, dir).map(_.seq)

  /** Admission is applied inside [[latestOffset]] (exactly like
    * FileStreamSource's option-driven caps), so the engine-side limit
    * is "all available". */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The admission-control face the engine drives when this source
    * declares it (getOffset below stays as the legacy path). The
    * checkpointed start offset re-seeds the admission base on restart. */
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    Option(startOffset).map(o => GraftOffsets.parse(o.json)).foreach(s =>
      lastEnd = Some(lastEnd.fold(s)(GraftOffsets.max(_, s))))
    computeOffset().orNull
  }

  private def computeOffset(): Option[GraftSourceOffset] = {
    val hist0 = Manifest.history(spark, dir)
    val hist = availableNowEnd.fold(hist0)(e => hist0.filter(_.seq <= e))
    if (hist.isEmpty) return None
    val latest = (hist.last.seq, -1L)
    val capped = lastEnd match {
      case Some((bs, bk)) if anyCap => admit(hist, bs, bk)
      case _ => latest // no cap, or initial batch (one snapshot read)
    }
    if (lastEnd.exists(le => GraftOffsets.lte(capped, le)))
      lastEnd.map { case (s, k) => GraftSourceOffset(s, k) }
    else Some(GraftSourceOffset(capped._1, capped._2))
  }

  override def getOffset: Option[V1Offset] = computeOffset()

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val (e, ek) = stateOf(end)
    lastEnd = Some(lastEnd.fold((e, ek))(GraftOffsets.max(_, (e, ek))))
    val hist = Manifest.history(spark, dir)
    val endM = hist.find(_.seq == e).getOrElse(
      throw new IllegalStateException(
        s"graft stream: offset $e is no longer retained under $dir " +
          "(vacuum outran the stream checkpoint) - re-baseline the stream"))
    // the window (start, end] as steps, led by the start commit when it
    // was only partially served (`s#sk`: its first sk added files went
    // to an earlier batch); None = the initial batch, always a COMPLETE
    // commit — admission never splits it
    val window = start.map { s0 =>
      val (s, sk) = stateOf(s0)
      if (!hist.exists(_.seq == s))
        throw new IllegalStateException(
          s"graft stream: checkpointed offset $s is no longer retained " +
            s"under $dir (vacuum outran the stream checkpoint) - " +
            "re-baseline the stream")
      val steps = Manifest.steps(hist).filter(st =>
        (st.m.seq > s && st.m.seq <= e) || (st.m.seq == s && sk >= 0))
      steps.lastOption.filter(_ => ek >= 0).foreach(st =>
        require(splits(st), s"graft stream: partial offset $e#$ek lands on a " +
          (if (readChangeFeed && st.m.cdcRecorded) "recorded-cdc" else "change") +
          s" commit '${st.m.snapshot}' (admission bug)"))
      (steps, sk)
    }
    require(window.nonEmpty || ek < 0, s"graft stream: initial offset " +
      s"$e#$ek cannot be intra-commit (admission bug)")
    // the STREAM's declared schema drives every scan (user-specified
    // schema, no footer inference): files predating an ALTER TABLE ADD
    // COLUMN null-fill inside the reader, and a later evolution cannot
    // widen the frame mid-flight — the fixed-schema stream contract
    val cdfCols =
      Seq(Manifest.CdfTypeCol, Manifest.CdfVersionCol, Manifest.CdfTimestampCol)
    val table = StructType(schema
      .filterNot(f => readChangeFeed && cdfCols.contains(f.name))
      .map(_.copy(nullable = true)))
    val batch: DataFrame = window match {
      // CHANGE-FEED micro-batches (Delta's streaming CDF): the initial
      // batch is the start snapshot as `insert` rows, each later window
      // goes through the batch feed's one slicer. A commit that changed
      // rows WITHOUT a record (overwrite, restore, pre-CDF history)
      // keeps the refuse/skip contract.
      case _ if readChangeFeed =>
        val (steps, sk) = window.getOrElse((Nil, -1L))
        Manifest.changeFeed(spark, dir, table, Option.when(window.isEmpty)(endM),
          steps, sk, ek) { st =>
          if (!skipChangeCommits)
            throw new UnsupportedOperationException(
              s"graft stream: commit '${st.m.snapshot}' (seq ${st.m.seq}) under " +
                s"$dir changed rows without a recorded change-data record " +
                "(an overwrite, a restore, or history predating CDF " +
                "recording) - re-baseline the stream, or set " +
                "skipChangeCommits=true to skip it")
        }
      case None =>
        // initial load: the full snapshot state at the first offset
        Manifest.readAt(spark, dir, endM.snapshot, Some(table))
      case Some((steps, sk)) =>
        // each step serves its added files (ALL of them, or the window's
        // share of a split commit), skips a change commit (option set),
        // or fails loudly naming the offending commit
        val served = Manifest.windowed(steps, sk, ek).flatMap {
          case (st, added) if st.isAppend => added
          case (st, _) =>
            val m = st.m
            if (!skipChangeCommits) {
              if (m.rewrite) throw new UnsupportedOperationException(
                s"graft stream: commit '${m.snapshot}' (seq ${m.seq}) under " +
                  s"$dir is a rewrite (compaction/COW DML) - its files " +
                  "re-pack rows the stream already served; re-baseline the " +
                  "stream, or set skipChangeCommits=true to stream on " +
                  "through maintenance")
              else if (st.removed.nonEmpty) throw new UnsupportedOperationException(
                s"graft stream: commit '${m.snapshot}' (seq ${m.seq}) under " +
                  s"$dir removed data files - an append-only stream cannot " +
                  "represent removals; re-baseline the stream, or set " +
                  "skipChangeCommits=true to skip change commits")
              else throw new UnsupportedOperationException(
                s"graft stream: commit '${m.snapshot}' (seq ${m.seq}) under " +
                  s"$dir changed merge-on-read delete state - an append-only " +
                  "stream cannot represent row deletions; re-baseline the " +
                  "stream, or set skipChangeCommits=true to skip change " +
                  "commits")
            }
            Nil // skipChangeCommits: serve NOTHING from a change commit
        }
        if (served.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else Manifest.readFiles(spark, dir, served, Some(table))
    }
    // pin the stream's declared schema (a later schema-evolution commit
    // must not widen the frame mid-flight), then mark the plan
    // streaming — the V1 Source contract
    val aligned = batch.select(schema.fieldNames.map(n =>
      org.apache.spark.sql.functions.col(s"`$n`")).toSeq: _*)
    Bridge.internalFrame(spark, aligned.queryExecution.toRdd, schema,
      isStreaming = true)
  }

  override def stop(): Unit = ()
}

class GraftSink(spark: SparkSession, dir: String,
    partitionCols: Seq[String], mode: OutputMode) extends Sink {

  /** The micro-batch's snapshot id, scoped to THIS streaming query:
    * the query id (from the execution thread's local property — stable
    * across restarts of one checkpoint, fresh for a new checkpoint or
    * a second query on the same table) keys the replay dedupe, so
    * "batch 3 already committed" can only ever mean THIS query's batch
    * 3. Direct library calls without a running query (no property set)
    * fall back to the table-scoped key — single-writer semantics the
    * caller already owns.
    *
    * Migration note (deliberate): checkpoints whose batches committed
    * under the PRE-query-scoped key (`stream-b<id>`) are not consulted
    * on replay — a batch that committed but did not reach the engine's
    * commit log exactly at upgrade time would land twice. Consulting
    * the legacy key would reintroduce the far worse failure this
    * scoping fixed (a NEW query silently LOSING batches to an old
    * query's ids); drain a stream before upgrading it. */
  private def snapshotId(batchId: Long): String = {
    val qid = Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime
        .StreamExecution.QUERY_ID_KEY))
    qid.map(q => s"stream-q${q.replace("-", "").take(8)}-b$batchId")
      .getOrElse(s"stream-b$batchId")
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val snap = snapshotId(batchId)
    // exactly-once out of at-least-once delivery: a replayed batch that
    // already committed is a no-op; a crashed attempt's orphan data dir
    // is removed so the same snapshot id can land again
    if (!Manifest.prepareReplay(spark, dir, snap)) return
    // re-wrap the incremental batch as a PLAIN frame before running our
    // own write action on it (ForeachBatchSink's own move)
    val batch = Bridge.internalFrame(data.sparkSession,
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    val exists = Manifest.head(spark, dir).nonEmpty
    mode match {
      case m if m == OutputMode.Append() =>
        if (!exists) {
          if (partitionCols.isEmpty) Manifest.write(batch, dir, snap)
          else Manifest.writePartitioned(batch, dir, snap, partitionCols)
        } else if (partitionCols.isEmpty) Manifest.append(batch, dir, snap)
        else Manifest.appendPartitioned(batch, dir, snap, partitionCols)
      case m if m == OutputMode.Complete() =>
        // each trigger's full result is a fresh OVERWRITE commit — time
        // travel retains every trigger's state until vacuum
        if (partitionCols.isEmpty) Manifest.write(batch, dir, snap)
        else Manifest.writePartitioned(batch, dir, snap, partitionCols)
      case other =>
        throw new UnsupportedOperationException(
          s"graft sink: output mode $other is not supported (a keyless " +
            "table cannot apply upserts); use append or complete")
    }
  }

  override def toString: String = s"GraftSink[$dir]"
}
