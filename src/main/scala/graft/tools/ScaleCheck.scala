package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Empirical scale validation: replicate the sf0.1 fixtures 10× into /tmp
 * (keys shifted so replicas stay distinct entities) and measure the heavy
 * operators at both sizes. A near-linear time ratio (≈10× work for 10×
 * data on fixed cores) is the evidence that the plan shapes hold under
 * scale-up; a super-linear ratio exposes a quadratic candidate-join or an
 * unbounded state. Writes stdout table; run with
 * `sbt "runMain graft.tools.ScaleCheck"`.
 */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32,
      Map("spark.sql.adaptive.enabled" -> "true"))
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (args.contains("x100")) { run100x(spark, args); spark.stop(); return }
    val base = "/root/testdata/sf0.1"
    val big = "/tmp/graft_sf1x"
    val replicas = 10

    // ---- synthesize 10x tables (only the ones the heavy ops read) ------
    def replicate(table: String, keyCols: Seq[String], textCol: Option[String] = None): Unit = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      val n = src.count()
      val out = (0 until replicas).map { i =>
        val shifted = keyCols.foldLeft(src)((df, k) =>
          df.withColumn(k, col(k) + lit(i.toLong * 100000000L)))
        // PREFIX every token with the replica tag: the within-replica
        // shingle structure is isomorphic to the original (near-dups
        // preserved) while replicas share zero tokens — inserting new
        // tokens instead would make every doc in a replica similar and
        // fake a quadratic blowup
        textCol.fold(shifted)(t => shifted.withColumn(t,
          regexp_replace(col(t), "(\\S+)", s"z${i}x$$1")))
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$big/$table.parquet")
      println(s"[scale] $table: $n -> ${n * replicas} rows")
    }
    // `reuse` arg: keep previously generated 10x tables (re-measure only)
    if (!(args.contains("reuse")
        && new java.io.File(s"$big/events.parquet").exists())) {
      replicate("documents", Seq("doc_id"), textCol = Some("text"))
      replicate("embeddings", Seq("vec_id"))
      replicate("lineitem", Seq("l_orderkey"))
      replicate("orders", Seq("o_orderkey"))
      replicate("customer", Seq("c_custkey"))
      // 10x event density in the same time window (user population also 10x)
      replicate("events", Seq("event_id", "user_id"))
      // dimension/base tables the query surface also reads: copied verbatim
      Seq("region", "nation", "supplier", "part").foreach { tbl =>
        spark.read.parquet(s"$base/$tbl.parquet")
          .write.mode("overwrite").parquet(s"$big/$tbl.parquet")
      }
    }

    // ---- heavy operators at both sizes ---------------------------------
    import graft.SparkEntry
    val heavy = Seq(
      "q_dedup_jaccard", "q_dedup_minhash", "q_dedup_simhash",
      "q_dedup_clusters", "q_simsearch_topk", "q_simsearch_lsh",
      "q1_agg", "q_join_inner", "q_window_rank", "q_topk_heap",
      "q_text_tfidf", "q_histogram",
      "q_pack_global", "q_interleave_mix", "q_vocab_build",
      "q_corpus_clean", "q_join_five", "q_graph_pagerank",
      "q_merge_upsert", "q_scd2", "q_incr_rollup", "q_resample_ffill",
      "q_ewma", "q_cohort_retention", "q_distinct_sketch",
      "q_dedup_apply", "q_text_bm25", "q_graph_triangles", "q_winsorize",
      "q_snapshot_diff", "q_profile", "q_abc_class",
      "q_asof_native", "q_asof_join", "q_interval_join", "q_rolling_distinct",
      "q_kmv_distinct", "q_text_lmscore", "q_text_cosine",
      "q_bpe_step", "q_dedup_clusters_lss", "q_trending", "q_constraints",
      "q_dedup_prefix", "q_skyline", "q_cms_counts", "q_cogroup_recon",
      "q_source_cap", "q_token_budget", "q_kmv_setops",
      "q_media_probe", "q_media_embed", "q_simsearch_ivf_index",
      "q_quality_margin", "q_shuffle_epoch", "q_mix_temperature",
      // round-5 curation family. q_semdedup is 10×-only by design: fixture
      // replication makes every vector 100 exact copies, so within-cluster
      // pair count grows with duplicate multiplicity² — a property of the
      // pathological corpus, not the plan (same artifact as q_dedup_simhash)
      "q_gopher_repetition", "q_boilerplate_scrub", "q_dsir_weights",
      "q_semdedup", "q_hard_negatives", "q_kanon",
      // round-5 model-fitting / tuning-diagnostic family
      "q_linreg_fit", "q_linreg_by_lang", "q_powerlaw_fit",
      "q_quantile_sketch", "q_dedup_sweep",
      "q_source_overlap", "q_rag_retrieve",
      // round-5 pattern-mining family
      "q_bloom_semijoin", "q_basket_pairs", "q_basket_rules",
      "q_embed_covariance", "q_dedup_canonical", "q_upsample_mix",
      "q_decayed_counts", "q_entity_resolution", "q_bootstrap_means",
      "q_changepoint", "q_target_encode", "q_seasonality", "q_doc_rep_scrub",
      "q_embed_int8", "q_pit_join", "q_survival_km",
      "q_diff_in_diff", "q_forecast_mase", "q_ks_drift", "q_psi_drift",
      "q_gini_orders", "q_acf", "q_trend_robust", "q_rfm", "q_funnel_wilson",
      "q_cohort_ltv", "q_lorenz", "q_cusum")
    def time(fn: => Long): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    // `only=q1,q2` arg: re-measure a subset against existing 10x tables
    val only = args.collectFirst { case a if a.startsWith("only=") =>
      a.stripPrefix("only=").split(",").toSet }
    println(f"${"query"}%-22s ${"sf0.1"}%8s ${"10x"}%8s ${"ratio"}%7s  rows10x")
    heavy.filter(n => only.forall(_.contains(n))).foreach { name =>
      val fn = SparkEntry.queries(name)
      graft.ops.BoundedCache.clear()
      val tSmall = time(fn(spark, base).count())
      graft.ops.BoundedCache.clear()
      var rows = 0L
      val tBig = time { rows = fn(spark, big).count(); rows }
      println(f"$name%-22s $tSmall%8.2f $tBig%8.2f ${tBig / tSmall}%7.1f  $rows")
    }
    spark.stop()
  }

  /** 100× scale curve for the dedup/ANN family specifically — the claims
    * in SURVEY §8 are about 1000×, and 10× leaves room for a hidden
    * quadratic to hide inside the constant factors. Base is sf0.01
    * (documents/embeddings only; the family reads nothing else) so the
    * 100× corpus lands at the same absolute size as the 10× check's —
    * the CURVE (1× → 10× → 100× on fixed cores) is the evidence:
    * candidate generation that is secretly pairs² would go ~100× between
    * the last two points, bucketed-linear goes ~10×. */
  private def run100x(spark: SparkSession, args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.01"
    def bigDir(r: Int) = s"/tmp/graft_sf100x_$r"
    val factors = Seq(10, 100)

    def replicate(table: String, keyCol: String, replicas: Int,
        textCol: Option[String]): Unit = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      val n = src.count()
      val out = (0 until replicas).map { i =>
        val shifted = src.withColumn(keyCol, col(keyCol) + lit(i.toLong * 100000000L))
        textCol.fold(shifted)(t => shifted.withColumn(t,
          regexp_replace(col(t), "(\\S+)", s"z${i}x$$1")))
      }.reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite")
        .parquet(s"${bigDir(replicas)}/$table.parquet")
      println(s"[scale100] $table x$replicas: $n -> ${n * replicas} rows")
    }
    if (!(args.contains("reuse")
        && new java.io.File(s"${bigDir(100)}/lineitem.parquet").exists())) {
      factors.foreach { r =>
        replicate("documents", "doc_id", r, textCol = Some("text"))
        replicate("embeddings", "vec_id", r, textCol = None)
        // round-7: lineitem feeds the basket-mining / equi-depth rows
        // (orders ×r over the SAME part catalog — corpus growth, not
        // catalog growth, which is how a sales log actually scales)
        replicate("lineitem", "l_orderkey", r, textCol = None)
        // round-7: orders feeds the Iceberg-export commit loop
        replicate("orders", "o_orderkey", r, textCol = None)
      }
    }

    import graft.SparkEntry
    val family = Seq("q_dedup_minhash", "q_dedup_prefix", "q_dedup_clusters",
      "q_dedup_clusters_lss", "q_simsearch_lsh", "q_simsearch_ivf_index",
      "q_span_dedup", "q_span_dedup_apply", "q_simsearch_pq", "q_simsearch_ivfpq",
      "q_simsearch_ivfpq_index",
      "q_boilerplate_scrub", "q_gopher_repetition", "q_dedup_canonical",
      "q_split_leakage_safe", "q_ann_recall",
      // round-7 additions (VERDICT r6 items 1/2/7): the remaining heavies
      "q_mixture_reweight", "q_mixture_allocate", "q_rag_retrieve",
      "q_basket_rules", "q_histogram_eqdepth",
      // full-corpus BATCHED BPE (replaces the old doc_id<2000 exclusion:
      // q_bpe_train's oracle-sized cap made any scale row trivially flat,
      // so the probe drives the trainer directly over the whole dir)
      "bpe_train_corpus",
      // round-7 additions: curriculum prefix-count, PCA-on-sufficient-stats,
      // and the Avro sink+source round-trip (write+read scales with corpus)
      "q_curriculum_order", "q_embed_pca", "q_semdedup_pca", "q_avro_roundtrip",
      "q_simsearch_ivf_append",
      // round-7 additions: Delta-log export (2 commits + log fold ∝ corpus),
      // dHash band-LSH image near-dup, URL canonicalization chain
      "q_delta_export", "q_media_phash", "q_url_curate", "q_iceberg_export",
      // unigram-LM tokenizer: the corpus-∝ pass is the word count; EM/DP
      // run on DISTINCT words (the replica prefixes multiply the word
      // alphabet ×r, so the DP side ALSO grows with r here)
      "q_unigram_train",
      // round-7 second wave: stats-driven data skipping (land + export +
      // footer pass + pruned scan, all ∝ corpus; the PRUNED fraction is
      // what stays flat) and the copy-on-write DML pair (rewrite ∝
      // overlapping files only, carry ∝ file count)
      "q_delta_skipping", "q_iceberg_stats", "q_cow_delete", "q_cow_update",
      // round-7 third wave: hive-partitioned land + exact k=v prune (the
      // pruned fraction is fixed, land ∝ corpus), and the same prune
      // resolved through the Delta log's partitionValues
      "q_partitioned_read", "q_delta_partition_prune",
      // round-7 fourth wave: merge-on-read delete (position capture ∝
      // matching rows, anti-join ∝ delete-set size, data files untouched)
      "q_mor_delete",
      // round-8 fifth wave (VERDICT r7 item 7): the MOR state read back
      // THROUGH the exported Iceberg metadata (delete capture + export +
      // manifest walk + anti-join — land ∝ corpus, delete set KBs), and
      // the partitioned streaming cadence (land→curated micro-batch +
      // auto-compaction + k=v-pruned read)
      "q_iceberg_mor_read", "stream_cadence_partitioned",
      // round-9 sixth wave (VERDICT r8 item 8): the deletion-vector
      // read path, both axes — q_delta_dv_read scales the TABLE with a
      // fixed delete range (the replica key-shift keeps the range in
      // replica 0, so the DV stays constant while the scan grows);
      // dv_read_scaled scales the DELETE COUNT 1×/10×/100× over a
      // FIXED table (encode + executor-side decode + anti-join are the
      // only things growing). Expect ~flat-to-linear on both.
      "q_delta_dv_read", "dv_read_scaled",
      // round-9: change-data-feed export + read (bag-difference ∝ the
      // two snapshots, cdc read ∝ changed rows)
      "q_delta_cdf",
      // round-9: the DSv2-facing graft source (manifest resolve +
      // footer pass + partition-pruned vectorized scan ∝ corpus; the
      // pruned fraction is what should stay proportionate)
      "q_graft_source",
      // round-10 (VERDICT r9 item 2): the MOR read path with standing
      // deletes, full scan vs a partition-selective read through the
      // public source — the selective row must run well under the full
      // row at every scale, proving the PrunedFilteredScan pushdown
      // reaches the inner scan (pre-round-10 the filter only
      // re-evaluated above a full scan)
      "graft_mor_full", "graft_mor_selective",
      // round-11 (VERDICT r10 item 1): SQL MERGE with touched-file
      // pruning — a FIXED source batch (keys in replica 0 only, thanks
      // to the key shift) merged into the growing range-clustered
      // table. Source-bounds derivation prunes the find-touched scan
      // by footer bounds and only the matching files rewrite, so the
      // row should stay near-FLAT across 1×/10×/100× — the
      // q_cow_delete curve shape (pre-round-11 this was a full-table
      // rewrite: linear write amplification)
      "merge_touched",
      // round-12 (VERDICT r11 item 3): IN-subquery DELETE with a FIXED
      // key list (replica-0 keys only) against the growing
      // range-clustered table — the derived [min,max] bounds of the
      // list footer-prune the COW split, so only overlapping files
      // rewrite; expect the merge_touched near-flat curve (pre-round-12
      // a subquery DELETE rewrote every file: fail-open on the whole
      // condition)
      "subq_delete_touched",
      // round-13 (VERDICT r12 item 6): the native streaming write's
      // epoch cadence — a FIXED two-commit source drained through
      // `writeStream.toTable` into a catalog table whose data (and
      // file count) grows with the corpus. The epoch commit is
      // |files| metadata renames + one manifest CAS, so the row
      // should stay near-FLAT; growth with table size would mean the
      // commit path leaked onto a data-proportional scan. Table build
      // is cached per dir (morRead protocol: first run builds, the
      // measured run reuses).
      "stream_sink_cadence", "cdf_read_touched",
      // round-13: `.option("changesSince", …)` with a FIXED appended
      // delta against the growing table — the incremental read lists
      // manifests and scans ONLY the delta's files, so near-flat is
      // the pass bar (linear would mean the file-set diff re-scanned
      // carried data)
      "changes_since_touched")
    def time(fn: => Long): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    val only = args.collectFirst { case a if a.startsWith("only=") =>
      a.stripPrefix("only=").split(",").toSet }
    println(f"${"query"}%-24s ${"1x"}%8s ${"10x"}%8s ${"100x"}%8s ${"100/10"}%7s  rows100x")
    family.filter(n => only.forall(_.contains(n))).foreach { name =>
      val fn: (SparkSession, String) => DataFrame =
        if (name == "bpe_train_corpus")
          (sp, dir) => graft.ext.TextStats.bpeTrainBatched(
            sp.read.parquet(s"$dir/documents.parquet"),
            "doc_id", "text", rounds = 4, batchK = 8)._1
        else if (name == "stream_cadence_partitioned")
          (sp, dir) => streamCadencePartitioned(sp, dir)
        else if (name == "dv_read_scaled")
          (sp, dir) => dvReadScaled(sp, dir)
        else if (name == "graft_mor_full")
          (sp, dir) => morRead(sp, dir, selective = false)
        else if (name == "graft_mor_selective")
          (sp, dir) => morRead(sp, dir, selective = true)
        else if (name == "merge_touched")
          (sp, dir) => mergeTouched(sp, dir)
        else if (name == "subq_delete_touched")
          (sp, dir) => subqDeleteTouched(sp, dir)
        else if (name == "stream_sink_cadence")
          (sp, dir) => streamSinkCadence(sp, dir)
        else if (name == "changes_since_touched")
          (sp, dir) => changesSinceTouched(sp, dir)
        else if (name == "cdf_read_touched")
          (sp, dir) => cdfReadTouched(sp, dir)
        else SparkEntry.queries(name)
      def measure(dir: String): (Double, Long) = {
        graft.ops.BoundedCache.clear()
        if (name.endsWith("_index")) fn(spark, dir).count() // build once
        var rows = 0L
        val t = time { rows = fn(spark, dir).count(); rows } // steady state
        (t, rows)
      }
      val (t1, _) = measure(base)
      val (t10, _) = measure(bigDir(10))
      val (t100, rows) = measure(bigDir(100))
      println(f"$name%-24s $t1%8.2f $t10%8.2f $t100%8.2f ${t100 / t10}%7.1f  $rows")
    }
  }

  /** Round-10 MOR read pair: ONE hive-partitioned graft table per
    * fixture dir (orders partitioned by o_orderpriority, built once,
    * reused across both rows and repeat measures) carrying a standing
    * MOR delete, read through the PUBLIC `spark.read.format("graft")`
    * face. `selective = false` scans everything (the delete anti-join
    * over the whole table); `selective = true` reads one priority +
    * a key range — the partition filter must prune to 1/5 of the
    * directories and the range must skip row groups INSIDE the MOR
    * relation's frame, so its row should run several times under the
    * full row at every scale. */
  private def morRead(sp: SparkSession, dir: String,
      selective: Boolean): DataFrame = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_morscale_$key"
    if (!new java.io.File(s"$tbl").exists() ||
        graft.io.Manifest.snapshots(sp, tbl).size != 2) {
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
      graft.io.Manifest.writePartitioned(
        sp.read.parquet(s"$dir/orders.parquet")
          .repartitionByRange(8, col("o_orderkey")),
        tbl, "base", Seq("o_orderpriority"))
      graft.io.Manifest.deleteRangeMOR(sp, tbl, "o_orderkey",
        "1000", "4999", "mor")
    }
    val g = sp.read.format("graft").load(tbl)
    if (!selective) g.groupBy("o_orderstatus").count()
    else g.where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") >= 5000 && col("o_orderkey") < 100000)
      .groupBy("o_orderstatus").count()
  }

  /** Round-11 MERGE-at-scale probe: ONE range-clustered graft table per
    * fixture dir (orders on o_orderkey, built on first use, reused —
    * run with `reuse only=merge_touched` for a land-free steady-state
    * row), then one SQL MERGE whose source batch holds a FIXED key
    * range (present only in replica 0 after the key shift). The merge
    * should cost ∝ the touched files at every scale: source-bounds
    * derivation footer-prunes the find-touched scan, the rewrite
    * covers only matching files, and the rest carry by reference. The
    * returned frame is the bounds-pruned post-merge read of the key
    * range (also flat), so the measurement isolates the DML machinery. */
  private def mergeTouched(sp: SparkSession, dir: String): DataFrame = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
    val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_mergescale_$key"
    if (!new java.io.File(tbl).exists() ||
        graft.io.Manifest.snapshots(sp, tbl).isEmpty) {
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
      graft.io.Manifest.write(
        sp.read.parquet(s"$dir/orders.parquet")
          .repartitionByRange(32, col("o_orderkey")),
        tbl, "base")
    }
    sp.read.format("graft").load(tbl)
      .createOrReplaceTempView("merge_scale_t")
    sp.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .where(col("o_orderkey").between(1000, 1999))
      .select(col("o_orderkey"), lit("SCALED").as("seg"))
      .createOrReplaceTempView("merge_scale_s")
    sp.sql(
      """MERGE INTO merge_scale_t t USING merge_scale_s s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET o_orderpriority = s.seg""".stripMargin)
    sp.read.format("graft").load(tbl)
      .where(col("o_orderkey").between(1000, 1999))
      .groupBy("o_orderstatus").count()
  }

  /** Round-12 scale row (VERDICT r11 item 3 family): a FIXED
    * IN-subquery DELETE batch — replica-0 keys only, so the key range
    * stays constant while the table grows — against a fresh
    * range-clustered copy of orders at each scale point. The derived
    * [min, max] bounds of the IN list footer-prune the COW split, so
    * the rewrite touches only the files overlapping [1000, 1999]
    * however large the table; the near-flat merge_touched curve is the
    * pass bar. A fresh table per call (the DELETE mutates it), so the
    * row includes the land cost — the DELTA across scales is what must
    * stay flat-ish relative to the land. */
  private def subqDeleteTouched(sp: SparkSession, dir: String): DataFrame = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash("subqdel" + dir)
        .toLong & 0xffffffffL)
    val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_subqdel_$key"
    val p = new org.apache.hadoop.fs.Path(tbl)
    p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
    graft.io.Manifest.write(
      sp.read.parquet(s"$dir/orders.parquet")
        .repartitionByRange(32, col("o_orderkey")),
      tbl, "base")
    sp.read.format("graft").load(tbl)
      .createOrReplaceTempView("subqdel_scale_t")
    sp.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .where(col("o_orderkey").between(1000, 1999))
      .select(col("o_orderkey").as("k"))
      .createOrReplaceTempView("subqdel_scale_keys")
    sp.sql(
      """DELETE FROM subqdel_scale_t
        |WHERE o_orderkey IN (SELECT k FROM subqdel_scale_keys)""".stripMargin)
    sp.read.format("graft").load(tbl)
      .where(col("o_orderkey") < 5000)
      .groupBy("o_orderstatus").count()
  }

  /** Round-13 streaming-write cadence probe: the TARGET catalog table
    * is seeded from the fixture dir (data and file count ∝ corpus,
    * built once per dir and cached — morRead's protocol: a `reuse`
    * re-run measures against the existing build), the SOURCE is a
    * fixed two-commit sf0.01 slice, and the measured body drains it
    * through `readStream.table → writeStream.toTable` under
    * AvailableNow with maxCommitsPerTrigger=1 (two native epoch
    * commits). Near-flat = the epoch publish stayed metadata-bound. */
  private def streamSinkCadence(sp: SparkSession, dir: String): DataFrame = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash("ssc" + dir)
        .toLong & 0xffffffffL)
    val cat = s"gssc$key"
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_ssc_$key"
    sp.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    sp.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    if (!new java.io.File(s"$wh/db/dst").exists()) {
      sp.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      sp.read.parquet(s"$dir/orders.parquet")
        .repartitionByRange(32, col("o_orderkey"))
        .createOrReplaceTempView(s"ssc_seed_$key")
      sp.sql(s"""CREATE TABLE $cat.db.dst USING graft AS
                |SELECT o_orderkey, o_orderstatus, o_totalprice
                |FROM ssc_seed_$key""".stripMargin)
      sp.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .where(col("o_orderkey") < 2000)
        .createOrReplaceTempView(s"ssc_src_$key")
      sp.sql(s"""CREATE TABLE $cat.db.src USING graft AS
                |SELECT o_orderkey, o_orderstatus, o_totalprice
                |FROM ssc_src_$key WHERE o_orderkey % 2 = 0""".stripMargin)
      sp.sql(s"""INSERT INTO $cat.db.src
                |SELECT o_orderkey, o_orderstatus, o_totalprice
                |FROM ssc_src_$key WHERE o_orderkey % 2 = 1""".stripMargin)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("ssc-ckpt").toString
    sp.readStream.option("maxCommitsPerTrigger", "1").table(s"$cat.db.src")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat.db.dst").awaitTermination()
    sp.sql(s"SELECT COUNT(*) AS n FROM $cat.db.src")
  }

  /** Round-13 incremental-read probe: a FIXED appended delta against
    * the growing table — `.option("changesSince", base)` must list
    * manifests and scan ONLY the delta's files. Near-flat is the pass
    * bar. */
  private def changesSinceTouched(sp: SparkSession, dir: String): DataFrame = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash("chs" + dir)
        .toLong & 0xffffffffL)
    val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_chs_$key"
    if (!new java.io.File(tbl).exists() ||
        graft.io.Manifest.snapshots(sp, tbl).size != 2) {
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
      graft.io.Manifest.write(
        sp.read.parquet(s"$dir/orders.parquet")
          .repartitionByRange(32, col("o_orderkey")),
        tbl, "base")
      graft.io.Manifest.append(
        sp.read.parquet("/root/testdata/sf0.01/orders.parquet")
          .where(col("o_orderkey") < 2000), tbl, "delta")
    }
    sp.read.format("graft").option("changesSince", "base").load(tbl)
      .groupBy("o_orderstatus").count()
  }

  /** Round-13 CDF probe: the base table GROWS with the scale point
    * while the DML (one COW DELETE of replica-0's fixed key range)
    * stays constant, so the measured change-feed read isolates what
    * `.option("readChangeFeed", …)` pays per scale — the recorded cdc
    * bytes (∝ changed rows) plus manifest metadata, never the table.
    * Flat 100×/10× is the pass bar. */
  private def cdfReadTouched(sp: SparkSession, dir: String): DataFrame = {
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash("cdf" + dir)
        .toLong & 0xffffffffL)
    val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_cdfp_$key"
    if (!new java.io.File(tbl).exists() ||
        graft.io.Manifest.snapshots(sp, tbl).size != 2) {
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
      graft.io.Manifest.write(
        sp.read.parquet(s"$dir/orders.parquet")
          .repartitionByRange(32, col("o_orderkey")),
        tbl, "base")
      sp.read.format("graft").load(tbl)
        .createOrReplaceTempView(s"cdf_probe_$key")
      sp.sql(s"DELETE FROM cdf_probe_$key WHERE o_orderkey < 2000")
    }
    sp.read.format("graft")
      .option("readChangeFeed", "true").option("changesSince", "base")
      .load(tbl).groupBy("_change_type").count()
  }

  /** Round-9 DELETE-COUNT curve for the deletion-vector path: the base
    * table is FIXED (sf0.01 orders) at every scale point; only the
    * MOR-deleted key range widens 1×/10×/100×, so the measured growth
    * isolates exactly what the DV machinery pays per deleted row —
    * position capture, content-addressed encode (now inside a task),
    * executor-side decode, and the anti-join. Linear-in-deletes is the
    * pass bar; growth with TABLE size would mean the decode leaked back
    * onto a data-proportional path. */
  private def dvReadScaled(sp: SparkSession, dir: String): DataFrame = {
    val mult =
      if (dir.endsWith("_100")) 100L else if (dir.endsWith("_10")) 10L else 1L
    val root = graft.queries.QueryUtil.scratchDir(dir, "dv_scale")
    val base = new org.apache.hadoop.fs.Path(root)
    base.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(base, true)
    val o = sp.read.parquet("/root/testdata/sf0.01/orders.parquet")
    graft.io.Manifest.write(o.repartitionByRange(8, col("o_orderkey")),
      root, "base")
    graft.io.Manifest.deleteRangeMOR(sp, root, "o_orderkey",
      "1", (600L * mult).toString, "mor")
    graft.io.DeltaLog.exportLog(sp, root)
    graft.io.DeltaLog.read(sp, root)
  }

  /** Round-8 cadence probe: the corpus lands as JSONL, drains through
    * the PARTITIONED streaming path with the auto-maintenance policy
    * armed (the tiny part files force exactly the compaction the policy
    * exists for), then the partition-exact read serves ONE language —
    * land ∝ corpus, compaction ∝ current snapshot, pruned read ∝ one
    * partition's bytes. */
  private def streamCadencePartitioned(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // scratch lives under /tmp (the fixture dirs are read-only),
    // keyed per source dir so the three scale points never collide
    val root = graft.queries.QueryUtil.scratchDir(dir, "stream_cadence")
    val base = new org.apache.hadoop.fs.Path(root)
    val fsys = base.getFileSystem(sp.sparkContext.hadoopConfiguration)
    fsys.delete(base, true)
    val land = s"$root/land"
    val curated = s"$root/curated"
    val ckpt = s"$root/ckpt"
    sp.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang").write.json(land)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    graft.streaming.LandIngest.drainLandToCurated(sp, land, schema, curated,
      ckpt, df => df.withColumn("n_chars", length(col("text"))),
      minRows = 1,
      partitionCols = Seq("lang"),
      maintenance = Some(graft.streaming.LandIngest.MaintenancePolicy(
        maxFiles = 1 << 20, smallFileBytes = 64L << 20, maxSmallFiles = 8)))
    graft.io.Manifest.readWherePartitions(sp, curated, Map("lang" -> "en"))
  }
}
