package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.io.Manifest

/**
 * SQL row-level DML over graft tables: DELETE FROM / UPDATE / MERGE
 * INTO through plain `spark.sql` on a temp view over the source — the
 * analyst-facing path (the reference's README.md:424-436 deploy-then-
 * query model). Covers: COW file pruning (untouched files carried by
 * reference, proven on the new snapshot's file list), SQL NULL
 * semantics, partition-layout preservation, MOR interplay, time
 * travel across DML, the cardinality guard, and the loud refusals.
 */
class GraftDmlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graftdml").toString

  private def view(dir: String, name: String): DataFrame = {
    val df = spark.read.format("graft").load(dir)
    df.createOrReplaceTempView(name)
    df
  }

  test("DELETE FROM rewrites only overlapping files; the rest carry by reference") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("id").repartitionByRange(10, $"id"),
      dir, "base")
    val baseFiles = Manifest.currentFiles(spark, dir)
    assert(baseFiles.size == 10)
    view(dir, "dml_del_t")
    spark.sql("DELETE FROM dml_del_t WHERE id >= 100 AND id < 200")
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 900)
    assert(after.where("id >= 100 AND id < 200").count() == 0)
    // COW prune: the ~1 overlapping range file was rewritten, the other
    // 9 carried by reference (same relative paths as the base snapshot)
    val newFiles = Manifest.currentFiles(spark, dir)
    val carried = newFiles.toSet.intersect(baseFiles.toSet)
    assert(carried.size >= 8,
      s"expected >=8 carried files, got ${carried.size} of ${baseFiles.size}")
    // time travel below the DELETE still serves the full state
    assert(Manifest.readAt(spark, dir, "base").count() == 1000)
  }

  test("DELETE keeps NULL-condition rows (SQL semantics) and prunes by partition value") {
    val dir = tmpDir()
    val df = spark.range(0, 300).toDF("id")
      .withColumn("k", org.apache.spark.sql.functions.expr(
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' END"))
      .withColumn("v", org.apache.spark.sql.functions.expr(
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id END"))
    Manifest.writePartitioned(df, dir, "base", Seq("k"))
    val baseFiles = Manifest.currentFiles(spark, dir)
    view(dir, "dml_null_t")
    // v > 0 is NULL for the NULL-v rows: those rows must SURVIVE
    spark.sql("DELETE FROM dml_null_t WHERE k = 'a' AND v > 0")
    val after = spark.read.format("graft").load(dir)
    // k='a': ids 0,3,…,297 (100 rows); survivors are the NULL-v ones
    // (ids 0,30,60,…,270 → 10 rows); other partitions untouched
    assert(after.count() == 300 - 100 + 10)
    assert(after.where("k = 'a'").count() == 10)
    assert(after.where("k = 'a' AND v IS NOT NULL").count() == 0)
    // partition prune: only k=a files rewritten; k=b and the
    // null-partition files carried by reference
    val carried = Manifest.currentFiles(spark, dir).toSet
      .intersect(baseFiles.toSet)
    val untouchedBase = baseFiles.filterNot(_.contains("/k=a/"))
    assert(untouchedBase.forall(carried.contains),
      "files of unmatched partitions must carry by reference")
    assert(baseFiles.filter(_.contains("/k=a/")).forall(f => !carried.contains(f)))
  }

  test("UPDATE rewrites in place, preserves layout, and respects WHERE") {
    val dir = tmpDir()
    Manifest.writePartitioned(
      spark.range(0, 400).toDF("id")
        .withColumn("seg", org.apache.spark.sql.functions.expr(
          "CASE WHEN id < 200 THEN 'x' ELSE 'y' END"))
        .withColumn("price", $"id".cast("double")),
      dir, "base", Seq("seg"))
    val baseFiles = Manifest.currentFiles(spark, dir)
    view(dir, "dml_upd_t")
    spark.sql(
      "UPDATE dml_upd_t SET price = price * 2, id = id + 10000 " +
        "WHERE seg = 'x' AND id >= 50")
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 400)
    assert(after.where("id >= 10050 AND price = (id - 10000) * 2").count() == 150)
    assert(after.where("seg = 'y' AND id >= 10000").count() == 0)
    // seg=y files untouched (partition prune), layout preserved
    val newFiles = Manifest.currentFiles(spark, dir)
    assert(baseFiles.filter(_.contains("/seg=y/"))
      .forall(newFiles.contains), "seg=y files must carry by reference")
    assert(newFiles.exists(_.contains("/seg=x/")),
      "the rewrite must keep the hive layout")
    // the rewritten snapshot reads back through the partition-pruned path
    assert(spark.read.format("graft").load(dir)
      .where("seg = 'x'").count() == 200)
  }

  test("UPDATE without WHERE rewrites everything; DML on MOR state applies standing deletes") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 100).toDF("id").repartitionByRange(2, $"id"), dir, "base")
    Manifest.deleteRangeMOR(spark, dir, "id", "10", "19", "mor")
    view(dir, "dml_mor_t")
    spark.sql("UPDATE dml_mor_t SET id = id + 1000")
    val after = spark.read.format("graft").load(dir)
    // the rewrite must not resurrect the 10 MOR-deleted rows
    assert(after.count() == 90)
    assert(after.where("id BETWEEN 1010 AND 1019").count() == 0)
    assert(after.where("id >= 1000").count() == 90)
  }

  test("MERGE INTO: update, delete, insert and not-matched-by-source in one statement") {
    val dir = tmpDir()
    Manifest.write(
      Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0))
        .toDF("k", "name", "v"),
      dir, "base")
    view(dir, "dml_merge_t")
    Seq((2, "B2", 200.0), (3, "C3", -1.0), (9, "I9", 900.0))
      .toDF("k", "nm", "nv").createOrReplaceTempView("dml_merge_s")
    spark.sql(
      """MERGE INTO dml_merge_t t USING dml_merge_s s ON t.k = s.k
        |WHEN MATCHED AND s.nv < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET name = s.nm, v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, name, v) VALUES (s.k, s.nm, s.nv)
        |WHEN NOT MATCHED BY SOURCE AND t.k = 4 THEN UPDATE SET v = t.v + 0.5
        |""".stripMargin)
    val rows = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r =>
        (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq(
      (1, "a", 10.0),     // untouched (no source match, no applicable action)
      (2, "B2", 200.0),   // matched update
      // 3 deleted (matched, nv < 0 wins as the FIRST applicable action)
      (4, "d", 40.5),     // not matched by source update
      (9, "I9", 900.0)))  // not matched insert
    // time travel below the merge still serves the original
    assert(Manifest.readAt(spark, dir, "base").count() == 4)
  }

  test("MERGE refuses a target row matching multiple source rows") {
    val dir = tmpDir()
    Manifest.write(Seq((1, 10.0), (2, 20.0)).toDF("k", "v"), dir, "base")
    view(dir, "dml_card_t")
    Seq((1, 1.0), (1, 2.0)).toDF("k", "nv")
      .createOrReplaceTempView("dml_card_s")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO dml_card_t t USING dml_card_s s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    assert(e.getMessage.contains("matched multiple source rows"))
    // the table is untouched after the refused statement
    assert(spark.read.format("graft").load(dir).count() == 2)
    assert(Manifest.snapshots(spark, dir) == Seq("base"))
  }

  test("loud refusals: emptying DELETE, correlated subquery, nested assignment") {
    val dir = tmpDir()
    Manifest.write((1 to 50).toDF("v"), dir, "base")
    view(dir, "dml_refuse_t")
    val e1 = intercept[Exception] {
      spark.sql("DELETE FROM dml_refuse_t WHERE v IS NOT NULL")
    }
    assert(e1.getMessage.contains("empty snapshot is not representable"))
    // the refusal left the table intact
    assert(spark.read.format("graft").load(dir).count() == 50)
    assert(Manifest.snapshots(spark, dir) == Seq("base"))
  }

  test("BETWEEN (a With-bearing RuntimeReplaceable) survives the keep-predicate remap") {
    // regression (round 13): captured conditions are Pinned away from
    // the statement optimizer, so ReplaceExpressions no longer strips
    // Spark 4's `With` nodes before remapByName — which used to break
    // their integrity hooks with unresolved children
    val dir = tmpDir()
    Manifest.write((1 to 100).map(i => (i, s"s$i")).toDF("v", "tag"),
      dir, "base")
    view(dir, "dml_btw_t")
    spark.sql("DELETE FROM dml_btw_t WHERE v BETWEEN 10 AND 19")
    assert(spark.read.format("graft").load(dir).count() == 90)
    view(dir, "dml_btw_t")
    spark.sql("UPDATE dml_btw_t SET tag = 'mid' WHERE v BETWEEN 40 AND 49")
    val got = spark.read.format("graft").load(dir)
    assert(got.where("tag = 'mid'").count() == 10)
    assert(got.where("v BETWEEN 10 AND 19").count() == 0)
  }

  test("CORRELATED SET: UPDATE t SET x = (SELECT ... WHERE s.k = t.k)") {
    val dir = tmpDir()
    Manifest.write(
      (0 to 9).map(i => (i.toLong, i * 10.0)).toDF("k", "v"), dir, "base")
    Seq((1L, 5.0), (1L, 7.0), (3L, 2.0), (42L, 9.0))
      .toDF("k", "w").createOrReplaceTempView("dml_cset_s")
    // correlated scalar subquery in PROJECT position over the hit
    // frame: matched keys take the aggregate, unmatched ones take the
    // scalar-subquery contract's NULL, rows outside the condition stay
    view(dir, "dml_cset_t")
    spark.sql("UPDATE dml_cset_t t SET v = " +
      "(SELECT MAX(s.w) FROM dml_cset_s s WHERE s.k = t.k) WHERE k < 5")
    val after = spark.read.format("graft").load(dir).orderBy("k").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toSeq
    assert(after(1) == (1L, 7.0) && after(3) == (3L, 2.0),
      "matched keys take the correlated aggregate")
    assert(after(0)._2.isNaN && after(2)._2.isNaN && after(4)._2.isNaN,
      "unmatched keys in range take the scalar subquery's NULL")
    assert((5 to 9).forall(i => after(i) == (i.toLong, i * 10.0)),
      "rows outside the WHERE stay untouched")
    // a correlated SET composes with a correlated EXISTS condition
    view(dir, "dml_cset_t")
    spark.sql("UPDATE dml_cset_t t SET v = " +
      "(SELECT SUM(s.w) FROM dml_cset_s s WHERE s.k = t.k) " +
      "WHERE EXISTS (SELECT 1 FROM dml_cset_s s WHERE s.k = t.k)")
    val after2 = spark.read.format("graft").load(dir).orderBy("k").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toSeq
    assert(after2(1) == (1L, 12.0) && after2(3) == (3L, 2.0))
    assert(after2(0)._2.isNaN, "earlier NULL write survives (no match)")
    // >1 row from a non-aggregate correlated subquery = runtime error,
    // and the failed statement leaves the table untouched
    val snaps = Manifest.snapshots(spark, dir)
    view(dir, "dml_cset_t")
    val e = intercept[Exception] {
      spark.sql("UPDATE dml_cset_t t SET v = " +
        "(SELECT s.w FROM dml_cset_s s WHERE s.k = t.k) WHERE k = 1")
    }
    assert(Seq("SCALAR_SUBQUERY_TOO_MANY_ROWS", "More than one row")
      .exists(m => (e.getMessage +
        Option(e.getCause).map(_.getMessage).mkString).contains(m)),
      e.getMessage)
    assert(Manifest.snapshots(spark, dir) == snaps)
  }

  test("CORRELATED subqueries in DELETE/UPDATE conditions: EXISTS, NOT EXISTS, correlated IN") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("id").repartitionByRange(10, $"id")
        .withColumn("tag", org.apache.spark.sql.functions.lit("keep")),
      dir, "base")
    val baseFiles = Manifest.currentFiles(spark, dir)
    Seq((3L, "x"), (5L, "y"), (107L, "x"), (2000L, "z"))
      .toDF("k", "grp").createOrReplaceTempView("dml_corr_s")
    // the correlated-EXISTS GDPR shape: outer reference t.id binds
    // through the file-restricted pinned plan
    view(dir, "dml_corr_t")
    spark.sql("DELETE FROM dml_corr_t t WHERE EXISTS " +
      "(SELECT 1 FROM dml_corr_s s WHERE s.k = t.id AND s.grp = 'x')")
    val after1 = spark.read.format("graft").load(dir)
    assert(after1.count() == 998)
    assert(after1.where("id IN (3, 107)").count() == 0)
    assert(after1.where("id = 5").count() == 1, "grp <> 'x' must survive")
    // a bare EXISTS gives the file split nothing provable — a full
    // rewrite is the correct (and Delta-conformant) cost here; the
    // prunable shapes are covered below and in the UNCORRELATED test
    assert(Manifest.currentFiles(spark, dir).nonEmpty)
    // correlated NOT EXISTS: three-valued logic has no NULL trap here,
    // every surviving row matched nothing
    view(dir, "dml_corr_t")
    spark.sql("DELETE FROM dml_corr_t t WHERE id < 10 AND NOT EXISTS " +
      "(SELECT 1 FROM dml_corr_s s WHERE s.k = t.id)")
    val after2 = spark.read.format("graft").load(dir)
    // of id 0..9, only 5 had a source match (3,107 already deleted)
    assert(after2.where("id < 10").collect().map(_.getLong(0)).toSeq ==
      Seq(5L))
    // correlated IN in an UPDATE condition
    view(dir, "dml_corr_t")
    spark.sql("UPDATE dml_corr_t t SET tag = 'hit' WHERE id IN " +
      "(SELECT s.k FROM dml_corr_s s WHERE s.k = t.id)")
    val after3 = spark.read.format("graft").load(dir)
    // of the source keys, only id=5 survives the two deletes in range
    assert(after3.where("tag = 'hit'").collect().map(_.getLong(0)).toSeq ==
      Seq(5L))
    assert(after3.count() == after2.count())
  }

  test("IN-subquery DELETE prunes by the list's bounds: untouched files carry by reference") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("id").repartitionByRange(10, $"id"),
      dir, "base")
    val baseFiles = Manifest.currentFiles(spark, dir)
    assert(baseFiles.size == 10)
    Seq(3L, 5L, 42L).toDF("k").createOrReplaceTempView("dml_inb_keys")
    view(dir, "dml_inb_t")
    spark.sql("DELETE FROM dml_inb_t WHERE id IN (SELECT k FROM dml_inb_keys)")
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 997)
    assert(after.where("id IN (3, 5, 42)").count() == 0)
    // the derived [3, 42] bound confines the rewrite to the one range
    // file holding those keys — the other 9 carry by reference
    val carried = Manifest.currentFiles(spark, dir).toSet
      .intersect(baseFiles.toSet)
    assert(carried.size >= 8,
      s"IN-subquery bounds should carry >=8 of 10 files, got ${carried.size}")
  }

  test("UNCORRELATED subqueries in DELETE/UPDATE: IN, NOT IN null semantics, scalar") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v").withColumn("tag",
      org.apache.spark.sql.functions.lit("keep")), dir, "base")
    view(dir, "dml_subq_t")
    Seq(3, 5, 700).toDF("k").createOrReplaceTempView("dml_subq_keys")
    // the GDPR shape: DELETE WHERE key IN (SELECT …)
    spark.sql("DELETE FROM dml_subq_t WHERE v IN (SELECT k FROM dml_subq_keys)")
    val after1 = spark.read.format("graft").load(dir)
    assert(after1.count() == 98)
    assert(after1.where("v IN (3, 5)").count() == 0)
    // scalar subquery in an UPDATE condition (fresh view: a temp view
    // pins the snapshot it was registered against)
    view(dir, "dml_subq_t")
    spark.sql("UPDATE dml_subq_t SET tag = 'big' WHERE " +
      "v > (SELECT 2 * MAX(k) FROM dml_subq_keys WHERE k < 100)")
    val after2 = spark.read.format("graft").load(dir)
    assert(after2.where("tag = 'big'").count() == 90) // v in 11..100 minus deleted
    // NOT IN over a subquery producing a NULL: SQL three-valued logic
    // makes the condition UNKNOWN for every row - nothing deletes
    Seq(Some(7), None).toDF("k").createOrReplaceTempView("dml_subq_nulls")
    view(dir, "dml_subq_t")
    spark.sql(
      "DELETE FROM dml_subq_t WHERE v NOT IN (SELECT k FROM dml_subq_nulls)")
    assert(spark.read.format("graft").load(dir).count() == 98,
      "NOT IN with a NULL in the subquery must delete nothing")
    // IN-subquery in an UPDATE condition (predicate position preserved
    // through the hit/miss split)
    view(dir, "dml_subq_t")
    spark.sql("UPDATE dml_subq_t SET tag = 'flag' WHERE " +
      "v IN (SELECT k + 4 FROM dml_subq_keys)")
    val after3 = spark.read.format("graft").load(dir)
    assert(after3.where("tag = 'flag'").count() == 2) // v = 7, 9
    assert(after3.where("v IN (7, 9) AND tag <> 'flag'").count() == 0)
    assert(after3.count() == 98)
    // NOT IN with a NULL in an UPDATE condition: UNKNOWN rows stay
    view(dir, "dml_subq_t")
    spark.sql("UPDATE dml_subq_t SET tag = 'boom' WHERE " +
      "v NOT IN (SELECT k FROM dml_subq_nulls)")
    assert(spark.read.format("graft").load(dir)
      .where("tag = 'boom'").count() == 0,
      "NOT IN with a NULL in the subquery must update nothing")
  }

  test("insert-only MERGE never duplicates multi-matched target rows") {
    val dir = tmpDir()
    Manifest.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), dir, "base")
    view(dir, "dml_io_t")
    // k=1 matches TWO source rows; with no matched action that is legal
    // SQL (the target row stays) - and it must stay ONCE
    Seq((1, "x"), (1, "y"), (9, "z")).toDF("k", "s")
      .createOrReplaceTempView("dml_io_s")
    spark.sql(
      """MERGE INTO dml_io_t t USING dml_io_s s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, s.s)""".stripMargin)
    val rows = spark.read.format("graft").load(dir)
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "b"), (9, "z")),
      "multi-matched target rows must pass through exactly once")
  }

  test("DML through a SUBSET or RENAMING view is refused, not a silent column loss") {
    val dir = tmpDir()
    Manifest.write(Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("k", "s", "v"),
      dir, "base")
    val base = spark.read.format("graft").load(dir)
    // subset view: target.output would drop columns s and v
    base.select("k").createOrReplaceTempView("dml_subset_v")
    intercept[Exception](spark.sql("DELETE FROM dml_subset_v WHERE k = 1"))
    // renaming view: the rewrite would re-land column k as kk
    base.select(base.col("k").as("kk"), base.col("s"), base.col("v"))
      .createOrReplaceTempView("dml_rename_v")
    intercept[Exception](spark.sql("DELETE FROM dml_rename_v WHERE kk = 1"))
    // the table is intact after both refusals
    assert(spark.read.format("graft").load(dir).count() == 2)
    assert(spark.read.format("graft").load(dir).columns.toSeq ==
      Seq("k", "s", "v"))
    assert(Manifest.snapshots(spark, dir) == Seq("base"))
  }

  test("MERGE rewrites only the files carrying matches; the rest carry by reference") {
    val dir = tmpDir()
    // 10 range-clustered files over k=0..999; the source touches keys
    // inside ONE range only
    Manifest.write(
      spark.range(0, 1000).toDF("k")
        .withColumn("v", $"k".cast("double"))
        .repartitionByRange(10, $"k"),
      dir, "base")
    val baseFiles = Manifest.currentFiles(spark, dir)
    assert(baseFiles.size == 10)
    view(dir, "dml_mprune_t")
    Seq((150L, 1.5), (160L, 1.6), (2000L, 20.0)).toDF("k", "nv")
      .createOrReplaceTempView("dml_mprune_s")
    spark.sql(
      """MERGE INTO dml_mprune_t t USING dml_mprune_s s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 1001)
    assert(after.where("k = 150 AND v = 1.5").count() == 1)
    assert(after.where("k = 160 AND v = 1.6").count() == 1)
    assert(after.where("k = 2000 AND v = 20.0").count() == 1)
    // touched-file prune: only the file(s) holding keys 150/160 were
    // rewritten — at least 9 of the 10 base files carry by reference
    // (the pre-round-11 full rewrite carried ZERO)
    val carried = Manifest.currentFiles(spark, dir).toSet
      .intersect(baseFiles.toSet)
    assert(carried.size >= 9,
      s"expected >=9 carried files, got ${carried.size} of ${baseFiles.size}")
    assert(Manifest.readAt(spark, dir, "base").count() == 1000)
  }

  test("an inserting MERGE sizes its landing from the plan, not the touched bytes") {
    val dir = tmpDir()
    Manifest.write(spark.range(0, 10).toDF("k").withColumn("v", $"k" * 2),
      dir, "base")
    val baseFiles = Manifest.currentFiles(spark, dir).toSet
    view(dir, "dml_mheavy_t")
    spark.range(5, 20005).toDF("k").withColumn("nv", $"k" * 3)
      .createOrReplaceTempView("dml_mheavy_s")
    // 64 join partitions and a tiny file target: the touched bytes (a
    // few KB) would size the landing at the 16-file floor, packing
    // 20,000 inserted rows into 16 files
    val conf = Map("spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.graft.write.targetFileBytes" -> "1024")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try spark.sql(
      """MERGE INTO dml_mheavy_t t USING dml_mheavy_s s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 20005)
    assert(after.where("k = 7 AND v = 21").count() == 1)
    val landed = Manifest.currentFiles(spark, dir).filterNot(baseFiles)
    assert(landed.size > 16,
      s"an insert-heavy MERGE must not be packed into the floor: ${landed.size} files")
  }

  test("a zero-match insert-only MERGE keeps the hive layout and is not a rewrite commit") {
    val dir = tmpDir()
    Manifest.writePartitioned(
      Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "seg", "v"),
      dir, "base", Seq("seg"))
    view(dir, "dml_mins_t")
    Seq((9L, "x", 9.0)).toDF("k", "seg", "nv")
      .createOrReplaceTempView("dml_mins_s")
    spark.sql(
      """MERGE INTO dml_mins_t t USING dml_mins_s s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, seg, v) VALUES (s.k, s.seg, s.nv)
        |""".stripMargin)
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 3)
    assert(after.where("seg = 'x'").count() == 2)
    val head = Manifest.history(spark, dir).last
    // the inserts landed IN the hive layout (no flat demotion) …
    assert(head.files.forall(_.contains("seg=")),
      s"inserted files must keep the hive layout: ${head.files}")
    // … every base file carried by reference, and the commit is NOT
    // flagged rewrite (nothing re-packed — streams keep serving it)
    assert(Manifest.readAt(spark, dir, "base").count() == 2)
    assert(!head.rewrite, "a zero-touch MERGE must not flag rewrite")
  }

  test("disjoint MERGE races rebase instead of conflicting") {
    val dir = tmpDir()
    Manifest.write(
      spark.range(0, 1000).toDF("k")
        .withColumn("v", $"k".cast("double"))
        .repartitionByRange(10, $"k"),
      dir, "base")
    view(dir, "dml_mrace_t")
    Seq((150L, -1.0)).toDF("k", "nv")
      .createOrReplaceTempView("dml_mrace_s")
    // between this merge's rewrite and its publish, a DISJOINT commit
    // lands (an append — no overlap with the touched file): the merge
    // must lose the CAS, rebase onto the new head, and keep BOTH
    var fired = false
    GraftDmlExec.beforePublishHook = () => {
      if (!fired) {
        fired = true
        Manifest.append(Seq((5000L, 50.0)).toDF("k", "v"), dir, "racer")
      }
    }
    try {
      spark.sql(
        """MERGE INTO dml_mrace_t t USING dml_mrace_s s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    } finally GraftDmlExec.beforePublishHook = () => ()
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 1001, "both the merge and the racer must land")
    assert(after.where("k = 150 AND v = -1.0").count() == 1)
    assert(after.where("k = 5000").count() == 1,
      "the racing append's rows must survive the merge's rebase")
  }

  test("DML through SQL coexists with concurrent-head verification") {
    val dir = tmpDir()
    Manifest.write((1 to 100).toDF("v"), dir, "base")
    // resolve a DML statement, then move the head before executing it:
    // the command must fail loudly, not commit against stale state
    view(dir, "dml_race_t")
    val plan = spark.sessionState.sqlParser.parsePlan(
      "DELETE FROM dml_race_t WHERE v <= 10")
    val analyzed = spark.sessionState.executePlan(plan).analyzed
    Manifest.append((101 to 110).toDF("v"), dir, "moved")
    val e = intercept[Exception] {
      org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, analyzed).collect()
    }
    assert(e.getMessage.contains("moved since the statement was analyzed"))
    assert(spark.read.format("graft").load(dir).count() == 110)
  }
}
