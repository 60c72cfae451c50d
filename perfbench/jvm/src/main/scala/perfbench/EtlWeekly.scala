package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.meta.{ColumnMeta, Meta, TableMeta}
import graft.pipeline.{PipelineContext, ReferencePipeline => RP}

/** The paper's weekly batch pipeline. Each op lands one seeded
  * postcodes.io-shaped batch and runs the program's validate, curate and
  * deploy stages over the whole raw history, so an op costs more as the
  * history grows by one batch per op. */
final class EtlWeekly(ctx: Ctx) extends Workload {
  import EtlWeekly._
  private val spark = ctx.spark
  private val dir = ctx.dir
  private val zones = Seq("land", "raw_hist", "curated").map(z => z -> s"$dir/$z").toMap
  private var week = 0
  private var landed = 0L          // raw-hist rows, all history
  private var curatedRows = 0L     // rows curated by timed ops, summed
  private var writtenBytes = 0L    // bytes the timed ops wrote to the zones
  private var submittedBytes = 0L  // the same batches, once as plain Parquet
  private var timed = false

  private val regions = Seq("South West", "London", "North East", "North West",
    "Eastern", "East Midlands", "West Midlands", "Yorkshire and The Humber",
    "South East", "Wales")

  /** Week `wk`'s batch: a pure function of the seed and the week. */
  private def batch(wk: Int): DataFrame = {
    val h = (salt: Int, m: Long) => pmod(xxhash64(col("id"), lit(ctx.seed), lit(wk), lit(salt)), lit(m))
    val region = element_at(array(regions.map(lit): _*), (h(1, regions.size) + 1).cast("int"))
    spark.range(0, BatchRows, 1, 1).select(
      format_string("AB%d %dCD", col("id") + lit(wk.toLong * BatchRows), h(2, 10)).as("postcode"),
      lit("England").as("country"),
      // mixed case exercises the curate stage's LOWER() normalisation
      when(h(3, 3) === 0, upper(region)).otherwise(region).as("european_electoral_region"),
      region.as("region"),
      when(h(4, 7) === 0, lit(null).cast("string"))
        .otherwise(format_string("District %d", h(5, 20))).as("admin_district"),
      format_string("E0%d", h(6, 9000000) + 1000000).as("codes_admin_district"),
      (h(7, 3) + 1).cast("int").as("quality"),
      (h(8, 300000) + 100000).cast("int").as("eastings"),
      (h(9, 600000) + 100000).cast("int").as("northings"),
      col("id").cast("int").as("index"),
      (lit(-5.0) + h(10, 70000) / 10000.0).as("longitude"),
      (lit(50.0) + h(11, 80000) / 10000.0).as("latitude"))
  }

  private def pctx(wk: Int): PipelineContext = PipelineContext(spark, Map(
    RP.LandKey -> zones("land"), RP.RawHistKey -> zones("raw_hist"),
    RP.CuratedKey -> zones("curated"), RP.MetaDirKey -> s"$dir/meta",
    RP.TableKey -> Table, RP.LandTsKey -> landTs(wk).toString,
    RP.SnapshotDateKey -> snapshotDate(wk), RP.MinRowsKey -> "100"),
    version = s"v$wk", log = _ => ())

  def generate(): Unit = {
    val raw = Seq("postcode", "country", "european_electoral_region", "region",
      "admin_district", "codes_admin_district").map(ColumnMeta(_, "character")) ++
      Seq("quality", "eastings", "northings", "index").map(ColumnMeta(_, "int")) ++
      Seq("longitude", "latitude").map(ColumnMeta(_, "double"))
    val calc = Seq(ColumnMeta("european_electoral_region", "character"),
      ColumnMeta("n", "int"), ColumnMeta("dea_version", "character"),
      ColumnMeta("dea_snapshot_date", "date"))
    val put = (p: String, s: String) => {
      Files.createDirectories(Paths.get(p).getParent)
      Files.writeString(Paths.get(p), s)
    }
    put(s"$dir/meta/raw/$Table.json", Meta.renderTable(TableMeta(Table, "json", raw)))
    put(s"$dir/meta/curated/$Table.json", Meta.renderTable(
      TableMeta(Table, "parquet", raw :+ ColumnMeta("dea_version", "character"))))
    put(s"$dir/meta/curated/calculated.json", Meta.renderTable(
      TableMeta("calculated", "parquet", calc, partitions = Seq("dea_snapshot_date"))))
    put(s"$dir/meta/curated/database.json",
      s"""{"name": "$Database", "bucket": "unused", "base_folder": "database"}""")
  }

  def warmup(): Unit = {
    val op = weekOp()
    op.prep(); op.run(); require(op.check(), "etl_weekly warm-up check failed")
    timed = true
  }

  /** Files (path → size) under the zones, for the bytes an op wrote. */
  private def files(): Map[String, Long] =
    zones.values.toSeq.flatMap(z => FsUtil.files(z)).toMap

  private def weekOp(): Op = {
    week += 1
    val wk = week
    val c = pctx(wk)
    var before = Map.empty[String, Long]
    Op("week",
      prep = () => if (timed) before = files(),
      run = () => {
        ctx.span("pipeline.land") {
          TableIO.writeJsonlGz(batch(wk),
            TableIO.landPartitionPath(zones("land"), Table, landTs(wk)), singleFile = true)
        }
        ctx.span("pipeline.validate")(RP.ValidateStage().run(c))
        ctx.span("pipeline.curate")(RP.CurateStage().run(c))
        ctx.span("pipeline.deploy")(RP.DeployCatalogStage().run(c))
        landed += BatchRows
      },
      check = () => {
        if (timed) {
          curatedRows += landed
          writtenBytes += files().collect {
            case (p, n) if !before.get(p).contains(n) => n
          }.sum
          val ref = s"$dir/ref/w$wk"
          batch(wk).write.parquet(ref)
          submittedBytes += FsUtil.bytes(ref)
          FsUtil.delete(ref)
        }
        val expect = if (ctx.corrupt) landed + 1 else landed
        val cur = spark.read.parquet(s"${zones("curated")}/database/$Table")
          .agg(count(lit(1)), sum(when(col("dea_version") === s"v$wk", 1).otherwise(0)))
          .head()
        val calc = spark.sql(s"SELECT SUM(n), MIN(dea_version), MAX(dea_version) " +
          s"FROM $Database.calculated WHERE dea_snapshot_date = '${snapshotDate(wk)}'").head()
        cur.getLong(0) == expect && cur.getLong(1) == expect &&
          calc.getLong(0) == expect && calc.getString(1) == s"v$wk" &&
          calc.getString(2) == s"v$wk"
      })
  }

  override def writeKinds: Set[String] = Set("week")

  def roundSeconds: Double = 1.5

  def round(i: Int): Seq[Op] = Seq(weekOp())

  def finish(timedS: Double): Map[String, Double] =
    Map("rows_per_s" -> curatedRows / timedS,
      "write_amp" -> writtenBytes.toDouble / submittedBytes) ++
      Stages.flatMap(s => ctx.tracer.layer(s"pipeline.$s"))
}

object EtlWeekly {
  val Table = "random_postcodes"
  val Database = "example_postcodes_db"
  val BatchRows = 5000
  private val Stages = Seq("land", "validate", "curate", "deploy")
  def landTs(wk: Int): Long = 1700000000L + wk * 604800L
  def snapshotDate(wk: Int): String = java.time.LocalDate.of(2024, 1, 7).plusWeeks(wk).toString

  val LayerNames: Seq[String] = Stages.flatMap(s =>
    Seq("_ms", ".jobs", ".task_ms", ".read_mb", ".written_mb").map(f => s"pipeline.$s$f"))
}
