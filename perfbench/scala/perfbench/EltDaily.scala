package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Gold, OpenAqChecks, OpenAqPipeline}
import graft.quality.Checks
import graft.sources.FixturePageClient

/** The paper's own pipeline, one Airflow run per logical day: backfill
  * `backfillDays` days (extract + ingest each, then one full transform from
  * empty gold), then for every later day extract via graft-paged → lake
  * NDJSON → `OpenAqPipeline.ingest` → `refreshMart` × 2 → the
  * `OpenAqChecks` suite. An op is one daily run. Every pass starts from an
  * empty lake, bronze and gold. The warm-up pass stops after the first
  * daily run: by then it has run every code path once.
  */
final class EltDaily(conf: Main.Conf) extends Workload {
  private val manifest = new ObjectMapper().readTree(new java.io.File(s"${conf.inputs}/manifest.json"))
  private val days: Seq[String] = manifest.get("days").elements().asScala.map(_.get("day").asText).toSeq
  private val records: Map[String, Long] = manifest.get("days").elements().asScala
    .map(d => d.get("day").asText -> d.get("extracted_records").asLong).toMap
  private def ids(key: String) = manifest.get(key).elements().asScala.map(_.asLong).toSeq
  private val locationIds = ids("location_ids")
  private val sensorIds = ids("sensor_ids")
  private val pageLimit = manifest.get("page_limit").asInt
  private val backfillDays = manifest.get("backfill_days").asInt

  private val (lake, bronze, gold) =
    (s"${conf.scratch}/elt/lake", s"${conf.scratch}/elt/bronze", s"${conf.scratch}/elt/gold")
  private var violations = 0L
  private val bronzeLoaded = mutable.Map[Int, (Long, Long)]() // pass -> (locations, measurements)
  // traced pass, per daily run: (bronze delta bytes, gold delta bytes, partitions rewritten)
  private val dayBytes = mutable.Map[String, (Long, Long, Int)]()

  override def warm(spark: SparkSession, run: Runner): Unit = ()

  private def ymd(day: String) = day.replace("-", "/")
  private def extractedAt(day: String) =
    java.time.LocalDate.parse(day).plusDays(1).toString + "T05:00:00+00:00"

  private def paged(spark: SparkSession, path: String, ids: Seq[Long], extra: (String, String)*): DataFrame =
    extra.foldLeft(spark.read.format("graft-paged")
      .option("client", classOf[FixturePageClient].getName)
      .option("path", path)
      .option("entityIds", ids.mkString(","))
      .option("backoffMs", "1")) { case (r, (k, v)) => r.option(k, v) }.load()

  /** The lake envelope around one extracted record: the raw record as
    * `data`, the run's audit stamps, and the source-specific `extra` fields.
    */
  private def envelope(day: String, extra: Column): Column = concat(
    lit("{\"data\": "), col("record"),
    lit(s""", "_audit_run_id": "run_$day", "_audit_logical_date": "$day", "_audit_extracted_at": "${extractedAt(day)}""""),
    extra, lit("}"))

  /** One day's extraction: measurements per sensor (paginated, in-flight
    * dedup on the reference's utc-value key) and location snapshots
    * (point lookups), wrapped in the lake envelope and landed as NDJSON.
    */
  private def extract(spark: SparkSession, day: String): Unit = {
    val dir = s"measurements_json/${ymd(day)}"
    paged(spark, s"${conf.inputs}/pages/$day/measurements", sensorIds,
        "limit" -> pageLimit.toString, "dedupKey" -> "period.datetimeFrom.utc,value")
      .select(envelope(day, concat(lit(", \"_audit_sensor_id\": "), col("entity_id").cast("string"),
        lit(s""", "_audit_gcs_filename": "$dir/run_$day""""))).as("value"))
      .repartition(conf.cores).write.text(s"$lake/$dir/run_$day")
    // a partially failed earlier upload left blank and truncated lines behind
    val tail = Paths.get(s"$lake/$dir/upload_tail/part-tail.ndjson")
    Files.createDirectories(tail.getParent)
    Files.copy(Paths.get(s"${conf.inputs}/tails/$day.ndjson"), tail)
    val locDir = s"locations_json/${ymd(day)}"
    paged(spark, s"${conf.inputs}/pages/$day/locations", locationIds, "limit" -> "1", "maxPages" -> "1")
      .select(envelope(day, lit(s""", "_audit_source": "OpenAQ API", "_audit_gcs_filename": "$locDir/run_$day""""))
        .as("value"))
      .coalesce(1).write.text(s"$lake/$locDir/run_$day")
  }

  private def daysOf(p: Int): Seq[String] = days.take(if (p == 0) backfillDays + 1 else days.size)

  private def ingest(spark: SparkSession, day: String, p: Int): Unit = {
    val (l, m) = OpenAqPipeline.ingest(spark, s"$lake/locations_json/${ymd(day)}/*/part-*",
      s"$lake/measurements_json/${ymd(day)}/*/part-*", bronze)
    val (l0, m0) = bronzeLoaded.getOrElse(p, (0L, 0L))
    bronzeLoaded(p) = (l0 + l, m0 + m)
  }

  private def models(spark: SparkSession) = OpenAqPipeline.models(
    spark.read.parquet(s"$bronze/raw_locations"), spark.read.parquet(s"$bronze/raw_measurements"))

  private val marts = Seq(
    ("aq", "air_quality_record_id", "mart_location_air_quality",
      (v: DataFrame, s: DataFrame) => Gold.martAirQuality(v, s)),
    ("weather", "weather_record_id", "mart_location_weather",
      (v: DataFrame, s: DataFrame) => Gold.martWeather(v, s)))

  private def checks(spark: SparkSession, day: String): Long = {
    val m = models(spark)
    val g = (t: String) => spark.read.parquet(s"$gold/$t")
    val asOf = to_timestamp(lit(extractedAt(day).take(19)))
    Checks.run(OpenAqChecks.staging(m.stgLocations, m.stgSensors, m.stgMeasurements) ++
      OpenAqChecks.validRanges(m.validMeasurements) ++
      OpenAqChecks.marts(g("dim_locations"), g("mart_location_air_quality"), g("mart_location_weather")) ++
      OpenAqChecks.freshness(spark.read.parquet(s"$bronze/raw_measurements"), asOf)).map(_._2).sum
  }

  override def pass(spark: SparkSession, run: Runner, p: Int): Unit = {
    val traced = run.trace.isDefined
    Harness.delete(s"${conf.scratch}/elt")
    run.op("backfill", "build", p) {
      days.take(backfillDays).foreach { d =>
        run.op(s"backfill_$d", "extract", p)(extract(spark, d))
        run.op(s"backfill_$d", "ingest", p)(ingest(spark, d, p))
      }
      run.op("backfill", "transform", p)(OpenAqPipeline.transform(spark, bronze, gold))
    }
    daysOf(p).drop(backfillDays).foreach { d =>
      val before = if (traced) Harness.files(gold) else Set.empty[String]
      val op = s"day_$d"
      run.op(op, "op", p) {
        run.op(op, "extract", p)(extract(spark, d))
        run.op(op, "ingest", p)(ingest(spark, d, p))
        val m = models(spark)
        marts.foreach { case (name, key, table, pivot) =>
          run.op(op, s"refresh_$name", p)(OpenAqPipeline.refreshMart(spark, m.validMeasurements,
            m.sensorsEnriched, key, pivot, s"$gold/$table"))
        }
        run.op(op, "checks", p)(violations += checks(spark, d))
      }
      if (traced) {
        val partitions = (Harness.files(gold) -- before).map(f => f.substring(0, f.lastIndexOf('/')))
        dayBytes(d) = (
          Harness.bytesUnder(s"$bronze/raw_measurements/_audit_logical_date=$d") +
            Harness.bytesUnder(s"$bronze/raw_locations/_audit_logical_date=$d"),
          marts.map(m => Harness.bytesUnder(s"$gold/${m._3}/__day=$d")).sum,
          partitions.size)
      }
    }
  }

  /** Order-insensitive content hash: (rows, Σ xxhash64 of every column). */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  override def check(spark: SparkSession, run: Runner): Seq[String] = {
    val full = s"${conf.scratch}/elt/gold_full"
    val out = mutable.ArrayBuffer[String]()
    val expectMeas = manifest.get("expected_bronze_measurements").asLong
    val rows = spark.read.parquet(s"$bronze/raw_measurements").count()
    if (rows != expectMeas) out += s"elt_daily: bronze measurements $rows after the last pass, expected $expectMeas"
    bronzeLoaded.toSeq.sorted.foreach { case (p, (l, m)) =>
      val (expectM, expectL) = (daysOf(p).map(records).sum, daysOf(p).size.toLong * locationIds.size)
      if (m != expectM) out += s"elt_daily: pass $p loaded $m bronze measurements, expected $expectM"
      if (l != expectL) out += s"elt_daily: pass $p loaded $l bronze locations, expected $expectL"
    }
    if (violations != 0) out += s"elt_daily: $violations check violations"
    OpenAqPipeline.transform(spark, bronze, full)
    marts.foreach { case (_, _, table, _) =>
      val (a, b) = (fingerprint(spark.read.parquet(s"$gold/$table")),
        fingerprint(spark.read.parquet(s"$full/$table")))
      if (a != b) out += s"elt_daily: $table after daily refreshes $a != full transform $b"
      if (a._1 == 0) out += s"elt_daily: $table is empty"
    }
    out.toSeq
  }

  private def daily(run: Runner, p: Int, ph: String): Seq[OpSpan] =
    run.of(p, _ == ph).filter(_.op.startsWith("day_"))

  override def passMetrics(run: Runner, passes: Seq[Int]): Seq[Metric] = {
    // a pass is the backfill plus every daily run; all of its records land in gold
    def wall(p: Int, ph: String) = run.of(p, _ == ph).map(_.seconds).sum
    Seq(Metric("full_build_s", Harness.median(passes.map(wall(_, "build"))), "s"),
      Metric("rows_per_s", days.map(records).sum /
        Harness.median(passes.map(p => wall(p, "build") + wall(p, "op"))), "rows/s"))
  }

  override def layers(run: Runner, tr: Trace, p: Int): Seq[Metric] = {
    def daily(ph: String) = this.daily(run, p, ph)
    def med(ph: String) = Harness.median(daily(ph).map(_.seconds))
    def groupJobs(ph: String) = tr.jobsOf(g => g.startsWith("elt_daily/day_") && g.endsWith(s"/$ph"))
    val extract = daily("extract")
    val dailyDays = days.drop(backfillDays)
    val refresh = dailyDays.map { d =>
      run.of(p, _.startsWith("refresh_")).filter(_.op == s"day_$d").map(_.seconds).sum
    }
    val refreshJobs = groupJobs("refresh_aq") ++ groupJobs("refresh_weather")
    val checkJobs = groupJobs("checks")
    Seq(
      Metric("sources.extract_s", med("extract"), "s"),
      Metric("sources.records_per_s", dailyDays.map(records).sum / extract.map(_.seconds).sum, "records/s"),
      Metric("sources.tasks", Harness.median(dailyDays.map(d =>
        tr.jobsOf(_ == s"elt_daily/day_$d/extract").map(_.tasks).sum.toDouble)), "count"),
      Metric("pipeline.ingest_s", med("ingest"), "s"),
      Metric("pipeline.refresh_s", Harness.median(refresh), "s"),
      Metric("pipeline.refresh_aq_s", med("refresh_aq"), "s"),
      Metric("pipeline.refresh_weather_s", med("refresh_weather"), "s"),
      Metric("pipeline.refresh_read_amp",
        refreshJobs.map(_.input).sum.toDouble / dayBytes.values.map(_._1).sum, "ratio"),
      Metric("pipeline.refresh_write_amp",
        refreshJobs.map(_.output).sum.toDouble / dayBytes.values.map(_._2).sum, "ratio"),
      Metric("pipeline.partitions_rewritten", Harness.median(dayBytes.values.map(_._3.toDouble).toSeq), "count"),
      Metric("pipeline.refresh_growth", refresh.last / refresh.head, "ratio"),
      Metric("quality.checks_s", med("checks"), "s"),
      Metric("quality.jobs", checkJobs.size.toDouble / dailyDays.size, "count"),
      Metric("quality.violations", violations.toDouble, "count"))
  }
}
