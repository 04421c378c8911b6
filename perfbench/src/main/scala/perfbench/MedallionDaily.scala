package perfbench

import java.nio.file.Path
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.pipelines.{AirQuality, BronzeSilverPipeline, JoinedSilverPipeline, MonthlyAggPipeline}
import graft.sources.TableManager

/** The paper's own daily traffic for one location: the Open-Meteo
  * air-quality and weather payloads of one day (`past_days=31` plus
  * `forecast_days=1`: 768 hours, 744 of them repeating the previous
  * day's), landed as columnar JSON, then E1, E3 (quality report
  * collected) and E2. Hours of earlier days are stable across
  * payloads; today's hours are a forecast that only today's payload
  * carries. About 2% of metric values are null.
  */
object MedallionGen {
  val PastDays = 31
  val HoursPerPayload = (PastDays + 1) * 24
  val Aq = 1L
  val Wx = 2L

  def metrics(kind: Long): Seq[String] =
    if (kind == Aq) AirQuality.Pollutants else AirQuality.WeatherMetrics

  def epochHour(d: LocalDate): Long = Gen.epochSec(d.atStartOfDay()) / 3600

  /** Absolute hours (epoch hours) the payload of day `d` covers. */
  def hours(seed: Long, d: Int): Seq[Long] = {
    val first = epochHour(Gen.firstDay(seed).plusDays(d.toLong - PastDays))
    first until first + HoursPerPayload
  }

  /** Metric `m` of hour `h` as the payload of day `d` reports it. */
  def value(seed: Long, kind: Long, m: Int, h: Long, d: Int): Option[Double] = {
    val today = epochHour(Gen.firstDay(seed).plusDays(d.toLong))
    val coords = if (h < today) Seq(kind, m.toLong, h) else Seq(kind, m.toLong, h, d.toLong, 7L)
    if (Gen.below(10000, seed, coords :+ 11L: _*) < 200) None
    else Some(Gen.quarter(seed, coords :+ 13L: _*))
  }

  def payload(seed: Long, kind: Long, d: Int): String = {
    val hs = hours(seed, d)
    val sb = new StringBuilder
    sb.append("{\"latitude\":30.05,\"longitude\":31.25,\"timezone\":\"GMT\",\"hourly\":{\"time\":[")
    sb.append(hs.map(h => "\"" + Gen.utc(h * 3600).toString + "\"").mkString(","))
    sb.append("]")
    metrics(kind).zipWithIndex.foreach { case (name, m) =>
      sb.append(",\"").append(name).append("\":[")
      sb.append(hs.map(h => value(seed, kind, m, h, d).map(_.toString).getOrElse("null")).mkString(","))
      sb.append("]")
    }
    sb.append("}}\n")
    sb.toString
  }

  def file(inputs: Path, kind: Long, d: Int): Path =
    inputs.resolve(f"${if (kind == Aq) "aq" else "wx"}_day$d%04d.json")

  def writeAll(seed: Long, inputs: Path, days: Int): Unit =
    (0 until days).foreach { d =>
      Seq(Aq, Wx).foreach(k => Gen.write(file(inputs, k, d), payload(seed, k, d)))
    }
}

/** Expected state of the medallion tables, recomputed from the
  * generator's values with plain collections.
  */
class MedallionModel(seed: Long) {
  import MedallionGen._
  type Vals = Array[Option[Double]]
  private val nAq = AirQuality.Pollutants.length
  private val nWx = AirQuality.WeatherMetrics.length

  var bronzeRows = 0L
  val firstAq = mutable.HashMap.empty[Long, (Vals, Int)]
  val aqRows = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Vals]]
  val wxRows = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Vals]]
  var lastDay = -1

  def ingest(d: Int): Unit = {
    lastDay = d
    hours(seed, d).foreach { h =>
      val aq: Vals = Array.tabulate(nAq)(m => value(seed, Aq, m, h, d))
      val wx: Vals = Array.tabulate(nWx)(m => value(seed, Wx, m, h, d))
      if (!firstAq.contains(h)) firstAq(h) = (aq, d)
      aqRows.getOrElseUpdate(h, mutable.ArrayBuffer.empty) += aq
      wxRows.getOrElseUpdate(h, mutable.ArrayBuffer.empty) += wx
      bronzeRows += 1
    }
  }

  def e1SilverRows: Long = firstAq.values.count(_._1.forall(_.isDefined)).toLong

  /** E1's quality report over Bronze: total, per-column nulls, distinct keys. */
  def e1Report: Map[String, Long] = {
    val nulls = AirQuality.Pollutants.indices.map(m =>
      s"nulls_${AirQuality.Pollutants(m)}" -> aqRows.values.map(_.count(_(m).isEmpty).toLong).sum)
    val distinct = aqRows.size.toLong
    (nulls :+ ("total_rows" -> bronzeRows) :+ ("distinct_keys" -> distinct) :+
      ("duplicate_rows" -> (bronzeRows - distinct))).toMap
  }

  /** E3's quality report over the hour join of the two Bronzes. */
  def e3Report: Map[String, Long] = {
    val hs = aqRows.keys.filter(wxRows.contains).toSeq
    val total = hs.map(h => aqRows(h).size.toLong * wxRows(h).size).sum
    val aqNulls = AirQuality.Pollutants.indices.map(m =>
      s"nulls_${AirQuality.Pollutants(m)}" ->
        hs.map(h => aqRows(h).count(_(m).isEmpty).toLong * wxRows(h).size).sum)
    val wxNulls = AirQuality.WeatherMetrics.indices.map(m =>
      s"nulls_${AirQuality.WeatherMetrics(m)}" ->
        hs.map(h => wxRows(h).count(_(m).isEmpty).toLong * aqRows(h).size).sum)
    ((aqNulls ++ wxNulls) :+ ("total_rows" -> total) :+ ("distinct_keys" -> hs.size.toLong) :+
      ("duplicate_rows" -> (total - hs.size))).toMap
  }

  /** Ascending order with nulls first, the keep-first tie-break. */
  private def lessNullsFirst(a: Vals, b: Vals): Boolean = {
    var i = 0
    while (i < a.length) {
      (a(i), b(i)) match {
        case (None, Some(_)) => return true
        case (Some(_), None) => return false
        case (Some(x), Some(y)) if x != y => return x < y
        case _ =>
      }
      i += 1
    }
    false
  }

  def e1Silver: Map[Long, Seq[Option[Double]]] =
    firstAq.collect { case (h, (v, _)) if v.forall(_.isDefined) => h -> v.toSeq }.toMap

  /** Per hour: the first aq payload's values, then the smallest
    * weather row in (metric, ...) order, nulls first.
    */
  def e3Silver: Map[Long, Seq[Option[Double]]] =
    firstAq.collect { case (h, (aq, _)) if wxRows.contains(h) =>
      h -> (aq.toSeq ++ wxRows(h).reduce((a, b) => if (lessNullsFirst(b, a)) b else a).toSeq)
    }.toMap

  /** E2 over the latest aq payload: per (year, month) average of each
    * pollutant over its non-null values.
    */
  def monthly: Map[(Int, Int), Seq[Option[Double]]] =
    hours(seed, lastDay).groupBy { h =>
      val t = Gen.utc(h * 3600); (t.getYear, t.getMonthValue)
    }.map { case (ym, hs) =>
      ym -> AirQuality.Pollutants.indices.map { m =>
        val xs = hs.flatMap(h => value(seed, Aq, m, h, lastDay))
        if (xs.isEmpty) None else Some(xs.sum / xs.size)
      }
    }

  def ingestionDate(d: Int): LocalDate = Gen.firstDay(seed).plusDays(d.toLong)
}

class MedallionDaily extends Workload {
  import MedallionGen._
  val name = "medallion_daily"
  /** Days run while setting up, before the clock starts. */
  val WarmupDays = 2
  /** Days generated for the timed loop; more than any run reaches. */
  val MaxDays = 60

  private var model: MedallionModel = _
  private var tables: TableManager = _
  private var timedDays = 0

  def generate(ctx: Ctx): Unit = writeAll(ctx.seed, ctx.inputs, WarmupDays + MaxDays)

  def setup(ctx: Ctx): Unit = {
    model = new MedallionModel(ctx.seed)
    tables = new TableManager(ctx.spark)
    (0 until WarmupDays).foreach { d =>
      val errs = day(ctx, d)._2()
      require(errs.isEmpty, s"warm-up day $d produced wrong results: ${errs.mkString("; ")}")
    }
  }

  def hasUnit(i: Int): Boolean = i < MaxDays

  def runUnit(ctx: Ctx, i: Int): UnitOutcome = {
    val (times, check) = day(ctx, WarmupDays + i)
    timedDays += 1
    UnitOutcome("day", times, check)
  }

  /** One simulated day: E1, E3 (with its quality report) and E2. */
  private def day(ctx: Ctx, d: Int): (Map[String, Double], () => Seq[String]) = {
    val spark = ctx.spark
    val aq = file(ctx.inputs, Aq, d).toString
    val wx = file(ctx.inputs, Wx, d).toString
    val date = model.ingestionDate(d).toString
    val times = mutable.Map.empty[String, Double]
    val (e1, rep1) = ctx.timed(times, "e1", "pipelines.e1") {
      val r = new BronzeSilverPipeline(spark, tables).run(aq, date)
      (r, ctx.span("operators.quality_report")(r.report.collect()))
    }
    val (e3, rep3) = ctx.timed(times, "e3", "pipelines.e3") {
      val r = new JoinedSilverPipeline(spark, tables).run(aq, wx, date)
      (r, ctx.span("operators.quality_report")(r.report.collect()))
    }
    val monthly = ctx.timed(times, "e2", "pipelines.e2") {
      new MonthlyAggPipeline(spark, tables).run(aq).collect()
    }
    val check = () => {
      model.ingest(d)
      val e3Want = model.e3Report
      val errs = mutable.ArrayBuffer.empty[String]
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) errs += s"day $d $what: got $got, want $want"
      expect("E1 bronze rows", e1.bronzeRows, model.bronzeRows)
      expect("E1 silver rows", e1.silverRows, model.e1SilverRows)
      expect("E1 report", reportOf(rep1), model.e1Report)
      expect("E3 bronze rows", e3.bronzeRows, model.bronzeRows)
      expect("E3 silver rows", e3.silverRows, e3Want("distinct_keys"))
      expect("E3 report", reportOf(rep3), e3Want)
      expect("E2 monthly", monthlyOf(monthly), model.monthly)
      errs.toSeq
    }
    (times.toMap, check)
  }

  private def reportOf(rows: Array[Row]): Map[String, Long] = {
    require(rows.length == 1, s"a quality report has one row, got ${rows.length}")
    val r = rows(0)
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap
  }

  private def opt(r: Row, f: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[Double](f))

  private def monthlyOf(rows: Array[Row]): Map[(Int, Int), Seq[Option[Double]]] =
    rows.map(r => (r.getAs[Int]("year"), r.getAs[Int]("month")) ->
      AirQuality.Pollutants.map(p => opt(r, s"avg_$p"))).toMap

  private def hourOf(r: Row): Long = r.getAs[java.sql.Timestamp]("time").getTime / 3600000L

  def finalCheck(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val errs = mutable.ArrayBuffer.empty[String]
    val e1 = spark.table("air_quality_silver").collect()
      .map(r => hourOf(r) -> AirQuality.Pollutants.map(opt(r, _))).toMap
    if (e1 != model.e1Silver) errs += s"E1 Silver differs from the recomputation " +
      s"(${e1.size} rows, want ${model.e1Silver.size})"
    val e3 = spark.table("air_quality_and_weather_silver").collect()
      .map(r => hourOf(r) -> (AirQuality.Pollutants ++ AirQuality.WeatherMetrics).map(opt(r, _))).toMap
    if (e3 != model.e3Silver) errs += s"E3 Silver differs from the recomputation " +
      s"(${e3.size} rows, want ${model.e3Silver.size})"
    val dates = spark.table("air_quality_silver").collect()
      .map(r => hourOf(r) -> r.getAs[java.sql.Date]("ingestion_date").toLocalDate).toMap
    val wantDates = model.firstAq.collect {
      case (h, (v, d)) if v.forall(_.isDefined) => h -> model.ingestionDate(d)
    }.toMap
    if (dates != wantDates) errs += "E1 Silver keeps a later payload than the first"
    if (monthlyOf(spark.table("air_quality_monthly_avg").collect()) != model.monthly)
      errs += "E2 monthly table differs from the recomputation"
    errs.toSeq
  }

  private val RowBytes = 8L * (1 + AirQuality.Pollutants.length + 1)

  def ingestedBytes: Long =
    timedDays.toLong * HoursPerPayload *
      8L * (2 + AirQuality.Pollutants.length + AirQuality.WeatherMetrics.length)

  def liveBytes: Long = {
    val e3Row = 8L * (2 + AirQuality.Pollutants.length + AirQuality.WeatherMetrics.length)
    // air_quality_bronze, aq_bronze and weather_bronze hold every
    // payload row; the two Silvers one row per hour; E2 one per month.
    3 * model.bronzeRows * RowBytes + model.e1SilverRows * RowBytes +
      model.e3Report("distinct_keys") * e3Row + model.monthly.size * RowBytes
  }

  /** Every file under the warehouse is live: overwrites replace files. */
  def liveDirs(ctx: Ctx): Seq[Path] = Seq(ctx.dir.resolve("warehouse"))
}
