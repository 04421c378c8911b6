package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.sources.{MergeAction, MergeClause, VersionedTable}

/** The hourly change-data apply of a Silver table keyed
  * (station, hour), with deletion vectors and change data on. The
  * table starts as one append per day over a retention window of
  * `WindowDays`. Each micro-batch carries one new hour of readings
  * plus late corrections of hours within the last 24, and ends with
  * the retention delete of the hour that left the window, so every
  * unit of work has the same shape.
  */
object UpsertGen {
  // The sizes are assumptions, not measured traffic; README.md gives the
  // reason for each.
  val Stations = 60
  val WindowDays = 7
  val Corrections = 12

  /** First hour after the setup window. */
  def t0(seed: Long): Long = MedallionGen.epochHour(Gen.firstDay(seed)) + WindowDays * 24L

  def setupDay(seed: Long, day: Int): Seq[StationRow] = {
    val first = t0(seed) - (WindowDays - day) * 24L
    for (h <- first until first + 24; s <- 0 until Stations)
      yield StationRow(s.toLong, h, Gen.quarter(seed, 21L, s.toLong, h), 0L)
  }

  /** Batch `b`: the new hour's readings plus corrections of distinct
    * keys within the 24 hours before it.
    */
  def batch(seed: Long, b: Int): Seq[StationRow] = {
    val first = t0(seed) + b
    val fresh = (0 until Stations).map(s =>
      StationRow(s.toLong, first, Gen.quarter(seed, 22L, s.toLong, first), b + 1L))
    val late = (0 until 4 * Corrections).iterator.map { j =>
      (Gen.below(Stations, seed, 23L, b.toLong, j.toLong).toLong,
        first - 1 - Gen.below(24, seed, 24L, b.toLong, j.toLong))
    }.distinct.take(Corrections).map { case (s, h) =>
      StationRow(s, h, Gen.quarter(seed, 25L, b.toLong, s, h), b + 1L)
    }.toSeq
    fresh ++ late
  }

  def dayFile(inputs: Path, d: Int): Path = inputs.resolve(f"silver_day$d%02d.csv")
  def batchFile(inputs: Path, b: Int): Path = inputs.resolve(f"batch$b%04d.csv")
}

class SilverUpsert extends Workload {
  import UpsertGen._
  val name = "silver_upsert"
  val WarmupBatches = 1
  val MaxBatches = 120
  // Chosen so that both maintenance commits run after every batch, which
  // keeps units alike; no workload sets them so.
  val Props = Map(
    "graft.autoOptimize.dvFraction" -> "0.04",
    "graft.autoCoalesce.minSidecars" -> "2")

  private var days: IndexedSeq[Seq[StationRow]] = _
  private var batches: IndexedSeq[Seq[StationRow]] = _
  private val model = new StationModel
  private var silver: VersionedTable = _
  private var bronze: VersionedTable = _
  private var bronzeRows = 0L
  private var timedBatches = 0
  private var timedIngest = 0L
  private var startVersion = 0
  private var startFiles: Seq[TableListing.FileInfo] = Nil

  private def silverDir(ctx: Ctx) = ctx.tables.resolve("silver")
  private def bronzeDir(ctx: Ctx) = ctx.tables.resolve("bronze")

  def generate(ctx: Ctx): Unit = {
    (0 until WindowDays).foreach(d => StationRow.writeCsv(dayFile(ctx.inputs, d), setupDay(ctx.seed, d)))
    (0 until WarmupBatches + MaxBatches).foreach(b =>
      StationRow.writeCsv(batchFile(ctx.inputs, b), batch(ctx.seed, b)))
    days = (0 until WindowDays).map(d => StationRow.readCsv(dayFile(ctx.inputs, d)))
    batches = (0 until WarmupBatches + MaxBatches).map(b => StationRow.readCsv(batchFile(ctx.inputs, b)))
  }

  def setup(ctx: Ctx): Unit = {
    silver = new VersionedTable(ctx.spark, silverDir(ctx).toString)
    bronze = new VersionedTable(ctx.spark, bronzeDir(ctx).toString)
    silver.create(StationTable.Schema, properties = Props)
    days.foreach { rows =>
      silver.append(StationTable.frame(ctx.spark, rows))
      rows.foreach(model.put)
    }
    (0 until WarmupBatches).foreach { b =>
      val errs = microBatch(ctx, b)._2()
      require(errs.isEmpty, s"warm-up batch $b produced wrong results: ${errs.mkString("; ")}")
    }
  }

  def hasUnit(i: Int): Boolean = i < MaxBatches

  def runUnit(ctx: Ctx, i: Int): UnitOutcome = {
    val (times, check) = microBatch(ctx, WarmupBatches + i)
    timedBatches += 1
    timedIngest += batches(WarmupBatches + i).size * StationRow.LogicalBytes
    UnitOutcome("batch", times, check)
  }

  private val UpdateAll = Seq(MergeClause(None, MergeAction.Update(None)))
  private val InsertAll = Seq(MergeClause(None, MergeAction.Insert(None)))

  private def microBatch(ctx: Ctx, b: Int): (Map[String, Double], () => Seq[String]) = {
    val rows = batches(b)
    val times = mutable.Map.empty[String, Double]
    val src = StationTable.frame(ctx.spark, rows)
    val landed = ctx.timed(times, "append", "vt.appendStreamBatch") {
      bronze.appendStreamBatch(src, "raw-sink", b.toLong)
    }
    val v = ctx.timed(times, "merge", "vt.mergeClauses") {
      silver.mergeClauses(src, Seq("station", "hour"), UpdateAll, InsertAll,
        writeChangeData = true, useDeletionVectors = true, txn = Some(("silver-apply", b.toLong)))
    }
    val feed = ctx.timed(times, "cdf", "vt.changes") {
      silver.changes(v, v).groupBy("_change_type")
        .agg(count(lit(1)), sum("value")).collect()
        .map(r => r.getString(0) -> StationTable.countSum(r, 1)).toMap
    }
    val cutoff = t0(ctx.seed) + b + 1 - WindowDays * 24L
    ctx.timed(times, "delete", "vt.delete") {
      silver.delete(col("hour") < lit(StationTable.ts(cutoff)),
        writeChangeData = true, useDeletionVectors = true)
    }
    val check = () => {
      val errs = mutable.ArrayBuffer.empty[String]
      if (landed.isEmpty) errs += s"batch $b: raw append was skipped as a replay"
      bronzeRows += rows.size
      var (pre, post, ins) = ((0L, 0.0), (0L, 0.0), (0L, 0.0))
      rows.foreach { r =>
        model.put(r) match {
          case Some(old) =>
            pre = (pre._1 + 1, pre._2 + old.value); post = (post._1 + 1, post._2 + r.value)
          case None => ins = (ins._1 + 1, ins._2 + r.value)
        }
      }
      val want = Map("update_preimage" -> pre, "update_postimage" -> post, "insert" -> ins)
        .filter(_._2._1 > 0)
      if (feed != want) errs += s"batch $b: changes($v) gave $feed, want $want"
      model.removeWhere(_.hour < cutoff)
      errs.toSeq
    }
    (times.toMap, check)
  }

  def finalCheck(ctx: Ctx): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val got = new VersionedTable(ctx.spark, silverDir(ctx).toString).read().collect()
      .map(StationTable.rowOf)
    val byKey = got.map(r => (r.station, r.hour) -> r).toMap
    if (got.length != byKey.size) errs += s"Silver holds ${got.length - byKey.size} duplicate keys"
    if (byKey != model.rows.toMap)
      errs += s"Silver differs from the last-writer-wins fold (${byKey.size} rows, " +
        s"want ${model.count}; ${byKey.count { case (k, r) => !model.get(k).contains(r) }} rows differ)"
    val bronzeCount = new VersionedTable(ctx.spark, bronzeDir(ctx).toString).read().count()
    if (bronzeCount != bronzeRows) errs += s"Bronze holds $bronzeCount rows, want $bronzeRows"
    errs.toSeq
  }

  def ingestedBytes: Long = timedIngest
  def liveBytes: Long = (model.count + bronzeRows) * StationRow.LogicalBytes
  private def roots(ctx: Ctx) = Seq(silverDir(ctx), bronzeDir(ctx))
  def liveDirs(ctx: Ctx): Seq[Path] = roots(ctx).flatMap(TableListing.activeDirs(ctx.spark, _))

  override def markTimedStart(ctx: Ctx): Unit = {
    startVersion = silver.latestVersion
    startFiles = roots(ctx).flatMap(TableListing.files)
  }

  override def storageCounters(ctx: Ctx): Map[String, Double] = {
    val per = math.max(timedBatches, 1).toDouble
    val maint = TableListing.addedBytesByOp(silverDir(ctx), startVersion, silver.latestVersion)
      .filter { case (op, _) => op == "optimize" || op == "coalesce-dv" || op == "compact" }
    TableListing.writtenPerUnit(startFiles, roots(ctx).flatMap(TableListing.files), timedBatches) ++ Map(
      "maintenance.commits" -> maint.size / per,
      "maintenance.bytes_rewritten" -> maint.map(_._2).sum / per)
  }
}
