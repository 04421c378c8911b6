package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.sources.{MergeAction, MergeClause, VersionedTable}

/** A table of many small commits read by short reader jobs. The build
  * appends one day at a time, deletes one station-day with a deletion
  * vector every `DeleteEvery` days and merges corrections with deletion
  * vectors every `MergeEvery` days, so the log crosses several
  * checkpoints and a share of the directories carry DV sidecars.
  *
  * A unit of the timed loop is one reader round: one query of each
  * kind in `Kinds`, in a seeded order with seeded parameters, each on a
  * fresh table handle. The round's `ingest` query appends one hour, so
  * every round meets a new version.
  */
object SnapshotGen {
  // The sizes are assumptions, not measured traffic; README.md gives the
  // reason for each.
  val Stations = 40
  val Days = 16
  val DeleteEvery = 6
  val MergeEvery = 12
  val MergeUpdates = 16
  val MergeInserts = 8

  def hour0(seed: Long): Long = MedallionGen.epochHour(Gen.firstDay(seed))

  sealed trait BuildOp
  final case class Append(rows: Seq[StationRow]) extends BuildOp
  /** Delete station `station`'s rows of hours [from, to). */
  final case class DeleteDay(station: Long, from: Long, to: Long) extends BuildOp
  final case class Merge(rows: Seq[StationRow]) extends BuildOp

  def dayRows(seed: Long, day: Int): Seq[StationRow] = {
    val first = hour0(seed) + day * 24L
    for (h <- first until first + 24; s <- 0 until Stations)
      yield StationRow(s.toLong, h, Gen.quarter(seed, 41L, s.toLong, h), 0L)
  }

  /** The build, in commit order. Deletes and merge updates pick keys of
    * earlier days; merge inserts add readings of an extra station.
    */
  def build(seed: Long): Seq[BuildOp] = (0 until Days).flatMap { d =>
    val ops = mutable.ArrayBuffer[BuildOp](Append(dayRows(seed, d)))
    if (d % DeleteEvery == DeleteEvery - 1) {
      val first = hour0(seed) + (d - 1 - Gen.below(DeleteEvery - 1, seed, 42L, d.toLong)) * 24L
      ops += DeleteDay(Gen.below(Stations, seed, 43L, d.toLong).toLong, first, first + 24)
    }
    if (d % MergeEvery == MergeEvery - 1) {
      val firstHour = hour0(seed) + (d - MergeEvery + 1) * 24L
      val updates = (0 until 4 * MergeUpdates).iterator.map { j =>
        (Gen.below(Stations, seed, 44L, d.toLong, j.toLong).toLong,
          firstHour + Gen.below(MergeEvery * 24, seed, 45L, d.toLong, j.toLong))
      }.distinct.take(MergeUpdates).map { case (s, h) =>
        StationRow(s, h, Gen.quarter(seed, 46L, d.toLong, s, h), d + 1L)
      }.toSeq
      val inserts = (0 until MergeInserts).map { j =>
        val h = hour0(seed) + d * 24L + j
        StationRow(1000L + d, h, Gen.quarter(seed, 47L, d.toLong, h), d + 1L)
      }
      ops += Merge(updates ++ inserts)
    }
    ops.toSeq
  }

  /** Versions the build leaves: the create plus one per build op. */
  def buildVersions(seed: Long): Int = build(seed).length + 1

  val Kinds: Seq[String] = Seq("snapshot", "pruned", "asof", "cdf", "sql_scan",
    "fast_count", "history", "ingest")

  /** Round `r` as CSV lines kind,a,b,c; what a, b, c mean depends on
    * the kind. `ingest` carries the hour it appends.
    *
    * A parameter walks a golden-ratio sequence from a seeded start, so
    * the first rounds of every run spread evenly over its range: the
    * cost of an as-of read or a range depends on where it falls, and
    * independent draws would make a run's median depend on the seed.
    */
  def round(seed: Long, r: Int, versions: Int): Seq[String] = {
    val spanHours = Days * 24
    def pick(n: Int, salt: Long): Long = {
      val start = Gen.below(1 << 20, seed, 52L, salt) / (1 << 20).toDouble
      ((start + r * 0.6180339887498949) % 1.0 * n).toLong
    }
    val order = Kinds.sortBy(k => Gen.hash(seed, 51L, r.toLong, k.hashCode.toLong))
    order.map {
      case k @ "pruned" =>
        val lo = hour0(seed) + pick(spanHours - 48, 1); s"$k,$lo,${lo + 47},0"
      case k @ "asof" => s"$k,${1 + pick(versions - 1, 2)},0,0"
      case k @ "cdf" => val a = 1 + pick(versions - 6, 3); s"$k,$a,${a + 4},0"
      case k @ "sql_scan" =>
        val lo = hour0(seed) + pick(spanHours - 72, 4); s"$k,$lo,${lo + 71},${pick(Stations, 5)}"
      case k @ "ingest" => s"$k,${hour0(seed) + spanHours + r},0,0"
      case k => s"$k,0,0,0"
    }
  }

  /** The rows an `ingest` of `hour` appends. */
  def ingestRows(seed: Long, hour: Long): Seq[StationRow] =
    (0 until Stations).map(s =>
      StationRow(s.toLong, hour, Gen.quarter(seed, 48L, s.toLong, hour), hour))

  def buildFile(inputs: Path): Path = inputs.resolve("build.csv")
  def roundsFile(inputs: Path): Path = inputs.resolve("rounds.csv")
  def ingestFile(inputs: Path): Path = inputs.resolve("ingest.csv")

  /** The build as CSV, one line per row: op index, op, then the row
    * (`delete` lines carry station,from,to).
    */
  def buildCsv(ops: Seq[BuildOp]): String = ops.zipWithIndex.flatMap {
    case (Append(rows), i) => rows.map(r => s"$i,append,${r.csv}")
    case (Merge(rows), i) => rows.map(r => s"$i,merge,${r.csv}")
    case (DeleteDay(s, a, b), i) => Seq(s"$i,delete,$s,$a,$b,0")
  }.mkString("", "\n", "\n")

  def parseBuild(lines: Seq[String]): Seq[BuildOp] =
    lines.filter(_.nonEmpty).map(_.split(",", 3)).groupBy(_(0).toInt).toSeq.sortBy(_._1).map {
      case (_, group) =>
        group.head(1) match {
          case "append" => Append(group.map(f => StationRow.parse(f(2))).toSeq)
          case "merge" => Merge(group.map(f => StationRow.parse(f(2))).toSeq)
          case _ =>
            val f = group.head(2).split(',')
            DeleteDay(f(0).toLong, f(1).toLong, f(2).toLong)
        }
    }
}

class SnapshotReads extends Workload {
  import SnapshotGen._
  val name = "snapshot_reads"
  val WarmupRounds = 1
  val MaxRounds = 100

  private var ops: Seq[BuildOp] = Nil
  private var rounds: IndexedSeq[Seq[Array[String]]] = _
  private var ingests = Map.empty[Long, Seq[StationRow]]
  private val model = new StationModel
  /** Per version: (count, sum) of its snapshot, its change feed by
    * change type, and its operation.
    */
  private val snapshots = mutable.ArrayBuffer.empty[(Long, Double)]
  private val feeds = mutable.ArrayBuffer.empty[Map[String, (Long, Double)]]
  private val opNames = mutable.ArrayBuffer.empty[String]
  private var timedIngest = 0L
  private var timedRounds = 0
  private var startFiles: Seq[TableListing.FileInfo] = Nil
  private var prunedRowsReturned = 0L

  private def dir(ctx: Ctx) = ctx.tables.resolve("events")

  def generate(ctx: Ctx): Unit = {
    val built = build(ctx.seed)
    val all = (0 until WarmupRounds + MaxRounds).map(round(ctx.seed, _, built.length + 1))
    Gen.write(buildFile(ctx.inputs), buildCsv(built))
    Gen.write(roundsFile(ctx.inputs), all.zipWithIndex
      .flatMap { case (qs, r) => qs.map(q => s"$r,$q") }.mkString("", "\n", "\n"))
    Gen.write(ingestFile(ctx.inputs), all.flatten.filter(_.startsWith("ingest,"))
      .flatMap(q => ingestRows(ctx.seed, q.split(',')(1).toLong)).map(_.csv).mkString("", "\n", "\n"))
    def read(p: Path) = Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    ops = parseBuild(read(buildFile(ctx.inputs)))
    rounds = read(roundsFile(ctx.inputs)).map(_.split(',')).groupBy(_(0).toInt)
      .toSeq.sortBy(_._1).map(_._2.map(_.drop(1)).toSeq).toIndexedSeq
    ingests = read(ingestFile(ctx.inputs)).map(StationRow.parse).groupBy(_.hour)
  }

  private def commit(name: String, feed: Map[String, (Long, Double)]): Unit = {
    opNames += name
    feeds += feed.filter(_._2._1 > 0)
    snapshots += ((model.count, model.sum))
  }

  private def inserted(rows: Seq[StationRow]) = "insert" -> (rows.size.toLong, rows.map(_.value).sum)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val vt = new VersionedTable(spark, dir(ctx).toString)
    vt.create(StationTable.Schema)
    commit("create", Map.empty)
    ops.foreach {
      case Append(rows) =>
        vt.append(StationTable.frame(spark, rows))
        rows.foreach(model.put)
        commit("append", Map(inserted(rows)))
      case DeleteDay(s, from, to) =>
        vt.delete(col("station") === s && col("hour") >= lit(StationTable.ts(from)) &&
          col("hour") < lit(StationTable.ts(to)), writeChangeData = true, useDeletionVectors = true)
        val gone = model.removeWhere(r => r.station == s && r.hour >= from && r.hour < to)
        commit("delete-dv", Map("delete" -> (gone.size.toLong, gone.map(_.value).sum)))
      case Merge(rows) =>
        vt.mergeClauses(StationTable.frame(spark, rows), Seq("station", "hour"),
          Seq(MergeClause(None, MergeAction.Update(None))),
          Seq(MergeClause(None, MergeAction.Insert(None))),
          writeChangeData = true, useDeletionVectors = true)
        val olds = rows.map(r => r -> model.put(r))
        val upd = olds.collect { case (r, Some(o)) => (r, o) }
        commit("merge-dv", Map(
          "update_preimage" -> (upd.size.toLong, upd.map(_._2.value).sum),
          "update_postimage" -> (upd.size.toLong, upd.map(_._1.value).sum),
          inserted(olds.collect { case (r, None) => r })))
    }
    require(vt.latestVersion == opNames.length - 1,
      s"build made ${vt.latestVersion + 1} versions, want ${opNames.length}")
    (0 until WarmupRounds).foreach { r =>
      val errs = readerRound(ctx, r)._2()
      require(errs.isEmpty, s"warm-up round $r gave wrong answers: ${errs.mkString("; ")}")
    }
  }

  def hasUnit(i: Int): Boolean = WarmupRounds + i < rounds.length

  def runUnit(ctx: Ctx, i: Int): UnitOutcome = {
    val (times, check) = readerRound(ctx, WarmupRounds + i)
    timedRounds += 1
    timedIngest += Stations * StationRow.LogicalBytes
    UnitOutcome("round", times, check)
  }

  private def agg(df: DataFrame): (Long, Double) =
    StationTable.countSum(df.agg(count(lit(1)), sum("value")).collect()(0))

  /** A fresh handle with the latest snapshot resolved, as a new reader
    * job opens the table.
    */
  private def open(ctx: Ctx): VersionedTable = ctx.span("vt.open") {
    val vt = new VersionedTable(ctx.spark, dir(ctx).toString)
    vt.activeDirs()
    vt
  }

  private def readerRound(ctx: Ctx, r: Int): (Map[String, Double], () => Seq[String]) = {
    val times = mutable.Map.empty[String, Double]
    val checks = rounds(r).map(q => query(ctx, r, q, times))
    (times.toMap, () => checks.flatMap(_()))
  }

  /** Runs one query, timing it into `times` under its kind, and returns
    * its check. Expected answers come from the model; the `ingest`
    * check applies its rows to the model, so checks run in query order.
    */
  private def query(ctx: Ctx, r: Int, q: Array[String],
                    times: mutable.Map[String, Double]): () => Seq[String] = {
    val (kind, a, b, c) = (q(0), q(1).toLong, q(2).toLong, q(3).toLong)
    val spark = ctx.spark
    def expect(got: Any, want: => Any): () => Seq[String] = () => {
      val w = want
      if (got == w) Nil else Seq(s"round $r $kind: got $got, want $w")
    }
    def inRange(x: StationRow) = x.hour >= a && x.hour <= b
    def timed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally times(kind) = (System.nanoTime() - t0) / 1e6
    }
    kind match {
      case "snapshot" =>
        val got = timed { val vt = open(ctx); ctx.span("vt.read")(agg(vt.read())) }
        expect(got, (model.count, model.sum))
      case "pruned" =>
        val got = timed {
          val vt = open(ctx)
          ctx.span("vt.readPruned") {
            agg(vt.readPruned("hour", Some(StationTable.ts(a)), Some(StationTable.ts(b)))
              .filter(col("hour").between(StationTable.ts(a), StationTable.ts(b))))
          }
        }
        if (ctx.tracer.on) prunedRowsReturned += got._1
        expect(got, model.countSumWhere(inRange))
      case "asof" =>
        val got = timed { val vt = open(ctx); ctx.span("vt.readAt")(agg(vt.readAt(a.toInt))) }
        expect(got, snapshots(a.toInt))
      case "cdf" =>
        val got = timed {
          val vt = open(ctx)
          ctx.span("vt.changes") {
            vt.changes(a.toInt, b.toInt).groupBy("_change_type").agg(count(lit(1)), sum("value"))
              .collect().map(x => x.getString(0) -> StationTable.countSum(x, 1)).toMap
          }
        }
        expect(got, (a.toInt to b.toInt).flatMap(feeds(_)).groupMapReduce(_._1)(_._2) {
          case (x, y) => (x._1 + y._1, x._2 + y._2)
        })
      case "sql_scan" =>
        val got = timed(ctx.span("sql.graftvt") {
          agg(spark.read.format("graftvt").load(dir(ctx).toString)
            .filter(col("station") === c && col("hour").between(StationTable.ts(a), StationTable.ts(b))))
        })
        if (ctx.tracer.on) prunedRowsReturned += got._1
        expect(got, model.countSumWhere(x => x.station == c && inRange(x)))
      case "fast_count" =>
        val got = timed { val vt = open(ctx); ctx.span("vt.fastCount")(vt.fastCount()) }
        expect(got, Some(model.count))
      case "history" =>
        val got = timed { val vt = open(ctx); ctx.span("vt.history")(vt.history().collect()) }
          .sortBy(_.getAs[Int]("version")).map(_.getAs[String]("op")).toSeq
        expect(got, opNames.toSeq)
      case _ => // ingest
        val rows = ingests(a)
        timed { val vt = open(ctx); ctx.span("vt.append")(vt.append(StationTable.frame(spark, rows))) }
        () => { rows.foreach(model.put); commit("append", Map(inserted(rows))); Nil }
    }
  }

  def finalCheck(ctx: Ctx): Seq[String] = {
    val got = new VersionedTable(ctx.spark, dir(ctx).toString).read().collect()
      .map(StationTable.rowOf).map(r => (r.station, r.hour) -> r).toMap
    if (got == model.rows.toMap) Nil
    else Seq(s"final snapshot differs from the recomputation (${got.size} rows, want ${model.count})")
  }

  def ingestedBytes: Long = timedIngest
  def liveBytes: Long = model.count * StationRow.LogicalBytes
  def liveDirs(ctx: Ctx): Seq[Path] = TableListing.activeDirs(ctx.spark, dir(ctx))
  override def rowsReturned: Long = prunedRowsReturned

  override def markTimedStart(ctx: Ctx): Unit =
    startFiles = TableListing.files(dir(ctx))

  override def storageCounters(ctx: Ctx): Map[String, Double] =
    TableListing.writtenPerUnit(startFiles, TableListing.files(dir(ctx)), timedRounds)
}
