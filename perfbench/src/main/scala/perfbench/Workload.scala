package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What a workload shares with the harness: the session, the tracer,
  * its own directory for generated inputs and tables, and the seed.
  */
final class Ctx(val dir: Path, val seed: Long) {
  var spark: SparkSession = _
  var tracer: Tracer = _

  def inputs: Path = dir.resolve("inputs")
  def tables: Path = dir.resolve("tables")

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Runs `body` inside span `name` and adds its wall time, in
    * milliseconds, to `times` under `kind`, traced or not.
    */
  def timed[T](times: collection.mutable.Map[String, Double], kind: String, name: String)
              (body: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(body)
    finally times(kind) = times.getOrElse(kind, 0.0) + (System.nanoTime() - t0) / 1e6
  }
}

/** One completed unit of work. `opMs` holds the wall time of each
  * operation type inside it; `check` verifies its output after the
  * unit's clock has stopped and returns a description of each
  * mismatch.
  */
final case class UnitOutcome(kind: String, opMs: Map[String, Double],
                             check: () => Seq[String])

/** A closed-loop, single-client workload. */
trait Workload {
  def name: String

  /** Writes every input under `ctx.inputs`, using the seed only. No
    * Spark is involved and nothing is timed.
    */
  def generate(ctx: Ctx): Unit

  /** Builds the starting state through the engine's public functions
    * and runs the warm-up units; timed as part of `setup_s`.
    */
  def setup(ctx: Ctx): Unit

  /** Whether generated input remains for unit `i` of the timed loop. */
  def hasUnit(i: Int): Boolean

  def runUnit(ctx: Ctx, i: Int): UnitOutcome

  /** Checks the final state against a recomputation from the inputs. */
  def finalCheck(ctx: Ctx): Seq[String]

  /** Logical bytes (8 per value) of user data the timed loop ingested. */
  def ingestedBytes: Long

  /** Logical bytes (8 per value) of the rows live in the tables now. */
  def liveBytes: Long

  /** Directories holding the tables' live data: for a versioned table
    * the data directories its latest version references, so files a
    * commit replaced (kept until a vacuum) do not count.
    */
  def liveDirs(ctx: Ctx): Seq[Path]

  /** Storage and log counters for the traced run, read by listing. */
  def storageCounters(ctx: Ctx): Map[String, Double] = Map.empty

  /** Rows the traced pruned reads returned, for
    * `read.rows_scanned_per_row_returned`.
    */
  def rowsReturned: Long = 0L

  /** Marks the start of the timed loop, for counters that diff against it. */
  def markTimedStart(ctx: Ctx): Unit = ()
}

object Workload {
  def byName(name: String): Workload = name match {
    case "medallion_daily" => new MedallionDaily
    case "silver_upsert" => new SilverUpsert
    case "snapshot_reads" => new SnapshotReads
    case other => throw new IllegalArgumentException(
      s"unknown workload `$other` (medallion_daily, silver_upsert, snapshot_reads)")
  }
}
