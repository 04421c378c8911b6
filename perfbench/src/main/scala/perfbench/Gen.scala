package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

/** Deterministic input generation. Every value is a pure function of
  * (seed, what, coordinates) through splitmix64, so the same seed gives
  * byte-identical files whatever order they are written in. Metric
  * values are quarters (k / 4), so sums over them are exact in double
  * arithmetic in any order and results compare exactly.
  */
object Gen {

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  /** Uniform integer in [0, n). */
  def below(n: Int, seed: Long, parts: Long*): Int =
    java.lang.Long.remainderUnsigned(hash(seed, parts: _*), n.toLong).toInt

  def quarter(seed: Long, parts: Long*): Double = below(800, seed, parts: _*) / 4.0

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  def epochSec(t: LocalDateTime): Long = t.toEpochSecond(ZoneOffset.UTC)
  def utc(sec: Long): LocalDateTime = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC)

  /** A first day chosen by the seed, so month boundaries fall at
    * different days of a run for different seeds.
    */
  def firstDay(seed: Long): LocalDate =
    LocalDate.of(2024, 1, 1).plusDays(below(300, seed, 1L).toLong)
}

/** One row of the keyed station tables (`station`, `hour`, `value`,
  * `rev`): `hour` in epoch seconds, `rev` the batch that wrote it.
  */
final case class StationRow(station: Long, hour: Long, value: Double, rev: Long) {
  def csv: String = s"$station,$hour,$value,$rev"
}

object StationRow {
  /** Logical size of a row: four 8-byte values. */
  val LogicalBytes = 32L

  def parse(line: String): StationRow = {
    val f = line.split(',')
    StationRow(f(0).toLong, f(1).toLong, f(2).toDouble, f(3).toLong)
  }

  def writeCsv(path: Path, rows: Seq[StationRow]): Unit =
    Gen.write(path, rows.map(_.csv).mkString("", "\n", "\n"))

  def readCsv(path: Path): Seq[StationRow] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(parse)
  }
}
