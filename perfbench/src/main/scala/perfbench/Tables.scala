package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Helpers shared by the two versioned-table workloads: the station
  * table schema, frames built from generated rows, and the expected
  * contents kept as a plain map.
  */
object StationTable {
  val Schema: StructType = StructType(Seq(
    StructField("station", LongType), StructField("hour", TimestampType),
    StructField("value", DoubleType), StructField("rev", LongType)))

  def ts(hour: Long): java.sql.Timestamp = new java.sql.Timestamp(hour * 3600000L)

  def frame(spark: SparkSession, rows: Seq[StationRow]): DataFrame =
    spark.createDataFrame(
      rows.map(r => Row(r.station, ts(r.hour), r.value, r.rev)).asJava, Schema)

  def rowOf(r: Row): StationRow =
    StationRow(r.getLong(0), r.getTimestamp(1).getTime / 3600000L, r.getDouble(2), r.getLong(3))

  /** (count, sum) from fields `at` and `at + 1` of an aggregate row; a
    * null sum is 0.
    */
  def countSum(r: Row, at: Int = 0): (Long, Double) =
    (r.getLong(at), if (r.isNullAt(at + 1)) 0.0 else r.getDouble(at + 1))
}

/** Expected rows keyed by (station, hour), with running totals. */
class StationModel {
  val rows = mutable.HashMap.empty[(Long, Long), StationRow]
  var sum = 0.0

  def count: Long = rows.size.toLong
  def get(k: (Long, Long)): Option[StationRow] = rows.get(k)

  def put(r: StationRow): Option[StationRow] = {
    val old = rows.put((r.station, r.hour), r)
    sum += r.value - old.map(_.value).getOrElse(0.0)
    old
  }

  def remove(k: (Long, Long)): Option[StationRow] = {
    val old = rows.remove(k)
    old.foreach(o => sum -= o.value)
    old
  }

  def removeWhere(p: StationRow => Boolean): Seq[StationRow] = {
    val gone = rows.values.filter(p).toSeq
    gone.foreach(r => remove((r.station, r.hour)))
    gone
  }

  def countSumWhere(p: StationRow => Boolean): (Long, Double) = {
    var n = 0L
    var s = 0.0
    rows.valuesIterator.foreach(r => if (p(r)) { n += 1; s += r.value })
    (n, s)
  }
}

/** Counters read by listing a versioned table's directory. */
object TableListing {
  /** The data directories the latest version of the table at `root` references. */
  def activeDirs(spark: SparkSession, root: Path): Seq[Path] =
    new graft.sources.VersionedTable(spark, root.toString).activeDirs().map(root.resolve)

  final case class FileInfo(path: String, bytes: Long)

  def files(root: Path): Seq[FileInfo] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(p => FileInfo(p.toString, Files.size(p))).toList
      finally s.close()
    }

  def isManifest(f: FileInfo): Boolean = f.path.matches(".*/_graft_log/\\d{8}\\.json")
  def isCheckpoint(f: FileInfo): Boolean = f.path.matches(".*/_graft_log/\\d{8}\\.checkpoint\\.json")
  def isSidecar(f: FileInfo): Boolean = f.path.endsWith(".dvb")

  /** Log and DV files present in `after` but not in `before`, per unit
    * of work.
    */
  def writtenPerUnit(before: Seq[FileInfo], after: Seq[FileInfo], units: Int): Map[String, Double] = {
    val seen = before.map(_.path).toSet
    val fresh = after.filterNot(f => seen.contains(f.path))
    val per = math.max(units, 1).toDouble
    def count(p: FileInfo => Boolean) = fresh.count(p) / per
    def bytes(p: FileInfo => Boolean) = fresh.filter(p).map(_.bytes).sum / per
    Map("log.manifest_bytes_written" -> bytes(isManifest),
      "log.checkpoints_written" -> count(isCheckpoint),
      "dv.sidecar_files_written" -> count(isSidecar),
      "dv.sidecar_bytes_written" -> bytes(isSidecar))
  }

  /** Bytes of the data directories each commit in (from, to] of the
    * table at `root` added, by operation, read from the manifests.
    */
  def addedBytesByOp(root: Path, from: Int, to: Int): Seq[(String, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (from + 1 to to).flatMap { v =>
      val p = root.resolve("_graft_log").resolve(f"$v%08d.json")
      if (!Files.exists(p)) None
      else {
        val node = mapper.readTree(p.toFile)
        val ab = node.get("added_bytes")
        val bytes = if (ab == null) 0L else ab.properties().asScala.map(_.getValue.asLong()).sum
        Some(node.get("op").asText() -> bytes)
      }
    }
  }
}
