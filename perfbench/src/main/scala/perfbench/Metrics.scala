package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Process-wide readings: load, memory, GC and Hadoop file-system
  * statistics.
  */
object Probes {
  def loadavg: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set (VmHWM) of this JVM in MiB. */
  def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def localStats =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")

  /** Bytes written through Hadoop's local file system: data, logs,
    * sidecars and checksums, never shuffle.
    */
  def fsBytesWritten: Long = localStats.map(_.getBytesWritten).sum

  /** Bytes read through Hadoop's local file system. */
  def fsBytesRead: Long = localStats.map(_.getBytesRead).sum

  def bytesUnder(roots: Seq[Path]): (Long, Long) = {
    val fs = roots.flatMap(TableListing.files)
    (fs.size.toLong, fs.map(_.bytes).sum)
  }
}

/** Result records as JSON, written by Jackson: maps keep their insertion
  * order, doubles print with all their digits, non-finite numbers as null.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kvs: (String, Any)*): ListMap[String, Any] = ListMap(kvs: _*)

  def render(v: Any): String = mapper.writeValueAsString(finite(v))

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => None
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite)
    case other => other
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What the traced run adds to a result: the per-layer metrics, the job
  * count reconciliation and one JSON line per span and per job.
  */
final case class TraceOut(metrics: Seq[Metric], reconciled: Boolean,
                          reconciliation: Map[String, Any], spanLines: Seq[String])

object Metrics {

  def toJson(ms: Seq[Metric]): collection.Map[String, Any] =
    Json.obj(ms.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*)

  def endToEnd(setupS: Double, opsPerS: Double, p50: Double, tail: Double,
               writeAmp: Double, spaceAmp: Double, peakRss: Double): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("ops_per_s", opsPerS, "1/s"),
    Metric("op_p50_ms", p50, "ms"),
    Metric("op_tail_ms", tail, "ms"),
    Metric("write_amp", writeAmp, "B/B"),
    Metric("space_amp", spaceAmp, "B/B"),
    Metric("peak_rss_mb", peakRss, "MiB"))

  /** Spans whose calls run Spark jobs: every counter. */
  val JobSpans: Seq[String] = Seq(
    "pipelines.e1", "pipelines.e3", "pipelines.e2", "operators.quality_report",
    "vt.appendStreamBatch", "vt.mergeClauses", "vt.delete", "vt.changes",
    "vt.read", "vt.readPruned", "vt.readAt", "sql.graftvt", "vt.append")
  /** Spans that only read: their write counter is always zero. */
  val ReadOnly: Set[String] = Set("operators.quality_report", "vt.changes", "vt.read",
    "vt.readPruned", "vt.readAt", "sql.graftvt")
  /** Spans that only append: their shuffle and scan counters are always zero. */
  val AppendOnly: Set[String] = Set("vt.appendStreamBatch", "vt.append")
  /** Spans that answer from the log alone: no jobs, self time only. */
  val MetaSpans: Seq[String] = Seq("vt.open", "vt.fastCount", "vt.history")
  /** Engine source files whose jobs are split out of the pipeline spans,
    * with the counters reported for each (`ColumnarJson` flattens inside
    * the callers' jobs, so only its job count is pinned).
    */
  val Sites: Seq[(String, Seq[String])] = Seq(
    "sources.TableManager" -> Seq("jobs", "task_ms", "scan_bytes", "write_bytes"),
    "sources.ColumnarJson" -> Seq("jobs"))
  /** Per-operation medians: operation kind -> metric. */
  val OpMedians: Seq[(String, String)] = Seq("merge" -> "merge_p50_ms",
    "delete" -> "delete_p50_ms", "cdf" -> "cdf_p50_ms", "snapshot" -> "snapshot_p50_ms",
    "pruned" -> "pruned_p50_ms", "asof" -> "asof_p50_ms", "sql_scan" -> "sql_scan_p50_ms")
  /** Storage and log counters; the workload supplies those it has. */
  val StorageCounters: Seq[(String, String)] = Seq(
    "log.manifest_bytes_written" -> "B/op", "log.checkpoints_written" -> "count/op",
    "log.bytes_read_per_open" -> "B", "dv.sidecar_files_written" -> "count/op",
    "dv.sidecar_bytes_written" -> "B/op", "storage.files_live" -> "count",
    "storage.bytes_live" -> "B", "maintenance.commits" -> "count/op",
    "maintenance.bytes_rewritten" -> "B/op", "read.rows_scanned_per_row_returned" -> "ratio")

  /** Every per-layer metric name with its unit, in print order. */
  def perLayerCatalogue: Seq[(String, String)] = {
    val spans = JobSpans.flatMap { s =>
      Seq(s"$s.self_ms" -> "ms", s"$s.driver_ms" -> "ms", s"$s.jobs" -> "count",
        s"$s.task_ms" -> "ms") ++
        (if (AppendOnly(s)) Nil else Seq(s"$s.shuffle_bytes" -> "B", s"$s.scan_bytes" -> "B")) ++
        (if (ReadOnly(s)) Nil else Seq(s"$s.write_bytes" -> "B"))
    } ++ MetaSpans.map(s => s"$s.self_ms" -> "ms")
    val siteUnits = Map("jobs" -> "count/op", "task_ms" -> "ms/op", "scan_bytes" -> "B/op",
      "write_bytes" -> "B/op")
    val sites = Sites.flatMap { case (s, cs) => cs.map(c => s"$s.$c" -> siteUnits(c)) }
    spans ++ sites ++ OpMedians.map(_._2 -> "ms") ++ StorageCounters ++ Seq(
      "spark.core_util" -> "ratio", "jvm.gc_ms" -> "ms/op", "trace_overhead" -> "ratio",
      "spark.jobs_total" -> "count", "unattributed.jobs" -> "count")
  }

  /** The per-layer metrics of a traced run from its spans and `jobs`,
    * every job the listener saw in the timed phase.
    */
  def perLayer(tracer: Tracer, jobs: Seq[JobRec], workload: Workload, ctx: Ctx,
               opMedians: Map[String, Double], units: Int, timedMs: Double,
               traceOverhead: Double, gcMsPerUnit: Double, cores: Int,
               filesLive: Long, bytesLive: Long): TraceOut = {
    val spans = tracer.spans.toSeq
    val stats = Attribution.spanStats(spans, jobs)
    val byName = stats.groupBy(_.span.name)
    val values = collection.mutable.LinkedHashMap.empty[String, Double]
    def perCall(xs: Seq[SpanStats], f: SpanStats => Double): Double =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def med(xs: Seq[SpanStats], f: SpanStats => Double): Double = Stats.medianOr(xs.map(f), 0.0)
    JobSpans.foreach { s =>
      val xs = byName.getOrElse(s, Nil)
      values(s"$s.self_ms") = med(xs, _.selfMs)
      values(s"$s.driver_ms") = med(xs, _.driverMs)
      values(s"$s.jobs") = perCall(xs, _.jobs.size.toDouble)
      values(s"$s.task_ms") = perCall(xs, _.jobs.map(_.taskMs).sum.toDouble)
      values(s"$s.shuffle_bytes") = perCall(xs, _.jobs.map(_.shuffleBytes).sum.toDouble)
      values(s"$s.scan_bytes") = perCall(xs, _.jobs.map(_.scanBytes).sum.toDouble)
      values(s"$s.write_bytes") = perCall(xs, _.jobs.map(_.writeBytes).sum.toDouble)
    }
    MetaSpans.foreach(s => values(s"$s.self_ms") = med(byName.getOrElse(s, Nil), _.selfMs))
    val per = math.max(units, 1).toDouble
    Sites.foreach { case (site, _) =>
      val js = jobs.filter(_.site == site)
      values(s"$site.jobs") = js.size / per
      values(s"$site.task_ms") = js.map(_.taskMs).sum / per
      values(s"$site.scan_bytes") = js.map(_.scanBytes).sum / per
      values(s"$site.write_bytes") = js.map(_.writeBytes).sum / per
    }
    OpMedians.foreach { case (k, name) => values(name) = opMedians.getOrElse(k, 0.0) }
    val opens = byName.getOrElse("vt.open", Nil)
    val scanned = Seq("vt.readPruned", "sql.graftvt")
      .flatMap(byName.getOrElse(_, Nil)).flatMap(_.jobs).map(_.recordsRead).sum
    val storage = workload.storageCounters(ctx) ++ Map(
      "log.bytes_read_per_open" -> perCall(opens, _.span.readBytes.toDouble),
      "storage.files_live" -> filesLive.toDouble,
      "storage.bytes_live" -> bytesLive.toDouble,
      "read.rows_scanned_per_row_returned" ->
        (if (workload.rowsReturned > 0) scanned.toDouble / workload.rowsReturned else 0.0))
    StorageCounters.foreach { case (k, _) => values(k) = storage.getOrElse(k, 0.0) }
    values("spark.core_util") = jobs.map(_.taskMs).sum / math.max(timedMs * cores, 1.0)
    values("jvm.gc_ms") = gcMsPerUnit
    values("trace_overhead") = traceOverhead
    val count = Attribution.count(stats, jobs)
    values("spark.jobs_total") = count.total.toDouble
    values("unattributed.jobs") = count.unattributed.toDouble

    val metrics = perLayerCatalogue.map { case (n, u) => Metric(n, values(n), u) }
    val bySpan = stats.groupBy(_.span.name).map { case (n, xs) =>
      n -> Json.obj("calls" -> xs.size, "jobs" -> xs.map(_.jobs.size).sum)
    }
    val reconciliation = Map[String, Any](
      "total" -> count.total, "sum_of_span_jobs" -> count.spanJobs,
      "unattributed" -> count.unattributed, "reconciled" -> count.reconciled,
      "by_span" -> bySpan,
      "by_site" -> jobs.groupBy(_.site).map { case (k, v) => k -> v.size })
    val lines = stats.map { st =>
      val s = st.span
      Json.render(Json.obj("type" -> "span", "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.opId, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> st.selfMs,
        "driver_ms" -> st.driverMs, "read_bytes" -> s.readBytes, "jobs" -> st.jobs.map(_.id)))
    } ++ jobs.map { j =>
      Json.render(Json.obj("type" -> "job", "id" -> j.id, "span" -> j.span, "site" -> j.site,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "task_ms" -> j.taskMs,
        "shuffle_bytes" -> j.shuffleBytes, "scan_bytes" -> j.scanBytes,
        "write_bytes" -> j.writeBytes, "records_read" -> j.recordsRead))
    }
    TraceOut(metrics, count.reconciled, reconciliation, lines)
  }
}
