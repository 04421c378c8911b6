package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Wall clock in epoch milliseconds with sub-millisecond steps: anchored
  * once to `currentTimeMillis`, the clock Spark stamps job events with,
  * and advanced by `nanoTime`.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Half-open time intervals in milliseconds and the set algebra the
  * self-time and driver-time counters need.
  */
object Intervals {
  type Iv = (Double, Double)

  /** Disjoint, sorted cover of `ivs` (empty intervals dropped). */
  def union(ivs: Seq[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer.empty[Iv]
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.length - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** `base` with every part covered by `cut` removed. */
  def subtract(base: Seq[Iv], cut: Seq[Iv]): Seq[Iv] = {
    val cuts = union(cut)
    union(base).flatMap { case (a0, b) =>
      var a = a0
      val pieces = mutable.ArrayBuffer.empty[Iv]
      cuts.foreach { case (c, d) =>
        if (d > a && c < b) {
          if (c > a) pieces += ((a, c))
          a = math.max(a, d)
        }
      }
      if (b > a) pieces += ((a, b))
      pieces
    }
  }

  def measure(ivs: Seq[Iv]): Double = union(ivs).map(iv => iv._2 - iv._1).sum
}

/** One traced call into a layer's public function. `parent` is 0 for a
  * top-level span; `opId` numbers the unit of work the span belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, opId: Long,
                      startMs: Double, var endMs: Double = Double.NaN,
                      var readBytes: Long = 0L)

/** Records spans from the benchmark's own call sites. While a span is
  * open, the driver thread's Spark job group names it, so every job the
  * call launches (SQL sub-jobs inherit the group) is attributed to the
  * innermost open span. Each span also records the bytes read through
  * Hadoop's local file system while it was open. Spans stay in memory until the
  * run ends.
  */
class Tracer(sc: SparkContext) {
  private var nextId = 0
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Whether spans are recorded; a traced run turns this on for its
    * timed phase only.
    */
  var on = false
  /** The unit of work new spans belong to. */
  var opId = 0L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val parent = stack.headOption
      val read0 = Probes.fsBytesRead
      val s = Span(nextId, name, parent.map(_.id).getOrElse(0), opId, Clock.nowMs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = Clock.nowMs
        s.readBytes = Probes.fsBytesRead - read0
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = GroupPrefix + id
  def spanOf(group: String): Int =
    if (group != null && group.startsWith(GroupPrefix))
      group.stripPrefix(GroupPrefix).toIntOption.getOrElse(0)
    else 0
}

/** One Spark job as the listener saw it. `span` is 0 when the job ran
  * outside every span; `site` is the innermost engine source file that
  * launched it (see [[CallSites]]).
  */
final case class JobRec(id: Int, span: Int, site: String, startMs: Double,
                        var endMs: Double = Double.NaN, var taskMs: Long = 0L,
                        var shuffleBytes: Long = 0L, var scanBytes: Long = 0L,
                        var writeBytes: Long = 0L, var recordsRead: Long = 0L)

/** Collects every job with its span, call site and task counters.
  * A job's call site is its own when that names an engine file; jobs
  * Spark SQL launches from its own threads (adaptive stages,
  * broadcasts) take the call site of the SQL execution they belong to,
  * which Spark records on the thread that started it.
  */
class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqlSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSite(s.executionId) = CallSites.innermost(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val own = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => CallSites.innermost(s.details)).getOrElse(CallSites.Unknown)
    val site =
      if (own != CallSites.Unknown) own
      else prop("spark.sql.execution.id").flatMap(_.toLongOption).flatMap(sqlSite.get)
        .getOrElse(CallSites.Unknown)
    jobs(e.jobId) = JobRec(e.jobId, Tracer.spanOf(prop("spark.jobGroup.id").orNull), site,
      e.time.toDouble)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.scanBytes += m.inputMetrics.bytesRead
        j.writeBytes += m.outputMetrics.bytesWritten
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Maps a Spark long-form call site to the engine source file that
  * launched the job: the first `graft.` frame, which Spark lists right
  * after the last Spark frame, named `<package below graft>.<File>`.
  */
object CallSites {
  val Unknown = "unknown"
  private val Frame = """^(graft(?:\.[a-z_][A-Za-z0-9_]*)*)\.[A-Z][^(]*\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  def innermost(longForm: String): String =
    Option(longForm).iterator.flatMap(_.linesIterator).map(_.trim).collectFirst {
      case Frame(pkg, file) =>
        val sub = pkg.stripPrefix("graft").stripPrefix(".")
        if (sub.isEmpty) file else s"$sub.$file"
    }.getOrElse(Unknown)
}

/** Per-span counters, all of them the span's OWN share: time and jobs
  * of child spans belong to the children.
  */
final case class SpanStats(span: Span, selfMs: Double, driverMs: Double,
                           jobs: Seq[JobRec])

/** How the jobs of a run split: `spanJobs` summed over the recorded
  * spans, `unattributed` run with no span's job group. They add up to
  * `total`, every job the listener saw, unless a job names a span that
  * was never recorded.
  */
final case class JobCount(total: Int, spanJobs: Int, unattributed: Int) {
  def reconciled: Boolean = spanJobs + unattributed == total
}

object Attribution {

  def count(stats: Seq[SpanStats], jobs: Seq[JobRec]): JobCount =
    JobCount(jobs.size, stats.map(_.jobs.size).sum, jobs.count(_.span == 0))

  /** Self time (span minus what its children cover) and driver time
    * (self time minus what its own jobs cover) of every span.
    */
  def spanStats(spans: Seq[Span], jobs: Seq[JobRec]): Seq[SpanStats] = {
    val children = spans.groupBy(_.parent)
    val jobsOf = jobs.groupBy(_.span)
    spans.map { s =>
      val whole = Seq((s.startMs, s.endMs))
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = Intervals.subtract(whole, kids)
      val own = jobsOf.getOrElse(s.id, Nil)
      val jobIvs = own.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs))
      SpanStats(s, Intervals.measure(self),
        Intervals.measure(Intervals.subtract(self, jobIvs)), own)
    }
  }
}
