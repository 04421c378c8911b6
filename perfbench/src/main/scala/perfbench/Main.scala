package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --dir <scratch dir> --result <result file> [--commit <id>]
  *      [--sources <hash>] [--untraced-p50 <ms>]
  * }}}
  *
  * Inputs are generated under `--dir` before anything is timed. With
  * `--trace 0` the run reports the end-to-end metrics; with
  * `--trace 1` every unit runs with spans on and the run reports the
  * per-layer metrics. A traced run needs `--untraced-p50`, the
  * `op_p50_ms` of an untraced run of the same workload, seed and
  * length, for `trace_overhead`. The full record (environment, samples,
  * every metric) goes to `--result`, the spans and jobs next to it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: Path, result: Path, commit: String, sources: String,
                        untracedP50: Option[Double])

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("dir")).toAbsolutePath,
      Paths.get(need("result")).toAbsolutePath, m.getOrElse("commit", "unknown"),
      m.getOrElse("sources", "unknown"), m.get("untraced-p50").map(_.toDouble))
  }

  def session(dir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class UnitSample(kind: String, ms: Double, opMs: Map[String, Double],
                              errors: Seq[String])

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    require(!args.trace || args.untracedP50.isDefined, "--trace 1 needs --untraced-p50")
    val loadStart = Probes.loadavg
    val cores = Runtime.getRuntime.availableProcessors()
    val workload = Workload.byName(args.workload)
    val ctx = new Ctx(args.dir, args.seed)
    Files.createDirectories(args.dir)
    workload.generate(ctx)

    val setupT0 = System.nanoTime()
    val spark = session(args.dir, cores)
    ctx.spark = spark
    ctx.tracer = new Tracer(spark.sparkContext)
    workload.setup(ctx)
    val setupS = (System.nanoTime() - setupT0) / 1e9
    workload.markTimedStart(ctx)

    // The listener sees only the timed phase: set-up's events are
    // delivered before it is added.
    val listener = if (args.trace) Some(new JobListener) else None
    listener.foreach { l =>
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
    }
    ctx.tracer.on = args.trace

    val written0 = Probes.fsBytesWritten
    val gc0 = Probes.gcMs
    val samples = mutable.ArrayBuffer.empty[UnitSample]
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + args.seconds * 1000000000L
    var i = 0
    var aborted = false
    while (!aborted && System.nanoTime() < deadline && workload.hasUnit(i)) {
      ctx.tracer.opId = i.toLong
      val t0 = System.nanoTime()
      // A failed operation counts against the run and ends the loop: the
      // tables' state no longer matches what later units expect.
      val out =
        try workload.runUnit(ctx, i)
        catch { case e: Exception =>
          aborted = true
          UnitOutcome("failed", Map.empty, () => Seq(s"unit $i failed: $e"))
        }
      val ms = (System.nanoTime() - t0) / 1e6
      val errs = try out.check() catch { case e: Exception => Seq(s"unit $i check failed: $e") }
      samples += UnitSample(out.kind, ms, out.opMs, errs)
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val written = Probes.fsBytesWritten - written0
    val gc = Probes.gcMs - gc0
    ctx.tracer.on = false
    // Every job of the timed phase, before the final check adds its own.
    val timedJobs = listener.map { l =>
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      l.synchronized(l.jobs.values.toSeq)
    }
    val finalErrors =
      if (aborted) Seq("final state not checked after a failed unit")
      else try workload.finalCheck(ctx) catch { case e: Exception => Seq(s"final check failed: $e") }

    val unitMs = samples.map(_.ms).toSeq
    val p50 = Stats.median(unitMs)
    val perKind = samples.groupBy(_.kind).map { case (k, ss) => k -> Stats.median(ss.map(_.ms).toSeq) }
    val perOp = samples.flatMap(_.opMs).filterNot(_._2.isNaN).groupMap(_._1)(_._2)
      .map { case (k, xs) => k -> Stats.median(xs.toSeq) }
    val opMedians = perKind ++ perOp
    val (filesLive, bytesLive) = Probes.bytesUnder(workload.liveDirs(ctx))

    val traceOut = timedJobs.map { jobs =>
      Metrics.perLayer(ctx.tracer, jobs, workload, ctx, opMedians,
        units = samples.length,
        timedMs = loopS * 1000.0,
        traceOverhead = p50 / args.untracedP50.get,
        gcMsPerUnit = gc.toDouble / math.max(samples.length, 1),
        cores = cores, filesLive = filesLive, bytesLive = bytesLive)
    }
    // A job the attribution lost makes the traced run's counters wrong.
    val lostJobs = traceOut.filterNot(_.reconciled).map(t =>
      s"job attribution lost jobs: ${t.reconciliation}").toSeq

    // The final-state check counts as one more checked operation.
    val failures = samples.flatMap(_.errors) ++ finalErrors ++ lostJobs
    val failedUnits = samples.count(_.errors.nonEmpty) +
      (if (finalErrors.nonEmpty || lostJobs.nonEmpty) 1 else 0)
    val attempted = samples.length + 1
    val correct = failures.isEmpty && samples.nonEmpty

    val tail = Stats.tail(unitMs)
    val endToEnd = Metrics.endToEnd(
      setupS = setupS,
      opsPerS = samples.length / loopS,
      p50 = p50,
      tail = tail.value,
      writeAmp = written.toDouble / math.max(workload.ingestedBytes, 1L),
      spaceAmp = bytesLive.toDouble / math.max(workload.liveBytes, 1L),
      peakRss = Probes.peakRssMb)

    val printed = traceOut.map(_.metrics).getOrElse(endToEnd)
    val loadEnd = Probes.loadavg
    spark.stop()

    val record = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> (if (args.trace) 1 else 0),
      "run_seconds" -> args.seconds,
      "env" -> Json.obj(
        "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "nproc" -> cores, "spark_cores" -> cores,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "commit" -> args.commit, "sources" -> args.sources, "seed" -> args.seed,
        "started_at" -> java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedUnits,
      "failed_frac" -> failedUnits.toDouble / attempted,
      "failures" -> failures.take(20).toSeq,
      "end_to_end" -> Metrics.toJson(endToEnd),
      "per_layer" -> traceOut.map(t => Metrics.toJson(t.metrics)).orNull,
      "jobs" -> traceOut.map(_.reconciliation).orNull,
      "untraced_op_p50_ms" -> args.untracedP50,
      "details" -> Json.obj(
        "units" -> samples.length, "timed_seconds" -> loopS,
        "op_tail_percentile" -> tail.percentile, "op_samples" -> tail.samples,
        "op_p50_ms_by_kind" -> opMedians.toSeq.sortBy(_._1).toMap,
        "bytes_written" -> written, "bytes_ingested" -> workload.ingestedBytes,
        "bytes_under_tables" -> bytesLive, "files_under_tables" -> filesLive,
        "live_logical_bytes" -> workload.liveBytes, "gc_ms" -> gc),
      "unit_ms" -> unitMs)
    Files.createDirectories(args.result.getParent)
    Files.write(args.result, (Json.render(record) + "\n").getBytes(StandardCharsets.UTF_8))
    traceOut.foreach(t => Files.write(
      Paths.get(args.result.toString.stripSuffix(".json") + ".spans.jsonl"),
      t.spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))

    failures.take(5).foreach(f => System.err.println(s"perfbench: WRONG: $f"))
    println(Json.render(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedUnits,
      "metrics" -> Metrics.toJson(printed))))
  }
}
