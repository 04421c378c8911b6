package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

class SparkSpec extends AnyFunSuite {
  private val tmp = Files.createTempDirectory("perfbench-spec")
  lazy val spark = Main.session(tmp, 2)

  private def ctxAt(name: String, seed: Long): Ctx = {
    val c = new Ctx(tmp.resolve(name), seed)
    c.spark = spark
    c.tracer = new Tracer(spark.sparkContext)
    c
  }

  test("a job launched inside a nested span is attributed to the innermost span") {
    val tracer = new Tracer(spark.sparkContext)
    val listener = new JobListener
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      tracer.on = true
      tracer.opId = 7L
      tracer.span("outer") {
        tracer.span("inner")(spark.range(10).selectExpr("sum(id)").collect())
        spark.range(5).collect()
      }
      spark.range(4).collect() // outside every span
      tracer.on = false
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = listener.jobs.values.toSeq
    val all = Attribution.spanStats(tracer.spans.toSeq, jobs)
    val stats = all.map(s => s.span.name -> s).toMap
    assert(stats("inner").span.parent === stats("outer").span.id)
    assert(stats("inner").span.opId === 7L)
    assert(stats("inner").jobs.nonEmpty)
    assert(stats("outer").jobs.nonEmpty)
    assert(stats("inner").jobs.map(_.id).intersect(stats("outer").jobs.map(_.id)).isEmpty)
    val count = Attribution.count(all, jobs)
    assert(count.unattributed >= 1)
    assert(count.reconciled, count)
    assert(stats("outer").selfMs < stats("outer").span.endMs - stats("outer").span.startMs)
    // A job naming a span that was never recorded is lost, and shows.
    val stray = jobs.head.copy(id = -1, span = 999)
    val lost = Attribution.count(Attribution.spanStats(tracer.spans.toSeq, jobs :+ stray), jobs :+ stray)
    assert(!lost.reconciled, lost)
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("the same seed generates byte-identical inputs, another seed different ones") {
    Seq("medallion_daily", "silver_upsert", "snapshot_reads").foreach { w =>
      val a = ctxAt(s"gen-$w-a", 5L)
      val b = ctxAt(s"gen-$w-b", 5L)
      val c = ctxAt(s"gen-$w-c", 6L)
      Seq(a, b, c).foreach(x => Workload.byName(w).generate(x))
      val (fa, fb, fc) = (files(a.inputs), files(b.inputs), files(c.inputs))
      assert(fa.nonEmpty, w)
      assert(fa === fb, w)
      assert(fa.keySet === fc.keySet, w)
      assert(fa !== fc, w)
    }
  }

  test("the final check catches a planted wrong row") {
    val ctx = ctxAt("planted", 3L)
    val w = new SilverUpsert
    w.generate(ctx)
    w.setup(ctx)
    w.markTimedStart(ctx)
    assert(w.runUnit(ctx, 0).check() === Nil)
    assert(w.finalCheck(ctx) === Nil)
    val silver = new VersionedTable(spark, ctx.tables.resolve("silver").toString)
    val row = silver.read().limit(1).withColumn("value", lit(-1.0))
    silver.mergeClauses(row, Seq("station", "hour"),
      Seq(graft.sources.MergeClause(None, graft.sources.MergeAction.Update(None))), Nil)
    val errs = w.finalCheck(ctx)
    assert(errs.exists(_.contains("last-writer-wins")), errs)
  }
}
