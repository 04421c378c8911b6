package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value === 90.0)
    assert(t.percentile === 90.0)
    assert(t.samples === 100)
    assert(xs.count(_ > t.value) === 10)

    val t30 = Stats.tail((1 to 30).map(_.toDouble))
    assert(t30.value === 20.0)
    assert(t30.percentile === 100.0 * 20 / 30)
  }

  test("with fewer than twenty samples the tail falls back to the median") {
    val t = Stats.tail(Seq(5.0, 1.0, 3.0, 100.0))
    assert(t.value === 4.0)
    assert(t.percentile === 50.0)
    assert(t.samples === 4)
    assert(Stats.tail((1 to 19).map(_.toDouble)).value === 10.0)
  }

  test("self time removes the union of overlapping children, driver time the span's own jobs") {
    val parent = Span(1, "outer", 0, 0L, 0.0, 100.0)
    val kids = Seq(Span(2, "a", 1, 0L, 10.0, 40.0), Span(3, "b", 1, 0L, 30.0, 60.0))
    val jobs = Seq(
      JobRec(1, 1, "x", 70.0, 90.0), // the parent's own job
      JobRec(2, 2, "x", 15.0, 20.0)) // a child's job: not the parent's
    val stats = Attribution.spanStats(parent +: kids, jobs).map(s => s.span.id -> s).toMap
    assert(stats(1).selfMs === 50.0)
    assert(stats(1).driverMs === 30.0)
    assert(stats(2).selfMs === 30.0)
    assert(stats(2).driverMs === 25.0)
    assert(stats(3).selfMs === 30.0)
    assert(stats(1).jobs.map(_.id) === Seq(1))
  }

  test("interval subtraction keeps the pieces a cut does not cover") {
    assert(Intervals.subtract(Seq((0.0, 10.0)), Seq((2.0, 3.0), (5.0, 12.0))) ===
      Seq((0.0, 2.0), (3.0, 5.0)))
    assert(Intervals.measure(Seq((0.0, 4.0), (2.0, 6.0), (8.0, 9.0))) === 7.0)
  }

  test("a job's call site is the first engine frame of Spark's long form") {
    val longForm = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)",
      "graft.sources.TableManager.append(TableManager.scala:111)",
      "graft.pipelines.BronzeSilverPipeline.run(Pipelines.scala:50)",
      "perfbench.MedallionDaily.day(MedallionDaily.scala:9)").mkString("\n")
    assert(CallSites.innermost(longForm) === "sources.TableManager")
    assert(CallSites.innermost("graft.Bench$.main(Bench.scala:3)") === "Bench")
    assert(CallSites.innermost("perfbench.Main$.main(Main.scala:1)") === CallSites.Unknown)
    assert(CallSites.innermost(null) === CallSites.Unknown)
  }

  test("records render in insertion order, with non-finite numbers as null") {
    val rec = Json.obj("b" -> 1.25, "a" -> Double.NaN, "c" -> Seq(1L, 2L), "d" -> Json.obj("x" -> None))
    assert(Json.render(rec) === """{"b":1.25,"a":null,"c":[1,2],"d":{"x":null}}""")
  }
}
