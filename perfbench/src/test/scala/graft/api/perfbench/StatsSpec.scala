package graft.api.perfbench

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile is nearest-rank") {
    val a = (1 to 100).map(_.toDouble).toArray
    assert(percentile(a, 50) == 50)
    assert(percentile(a, 99) == 99)
    assert(percentile(a, 100) == 100)
    assert(percentile(Array(7.0), 99) == 7)
  }

  test("tail percentile leaves at least ten samples beyond it") {
    assert(tailPercentile(1000, 99) == Some(99.0)) // 10 beyond p99
    assert(tailPercentile(999, 99) == Some(95.0)) // p99 would leave 9
    assert(tailPercentile(100000, 90) == Some(90.0)) // capped
    assert(tailPercentile(40, 90) == Some(75.0))
    assert(tailPercentile(28, 90) == Some(50.0))
    assert(tailPercentile(19, 90) == None)
    for (n <- 20 to 3000; p <- tailPercentile(n, 99.9)) assert(beyond(n, p) >= 10)
  }

  test("summarize reports the median and the chosen tail") {
    val s = summarize((1 to 1000).map(_.toDouble), 99).get
    assert(s == Summary(1000, 500, 99, 990))
    assert(summarize(Seq(1.0, 2.0), 99).isEmpty)
  }

  test("mean and median of no samples are 0") {
    assert(mean(Seq(1.0, 2.0, 6.0)) == 3)
    assert(mean(Nil) == 0 && median(Nil) == 0)
  }

  test("steal is the eighth /proc/stat field's share of the ticks") {
    val a = Seq(100L, 0, 50, 800, 0, 0, 0, 50, 0, 0)
    val b = Seq(200L, 0, 100, 1500, 0, 0, 0, 200, 0, 0)
    assert(Main.stealPct(a, b) == 15.0) // 150 of 1000 ticks
    assert(Main.stealPct(Nil, Nil) == -1.0)
  }

  test("span self time subtracts the union of its children") {
    assert(selfTime(0, 100, Nil) == 100)
    // overlapping children count once; a child running past the parent's
    // end is clipped to it
    assert(selfTime(0, 100, Seq((10, 30), (20, 50), (90, 120))) == 50)
    assert(selfTime(0, 100, Seq((0, 100), (40, 60))) == 0)
    assert(coveredLength(Seq((5, 5), (50, 40)), 0, 100) == 0)
  }

  test("numbers print the same in every locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(num(1.5) == "1.5")
      assert(num(3.0) == "3")
      assert(numSig(1234.56789, 6) == "1234.57")
      assert(resultLine(true, 1, 0, Seq(Metric("x", 0.25, "ms")), None) ==
        """{"correct":true,"attempted":1,"failed":0,"metrics":{"x":{"value":0.25,"unit":"ms"}}}""")
    } finally Locale.setDefault(saved)
    intercept[IllegalArgumentException](num(Double.NaN))
  }

  test("the result line stays under its size cap") {
    val worst = -123456.78901234567
    val e2e = Seq("setup_s", "throughput_per_s", "latency_ms")
      .map(Metric(_, worst, "1/s"))
    assert(resultLine(false, Long.MaxValue, Long.MaxValue, e2e, None).length < LineCap)
    val layers = Layers.Names.map(Metric(_, worst, "ratio"))
    assert(resultLine(false, Long.MaxValue, Long.MaxValue, layers, Some(6)).length < LineCap)
  }

  test("series are counted from a Prometheus JSON response") {
    assert(Workloads.countSeries(
      """{"status":"success","data":{"resultType":"vector","result":[""" +
        """{"metric":{"a":"1"},"value":[1,"2"]},{"metric":{},"value":[1,"3"]}]}}""") == 2)
    assert(Workloads.countSeries("""{"status":"error"}""") == -1)
  }
}
