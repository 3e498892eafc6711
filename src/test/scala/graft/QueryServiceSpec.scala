package graft

import org.apache.spark.sql.functions._

import graft.api.{QueryService, RequestOptions}
import graft.promql.{EvalParams, Parser, PromSource}
import graft.tsdb._

/** §3.1 per-request wrapper chain: tenant and forced matchers reach every
  * selector, mutable labels rewrite before plan build, the series limit
  * aborts lazily.
  */
class QueryServiceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val Start = 1704067200000L
  private val End = 1706659200000L
  private val Hour = 3600000L
  private val p = EvalParams(Start, End, Hour, lookbackMs = 86400000L)

  private lazy val pts = Tables.points(spark, sfDir)
    .groupBy("event_type", "ts_ms")
    .agg(max_by(col("value"), col("event_id")).as("value"))

  private lazy val src = PromSource(pts, Seq("event_type"), {
    case "__name__" => lit("events")
    case "event_type" => col("event_type")
  })

  test("tenant + forced matchers are injected into every selector") {
    val opts = RequestOptions(
      tenantLabel = Some(("event_type", "click")))
    // both sides of the binop get the tenant filter — the non-click side
    // becomes empty, so the sum equals the click-only sum
    val got = QueryService.queryRange(
      Parser.parse("""sum(events) + sum(events{event_type=~"click|view"})"""),
      src, p, opts)
    val clickOnly =
      QueryService.queryRange(Parser.parse("sum(events) * 2"), src, p, opts)
    val joined = got.withColumnRenamed("value", "a")
      .join(clickOnly.withColumnRenamed("value", "b"), "eval_ms")
    assert(joined.where(col("a") =!= col("b")).count() === 0L)
    assert(got.count() > 0)

    // a user matcher cannot shadow the forced one: forced click ∧ user view = ∅
    val shadowed = QueryService.queryRange(
      Parser.parse("""events{event_type="view"}"""), src, p,
      RequestOptions(forced = Seq(MatchEq("event_type", "click"))))
    assert(shadowed.count() === 0L)
  }

  test("per-selector routing hint: innermost enclosing function reaches " +
    "routeFor, including through subqueries (counter safety)") {
    import graft.promql.Compiler
    val calls = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val recording = src.copy(routeFor = { fn => calls += fn; None })
    def hintsOf(q: String): Seq[Option[String]] = {
      calls.clear()
      Compiler.compile(Parser.parse(q), recording, p)
      calls.toSeq
    }
    assert(hintsOf("events") === Seq(None))
    assert(hintsOf("rate(events[2h])") === Seq(Some("rate")))
    // the subquery body inherits the OUTER range function (Prometheus
    // propagates select hints through subqueries): rate over a counter
    // subquery must read the counter-safe max column, not avg
    assert(hintsOf("rate(events[2h:1h])") === Seq(Some("rate")))
    assert(hintsOf("max_over_time(sum(events)[2h:1h])")
      === Seq(Some("max_over_time")))
    // ...but a closer enclosing function wins (innermost rule)
    assert(hintsOf("rate(abs(events)[2h:1h])") === Seq(Some("abs")))
    // mixed binop: each selector carries its own hint
    assert(hintsOf("max_over_time(events[2h]) + min_over_time(events[2h])")
      .toSet === Set(Some("max_over_time"), Some("min_over_time")))
  }

  test("mutable labels rewrite inside the service chain") {
    val mapping = MutableMapping("t1", "group", "event_type",
      Map("interactive" -> Seq("click", "view")))
    val got = QueryService.queryRange(
      Parser.parse("""sum(events{group="interactive"})"""), src, p,
      RequestOptions(mutable = Seq(mapping)))
    val want = QueryService.queryRange(
      Parser.parse("""sum(events{event_type=~"click|view"})"""), src, p)
    val joined = got.withColumnRenamed("value", "a")
      .join(want.withColumnRenamed("value", "b"), "eval_ms")
    assert(joined.where(col("a") =!= col("b")).count() === 0L)
    assert(got.count() > 0)
  }

  test("series limit aborts lazily when exceeded, passes under the cap") {
    val under = QueryService.queryRange(Parser.parse("events"), src, p,
      RequestOptions(maxSeries = Some(100)))
    assert(under.count() > 0) // 5 event types ≤ 100
    val over = QueryService.queryRange(Parser.parse("events"), src, p,
      RequestOptions(maxSeries = Some(2)))
    intercept[Exception](over.collect())
  }

  test("points limit (F14) aborts through the chain; both limits compose") {
    val under = QueryService.queryRange(Parser.parse("events"), src, p,
      RequestOptions(maxPoints = Some(1000000)))
    assert(under.count() > 0)
    val over = QueryService.queryRange(Parser.parse("events"), src, p,
      RequestOptions(maxPoints = Some(10)))
    val e = intercept[Exception](over.collect())
    assert(e.getMessage.contains("points")
      || Option(e.getCause).exists(_.getMessage.contains("points")))
    // both limits set: the tighter one fires
    val both = QueryService.queryRange(Parser.parse("events"), src, p,
      RequestOptions(maxSeries = Some(100), maxPoints = Some(10)))
    intercept[Exception](both.collect())
    val bothOk = QueryService.queryRange(Parser.parse("sum(events)"), src, p,
      RequestOptions(maxSeries = Some(100), maxPoints = Some(1000000)))
    assert(bothOk.count() > 0)
  }

  test("timeBounds: per-query [mint, maxt] like the Prometheus engine") {
    import graft.promql.{EvalParams, Parser}
    val S = 1000000L
    val E = 2000000L
    val L = 300000L // lookback
    val p = EvalParams(S, E, 60000L, lookbackMs = L)
    def b(q: String) = QueryService.timeBounds(Parser.parse(q), p)
    // instant selector: lookback behind the grid
    assert(b("m") === (S - L, E))
    // range selector: the range replaces the lookback
    assert(b("rate(m[1h])") === (S - 3600000L, E))
    // offset shifts both ends
    assert(b("m offset 1m") === (S - 60000L - L, E - 60000L))
    // negative offset extends the future side
    assert(b("m offset -1m") === (S + 60000L - L, E + 60000L))
    // subquery: window widens the lookbehind, its offset accumulates
    assert(b("max_over_time(m[10m:1m] offset 2m)") ===
      (S - 120000L - 600000L - L, E - 120000L))
    // binop takes the union of both sides
    assert(b("m / rate(n[30m])") === (S - 1800000L, E))
    // @ pins the grid to one instant (here: end())
    assert(b("m @ end()") === (E - L, E))
    // no selectors → unbounded (nothing to clamp)
    assert(b("time()") === (Long.MinValue, Long.MaxValue))
  }
}
