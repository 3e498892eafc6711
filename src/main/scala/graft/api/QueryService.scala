package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.promql.{Compiler, EvalParams, Expr, PromSource,
  Selector, FuncCall, InfoCall, LabelCall, Subquery, Agg, BinOp}
import graft.tsdb.{Matcher, MatchEq, Matchers, MutableMapping, MutableProvider}

/** The reference's per-request wrapper chain (§3.1:
  * `Store.ContextFromRequest` builds filteringIndex → limitingIndex →
  * limitingReader around every query, `api/promql/queryable.go:122-249`)
  * re-expressed as a front-end phase over the PromQL compiler:
  *
  *  - tenant header → an equality matcher on the tenant label injected
  *    into EVERY selector of the AST (F11, `queryable.go:153-166`);
  *  - forced matcher header → same injection (F10, prepended so user
  *    matchers cannot shadow it, `filtering_index.go:31-80`);
  *  - mutable-label rewrite applied per selector BEFORE plan construction
  *    (M1), so Catalyst only ever sees real-column predicates;
  *  - series limit (F13) and points limit (F14) enforced lazily inside
  *    the plan: capped probe counts raising once the result exceeds the
  *    budget — the analogues of `limiting_index.go:48-64` and
  *    `limiting_reader.go`'s aborts, with no extra action.
  *
  * Everything composes by AST rewrite + plan wrap; compilation still runs
  * zero Spark jobs.
  */
final case class RequestOptions(
    tenantLabel: Option[(String, String)] = None, // (label name, value)
    forced: Seq[Matcher] = Nil,
    mutable: Seq[MutableMapping] = Nil,
    maxSeries: Option[Long] = None,  // F13, limiting_index.go
    maxPoints: Option[Long] = None,  // F14, limiting_reader.go
    // UTF-8 label name -> its sanitized identity-column alias in the
    // source (grouping positions rewrite through this so the compiler
    // only ever sees plain-identifier columns; the facade renames back
    // at serialization)
    labelAliases: Map[String, String] = Map.empty)

object QueryService {

  /** Compile one parsed PromQL expression through the wrapper chain. The
    * caller parses once and reuses the AST (time bounds, pre-agg routing,
    * presentation order) — there is deliberately no `String` overload.
    */
  def queryRange(expr: Expr, src: PromSource, p: EvalParams,
      opts: RequestOptions = RequestOptions()): DataFrame = {
    val ast = rewrite(expr, opts)
    val df = Compiler.compile(ast, src, p)
    withLimits(df, src.labelCols, opts)
  }

  /** Conservative [mint, maxt] of the raw points a query can touch — the
    * Prometheus engine computes the same per-query bounds to clamp its
    * select (`promql/engine.go` findMinMaxTime): each selector reaches
    * back `range-or-lookback` plus its accumulated offsets (and any
    * enclosing subquery windows) from its evaluation grid; negative
    * offsets extend the future side; `@` pins the grid to one instant
    * (start()/end() resolve against the request range). Storage uses the
    * result for partition pruning; an expression with no selectors
    * returns the unbounded interval.
    */
  def timeBounds(e: Expr, p: EvalParams): (Long, Long) = {
    var mint = Long.MaxValue
    var maxt = Long.MinValue
    def resolveAt(at: Long): Long = at match {
      case Selector.AtStart => p.startMs
      case Selector.AtEnd => p.endMs
      case t => t
    }
    def go(e: Expr, ctxOffset: Long, ctxBack: Long): Unit = e match {
      case s: Selector =>
        val back = s.rangeMs.getOrElse(p.lookbackMs) + ctxBack
        val off = s.offsetMs + ctxOffset
        val (evalMin, evalMax) = s.atMs match {
          case Some(at) => val t = resolveAt(at); (t, t)
          case None => (p.startMs, p.endMs)
        }
        mint = math.min(mint, evalMin - off - back)
        maxt = math.max(maxt, evalMax - off)
      case Subquery(b, r, _, off) => go(b, ctxOffset + off, ctxBack + r)
      case FuncCall(_, a, _) => go(a, ctxOffset, ctxBack)
      case LabelCall(_, a, _) => go(a, ctxOffset, ctxBack)
      case InfoCall(a, sel, _) =>
        go(a, ctxOffset, ctxBack)
        // the info selector evaluates as an instant vector (lookback);
        // absent → the compiler's implicit target_info selector, same span
        sel match {
          case Some(s) => go(s, ctxOffset, ctxBack)
          case None => go(Selector(Some("target_info"), Seq.empty, None, 0L),
            ctxOffset, ctxBack)
        }
      case a: Agg => go(a.body, ctxOffset, ctxBack)
      case b: BinOp =>
        go(b.lhs, ctxOffset, ctxBack); go(b.rhs, ctxOffset, ctxBack)
      case _ => ()
    }
    go(e, 0L, 0L)
    if (mint == Long.MaxValue) (Long.MinValue, Long.MaxValue)
    else (mint, maxt)
  }

  /** A4 routing: which pre-aggregated column the query's selectors must
    * read, if ONE choice serves them all. The reference passes the
    * PromQL engine's per-select function hint to the reader and maps it
    * counter-safely (`cassandra/tsdb/read.go:57-72,594-613` — the rate
    * family reads `max` so averaging can't fake counter resets); here the
    * innermost enclosing function of each selector picks via
    * [[graft.tsdb.PreAgg.columnFor]]. Selectors that disagree (or an
    * expression with no selector) return None — the caller falls back to
    * raw data rather than serving one selector the wrong column.
    */
  def preAggColumn(e: Expr): Option[String] = {
    def go(e: Expr, enclosing: Option[String]): Seq[String] = e match {
      case _: Selector =>
        Seq(enclosing.fold("avg")(graft.tsdb.PreAgg.columnFor))
      case FuncCall(fn, a, _) => go(a, Some(fn))
      case LabelCall(_, a, _) => go(a, enclosing)
      case InfoCall(a, _, _) =>
        // the info side reads the avg column (gauge); disagreement with
        // the metric side falls back to raw, never the wrong column
        go(a, enclosing) :+ graft.tsdb.PreAgg.columnFor("info")
      case Subquery(b, _, _, _) => go(b, enclosing)
      case a: Agg => go(a.body, enclosing)
      case b: BinOp => go(b.lhs, enclosing) ++ go(b.rhs, enclosing)
      case _ => Seq.empty
    }
    go(e, None).distinct match {
      case Seq(one) => Some(one)
      case _ => None
    }
  }

  /** Inject tenant + forced matchers into every selector and apply the
    * mutable-label rewrite — the whole wrapper chain is one AST pass.
    */
  def rewrite(e: Expr, opts: RequestOptions): Expr = {
    val injected: Seq[Matcher] =
      opts.tenantLabel.map { case (l, v) => MatchEq(l, v) }.toSeq ++
        opts.forced
    // UTF-8 grouping labels rewrite to their sanitized source columns
    def alias(ls: Seq[String]): Seq[String] =
      ls.map(l => opts.labelAliases.getOrElse(l, l))
    def go(e: Expr): Expr = e match {
      case s: Selector =>
        val rewritten = MutableProvider.rewriteAll(s.matchers, opts.mutable)
        s.copy(matchers = Matchers.withForced(rewritten, injected))
      case FuncCall(fn, a, ps) => FuncCall(fn, go(a), ps)
      case LabelCall(fn, a, ss) => LabelCall(fn, go(a), ss)
      case InfoCall(a, sel, names) =>
        // tenant/forced matchers apply to the info selector too — an
        // explicit one via the selector rewrite, an implicit one by
        // materializing it here so injection has a selector to land on;
        // the parse-time data-label names are preserved so injection
        // never widens the copied-label set
        val s = sel.getOrElse(Selector(Some("target_info"),
          Seq.empty, None, 0L))
        InfoCall(go(a), Some(go(s).asInstanceOf[Selector]), names)
      case Subquery(b, r, st, off) => Subquery(go(b), r, st, off)
      case a: Agg => a.copy(by = alias(a.by), body = go(a.body))
      case b: BinOp => b.copy(lhs = go(b.lhs), rhs = go(b.rhs),
        on = alias(b.on), ignoring = alias(b.ignoring),
        groupLabels = alias(b.groupLabels))
      case other => other
    }
    go(e)
  }

  /** F13 (series) and F14 (points) as lazy plan guards — the analogue of
    * the reference's `limiting_index.go` / `limiting_reader.go` aborts.
    *
    * Both use the probe-with-limit(n+1) pattern (PointOps.seriesLimit):
    * the counting subtree is capped at n+1 rows, so the probe never
    * materializes more than one row past the budget — at 100 TB the
    * points probe is a CollectLimit that stops scanning after n+1 rows,
    * not a full count. Each probe is a 1-row broadcast cross join; the
    * guard raises lazily from the value column at evaluation.
    */
  private def withLimits(df: DataFrame, labels: Seq[String],
      opts: RequestOptions): DataFrame = {
    var out = df
    var guards = List.empty[(Column, Column)] // (over-cap condition, error)
    opts.maxSeries.foreach { n =>
      val present = labels.filter(df.columns.contains)
      if (present.nonEmpty) {
        val probeN = math.min(n + 1, Int.MaxValue.toLong - 1).toInt
        val cnt = df.select(present.map(col): _*).distinct().limit(probeN)
          .agg(count(lit(1)).as("__n_series"))
        out = out.crossJoin(broadcast(cnt))
        guards ::= (col("__n_series") > n,
          raise_error(lit(s"query selected more than $n series")))
      }
    }
    opts.maxPoints.foreach { n =>
      val probeN = math.min(n + 1, Int.MaxValue.toLong - 1).toInt
      val cnt = df.limit(probeN).agg(count(lit(1)).as("__n_points"))
      out = out.crossJoin(broadcast(cnt))
      guards ::= (col("__n_points") > n,
        raise_error(lit(s"query would return more than $n points")))
    }
    if (guards.isEmpty) return df
    val guarded = guards.foldLeft(col("value")) { case (acc, (cond, err)) =>
      when(cond, err.cast("double")).otherwise(acc)
    }
    out.withColumn("value", guarded).drop("__n_series", "__n_points")
  }
}
