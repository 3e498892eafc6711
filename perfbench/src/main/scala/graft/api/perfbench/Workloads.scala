package graft.api.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.api.{HttpApi, PromJson, QueryService, RequestOptions}
import graft.promql.{Compiler, EvalParams, Parser}
import graft.streaming.Prompb
import graft.tsdb.MatchEq

/** Per-run context handed to a workload. */
final class Run(val facade: Facade, val seed: Long, val seconds: Int,
    val jvmStartMs: Long) {
  val outcome = new Outcome
  /** Event-time anchor: the run's start, rounded down to the interval. */
  val anchorMs: Long = System.currentTimeMillis() / Gen.StepMs * Gen.StepMs
  def setupS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  /** Traced runs: (replayed layer calls ms, same request over HTTP ms). */
  val pairs = new ConcurrentLinkedQueue[(Double, Double)]()
  /** Called when timing starts and ends (traced runs snapshot counters). */
  @volatile var onWindow: Boolean => Unit = _ => ()
}

/** What a workload reports; Main turns it into the result line.
  * `latencyMs` is the end-to-end latency; `timed` summarizes every timed
  * request (median, tail and sample count) for the detail file. */
final case class Result(setupS: Double, throughputPerS: Double,
    latencyMs: Double, timed: Stats.Summary, storedBytesPerPoint: Double,
    detail: Seq[(String, String)], ackedPoints: Long)

object Workloads {
  val Names: Seq[String] = Seq("ingest", "dashboard")

  /** Tail percentile caps, fixed per workload so the percentile repeats
    * (reported in the detail file). */
  val TailCap: Map[String, Double] =
    Map("ingest" -> 99.0, "dashboard" -> 90.0)

  def run(name: String, r: Run): Result = name match {
    case "ingest" => ingest(r)
    case "dashboard" => dashboard(r)
  }

  private val ms = 1e6
  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f] $msg")
  private def elapsedS(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** `threads` closed-loop clients, each running `op` until the deadline;
    * returns each client's seconds from the start until its last `op`
    * returned. */
  def closedLoop(threads: Int, seconds: Double)(op: Int => Unit): Seq[Double] = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val took = new Array[Double](threads)
    val ts = (0 until threads).map(i => new Thread(() => {
      while (System.nanoTime() < deadline) op(i)
      took(i) = elapsedS(t0)
    }, s"client-$i"))
    ts.foreach(_.start()); ts.foreach(_.join())
    took.toSeq
  }

  /** Runs `op(i)` for every i in 0 until n, spread over `threads`. */
  def parallel(threads: Int, n: Int)(op: Int => Unit): Unit = {
    val next = new AtomicLong
    val ts = (0 until threads).map(t => new Thread(() => {
      var i = next.getAndIncrement()
      while (i < n) { op(i.toInt); i = next.getAndIncrement() }
    }, s"client-$t"))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** Median and tail; with fewer than 20 samples no percentile has ten
    * beyond it, and the median stands in for the tail (the detail file
    * records the sample count). */
  private def summary(r: Run, name: String, xs: Iterable[Double],
      cap: Double): Stats.Summary =
    Stats.summarize(xs, cap).getOrElse {
      if (xs.isEmpty) { r.outcome.fail(s"$name: no successful operation"); Stats.Summary(0, 0, 50, 0) }
      else {
        log(s"$name: only ${xs.size} samples; the tail is the median")
        val m = Stats.median(xs)
        Stats.Summary(xs.size, m, 50, m)
      }
    }

  private def summaryJson(s: Stats.Summary): String =
    s"""{"n":${s.n},"p50_ms":${Stats.num(s.p50)},"tail_pct":${Stats.num(s.tailP)},""" +
      s""""tail_ms":${Stats.num(s.tail)}}"""

  // ---- traced replays: the handler's call sequence through the public
  // and private[graft] functions, one span per layer ----

  private def replayWrite(f: Facade, tr: Tracer, tenant: String,
      body: Array[Byte]): Double = {
    val t0 = System.nanoTime()
    tr.request("op.write") {
      val series = tr.span("streaming.decode")(Prompb.decodeSnappy(body))
      tr.span("api.append")(f.api.write(series, tenant))
    }
    (System.nanoTime() - t0) / ms
  }

  private def replayQuery(f: Facade, tr: Tracer, tenant: String, q: String,
      p: EvalParams, instant: Boolean): (Double, String) = {
    val t0 = System.nanoTime()
    val body = tr.request(if (instant) "op.instant" else "op.range") {
      f.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-reads")
      tr.span("api.flush")(f.api.drainFlushes())
      val ast = tr.span("promql.parse")(Parser.parse(q))
      val (mint, maxt) = tr.span("api.rewrite")(QueryService.timeBounds(ast, p))
      val route = p.stepMs >= f.api.PreAggResolutionMs && !instant
      tr.span("store.source")(f.api.querySource(tenant, mint, maxt, route)) match {
        case None => ""
        case Some(src) =>
          val opts = RequestOptions(tenantLabel = Some((Gen.TenantLabel, tenant)),
            labelAliases = f.api.labelAliases)
          val parsed = tr.span("promql.parse")(Parser.parse(q))
          val rewritten = tr.span("api.rewrite")(QueryService.rewrite(parsed, opts))
          val df = tr.span("promql.compile")(Compiler.compile(rewritten, src, p))
          val labels = df.columns.filterNot(Set("eval_ms", "value")).toSeq
          tr.span("api.encode")(
            if (instant) PromJson.vector(df, labels) else PromJson.matrix(df, labels))
      }
    }
    ((System.nanoTime() - t0) / ms, body)
  }

  private def replayRemoteRead(f: Facade, tr: Tracer, tenant: String,
      body: Array[Byte]): Double = {
    val t0 = System.nanoTime()
    tr.request("op.remote_read") {
      f.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-reads")
      val req = tr.span("api.read_frame")(Prompb.decodeReadRequestFull(
        org.xerial.snappy.Snappy.uncompress(body)))
      val os = new java.io.ByteArrayOutputStream()
      req.queries.zipWithIndex.foreach { case (q, qi) =>
        val frame = tr.span("api.read_frame")(
          f.api.readSeriesFrame(q, Seq(MatchEq(Gen.TenantLabel, tenant))))
        tr.span("api.read_stream")(frame.foreach { df =>
          val it = df.withColumn("chunks", HttpApi.xorChunksUdf(
            col("samples.ts_ms"), col("samples.value")))
            .select("labels", "chunks").toLocalIterator()
          var batch = Vector.empty[Array[Byte]]
          var bytes = 0
          while (it.hasNext) {
            val row = it.next()
            val chunks = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
              "chunks").map(c => Prompb.ChunkMeta(c.getLong(0), c.getLong(1),
              c.getAs[Array[Byte]](2))).toSeq
            val sb = Prompb.encodeChunkedSeries(
              row.getAs[Map[String, String]]("labels"), chunks)
            batch :+= sb; bytes += sb.length
            if (bytes >= (1 << 20)) {
              Prompb.writeChunkedFrame(os, Prompb.encodeChunkedReadResponse(batch, qi.toLong))
              batch = Vector.empty; bytes = 0
            }
          }
          if (batch.nonEmpty)
            Prompb.writeChunkedFrame(os, Prompb.encodeChunkedReadResponse(batch, qi.toLong))
        })
      }
    }
    (System.nanoTime() - t0) / ms
  }

  /** `drainFlushes` as a request of its own: its `api.flush` span times
    * the pin path, from submitting the open batch until every queued batch
    * is pinned. */
  private def drain(f: Facade): Unit =
    f.tracer.fold(f.api.drainFlushes())(tr =>
      tr.request("op.drain")(tr.span("api.flush")(f.api.drainFlushes())))

  /** Runs `step` on its own thread, pausing `everyMs` after each, until
    * `stop`. */
  private def every(everyMs: Long, stop: () => Boolean)(step: Long => Unit): Thread = {
    val t = new Thread(() => {
      var i = 0L
      while (!stop()) { step(i); i += 1; Thread.sleep(everyMs) }
    }, "replay")
    t.start(); t
  }

  // ---- ingest ----

  /** Closed loop, 3 writer connections, each POST one agent's scrape. The
    * timed window runs until every acknowledged point is pinned, so the
    * throughput is what the pin path sustains, not what the buffer in front
    * of it absorbs. Event time runs 48 h behind the wall clock, so any full
    * fold spills everything it folds to the cold tier. */
  def ingest(r: Run): Result = {
    val f = r.facade
    val out = r.outcome
    val scr = new Gen.Scrapes(r.seed, r.anchorMs - 48 * 3600000L)
    val seq = new AtomicLong
    val acked = new AtomicLong
    def post(lat: Option[ConcurrentLinkedQueue[Double]]): Unit = {
      val p = seq.getAndIncrement()
      val (tenant, series) = scr.post(p)
      val body = Prompb.encodeSnappy(series)
      out.attempt("write") {
        val t0 = System.nanoTime()
        val rc = f.write(tenant, body)
        val took = (System.nanoTime() - t0) / ms
        if (rc == 204) {
          acked.addAndGet(scr.PointsPerPost); lat.foreach(_.add(took)); true
        } else { out.fail(s"write status $rc"); false }
      }
    }
    // warm-up: the first pins compile their plans
    parallel(3, 100)(_ => post(None))
    f.api.drainFlushes()
    val setupS = r.setupS
    log(s"setup done in $setupS s")

    val lat = new ConcurrentLinkedQueue[Double]()
    val ackedBefore = acked.get
    @volatile var done = false
    val replay = f.tracer.map { tr =>
      every(200, () => done) { _ =>
        val p = seq.getAndIncrement()
        val (tenant, series) = scr.post(p)
        val replayMs = replayWrite(f, tr, tenant, Prompb.encodeSnappy(series))
        acked.addAndGet(scr.PointsPerPost)
        val q = seq.getAndIncrement()
        val (t2, s2) = scr.post(q)
        val body = Prompb.encodeSnappy(s2)
        val t0 = System.nanoTime()
        if (f.write(t2, body) == 204) {
          acked.addAndGet(scr.PointsPerPost)
          r.pairs.add((replayMs, (System.nanoTime() - t0) / ms))
        } else out.fail("traced write failed")
      }
    }
    // the pin path, as a strict read-your-writes reader waits for it
    val drains = f.tracer.map(_ => every(1000, () => done)(_ => drain(f)))
    r.onWindow(true)
    val t0 = System.nanoTime()
    closedLoop(3, r.seconds)(_ => post(Some(lat)))
    done = true
    replay.foreach(_.join())
    drains.foreach(_.join())
    // acknowledged is not yet pinned: the window ends when every
    // acknowledged point is readable
    drain(f)
    val secs = elapsedS(t0)
    r.onWindow(false)
    log(s"load and drain took $secs s")
    val pts = acked.get - ackedBefore
    val head = summary(r, "write", lat.asScala, TailCap("ingest"))

    // traced runs also fold, spill, rewrite the cold tier and
    // pre-aggregate: every point is older than the hot-retain window, so
    // afterwards all of them are in cold parquet
    if (f.tracer.isDefined) f.settle(coldCompact = true)
    val n = f.readBack()
    if (n != acked.get) out.wrong(s"read back $n points, acknowledged ${acked.get}")
    val stored = if (f.tracer.isDefined) f.coldBytes().toDouble / acked.get else 0.0
    Result(setupS, pts / secs, head.p50, head, stored,
      Seq("write" -> summaryJson(head), "timed_s" -> Stats.num(secs),
        "acked_points" -> acked.get.toString, "read_back" -> n.toString,
        "posts" -> seq.get.toString), acked.get)
  }

  // ---- dashboard ----

  /** One dashboard panel request: its kind, tenant, PromQL and evaluation
    * range (or remote-read body), and the series (or sample) count the
    * generator implies. */
  final case class Panel(kind: String, tenant: String, q: String,
      p: EvalParams, expect: Long, readBody: Array[Byte])

  /** Dashboard reader connections. */
  val Readers = 2

  /** The dashboard's operation types, in rotation order. */
  val Kinds: Seq[String] = Seq("range_hot", "range_day", "instant", "remote_read")

  /** Replay/HTTP pairs per operation type for `api.http_residual_ms`. */
  val ResidualPairs = 2

  final class Dash(r: Run, f: Facade) {
    val Agents = 2
    val hist = new Gen.History(r.seed, r.anchorMs, 12, 2, Agents)
    val endS: Long = r.anchorMs / 1000
    private def enc(q: String) = java.net.URLEncoder.encode(q, "UTF-8")

    def hotRange(t: Int, v: Int, g: Int): Panel = {
      val q = v match {
        case 0 => s"sum by (instance) (rate(dash_counter_$g[5m]))"
        case 1 => "histogram_quantile(0.9, sum by (le) (rate(dash_latency_seconds_bucket[5m])))"
        case _ => s"sum by (instance) (dash_gauge_$g)"
      }
      Panel("range_hot", hist.tenant(t), q,
        EvalParams((endS - 3600) * 1000, endS * 1000, 30000),
        if (v == 1) 1 else Agents, null)
    }

    def dayRange(t: Int, v: Int, g: Int): Panel = {
      val fn = if (v == 0) "avg_over_time" else "max_over_time"
      Panel("range_day", hist.tenant(t), s"$fn(dash_gauge_$g[10m])",
        EvalParams((endS - hist.hours * 3600 + 600) * 1000, endS * 1000, 600000), Agents, null)
    }

    def instant(t: Int, v: Int, g: Int, back: Int): Panel = {
      val at = endS - 10L * back
      val k = hist.samples - 1 - back
      val (q, n) =
        if (v == 0) (s"topk(1, dash_gauge_$g)", 1L)
        else (s"dash_gauge_$g > 50",
          (0 until Agents).count(a => hist.gauge(t, a, g, k) > 50).toLong)
      Panel("instant", hist.tenant(t), q, EvalParams(at * 1000, at * 1000, 1000), n, null)
    }

    def remoteRead(t: Int, a: Int): Panel = {
      val start = r.anchorMs - 3600000L
      val body = org.xerial.snappy.Snappy.compress(Prompb.encodeReadRequest(
        Seq(Prompb.ReadQuery(start, r.anchorMs,
          Seq(MatchEq("job", "dash"), MatchEq("instance", s"agent$a")))),
        Seq(Prompb.ResponseTypeStreamedXorChunks)))
      val inWindow = (0 until hist.samples).count { k =>
        val ts = hist.tsMs(k); ts >= start && ts <= r.anchorMs }
      Panel("remote_read", hist.tenant(t), "", null,
        hist.SeriesPerAgent.toLong * inWindow, body)
    }

    /** Panel `i` of reader `reader`. The four operation types in equal
      * shares, in a fixed rotation, with the two readers half a rotation
      * apart. Each type cycles through its query shapes, so every run sends
      * the same shapes; the seed picks tenant, series, instant and agent. */
    def panel(reader: Int, i: Long): Panel = {
      def pick(salt: Int, n: Int): Int =
        (Gen.unit(r.seed, reader, i, salt) * n).toInt
      val t = pick(1, hist.tenants)
      val slot = i + 2 * reader
      val round = (slot / Kinds.size).toInt
      (slot % Kinds.size).toInt match {
        case 0 => hotRange(t, round % 3, pick(3, hist.Gauges))
        case 1 => dayRange(t, round % 2, pick(5, hist.Gauges))
        case 2 => instant(t, round % 2, pick(7, hist.Gauges), pick(8, 30))
        case _ => remoteRead(t, pick(9, Agents))
      }
    }

    /** Every panel variant once (warm-up). */
    def allVariants: Seq[Panel] =
      (0 until 3).map(hotRange(0, _, 1)) ++ (0 until 2).map(dayRange(0, _, 1)) ++
        (0 until 2).map(instant(0, _, 1, 3)) :+ remoteRead(0, 0)

    def url(pn: Panel): String = {
      val p = pn.p
      if (pn.kind == "instant")
        s"/api/v1/query?query=${enc(pn.q)}&time=${p.startMs / 1000}"
      else s"/api/v1/query_range?query=${enc(pn.q)}&start=${p.startMs / 1000}" +
        s"&end=${p.endMs / 1000}&step=${p.stepMs / 1000}"
    }

    /** Sends one panel over HTTP and checks its answer. */
    def send(pn: Panel): Boolean = {
      val out = r.outcome
      out.attempt(pn.kind) {
        if (pn.kind == "remote_read") {
          val resp = f.remoteRead(pn.tenant, pn.readBody)
          if (resp.statusCode != 200) { out.fail(s"remote read status ${resp.statusCode}"); false }
          else {
            val n = Prompb.readChunkedFrames(resp.body)
              .map(Prompb.decodeChunkedReadResponse).flatMap(_._2).flatMap(_._2)
              .map(c => graft.functions.XorChunk.decode(c.data).size.toLong).sum
            if (n != pn.expect) out.wrong(s"remote read: $n samples, expected ${pn.expect}")
            n == pn.expect
          }
        } else {
          val resp = f.get(url(pn), pn.tenant)
          if (resp.statusCode != 200) {
            out.fail(s"${pn.kind} status ${resp.statusCode}: ${resp.body.take(80)}"); false
          } else {
            val n = countSeries(resp.body)
            if (n != pn.expect) out.wrong(s"${pn.q}: $n series, expected ${pn.expect}")
            n == pn.expect
          }
        }
      }
    }

    def replay(tr: Tracer, pn: Panel): Double =
      if (pn.kind == "remote_read") replayRemoteRead(f, tr, pn.tenant, pn.readBody)
      else replayQuery(f, tr, pn.tenant, pn.q, pn.p, pn.kind == "instant")._1
  }

  /** Series in a Prometheus JSON query response. */
  def countSeries(body: String): Long =
    if (!body.contains("\"status\":\"success\"")) -1
    else "\"metric\":".r.findAllMatchIn(body).size.toLong

  /** Read-only, closed loop, 2 reader connections. Setup writes 12 h of
    * history through the wire path, then drains, folds, spills and
    * pre-aggregates; only the last 2 h stay hot, the rest is cold parquet
    * plus agg_5m. Each timed operation is one dashboard panel request. */
  def dashboard(r: Run): Result = {
    val f = r.facade
    val out = r.outcome
    val d = new Dash(r, f)
    val hist = d.hist
    val chunk = 720 // two hours of samples per series per POST
    val histOk = new AtomicLong
    val writers = (0 until hist.tenants).map { t =>
      new Thread(() => {
        val state = hist.newState
        (0 until hist.samples by chunk).foreach { k0 =>
          val body = Prompb.encodeSnappy(
            hist.chunk(t, k0, math.min(hist.samples, k0 + chunk), state))
          val rc = f.write(hist.tenant(t), body)
          if (rc == 204) histOk.incrementAndGet()
          else out.wrong(s"history write status $rc")
        }
      }, s"history-$t")
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    log(s"history written at ${r.setupS} s")
    f.settle(coldCompact = false)
    log(s"history folded at ${r.setupS} s")
    val coldPoints = hist.tenants.toLong * d.Agents * hist.SeriesPerAgent *
      (0 until hist.samples).count(k => hist.tsMs(k) < r.anchorMs - f.HotRetainMs)
    val stored = f.coldBytes().toDouble / coldPoints
    // warm-up: every panel variant once, so no plan compiles in the window
    val variants = d.allVariants
    parallel(Readers, variants.size)(i => d.send(variants(i)))
    val setupS = r.setupS
    log(s"setup done in $setupS s")

    // per reader: (panel index, kind, ms) of every answered panel
    val taken = Array.fill(Readers)(Vector.empty[(Long, String, Double)])
    @volatile var done = false
    val replay = f.tracer.map(tr =>
      every(1000, () => done)(i => d.replay(tr, d.panel(7, i))))
    val sent = Array.fill(Readers)(0L)
    r.onWindow(true)
    val secs = closedLoop(Readers, r.seconds) { reader =>
      val i = sent(reader)
      val pn = d.panel(reader, i)
      sent(reader) += 1
      val t0 = System.nanoTime()
      if (d.send(pn))
        taken(reader) :+= ((i, pn.kind, (System.nanoTime() - t0) / ms))
    }
    done = true
    replay.foreach(_.join())
    r.onWindow(false)
    // the HTTP residual: each replay and its HTTP twin back to back, with
    // the readers stopped, alternating which goes first; these spans go to
    // a tracer of their own, so the layer medians stay those under load
    f.tracer.foreach { _ =>
      val quiet = new Tracer(f.spark.sparkContext)
      (0 until ResidualPairs * Kinds.size).foreach { i =>
        val pn = d.panel(7, i)
        def http() = { val t0 = System.nanoTime(); d.send(pn); (System.nanoTime() - t0) / ms }
        val (replayMs, httpMs) =
          if (i % 2 == 0) { val a = d.replay(quiet, pn); (a, http()) }
          else { val h = http(); (d.replay(quiet, pn), h) }
        r.pairs.add((replayMs, httpMs))
      }
    }
    val head = summary(r, "panel", taken.flatten.map(_._3), TailCap("dashboard"))
    val kindMs = Kinds.map(k => k -> taken.flatten.toSeq.filter(_._2 == k).map(_._3)).toMap
    if (kindMs.values.exists(_.isEmpty)) out.fail("a panel kind had no successful request")
    val means = kindMs.map { case (k, xs) => k -> Stats.mean(xs) }
    // the mean panel latency with every operation type weighted equally
    val latencyMs = Kinds.map(means).sum / Kinds.size
    val perKind = Kinds.map { k =>
      k -> (s"""{"n":${kindMs(k).size},"p50_ms":${Stats.num(Stats.median(kindMs(k)))},""" +
        s""""mean_ms":${Stats.num(means(k))}}""")
    }
    val perReader = "readers" -> taken.map(_.map { case (i, k, t) =>
      s"""[$i,"$k",${Stats.num(t)}]""" }.mkString("[", ",", "]")).mkString("[", ",", "]")
    // each reader's answers over its own busy time, so a panel still
    // running at the deadline counts with the time it took
    val perS = taken.indices.map(rd => taken(rd).size / secs(rd)).sum
    Result(setupS, perS, latencyMs, head, stored,
      Seq("panel" -> summaryJson(head), "timed_s" -> Stats.num(secs.max),
        "history_points" -> hist.points.toString,
        "history_posts_ok" -> histOk.get.toString,
        "cold_points" -> coldPoints.toString) ++ perKind :+ perReader, hist.points)
  }
}
