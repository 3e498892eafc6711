package graft.api.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Span-based values are the median
  * over replayed requests of the layer's self time in that request;
  * maintenance spans (fold, cold rewrite) run once per run; Spark counters
  * cover the timed window only.
  */
object Layers {
  import Stats.Metric

  def metrics(tr: Tracer, l: LayerListener, s: Sampler, w: Window,
      run: Run, res: Result, cores: Int): Seq[Metric] = {
    val spans = tr.all
    val kids = spans.groupBy(_.parent)
    def self(sp: Span): Double = Stats.selfTime(sp.startNs, sp.endNs,
      kids.getOrElse(sp.id, Nil).map(c => (c.startNs, c.endNs))) / 1e6
    /** Median over requests of the summed `f` of the request's `name` spans. */
    def perReq(name: String, f: Span => Double = self): Double =
      Stats.median(spans.filter(sp => sp.name == name && sp.req != 0)
        .groupBy(_.req).values.map(_.map(f).sum))
    def once(name: String): Double =
      spans.filter(sp => sp.name == name && sp.req == 0).map(_.durNs / 1e6).sum
    def outsideJobs(sp: Span): Double =
      (sp.durNs - Stats.coveredLength(l.jobsOf(sp.id), sp.startNs, sp.endNs)) / 1e6
    val compileJobs = spans.filter(_.name == "promql.compile")
      .map(sp => l.jobsOf(sp.id).size).sum
    val reads = l.pool("graft-reads")
    val readJobs = reads.jobs.sum
    val readsWait =
      if (readJobs == 0) 0.0
      else (reads.wallMs.sum - reads.taskMs.sum.toDouble / cores) / readJobs
    val pairs = run.pairs.asScala.toSeq
    val rawBytes = res.ackedPoints * 16.0 // 8 B timestamp + 8 B value
    val ms = Seq(
      Metric("streaming.decode_ms", perReq("streaming.decode"), "ms"),
      Metric("api.append_ms", perReq("api.append"), "ms"),
      Metric("api.flush_ms", perReq("api.flush"), "ms"),
      Metric("api.pending_max", s.pendingMax, "count"),
      Metric("store.hot_depth_max", s.hotDepthMax, "count"),
      Metric("store.mid_count_max", s.midCountMax, "count"),
      Metric("store.compact_ms", once("store.compact"), "ms"),
      Metric("store.cold_compact_ms", once("store.cold_compact"), "ms"),
      Metric("store.bytes_per_point", res.storedBytesPerPoint, "B/pt"),
      Metric("store.write_amp", if (rawBytes > 0) s.coldBytesWritten / rawBytes else 0, "ratio"),
      Metric("store.source_ms", perReq("store.source"), "ms"),
      Metric("promql.parse_ms", perReq("promql.parse"), "ms"),
      Metric("api.rewrite_ms", perReq("api.rewrite"), "ms"),
      Metric("promql.compile_ms", perReq("promql.compile"), "ms"),
      Metric("promql.compile_jobs", compileJobs, "count"),
      Metric("spark.analysis_ms", l.analysisMs.sum, "ms"),
      Metric("spark.optimization_ms", l.optimizationMs.sum, "ms"),
      Metric("spark.planning_ms", l.planningMs.sum, "ms"),
      Metric("spark.jobs", l.jobs.sum, "count"),
      Metric("spark.tasks", l.tasks.sum, "count"),
      Metric("spark.task_ms", l.taskMs.sum, "ms"),
      Metric("spark.shuffle_bytes", l.shuffleReadBytes.sum, "B"),
      Metric("spark.spill_bytes", l.spillBytes.sum, "B"),
      Metric("spark.utilization", l.taskMs.sum / (w.wallMs * cores), "ratio"),
      Metric("spark.reads_wait_ms", readsWait, "ms"),
      Metric("spark.writes_task_ms", l.pool("graft-writes").taskMs.sum, "ms"),
      Metric("spark.upkeep_task_ms", l.pool("graft-upkeep").taskMs.sum, "ms"),
      Metric("api.encode_ms", perReq("api.encode", outsideJobs), "ms"),
      Metric("api.read_frame_ms", perReq("api.read_frame"), "ms"),
      Metric("api.read_stream_ms", perReq("api.read_stream"), "ms"),
      Metric("api.http_residual_ms", Stats.median(pairs.map { case (r, h) => h - r }), "ms"),
      Metric("jvm.heap_peak_mb", w.heapPeakMb, "MB"),
      Metric("jvm.gc_ms", w.gcMs, "ms"),
      Metric("trace.latency_ms", res.latencyMs, "ms"))
    require(ms.map(_.name) == Names, "Layers.Names is out of date")
    ms
  }

  /** Names, in order; BENCHMARK.json's per_layer list must match. */
  val Names: Seq[String] = Seq("streaming.decode_ms", "api.append_ms",
    "api.flush_ms", "api.pending_max", "store.hot_depth_max",
    "store.mid_count_max", "store.compact_ms", "store.cold_compact_ms",
    "store.bytes_per_point", "store.write_amp", "store.source_ms", "promql.parse_ms",
    "api.rewrite_ms", "promql.compile_ms", "promql.compile_jobs",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.jobs", "spark.tasks", "spark.task_ms", "spark.shuffle_bytes",
    "spark.spill_bytes", "spark.utilization", "spark.reads_wait_ms",
    "spark.writes_task_ms", "spark.upkeep_task_ms", "api.encode_ms",
    "api.read_frame_ms", "api.read_stream_ms", "api.http_residual_ms",
    "jvm.heap_peak_mb", "jvm.gc_ms", "trace.latency_ms")
}
