package graft.api.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry. `perfbench/run.py` builds the program and this harness
  * and starts it as
  * `Main --workload W --seed N --seconds S --trace 0|1 --workdir DIR
  * --detail FILE --commit C`. It prints each metric by name with its unit,
  * a summary line (workload, seed, errors, run context, detail file) and,
  * last, the result line a benchmark runner parses. Untraced runs report the
  * end-to-end metrics; traced runs the per-layer ones.
  */
object Main {
  import Stats.Metric

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val workDir = Paths.get(opt("workdir"))
    val detailPath = Paths.get(opt("detail"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg
    val cpuStart = cpuTicks

    val spark = session(cores, workDir)
    val listener = if (traced) Some(new LayerListener) else None
    val facade = new Facade(spark, workDir, traced)
    val sampler = if (traced) Some(new Sampler(facade)) else None
    val run = new Run(facade, seed, seconds, jvmStartMs)
    val window = new Window(listener, spark)
    run.onWindow = on => { sampler.foreach(_.window = on); window.mark(on) }

    val res = try Workloads.run(workload, run) finally {
      sampler.foreach(_.stop())
      facade.stop()
    }
    spark.stop()
    val loadEnd = loadAvg
    val cpuEnd = cpuTicks

    val out = run.outcome
    val e2e = Seq(
      Metric("setup_s", res.setupS, "s"),
      Metric("throughput_per_s", res.throughputPerS, "1/s"),
      Metric("latency_ms", res.latencyMs, "ms"))
    val layers = (facade.tracer, sampler) match {
      case (Some(tr), Some(s)) =>
        Layers.metrics(tr, listener.get, s, window, run, res, cores)
      case _ => Nil
    }
    val shown = if (traced) layers else e2e
    val attempted = math.max(1L, out.attempted.get)
    val errors = out.errors.asScala.toSeq
    val context = Seq(
      "nproc" -> cores.toString,
      "load_avg_start" -> Stats.num(loadStart),
      "load_avg_end" -> Stats.num(loadEnd),
      "cpu_steal_pct" -> Stats.num(stealPct(cpuStart, cpuEnd)),
      "window_gc_ms" -> window.gcMs.toString,
      "window_heap_peak_mb" -> Stats.num(window.heapPeakMb),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "commit" -> Stats.jsonStr(opt.getOrElse("commit", "unknown")),
      "seed" -> seed.toString, "workload" -> Stats.jsonStr(workload),
      "seconds" -> seconds.toString, "traced" -> traced.toString,
      "tail_pct" -> Stats.num(res.timed.tailP),
      "tail_samples" -> res.timed.n.toString)
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s"${Stats.jsonStr(k)}:$v" }.mkString("{", ",", "}")
    def metricsObj(ms: Seq[Metric]) = obj(ms.map(m =>
      m.name -> s"""{"value":${Stats.num(m.value)},"unit":${Stats.jsonStr(m.unit)}}"""))
    val detail = obj(Seq(
      "context" -> obj(context),
      "correct" -> out.correct.toString,
      "attempted" -> attempted.toString, "failed" -> out.failed.get.toString,
      "error_ratio" -> Stats.num(out.failed.get.toDouble / attempted),
      "errors" -> errors.map(Stats.jsonStr).mkString("[", ",", "]"),
      "end_to_end" -> metricsObj(e2e),
      "per_layer" -> metricsObj(layers),
      "workload_detail" -> obj(res.detail)))
    Files.createDirectories(detailPath.getParent)
    Files.write(detailPath, (detail + "\n").getBytes("UTF-8"))
    facade.tracer.foreach { tr =>
      val spansPath = Paths.get(detailPath.toString.stripSuffix(".json") + ".spans.json")
      Files.write(spansPath, tr.toJson.getBytes("UTF-8"))
    }

    shown.foreach(m => println(s"metric ${m.name} = ${Stats.num(m.value)} ${m.unit}"))
    println(s"timed requests: ${res.timed.n}, median ${Stats.num(res.timed.p50)} ms, " +
      s"p${Stats.num(res.timed.tailP)} ${Stats.num(res.timed.tail)} ms")
    println(obj(Seq("workload" -> Stats.jsonStr(workload), "seed" -> seed.toString,
      "errors" -> errors.take(3).map(e => Stats.jsonStr(e.take(80))).mkString("[", ",", "]"),
      "context" -> obj(context.take(4)),
      "detail" -> Stats.jsonStr(detailPath.toString))))
    println(Stats.resultLine(out.correct, attempted, out.failed.get, shown,
      if (traced) Some(6) else None))
    System.out.flush()
    // the facade's upkeep executors are non-daemon; the run is over
    System.exit(0)
  }

  /** The machine's CPU ticks (the `cpu` line of /proc/stat), empty where
    * there is none. */
  def cpuTicks: Seq[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
    finally src.close()
  }.getOrElse(Nil)

  /** Share of CPU time the hypervisor took from this machine between two
    * readings (the eighth `cpu` field is steal time), in percent; -1 when
    * not available. A run with high steal drifted with its host. */
  def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size != a.size) -1.0
    else {
      val total = b.take(8).sum - a.take(8).sum
      if (total <= 0) -1.0 else 100.0 * (b(7) - a(7)) / total
    }

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** `local[nproc]` under the FAIR scheduler with the facade's three pools
    * (reads guaranteed slots ahead of pins and upkeep, as in the repo's
    * soak harness); all scratch space inside the run directory. */
  def session(cores: Int, workDir: Path): SparkSession = {
    val pools = workDir.resolve("pools.xml")
    Files.createDirectories(workDir)
    Files.write(pools,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-reads"><schedulingMode>FIFO</schedulingMode>
        |    <weight>8</weight><minShare>16</minShare></pool>
        |  <pool name="graft-writes"><schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight><minShare>0</minShare></pool>
        |  <pool name="graft-upkeep"><schedulingMode>FIFO</schedulingMode>
        |    <weight>1</weight><minShare>0</minShare></pool>
        |</allocations>""".stripMargin.getBytes("UTF-8"))
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools.toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Polls the facade's gauges (traced runs): queue and union depths every
  * 10 ms, and the cold tier's files every 250 ms so bytes written count
  * files that later generations replaced. */
final class Sampler(f: Facade) {
  @volatile private var running = true
  @volatile var window = false
  @volatile var pendingMax = 0
  @volatile var hotDepthMax = 0
  @volatile var midCountMax = 0
  val coldSeen = new java.util.concurrent.ConcurrentHashMap[Object, java.lang.Long]()
  private val t = new Thread(() => {
    var i = 0L
    while (running) {
      if (window) {
        pendingMax = math.max(pendingMax, f.api.pendingBatches)
        hotDepthMax = math.max(hotDepthMax, f.api.hotDepth)
        midCountMax = math.max(midCountMax, f.api.midCount)
      }
      if (i % 25 == 0) Facade.uniqueBytes(f.coldDir, coldSeen)
      i += 1
      Thread.sleep(10)
    }
  }, "gauge-sampler")
  t.setDaemon(true)
  t.start()

  def coldBytesWritten: Long = {
    Facade.uniqueBytes(f.coldDir, coldSeen)
    coldSeen.values.asScala.map(_.longValue).sum
  }
  def stop(): Unit = { running = false; t.join() }
}

/** The timed window: wall time, JVM heap and GC; traced runs register the
  * layer listener for its duration. */
final class Window(listener: Option[LayerListener], spark: SparkSession) {
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  @volatile var gcMs = 0L
  @volatile var heapPeakMb = 0.0

  private def gcTotal: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def mark(start: Boolean): Unit = {
    if (start) {
      listener.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
      }
      heapPools.foreach(_.resetPeakUsage())
      gcMs = gcTotal
      startNs = System.nanoTime()
    } else {
      endNs = System.nanoTime()
      gcMs = gcTotal - gcMs
      heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      listener.foreach { l =>
        // the listener bus is asynchronous: let the window's last events land
        Thread.sleep(500)
        spark.listenerManager.unregister(l)
        spark.sparkContext.removeSparkListener(l)
      }
    }
  }

  def wallMs: Double = (endNs - startNs) / 1e6
}
