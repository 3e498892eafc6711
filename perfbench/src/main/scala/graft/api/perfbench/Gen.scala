package graft.api.perfbench

import graft.streaming.Prompb.PromSeries

/** Seeded input generators. Every value is a pure function of the seed and
  * the sample's coordinates, so a check can recompute what any response
  * must contain. Timestamps are offsets from a run anchor: the facade ages
  * its hot tier against the wall clock, so the anchor is the run's start
  * rounded down to the scrape interval.
  */
object Gen {
  val TenantHeader = "X-SquirrelDB-Tenant"
  val TenantLabel = "__account_id" // the facade's constructor default
  val StepMs = 10000L // scrape interval

  def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, 1) from the seed and up to three coordinates. */
  def unit(seed: Long, a: Long, b: Long, c: Long): Double =
    (mix(mix(mix(seed ^ a) ^ b) ^ c) >>> 11) * (1.0 / (1L << 53))

  /** A seeded permutation of 0 until n. */
  def permutation(seed: Long, n: Int): IndexedSeq[Int] =
    (0 until n).sortBy(i => mix(seed * 31 + i))

  /** The remote-write stream of `ingest`, in the shape of the
    * reference's remote-storage-bench: 10 tenants × 10 agents × 20
    * metrics. Post `p` is one agent's scrape — 20 series × 10 samples =
    * 200 points — and event time advances 10 s per post, so every
    * (series, ts) is written once and the read-back count is exact.
    */
  final class Scrapes(seed: Long, val baseMs: Long) {
    val Tenants = 10
    val Agents = 10
    val Metrics = 20
    val Samples = 10
    val PointsPerPost: Long = Metrics.toLong * Samples
    private val order = permutation(seed, Tenants * Agents)

    def tenantOf(p: Long): Int = order((p % (Tenants * Agents)).toInt) / Agents
    def agentOf(p: Long): Int = order((p % (Tenants * Agents)).toInt) % Agents
    def tenant(t: Int): String = s"tenant$t"

    def post(p: Long): (String, Seq[PromSeries]) = {
      val a = agentOf(p)
      val series = (0 until Metrics).map { m =>
        PromSeries(
          Map("__name__" -> s"bench_metric_$m", "instance" -> s"agent$a",
            "job" -> "bench"),
          (0 until Samples).map { j =>
            (baseMs + p * StepMs + j * 1000L,
              math.floor(unit(seed, p, m, j) * 10000) / 100)
          })
      }
      (tenant(tenantOf(p)), series)
    }
  }

  /** The `dashboard` history: `tenants` × `agents` × (5 gauges + 5
    * counters + one 5-bucket histogram) at the 10 s scrape interval over
    * `hours`, ending at the anchor.
    */
  final class History(seed: Long, val endMs: Long, val hours: Int,
      val tenants: Int, val agents: Int) {
    val Gauges = 5
    val Counters = 5
    val Les: Seq[String] = Seq("0.01", "0.1", "0.5", "1", "+Inf")
    val SeriesPerAgent: Int = Gauges + Counters + Les.size
    val samples: Int = hours * 360
    def tsMs(k: Int): Long = endMs - (samples - 1 - k).toLong * StepMs
    def tenant(t: Int): String = s"dash$t"
    def points: Long = tenants.toLong * agents * SeriesPerAgent * samples

    private def key(t: Int, a: Int, s: Int): Long = (t * 1000L + a) * 100 + s

    def labels(a: Int, name: String): Map[String, String] =
      Map("__name__" -> name, "instance" -> s"agent$a", "job" -> "dash")

    /** Gauge `g` of tenant `t`, agent `a` at sample index `k`. */
    def gauge(t: Int, a: Int, g: Int, k: Int): Double =
      math.floor(unit(seed, key(t, a, g), k, 1) * 10000) / 100

    /** Samples `[k0, k1)` of every series of tenant `t`, continuing the
      * running counter state in `state` (one slot per (agent, series)).
      */
    def chunk(t: Int, k0: Int, k1: Int, state: Array[Double]): Seq[PromSeries] =
      (0 until agents).flatMap { a =>
        val gauges = (0 until Gauges).map(g => PromSeries(
          labels(a, s"dash_gauge_$g"), (k0 until k1).map(k => (tsMs(k), gauge(t, a, g, k)))))
        val counters = (0 until Counters).map { c =>
          val slot = a * SeriesPerAgent + Gauges + c
          PromSeries(labels(a, s"dash_counter_$c"), (k0 until k1).map { k =>
            state(slot) += math.floor(unit(seed, key(t, a, Gauges + c), k, 2) * 20)
            (tsMs(k), state(slot))
          })
        }
        // 10 observations per interval; bucket counts are cumulative in le
        val base = a * SeriesPerAgent + Gauges + Counters
        val perK = (k0 until k1).map { k =>
          val obs = Array.fill(Les.size)(0)
          (0 until 10).foreach { o =>
            val b = (unit(seed, key(t, a, 99), k, o) * Les.size).toInt
            (b until Les.size).foreach(i => obs(i) += 1)
          }
          (0 until Les.size).map { i => state(base + i) += obs(i); state(base + i) }
        }
        val hist = Les.indices.map(i => PromSeries(
          labels(a, "dash_latency_seconds_bucket") + ("le" -> Les(i)),
          (k0 until k1).zip(perK).map { case (k, v) => (tsMs(k), v(i)) }))
        gauges ++ counters ++ hist
      }

    def newState: Array[Double] = new Array[Double](agents * SeriesPerAgent)
  }
}
