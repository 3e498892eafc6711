package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * writes {"metric":…,"queries":{…}} to BENCH.json (or
  * SPARK_GRAFT_BENCH_OUT) and prints a compact summary of it — total,
  * passes, n_queries, the crashed queries in `errors`, calibration, load
  * and `queries_file` — as the last stdout line, at most
  * [[MaxSummaryChars]] long. Queries run in sorted
  * name order so timings are comparable across rounds. Set
  * SPARK_GRAFT_BENCH_PASSES=2 to run a second timed pass (the reported
  * number is the minimum per query — steady-state, warmup excluded).
  *
  * Drift calibration (VERDICT r9 #6): uniform ×1.1-1.2 suite-wide
  * inflation with unchanged plans showed up twice (r8→r9) and cost real
  * analysis both times. The artifact now carries enough to separate
  * environment drift from regression at a glance: the 1-minute system
  * load average at start and end, plus a fixed CALIBRATION QUERY
  * (sc1_math_fns — pure projection, plan untouched for rounds) timed
  * steady-state (post-warmup) first and again last. If calib_first/last
  * moved with the suite, it's the machine; if they held while a query
  * moved, it's the query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Three passes by default: pass 1 pays JVM/codegen warmup (observed
    // 3-4× inflation on random queries) and min-of-3 suppresses the pass
    // noise that produced phantom regressions in round 5; min-per-query =
    // steady-state cost.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // local iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the set
    // (the driver never sets it — full run is the default)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))

    def loadAvg: Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    val CalibQuery = "sc1_math_fns"
    def calib(): Double = {
      val fn = SparkEntry.queries(CalibQuery)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }

    val loadStart = loadAvg
    calib() // untimed: JVM/codegen warmup must not contaminate the pair
    val calibFirst = calib()

    var results = Map.empty[String, Double]
    // a crashed query is an ERROR, never a time: it leaves `results` and
    // the total and is named in the summary line's `errors` list
    var errors = Vector.empty[String]
    for (pass <- 1 to passes; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // per-query pin scope: each invocation re-pins, so the previous
      // query's staged pins are dead — a scoped clear keeps a multi-pass
      // run's staging disk bounded by ONE query's pins (not the whole
      // suite × passes) without ever racing another unit of work
      val scope = graft.store.Stage.open()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench ERROR] $name ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(200))
          false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.store.Stage.clear(spark, scope) // untimed: boundary hygiene
      System.err.println(s"[bench pass$pass] $name ${f3(sec)}s")
      if (!ok && !errors.contains(name)) errors :+= name
      results += (name -> math.min(sec, results.getOrElse(name, Double.MaxValue)))
    }
    results --= errors

    val calibLast = calib()
    val loadEnd = loadAvg
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val total = results.values.sum
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    def line(errs: Seq[String], more: String = ""): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""passes":$passes,"n_queries":${names.size},""" +
        s""""n_errors":${errors.size},""" +
        errs.map("\"" + _ + "\"").mkString("\"errors\":[", ",", "],") +
        s""""calib_query":"$CalibQuery",""" +
        s""""calib_first_sec":${f3(calibFirst)},""" +
        s""""calib_last_sec":${f3(calibLast)},""" +
        s""""load_avg_start":${f3(loadStart)},""" +
        s""""load_avg_end":${f3(loadEnd)},"queries_file":"$out"$more}"""
    // the file is the artifact of record: the summary plus the per-query
    // map, which a bounded stdout tail cannot hold (143 queries ≈ 3.7 KB)
    val json = line(errors, s""","sf":"$sfDir","queries":$qs""")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    // the last stdout line must fit a 2,000-char tail: at most 1.9 KB,
    // so a long error list keeps only the names that fit (`n_errors`
    // still counts them all)
    val summary = errors.inits.map(line(_))
      .find(_.length <= MaxSummaryChars).getOrElse(line(Nil))
    // stop Spark BEFORE printing so the JSON is the final repo-emitted
    // stdout line (only sbt's own [success] trailer can follow it), then
    // flush explicitly — the driver parses the line from a bounded tail
    spark.stop()
    println(summary)
    System.out.flush()
  }

  /** Size cap of the final stdout line (a 2,000-char tail, with room). */
  val MaxSummaryChars = 1900

  /** Seconds at 1 ms resolution, locale-independent (a `f""` format
    * follows the JVM default locale and can print a decimal comma).
    */
  def f3(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
    Double.box(d))
}
