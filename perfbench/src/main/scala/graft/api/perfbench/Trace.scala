package graft.api.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. Times are epoch nanoseconds (wall clock anchored
  * once, advanced by nanoTime) so they line up with listener job times.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer. Every span tags the Spark jobs its thread starts with a job group
  * naming the span, so [[LayerListener]] can attribute each job to the span
  * active when it started. Kept in memory; written out when the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)

  private val ids = new AtomicLong
  private val reqs = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  // (span id, request id) of the innermost open span on this thread
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A new request: a root span whose children share its request id. */
  def request[T](name: String)(body: => T): T = {
    val saved = stack.get
    stack.set(List((0L, reqs.incrementAndGet())))
    try span(name)(body) finally stack.set(saved)
  }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val (parent, req) = stack.get.headOption.getOrElse((0L, 0L))
    val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
    sc.setLocalProperty(Tracer.JobGroupKey, Tracer.group(id))
    stack.set((id, req) :: stack.get)
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.JobGroupKey, prevGroup)
      spans.add(Span(id, parent, req, name, t0, t1))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def toJson: String = all.sortBy(_.startNs).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
      s""""name":${Stats.jsonStr(s.name)},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs}}""").mkString("[", ",\n", "]")
}

object Tracer {
  /** The local property Spark stamps on each job as its job group. */
  val JobGroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"
  def group(id: Long): String = GroupPrefix + id
  def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)
}

/** Spark-side layer counters: a SparkListener for jobs, stages and tasks
  * (split by scheduler pool and by the job group a span set), and a
  * QueryExecutionListener for Catalyst's analysis, optimization and
  * planning phases. Registered only by traced runs.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  final class PoolStat {
    val jobs = new LongAdder; val wallMs = new LongAdder
    val taskMs = new LongAdder
  }
  val jobs = new LongAdder
  val tasks = new LongAdder
  val taskMs = new LongAdder
  val shuffleReadBytes = new LongAdder
  val spillBytes = new LongAdder
  val analysisMs = new LongAdder
  val optimizationMs = new LongAdder
  val planningMs = new LongAdder
  val pools = new ConcurrentHashMap[String, PoolStat]()
  /** span id → (job start, job end) epoch ns, for every job it started. */
  val spanJobs = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[(Long, Long)]]()

  import LayerListener.Open
  private val open = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val pool = props.flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
      .getOrElse("default")
    val span = props.flatMap(p =>
      Tracer.spanOf(p.getProperty(Tracer.JobGroupKey)))
    open.put(e.jobId, Open(pool, span, e.time, new AtomicLong))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    tasks.add(info.numTasks)
    val m = info.taskMetrics
    if (m != null) {
      taskMs.add(m.executorRunTime)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      for (j <- Option(stageJob.get(info.stageId)); o <- Option(open.get(j)))
        o.task.addAndGet(m.executorRunTime)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    stageJob.entrySet.removeIf(_.getValue == e.jobId)
    Option(open.remove(e.jobId)).foreach { o =>
      jobs.increment()
      val st = pools.computeIfAbsent(o.pool, _ => new PoolStat)
      st.jobs.increment()
      st.wallMs.add(e.time - o.startMs)
      st.taskMs.add(o.task.get)
      o.span.foreach(id => spanJobs.computeIfAbsent(id,
        _ => new ConcurrentLinkedQueue[(Long, Long)]())
        .add((o.startMs * 1000000L, e.time * 1000000L)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.add(p.durationMs))
    ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs))
    ph.get("planning").foreach(p => planningMs.add(p.durationMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def pool(name: String): PoolStat = pools.getOrDefault(name, new PoolStat)

  /** Job intervals started inside the given span. */
  def jobsOf(spanId: Long): Seq[(Long, Long)] =
    Option(spanJobs.get(spanId)).fold(Seq.empty[(Long, Long)])(_.asScala.toSeq)
}

object LayerListener {
  private final case class Open(pool: String, span: Option[Long],
      startMs: Long, task: AtomicLong)
}
