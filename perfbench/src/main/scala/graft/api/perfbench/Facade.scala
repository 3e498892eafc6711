package graft.api.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi

/** Failed operations and failed correctness checks of one run. */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val errors = new ConcurrentLinkedQueue[String]()
  @volatile var correct = true

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 10) errors.add(msg.take(160))
    System.err.println(s"[perfbench] $msg")
  }

  /** A wrong output: counted as a failure and it makes the run incorrect. */
  def wrong(msg: String): Unit = { correct = false; fail(s"check: $msg") }

  /** Runs one timed operation; an exception counts as a failed op. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted.incrementAndGet()
    try body catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
  }
}

/** The facade under test, in the one configuration every workload uses:
  * 8 posts per pinned batch (the flush policy of the repo's facade and soak
  * harnesses), the durable cold tier on, every other constructor argument
  * at its default. Requests go over a real 127.0.0.1 socket, one
  * connection per client thread.
  */
final class Facade(val spark: SparkSession, workDir: Path, traced: Boolean) {
  val coldDir: Path = workDir.resolve("cold")
  val api = new HttpApi(spark, flushEveryPosts = 8,
    durablePath = Some(coldDir.toString))
  val port: Int = api.start(0)
  val tracer: Option[Tracer] =
    if (traced) Some(new Tracer(spark.sparkContext)) else None
  /** The hot-retain window, the constructor default. */
  val HotRetainMs: Long = 2 * 3600000L

  def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  private val clients = new ThreadLocal[HttpClient] {
    override def initialValue(): HttpClient =
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  }
  private def uri(pathAndQuery: String) =
    URI.create(s"http://127.0.0.1:$port$pathAndQuery")

  /** Remote-write POST; returns the HTTP status. */
  def write(tenant: String, body: Array[Byte]): Int =
    clients.get.send(HttpRequest.newBuilder(uri("/api/v1/write"))
      .header("Content-Type", "application/x-protobuf")
      .header(Gen.TenantHeader, tenant)
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  def get(pathAndQuery: String, tenant: String): HttpResponse[String] =
    clients.get.send(HttpRequest.newBuilder(uri(pathAndQuery))
      .header(Gen.TenantHeader, tenant).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  def remoteRead(tenant: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
    clients.get.send(HttpRequest.newBuilder(uri("/api/v1/read"))
      .header("Content-Type", "application/x-protobuf")
      .header(Gen.TenantHeader, tenant)
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  /** Drain, then fold: the fold spills every point older than the
    * hot-retain window to cold parquet and pre-aggregates what it spilled.
    * `coldCompact` also rewrites the cold tier into its next generation.
    */
  def settle(coldCompact: Boolean): Unit = {
    span("settle.drain")(api.drainFlushes())
    span("store.compact")(api.compact())
    if (coldCompact) span("store.cold_compact")(api.compactCold())
  }

  /** Points in the merged cold + hot view, after a final drain. */
  def readBack(): Long = api.source().map(_.points.count()).getOrElse(0L)

  /** Cold-tier bytes with hardlinks counted once (generations share
    * unchanged files by hardlink). */
  def coldBytes(): Long = Facade.uniqueBytes(coldDir, new java.util.HashMap)

  def stop(): Unit = api.stop()
}

object Facade {
  /** Bytes under `root`, each inode counted once; `seen` maps an inode
    * key to the size last observed, so repeated walks accumulate every
    * file ever seen (bytes written, not just bytes kept). Returns the sum
    * over the files present now.
    */
  def uniqueBytes(root: Path, seen: java.util.Map[Object, java.lang.Long]): Long = {
    if (!Files.isDirectory(root)) return 0L
    val present = new java.util.HashSet[Object]()
    var total = 0L
    val s = Files.walk(root)
    try s.iterator().asScala.foreach { f =>
      scala.util.Try {
        val a = Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        if (a.isRegularFile) {
          val key: Object = Option(a.fileKey()).getOrElse(f.toString)
          if (present.add(key)) total += a.size
          seen.put(key, a.size)
        }
      }
    } finally s.close()
    total
  }
}
