package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one request (or one
  * build or add) share `req`; `parent` is the span that caused it.
  */
final case class Span(
    id: Long, parent: Long, req: String, layer: String, name: String,
    startNs: Long, endNs: Long)

/** Spans held in memory and written as JSONL when the run ends. A disabled
  * tracer records nothing, so untraced runs pay only the `on` checks.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val reqSpan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (on) spans.add(s)

  /** Times `f` as a span; the root span of a request registers itself so
    * Spark job spans, which know only their job group, can find it.
    */
  def span[A](req: String, layer: String, name: String, parent: Long = 0L, record: Boolean = on)(f: Long => A): A = {
    val id = newId()
    if (record && parent == 0L) reqSpan.put(req, id)
    val t0 = System.nanoTime()
    try f(id)
    finally if (record) add(Span(id, parent, req, layer, name, t0, System.nanoTime()))
  }

  def rootOf(req: String): Long = Option(reqSpan.get(req)).map(_.longValue).getOrElse(0L)

  def writeJsonl(path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(Json.write(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

/** Task-level totals of a set of Spark jobs. */
final class Totals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def copy(): Totals = {
    val t = new Totals
    t.jobs = jobs; t.tasks = tasks; t.cpuNs = cpuNs; t.waitMs = waitMs
    t.shuffleBytes = shuffleBytes; t.spillBytes = spillBytes
    t
  }
}

/** Spark listener that attributes jobs and task metrics to the job group
  * the benchmark set for the request, build or add that ran them,
  * and records each job as a span under that group's root span.
  * Listener callbacks run on the single listener-bus thread; reads happen
  * after [[org.apache.spark.GraftSparkBridge.drainListenerBus]].
  */
final class SparkMeter(tracer: Tracer) extends SparkListener {
  val total = new Totals
  private val groups = mutable.HashMap.empty[String, Totals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    groupOf(e.properties).foreach { g =>
      groups.getOrElseUpdate(g, new Totals).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
      jobStart.put(e.jobId, (g, System.nanoTime()))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      tracer.add(Span(tracer.newId(), tracer.rootOf(g), g, "spark", s"job-${e.jobId}", t0, System.nanoTime()))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmitMs.remove(e.stageInfo.stageId)
    stageGroup.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val targets = Seq(total) ++ stageGroup.get(e.stageId).map(g => groups.getOrElseUpdate(g, new Totals))
    targets.foreach { t =>
      t.tasks += 1
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageSubmitMs.get(e.stageId).foreach { s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s) }
    }
  }

  def group(g: String): Totals = synchronized(groups.get(g).map(_.copy()).getOrElse(new Totals))
  def totals: Totals = synchronized(total.copy())
}

/** Process-level meters. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after a full collection, MiB. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set size of this process (`VmHWM`), MiB. */
  def rssPeakMb: Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
