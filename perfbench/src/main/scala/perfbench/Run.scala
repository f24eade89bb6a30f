package perfbench

import graft.corpus.{Corpus, CorpusTable}
import graft.engine.{IndexReader, QueryMetrics, SearchApi}
import graft.index.{Incremental, IndexBuilder, IndexPaths}
import graft.tokenize.Tokenizer
import java.nio.file.{Files, Paths}
import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** State of one benchmark run: the session, the tracer and everything the
  * run reports. Metrics are gathered under their `BENCHMARK.json` names;
  * the runner picks the end-to-end or the per-layer ones.
  */
final class Run(
    val spark: SparkSession,
    val work: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val sessionS: Double) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val tracer = new Tracer(trace)
  val meter = new SparkMeter(tracer)
  if (trace) sc.addSparkListener(meter)

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Counts that must repeat exactly for a given seed. */
  val exact = mutable.LinkedHashMap.empty[String, Long]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, v: Double, unit: String): Unit = {
    require(!v.isNaN && !v.isInfinite, s"$name is not a finite number: $v")
    metrics(name) = (v, unit)
  }

  def putExact(name: String, v: Long): Unit = { exact(name) = v; put(name, v.toDouble, "count") }

  def dir(name: String): String = s"$work/$name"

  /** Drains the listener bus so task metrics of finished work are counted. */
  def drain(): Unit = if (trace) GraftSparkBridge.drainListenerBus(sc)

  def json: String = Json.write(Map(
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "exact" -> exact,
    "notes" -> notes))
}

object Stat {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Bytes on disk under an index root. */
object Disk {
  val Artifacts: Set[String] = Set("docs", "segments", "index", "fast", "edges")

  /** Bytes under `root` by index artifact (the first path element naming
    * one; everything else is "other").
    */
  def bytesByArtifact(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .groupBy(p => r.relativize(p).iterator().asScala.map(_.toString).find(Artifacts).getOrElse("other"))
      .map { case (k, ps) => k -> ps.map(Files.size).sum }
  }

  def bytes(root: String): Long = bytesByArtifact(root).values.sum
}

/** The stored corpus a workload indexes: generated key tables, synthesized
  * into documents by [[Corpus.corpus]] and stored once as a
  * [[CorpusTable]]. A seeded hash splits it into a ~80% base and a disjoint
  * ~20% delta slice for the ingest workload.
  */
final case class Table(root: String, seed: Long) {
  def all(spark: SparkSession): DataFrame = CorpusTable.read(spark, root)

  private def inSlice: Column = pmod(xxhash64(col("repo"), col("path"), col("commit"), lit(seed)), lit(5)) === 0

  def base(spark: SparkSession): DataFrame = all(spark).filter(!inSlice)

  def slice(spark: SparkSession): DataFrame = all(spark).filter(inSlice)
}

object Table {
  /** Generates and stores the corpus; returns it with the wall of the
    * synthesis + store (`corpus.materialize_s`).
    */
  def make(r: Run, tp: Gen.Tpch): (Table, Double) = {
    val tpchDir = r.dir("tpch")
    Gen.writeTpch(r.spark, tp, tpchDir)
    val root = r.dir("table")
    val (_, s) = Stat.timed(CorpusTable.create(r.spark, Corpus.corpus(r.spark, tpchDir), root))
    (Table(root, r.seed), s)
  }

  /** (rows, content bytes, token-bearing rows) of a corpus frame. */
  def measure(df: DataFrame): (Long, Long, Long) = {
    val row = df.agg(count(lit(1)), sum(octet_length(col("content"))),
      sum(when(Tokenizer.tokenCountCol(col("content")) > 0, 1).otherwise(0))).head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }
}

/** One finished request: the walls of `search` and `collect`, and the
  * whole request as its client waited for it (for a traced request this
  * includes the tracing work: query counters, job group, spans and the
  * listener-bus drain).
  */
final case class Done(
    q: Req, planNs: Long, execNs: Long, wallNs: Long,
    hits: Seq[Hit], route: String, counters: Map[String, Long],
    spark: Option[Totals], traced: Boolean, error: Option[String]) {
  def latencyMs: Double = wallNs / 1e6

  def engineMs: Double = (planNs + execNs) / 1e6
}

/** Requests against the engine's public search entry point. */
object Requests {

  /** Executes one request: `SearchApi.search` (planning, including the
    * driver-side term metadata, fast-list and hybrid collects), then
    * `.collect()` (execution). A traced request also passes query counters,
    * runs under its own Spark job group so the listener attributes its jobs
    * and tasks, records spans and drains the listener bus before it
    * returns; an untraced request does none of this.
    */
  def exec(r: Run, paths: IndexPaths, q: Req): Done = {
    // traced runs trace blocks 0 and 3 of every 4 and leave 1 and 2
    // untraced: both halves have the same class composition, and the ABBA
    // order cancels a linear drift, so their medians give the overhead
    val traced = r.trace && Set(0, 3).contains((q.idx / Gen.BlockSize) % 4)
    val req = q.queryId
    val t0 = System.nanoTime()
    var (t1, t2, t3) = (t0, t0, t0)
    try {
      if (traced) r.sc.setJobGroup(req, q.cls, interruptOnCancel = false)
      val m = if (traced) Some(QueryMetrics(r.spark)) else None
      val rows = r.tracer.span(req, "request", q.cls, record = traced) { root =>
        t1 = System.nanoTime()
        val df = r.tracer.span(req, "engine", "search", root, traced)(_ =>
          SearchApi.search(r.spark, paths, q.terms, q.k, q.conjunctive, m, q.scope))
        t2 = System.nanoTime()
        val rows = r.tracer.span(req, "engine", "collect", root, traced)(_ => df.collect())
        t3 = System.nanoTime()
        rows
      }
      val counters = m.map(_.snapshot).getOrElse(Map.empty)
      val sparkTotals = if (traced) { r.drain(); Some(r.meter.group(req)) } else None
      if (traced) r.sc.clearJobGroup()
      val route =
        if (q.conjunctive) "and"
        else if (q.scope.isDefined) "scoped"
        else Seq("fast", "hybrid", "wand", "absent").find(x => counters.getOrElse(s"routed_$x", 0L) > 0)
          .getOrElse(if (traced) "unknown" else "untraced")
      Done(q, t2 - t1, t3 - t2, System.nanoTime() - t0, rows.map(Hit.of).toSeq.sortBy(_.rank), route,
        counters, sparkTotals, traced, None)
    } catch {
      case NonFatal(e) =>
        if (traced) r.sc.clearJobGroup()
        Done(q, 0L, 0L, System.nanoTime() - t0, Seq.empty, "error", Map.empty, None, traced,
          Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }

  /** Closed loop: `clients` threads each send their next request when the
    * previous reply arrives, drawing stream positions in order. Positions
    * stop being drawn at the first multiple of `cycle` reached after
    * `deadlineNs`, so a run sends whole cycles of the mix and its class
    * composition does not depend on how fast the machine is.
    */
  def closedLoop(
      r: Run, paths: IndexPaths, clients: Int, deadlineNs: Long, cycle: Int, stream: Int => Req): Seq[Done] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    var next = 0
    var stopped = false
    val lock = new Object
    def draw(): Option[Int] = lock.synchronized {
      if (!stopped && next > 0 && next % cycle == 0 && System.nanoTime() >= deadlineNs)
        stopped = true
      if (stopped) None else { next += 1; Some(next - 1) }
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = draw()
        while (i.isDefined) {
          done.add(exec(r, paths, stream(i.get)))
          i = draw()
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.asScala.toSeq.sortBy(_.q.idx)
  }

  /** Checks every answer of `ds` against the reference for its query over
    * `corpus`; returns the number of wrong answers (failed requests are
    * counted by the caller).
    */
  def gate(r: Run, corpus: org.apache.spark.sql.DataFrame, ds: Seq[Done]): Long = {
    val ok = ds.filter(_.error.isEmpty)
    ds.filter(_.error.nonEmpty).take(3).foreach(d => System.err.println(s"[perfbench] failed: ${d.q}: ${d.error.get}"))
    val ref = Check.reference(r.spark, corpus, ok.map(d => Check.keyOf(d.q)).distinct)
    val wrong = ok.filter(d => ref(Check.keyOf(d.q)) != d.hits)
    wrong.take(3).foreach(d => System.err.println(s"[perfbench] wrong answer: ${d.q}"))
    wrong.size.toLong
  }

  /** Per-request metrics of a request population (request-level layers). */
  def report(r: Run, ds: Seq[Done]): Unit = {
    val ok = ds.filter(_.error.isEmpty)
    val lat = ok.map(_.latencyMs)
    r.put("p50_ms", Stat.median(lat), "ms")
    val traced = ok.filter(_.traced)
    r.put("engine.plan_ms", Stat.mean(traced.map(_.planNs / 1e6)), "ms")
    r.put("engine.exec_ms", Stat.mean(traced.map(_.execNs / 1e6)), "ms")
    // the routes of the traced requests among the first TracedCycle
    // stream positions, which every traced run sends, are exact for a seed
    val window = traced.filter(_.q.idx < TracedCycle)
    Seq("fast", "hybrid", "wand", "and", "absent", "scoped").foreach { x =>
      if (r.trace) r.putExact(s"engine.route_count.$x", window.count(_.route == x).toLong)
      else r.put(s"engine.route_count.$x", 0, "count")
    }
    // engine time per route; routes are known for traced requests
    Seq("fast", "hybrid", "wand", "and").foreach { x =>
      val xs = traced.filter(_.route == x).map(_.engineMs)
      r.put(s"engine.route_p50_ms.$x", if (xs.isEmpty) 0.0 else Stat.median(xs), "ms")
    }
    val or = ok.filter(d => !d.q.conjunctive && d.counters.nonEmpty)
    def sumOf(key: String) = or.map(_.counters(key)).sum.toDouble
    r.put("engine.candidates_per_query", if (or.isEmpty) 0 else sumOf("candidates_evaluated") / or.size, "count")
    r.put("engine.blocks_decoded_per_query", if (or.isEmpty) 0 else sumOf("blocks_decoded") / or.size, "count")
    val seen = sumOf("block_skips") + sumOf("blocks_decoded")
    r.put("engine.block_skip_ratio", if (seen == 0) 0 else sumOf("block_skips") / seen, "ratio")
    val t = traced.flatMap(_.spark)
    def perQ(f: Totals => Double) = Stat.mean(t.map(f))
    r.put("spark.jobs_per_query", perQ(_.jobs.toDouble), "count")
    r.put("spark.jobs_per_fast_query", Stat.mean(traced.filter(_.route == "fast").flatMap(_.spark).map(_.jobs.toDouble)), "count")
    r.put("spark.tasks_per_query", perQ(_.tasks.toDouble), "count")
    r.put("spark.shuffle_bytes_per_query", perQ(_.shuffleBytes.toDouble), "B")
    r.put("spark.task_cpu_ms_per_query", perQ(_.cpuNs / 1e6), "ms")
    r.put("spark.task_wait_ms_per_query", perQ(_.waitMs.toDouble), "ms")
    // overhead of tracing: client-side latency of traced against untraced
    // blocks of the same run
    val (on, off) = ok.partition(_.traced)
    if (r.trace && on.nonEmpty && off.nonEmpty) {
      val (a, b) = (Stat.median(on.map(_.latencyMs)), Stat.median(off.map(_.latencyMs)))
      r.put("trace.p50_ms_traced", a, "ms")
      r.put("trace.p50_ms_untraced", b, "ms")
      r.put("trace.overhead_pct", 100 * (a / b - 1), "%")
    }
    val total = ds.size.toDouble
    r.notes += "request classes (share, p50 ms): " + Gen.Classes.map { c =>
      val xs = ok.filter(_.q.cls == c).map(_.latencyMs)
      f"$c=${100 * ds.count(_.q.cls == c) / total}%.1f%%,${if (xs.isEmpty) 0.0 else Stat.median(xs)}%.1f"
    }.mkString(" ")
    if (r.trace) r.notes += "engine routes of traced requests: " + Seq("fast", "hybrid", "wand", "and", "absent", "scoped").map { x =>
      f"$x=${100.0 * traced.count(_.route == x) / traced.size.max(1)}%.1f%%"
    }.mkString(" ")
  }

  /** The cycle of a traced run: one ABBA cycle of blocks, which holds each
    * block composition once traced and once untraced.
    */
  val TracedCycle: Int = 4 * Gen.BlockSize
}

/** Index builds and adds, each under a job group named after
  * it, with its phases captured through [[IndexBuilder.phaseHook]] when
  * tracing. Phase keys are `<call>.<phase>`.
  */
final class Writes(r: Run) {
  val phaseWall = mutable.LinkedHashMap.empty[String, Double]
  val phaseCpu = mutable.LinkedHashMap.empty[String, Double]
  /** name -> (wall s, Σ phase walls, Spark totals) */
  val calls = mutable.LinkedHashMap.empty[String, (Double, Double, Totals)]

  def run[A](name: String)(f: => A): (A, Double, Double, Totals) = {
    var phases = 0.0
    if (r.trace) {
      r.sc.setJobGroup(name, name, interruptOnCancel = false)
      r.drain()
      var cpuMark = r.meter.totals.cpuNs
      IndexBuilder.phaseHook = (_, phase, wall) => {
        r.drain()
        val cpu = r.meter.totals.cpuNs
        val key = s"$name.${phase.replace('+', '_')}"
        phaseWall(key) = phaseWall.getOrElse(key, 0.0) + wall
        phaseCpu(key) = phaseCpu.getOrElse(key, 0.0) + (cpu - cpuMark) / 1e9
        cpuMark = cpu
        phases += wall
        val end = System.nanoTime()
        r.tracer.add(Span(r.tracer.newId(), r.tracer.rootOf(name), name, "index", key, end - (wall * 1e9).toLong, end))
      }
    }
    try {
      val (a, s) = Stat.timed(r.tracer.span(name, "index", name)(_ => f))
      r.drain()
      val t = if (r.trace) r.meter.group(name) else new Totals
      calls(name) = (s, phases, t)
      (a, s, phases, t)
    } finally if (r.trace) {
      IndexBuilder.phaseHook = (_, _, _) => ()
      r.sc.clearJobGroup()
    }
  }
}

/** Index facts of a root: bytes by artifact, exact posting/term counts. */
object RootFacts {
  /** Bytes by artifact under the root; exact term and posting counts of
    * its newest-wins view.
    */
  def report(r: Run, paths: IndexPaths): Unit = {
    val bytes = Disk.bytesByArtifact(paths.root)
    Disk.Artifacts.toSeq.sorted.foreach(d => r.put(s"index.bytes.$d", bytes.getOrElse(d, 0L).toDouble, "B"))
    val row = Incremental.readMergedIndex(r.spark, paths.root).agg(count(lit(1)), sum("df")).head()
    r.putExact("index.terms", row.getLong(0))
    r.putExact("index.postings", row.getLong(1))
  }
}
