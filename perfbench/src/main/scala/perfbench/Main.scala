package perfbench

import graft.Config
import graft.engine.IndexReader
import graft.index.{Incremental, IndexBuilder, IndexPaths}
import java.lang.management.ManagementFactory

/** Benchmark entry point (started by `perfbench/run.py`):
  * `--workload serve|ingest --seed N --seconds S --trace 0|1
  *  --work DIR --spans FILE`. Prints one `PERFBENCH_RESULT {...}` line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val spark = Config.session()
    val r = new Run(spark, a("work"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1", sinceJvmStart)
    try {
      workload match {
        case "serve" => Serve.run(r)
        case "ingest" => Ingest.run(r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.put("jvm.rss_peak_mb", Jvm.rssPeakMb, "MiB")
      r.put("gate.error_rate", r.failed.toDouble / math.max(1L, r.attempted), "ratio")
      if (r.trace) r.tracer.writeJsonl(java.nio.file.Paths.get(a("spans")))
      r.notes += f"run wall ${Main.sinceJvmStart}%.1f s"
      println("PERFBENCH_RESULT " + r.json)
    } finally spark.stop()
  }

  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Set-up shared by both workloads: store the generated corpus as a
    * table, cold-build the root to serve from it (`persistCorpus = false`:
    * the input is a stored table, as `IndexBuilder.build` prescribes) and
    * open its reader. `setup_s` runs from JVM start, so it includes the
    * session start. With `baseOnly` the root is built from the base part
    * of the corpus only.
    */
  def setup(r: Run, w: Writes, tp: Gen.Tpch, baseOnly: Boolean): (Table, IndexPaths) = {
    val (table, materializeS) = Table.make(r, tp)
    val paths = IndexPaths(r.dir("root"))
    val input = if (baseOnly) table.base(r.spark) else table.all(r.spark)
    val (_, buildS, _, _) = w.run("build")(
      IndexBuilder.build(r.spark, input, paths, buildArgs = "perfbench", persistCorpus = false))
    val (_, openS) = Stat.timed(IndexReader.get(r.spark, paths))
    r.put("setup_s", sinceJvmStart, "s")
    r.put("build_s", buildS, "s")
    r.put("corpus.materialize_s", materializeS, "s")
    r.put("engine.reader_open_s", openS, "s")
    r.notes += f"set-up: session ${r.sessionS}%.1f s, corpus $materializeS%.1f s, build $buildS%.1f s"
    (table, paths)
  }

  /** Correctness of the set-up build, outside every timed region: the root
    * opens and indexes every token-bearing row of its input.
    */
  def checkBuild(r: Run, paths: IndexPaths, tokenRows: Long): Unit = {
    val nDocs = IndexBuilder.open(paths).nDocs
    r.attempted += 1
    if (nDocs != tokenRows) {
      r.failed += 1
      System.err.println(s"[perfbench] build: n_docs $nDocs != token-bearing input rows $tokenRows")
    }
  }

  /** Untimed: `n` requests of a stream of their own, so the routes' code is
    * compiled before the timed requests. Then the heap the warm serving
    * state retains (reader, caches, Spark's cached blocks) is measured
    * after a full collection.
    */
  def warmUp(r: Run, paths: IndexPaths, n: Int)(stream: Int => Req): Unit = {
    val (_, s) = Stat.timed((0 until n).foreach(i => Requests.exec(r, paths, stream(i))))
    r.notes += f"warm-up: $n requests, $s%.1f s"
    r.put("heap_live_mb", Jvm.liveHeapMb, "MiB")
  }
}

/** `serve`: read-only /search traffic against a warm single-layer root,
  * built fresh in set-up. Why: routing, the reader, the posting cache, the
  * WAND kernel and the ranking tail do nearly all the timed work; index
  * building and tokenizing do none of it. Two clients in a closed loop send
  * the seeded mix ([[Gen.request]]). The 29 keywords are cache-resident after
  * the warm-up's first touch; rare identifiers are drawn from every line
  * item of the corpus, so almost each one takes the cold term-metadata and
  * decode path.
  */
object Serve {
  val Clients = 2

  def run(r: Run): Unit = {
    val tp = Gen.tpch(r.seed)
    val w = new Writes(r)
    val (table, paths) = Main.setup(r, w, tp, baseOnly = false)
    val corpus = table.all(r.spark)
    val (rows, contentBytes, tokenRows) = Table.measure(corpus)
    Main.checkBuild(r, paths, tokenRows)
    r.putExact("corpus.rows", rows)
    r.put("corpus.content_bytes", contentBytes.toDouble, "B")
    r.put("bytes_per_input_byte", Disk.bytes(paths.root).toDouble / contentBytes, "ratio")
    RootFacts.report(r, paths)
    r.putExact("index.layers", IndexReader.get(r.spark, paths).layers.size.toLong)
    Index.report(r, w)

    val rare = tp.rareTerms
    // one batched lookup of every keyword: the hot working set is then
    // cache-resident, as after first touch; then one request per class
    graft.engine.Wand.topKAt(r.spark, paths, Gen.Keywords.map(k => graft.model.Query(k, Seq(k), 10))).collect()
    Main.warmUp(r, paths, Gen.Classes.size)(i => Gen.request(r.seed, 2, i, rare, only = Some(Gen.Classes(i))))
    val gc0 = Jvm.gcMs
    val ds = Requests.closedLoop(r, paths, Clients, System.nanoTime() + (r.seconds * 1e9).toLong,
      if (r.trace) Requests.TracedCycle else 2 * Gen.BlockSize, i => Gen.request(r.seed, 1, i, rare))
    val gcMs = Jvm.gcMs - gc0
    // completed requests per second of client busy time (Little's law for a
    // closed loop): the idle tail of the last block does not count
    val ok = ds.filter(_.error.isEmpty)
    r.put("throughput_per_s", Clients * ok.size / (ok.map(_.latencyMs).sum / 1e3), "1/s")
    Requests.report(r, ds)
    r.put("jvm.gc_s", gcMs / 1e3, "s")
    r.put("jvm.gc_ms_per_query", gcMs.toDouble / ds.size, "ms")

    r.attempted += ds.size
    val (wrong, gateS) = Stat.timed(Requests.gate(r, corpus, ds))
    r.failed += wrong + ds.count(_.error.nonEmpty)
    r.notes += f"gate: ${ds.size} requests, $gateS%.1f s"
  }
}

/** `ingest`: writes beside reads. Set-up builds the base root from a seeded
  * ~80% of the corpus. The timed write adds the remaining seeded ~20% slice
  * with `Incremental.addBatch` (a new batch, never a replay, which would
  * take the fingerprint no-op path) and opens the layered root; the old
  * root's reader is then invalidated, as a serving process would. After two
  * untimed requests, one client sends WAND-class requests (2-3 keywords, or
  * k above the fast lists) to the layered root: the route whose per-query
  * shuffle exists only on layered roots. One class and one client (no
  * second client's jobs queue for the cores) keep the median of a short
  * run steady. Why: the incremental write path and
  * layered serving run only here, so a serve gain that costs layered roots,
  * or a build gain that costs adds, shows.
  */
object Ingest {
  val Clients = 1

  def run(r: Run): Unit = {
    val tp = Gen.tpch(r.seed)
    val w = new Writes(r)
    val (table, base) = Main.setup(r, w, tp, baseOnly = true)
    val corpus = table.all(r.spark)
    val (rows, _, tokenRows) = Table.measure(corpus)
    r.putExact("corpus.rows", rows)
    val (deltaRows, deltaBytes, deltaTokenRows) = Table.measure(table.slice(r.spark))
    Main.checkBuild(r, base, tokenRows - deltaTokenRows)
    r.put("corpus.content_bytes", deltaBytes.toDouble, "B")

    val out = IndexPaths(r.dir("layered"))
    var openS = 0.0
    val t0 = System.nanoTime()
    val (_, addS, _, _) = w.run("add") {
      Incremental.addBatch(r.spark, base, table.slice(r.spark), out)
      openS = Stat.timed(IndexReader.get(r.spark, out))._2
    }
    IndexReader.invalidate(base.root)
    r.put("index.add_s", addS, "s")
    r.put("engine.reader_open_s", openS, "s")
    r.put("throughput_per_s", deltaRows / addS, "1/s")
    r.put("bytes_per_input_byte", Disk.bytes(out.root).toDouble / deltaBytes, "ratio")
    r.notes += f"add: $addS%.1f s"

    val rare = tp.rareTerms
    def wand(stream: Long)(i: Int) = Gen.request(r.seed, stream, i, rare, only = Some("wand"))
    Main.warmUp(r, out, 2)(wand(2))
    val gc0 = Jvm.gcMs
    // the timed part (add + reads) lasts at least --seconds, in whole cycles
    val ds = Requests.closedLoop(r, out, Clients, t0 + (r.seconds * 1e9).toLong,
      if (r.trace) Requests.TracedCycle else Gen.BlockSize, wand(3))
    val gcMs = Jvm.gcMs - gc0
    Requests.report(r, ds)
    r.put("jvm.gc_s", gcMs / 1e3, "s")
    r.put("jvm.gc_ms_per_query", gcMs.toDouble / ds.size, "ms")
    RootFacts.report(r, out)
    r.putExact("index.layers", IndexReader.get(r.spark, out).layers.size.toLong)
    Index.report(r, w)

    // every answer against the corpus as of the add
    r.attempted += ds.size
    val (wrong, gateS) = Stat.timed(Requests.gate(r, corpus, ds))
    r.failed += wrong + ds.count(_.error.nonEmpty)
    r.notes += f"gate: ${ds.size} requests, $gateS%.1f s"
  }
}

/** Index-layer metrics of the build and add calls of a run. */
object Index {
  val Phases: Seq[String] =
    Seq("docs-sidecar", "stats", "edges", "segments", "manifests", "merge", "fast-lists").map("build." + _) ++
      Seq("stats", "merge_index-write", "segments-write", "docs-write", "edges-write", "fast-lists").map("add." + _)

  def report(r: Run, w: Writes): Unit = {
    Phases.foreach { k =>
      r.put(s"index.phase_s.$k", w.phaseWall.getOrElse(k, 0.0), "s")
      r.put(s"index.phase_task_cpu_s.$k", w.phaseCpu.getOrElse(k, 0.0), "s")
    }
    r.put("index.phase_s.other", w.phaseWall.filter(p => !Phases.contains(p._1)).values.sum, "s")
    w.calls.get("build").filter(_ => r.trace).foreach { case (wall, phases, t) =>
      r.put("index.unattributed_s", wall - phases, "s")
      r.put("index.cpu_util", t.cpuNs / 1e9 / (wall * r.cores), "ratio")
      r.put("index.shuffle_bytes", t.shuffleBytes.toDouble, "B")
      r.put("index.spill_bytes", t.spillBytes.toDouble, "B")
    }
  }
}
