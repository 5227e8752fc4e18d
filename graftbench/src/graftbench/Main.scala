package graftbench

/** One workload: generated inputs, a repeatable set-up, and a
  * closed-loop step (one pass of the request schedule, or one bulk build
  * and its probes).
  */
trait Workload {
  /** SHA-256 of the generated inputs (same seed, same digest). */
  def digest: String
  /** Session start, corpus load and index build; timed as setup_s. */
  def setup(): Unit
  /** Untimed bookkeeping after the last set-up. */
  def afterSetup(): Unit
  /** One closed-loop iteration: (units of work, busy nanoseconds). */
  def step(): (Double, Long)
  /** Discarded iterations run before the timed window. */
  def warmup(): Unit
  /** Steps a run measures even when the window closed before. */
  def minSteps: Int
  /** Set-ups a run times; setup_s is their median. */
  def setups: Int
  /** Record sizes and ratios into the harness once the window closed. */
  def finish(): Unit
  def writeAmp: Double
  def spaceAmp: Double
}

/** Entry point: generate inputs, set up `wl.setups` times, warm up,
  * measure for `--seconds`, check every answer, print one JSON line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val gen = new Gen(a.seed)
    val h = new Harness(a)
    val tGen = System.nanoTime()
    val wl: Workload = a.workload match {
      case "serve" => new Serve(h, gen)
      case "ingest" => new Ingest(h, gen)
      case w => sys.error(s"unknown workload $w")
    }
    if (a.digest) { println(wl.digest); return }
    h.info("gen_s") = (System.nanoTime() - tGen) / 1e9

    val code = try run(h, wl) finally h.stop()
    sys.exit(code)
  }

  private def run(h: Harness, wl: Workload): Int = {
    val a = h.a
    val setupS = (1 to wl.setups).map { _ =>
      h.tracer.phase = "setup"
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    wl.afterSetup()

    h.tracer.phase = "warmup"
    h.tracer.span(s"${a.workload}.warmup")(wl.warmup())

    h.tracer.phase = "run"
    val gc0 = h.gcMs
    val ticks0 = h.cpuTicks
    var units = 0.0
    var busyNs = 0L
    var steps = 0
    var storagePeak = 0.0
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var lastNs = 0L
    // start a step only while at least half of a typical one still fits
    while (steps < wl.minSteps || System.nanoTime() + lastNs / 2 < deadline) {
      // traced runs alternate traced and untraced steps (a serve step
      // holds every request kind, so each kind lands on both sides)
      h.tracer.active = !a.trace || steps % 2 == 0
      h.tracer.req = steps
      val s0 = System.nanoTime()
      val (u, ns) = h.tracer.span(s"${a.workload}.step")(wl.step())
      lastNs = System.nanoTime() - s0
      units += u; busyNs += ns; steps += 1
      if (a.trace) storagePeak = math.max(storagePeak, h.storageMb)
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    // share of the window's CPU time the hypervisor gave to other guests
    // (the 8th /proc/stat field): slow runs on a shared host show here
    for (s0 <- ticks0; s1 <- h.cpuTicks if s0.length >= 8 && s1.length >= 8) {
      val d = s1.zip(s0).take(8).map { case (x, y) => x - y }
      if (d.sum > 0) h.info("host_steal_pct") = 100.0 * d(7) / d.sum
    }
    h.tracer.active = true
    val gcRun = h.gcMs - gc0
    wl.finish()
    h.runChecks()
    h.tracer.flush()

    val all = h.lat.values.flatten.toSeq
    val correct = h.failed == 0 && all.nonEmpty
    h.info("workload") = a.workload
    h.info("seed") = a.seed
    h.info("cores") = a.cores
    h.info("nproc") = Runtime.getRuntime.availableProcessors
    h.info("heap") = a.heap
    h.info("spark_version") = h.spark.version
    h.info("master") = s"local[${a.cores}]"
    h.info("clients") = 1
    h.info("loop") = "closed"
    h.info("window_s") = windowS
    h.info("steps") = steps
    h.info("setup_runs_s") = setupS.map(x => f"$x%.3f").mkString("[", ",", "]")
    h.info("search_samples") = all.size
    if (all.nonEmpty) h.info("tail_quantile") = Stats.tailQ(all.size)
    h.info("error_rate") = if (h.attempted == 0) 0.0 else h.failed.toDouble / h.attempted
    h.info("digest") = wl.digest
    if (h.errors.nonEmpty) h.info("errors") = h.errors.mkString(" | ")

    val metrics: Seq[(String, Double, String)] =
      if (a.trace) Report.perLayer(h, storagePeak, gcRun)
      else if (all.isEmpty) Nil
      else {
        def p50(kind: String) = Stats.median(h.lat.getOrElse(kind, Seq(Double.NaN)).toSeq)
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("ops_per_s", units / (busyNs / 1e9), "1/s"),
          ("p50_ms", Stats.median(all), "ms"),
          ("p95_ms", Stats.quantile(all, Stats.tailQ(all.size)), "ms"),
          ("dense_p50_ms", p50("dense"), "ms"),
          ("bm25_p50_ms", p50("bm25"), "ms"),
          ("hybrid_p50_ms", p50("hybrid"), "ms"),
          ("ann_p50_ms", p50("ann"), "ms"),
          ("ann_recall_at_10", Stats.mean(h.recalls.toSeq), "ratio"),
          ("write_amp", wl.writeAmp, "ratio"),
          ("space_amp", wl.spaceAmp, "ratio"),
          ("rss_peak_mb", h.rssPeakMb, "MB"))
      }
    if (a.trace) h.writeTrace()
    val okMetrics = metrics.nonEmpty && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(s"""{"graftbench_info":${Report.infoJson(h.info)}}""")
    println(Report.json(correct && okMetrics, h.attempted, h.failed, metrics))
    if (correct && okMetrics) 0 else 1
  }
}
