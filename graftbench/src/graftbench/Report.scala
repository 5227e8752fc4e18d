package graftbench

import scala.collection.mutable

/** Per-layer metric names (`<Module>.<fn>.<metric>`) and the result
  * line. A traced run reports every name below on every workload; a
  * span the workload never calls reads 0.
  */
object Report {
  val RequestOps = Seq("VectorSearch.denseTopK", "VectorSearch.annIvfProbe", "Bm25.topK", "Fusion.rrf")
  val RequestMetrics = Seq("plan_ms" -> "ms", "exec_ms" -> "ms", "wait_ms" -> "ms",
    "tasks" -> "count", "cpu_ms" -> "ms")
  val IngestSpans = Seq("Corpus.readJsonl", "Chunker.chunkPipeline", "Embed.hashedTfIdf",
    "Dedup.exact", "Dedup.lshCandidates", "Dedup.jaccardVerify", "VectorSearch.knnJoin",
    "Corpus.writePartitioned")
  val BatchMetrics = Seq("exec_ms" -> "ms", "cpu_ms" -> "ms", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "gc_ms" -> "ms")
  val SetupSpans = Seq("Sessions.localBuilder", "VectorSearch.lloydCentroids", "VectorSearch.assignCells")
  /** Useful-work ratios; their bases (candidate pairs here, corpus
    * rows in the info line) are reported beside them.
    */
  val Ratios = Seq(
    "Dedup.jaccardVerify.useful_ratio" -> "ratio", "Dedup.jaccardVerify.candidate_pairs" -> "count",
    "VectorSearch.annIvfProbe.scanned_fraction" -> "ratio", "Bm25.topK.scored_fraction" -> "ratio")
  /** Search spans counted as requests for the per-request job counts. */
  val SearchSpans = RequestOps :+ "VectorSearch.annIvf"

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    RequestOps.flatMap(o => RequestMetrics.map { case (m, u) => s"$o.$m" -> u }) ++
      Seq("Caching.clearOperatorCaches.exec_ms" -> "ms", "spark.jobs_per_req" -> "count",
        "spark.stages_per_req" -> "count") ++
      IngestSpans.flatMap(o => BatchMetrics.map { case (m, u) => s"$o.$m" -> u }) ++
      Seq("Corpus.writePartitioned.written_mb" -> "MB") ++
      SetupSpans.map(s => s"$s.exec_ms" -> "ms") ++
      Ratios ++
      Seq("jvm.gc_ms" -> "ms", "spark.storage_mb" -> "MB", "trace.overhead_pct" -> "%",
        "trace.coverage_pct" -> "%")

  /** Per-layer values from the traced spans: per-call means of self
    * time, plan time and the Spark task totals of the span's subtree.
    */
  def perLayer(h: Harness, storagePeak: Double, gcRunMs: Double): Seq[(String, Double, String)] = {
    val t = h.tracer
    val spans = t.all
    val self = t.selfMs
    val kids = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    def sumTotals(id: Long)(f: TaskTotals => Double): Double =
      subtree(id).flatMap(t.totalsOf).map(f).sum
    def of(name: String, phase: String) =
      spans.filter(s => s.traced && s.name == name && s.phase == phase)
    def mean(xs: Seq[Double]) = Stats.mean(xs)
    val v = mutable.LinkedHashMap.empty[String, Double]

    for (o <- RequestOps) {
      val ss = of(o, "run")
      def plan(s: Span) = kids.getOrElse(s.id, Nil).filter(_.name == "plan").map(_.ms).sum
      v(s"$o.plan_ms") = mean(ss.map(plan))
      v(s"$o.exec_ms") = mean(ss.map(s => s.ms - plan(s)))
      v(s"$o.wait_ms") = mean(ss.map(s => sumTotals(s.id)(_.waitMs.toDouble)))
      v(s"$o.tasks") = mean(ss.map(s => sumTotals(s.id)(_.tasks.toDouble)))
      v(s"$o.cpu_ms") = mean(ss.map(s => sumTotals(s.id)(_.cpuNs / 1e6)))
    }
    v("Caching.clearOperatorCaches.exec_ms") = mean(of("Caching.clearOperatorCaches", "run").map(_.ms))
    val reqs = SearchSpans.flatMap(of(_, "run"))
    v("spark.jobs_per_req") = mean(reqs.map(s => subtree(s.id).map(t.jobsOf).sum.toDouble))
    v("spark.stages_per_req") = mean(reqs.map(s => subtree(s.id).map(t.stagesOf).sum.toDouble))
    for (o <- IngestSpans) {
      val ss = of(o, "run")
      v(s"$o.exec_ms") = mean(ss.map(s => self(s.id)))
      v(s"$o.cpu_ms") = mean(ss.map(s => sumTotals(s.id)(_.cpuNs / 1e6)))
      v(s"$o.shuffle_mb") = mean(ss.map(s => sumTotals(s.id)(_.shuffleBytes / 1048576.0)))
      v(s"$o.spill_mb") = mean(ss.map(s => sumTotals(s.id)(_.spillBytes / 1048576.0)))
      v(s"$o.gc_ms") = mean(ss.map(s => sumTotals(s.id)(_.gcMs.toDouble)))
    }
    v("Corpus.writePartitioned.written_mb") = mean(of("Corpus.writePartitioned", "run")
      .map(s => sumTotals(s.id)(_.writtenBytes / 1048576.0)))
    for (o <- SetupSpans) v(s"$o.exec_ms") = mean(of(o, "setup").map(_.ms))
    for ((name, _) <- Ratios) v(name) = mean(h.ratios.getOrElse(name, Nil).toSeq)
    v("jvm.gc_ms") = gcRunMs
    v("spark.storage_mb") = storagePeak
    // traced vs untraced median latency, per request kind, then the
    // median over kinds (the kinds' mixes differ between the two sides)
    def byKind(xs: Seq[(String, Double)]) = xs.groupMap(_._1)(_._2)
    val (tr, un) = (byKind(h.tracedLat.toSeq), byKind(h.untracedLat.toSeq))
    val slow = tr.keys.filter(un.contains).map(k => Stats.median(tr(k)) / Stats.median(un(k))).toSeq
    v("trace.overhead_pct") = if (slow.isEmpty) 0.0 else (Stats.median(slow) - 1.0) * 100.0
    // share of the traced steps' wall time covered by module spans
    val steps = spans.filter(s => s.traced && s.phase == "run" && s.parent == 0L)
    val stepMs = steps.map(_.ms).sum
    val rootSelf = steps.map(s => self(s.id)).sum
    v("trace.coverage_pct") = if (stepMs == 0) 0.0 else (1.0 - rootSelf / stepMs) * 100.0
    PerLayer.map { case (n, u) =>
      val x = v.getOrElse(n, 0.0)
      (n, if (x.isNaN || x.isInfinite) 0.0 else x, u)
    }
  }

  private def num(x: Double): String = java.lang.Double.toString(x)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def infoJson(info: collection.Map[String, Any]): String =
    info.map { case (k, v) =>
      val j = v match {
        case d: Double => if (d.isNaN || d.isInfinite) "null" else num(d)
        case n @ (_: Int | _: Long) => n.toString
        case b: Boolean => b.toString
        case o => str(o.toString)
      }
      s"${str(k)}:$j"
    }.mkString("{", ",", "}")

  /** The result line: exactly correct, attempted, failed, metrics. */
  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, x, u) =>
      s"""${str(n)}:{"value":${num(x)},"unit":${str(u)}}""" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":${math.max(1L, attempted)},"failed":$failed,"metrics":$ms}"""
  }
}
