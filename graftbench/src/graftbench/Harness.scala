package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Caching, Sessions}

/** Command-line arguments of one benchmark run. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    plantWrong: Boolean, workDir: String, cores: Int, heap: String,
    traceDir: String, digest: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("plant-wrong").contains("1"), need("work-dir"),
      need("cores").toInt, need("heap"), need("trace-dir"), argv.contains("--digest"))
  }
}

/** Shared run machinery: the Spark session, timed search requests with
  * the Caching contract applied after each, deferred answer checks,
  * byte accounting and the result record.
  */
final class Harness(val a: Args) {
  val tracer = new Tracer(a.trace)
  var spark: SparkSession = _
  val work: File = new File(a.workDir)

  /** Search latencies (ms) of the run phase, by request kind; in a
    * traced run, `untracedLat` holds the alternate untraced requests.
    */
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val untracedLat = mutable.ArrayBuffer.empty[(String, Double)]
  val tracedLat = mutable.ArrayBuffer.empty[(String, Double)]
  val recalls = mutable.ArrayBuffer.empty[Double]
  val ratios = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val checks = mutable.ArrayBuffer.empty[() => Option[String]]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  var bytesWritten = 0L
  val info = mutable.LinkedHashMap.empty[String, Any]

  def path(name: String): String = new File(work, name).getAbsolutePath

  /** Start a fresh local session (stopping any previous one): the
    * `Sessions.localBuilder` span of set-up.
    */
  def newSession(): SparkSession = {
    if (spark != null) { spark.stop(); spark = null }
    spark = tracer.span("Sessions.localBuilder") {
      val s = Sessions.localBuilder(a.cores)
        .appName("graftbench")
        .config("spark.local.dir", path("spark-local"))
        .config("spark.sql.warehouse.dir", path("warehouse"))
        .config("spark.driver.memory", a.heap)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    tracer.attach(spark.sparkContext)
    spark
  }

  /** Run one search request: the operator call plus forcing its
    * physical plan (`<span>` child "plan"), the collect, then the
    * Caching contract's clear. Records the latency under `kind` when
    * in the run phase. Returns the rows, or None when it failed.
    */
  def request(kind: String, spanName: String)(build: => DataFrame): Option[Array[Row]] = {
    val t0 = System.nanoTime()
    val rows = try Some(tracer.span(spanName) {
      val df = tracer.span("plan") { val d = build; d.queryExecution.executedPlan; d }
      df.collect()
    }) catch { case e: Exception => fail(s"$kind request: $e"); None }
    clearCaches()
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.phase == "run") {
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      if (a.trace) (if (tracer.active) tracedLat else untracedLat) += (kind -> ms)
    }
    rows
  }

  def clearCaches(): Unit =
    tracer.span("Caching.clearOperatorCaches")(Caching.clearOperatorCaches(spark))

  /** Count an operation and register its answer check, run after the
    * timed window so checking never adds to a measured latency.
    */
  def op(check: => Option[String]): Unit = {
    attempted += 1
    checks += (() => check)
  }

  def fail(msg: String): Unit = {
    attempted += 1
    failed += 1
    if (errors.size < 20) errors += msg
  }

  def ratio(name: String, v: Double): Unit =
    if (!v.isNaN) ratios.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run the deferred answer checks; wrong answers count as failed. */
  def runChecks(): Unit = {
    checks.foreach { c =>
      val r = try c() catch { case e: Exception => Some(s"check threw $e") }
      r.foreach { msg => failed += 1; if (errors.size < 20) errors += msg }
    }
    checks.clear()
  }

  /** Bytes of every regular file under `p` (a table directory). */
  def diskBytes(p: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) f.length
      else 0L
    walk(new File(p))
  }

  /** Record a table write: its on-disk bytes count toward write_amp. */
  def wrote(p: String): Long = { val b = diskBytes(p); bytesWritten += b; b }

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.deleteIfExists(x): Unit)
    }
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  /** The host's aggregate CPU counters (/proc/stat "cpu" line, in
    * clock ticks), or None where the file does not exist.
    */
  def cpuTicks: Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: java.io.IOException => None }

  /** Spark storage memory in use by cached blocks, in MB. */
  def storageMb: Double =
    if (spark == null) 0.0
    else spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)

  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def writeTrace(): Unit =
    tracer.writeJsonl(Paths.get(a.traceDir, s"${a.workload}-seed${a.seed}.spans.jsonl"))
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail quantile the sample supports: the highest of p95, p90,
    * p75 with at least ten samples beyond it, else the median. A fixed
    * ladder, not 1 - 10/n: with a quantile that slides with the sample
    * count, a run one pass longer or shorter can move it across the
    * border between two request kinds' latency bands.
    */
  def tailQ(n: Int): Double =
    Seq(0.95, 0.9, 0.75).find(q => n * (1.0 - q) >= 10.0 - 1e-9).getOrElse(0.5)
}
