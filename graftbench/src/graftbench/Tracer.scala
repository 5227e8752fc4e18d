package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftshim.ListenerBusShim

/** One recorded span: a call from the harness into one graft module.
  * `phase` is setup | warmup | run; `req` groups the spans of one
  * request (or one build).
  */
final case class Span(
    id: Long, parent: Long, name: String, phase: String, req: Long,
    start: Long, end: Long, traced: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** Spark task totals attributed to one span (through its job group). */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
  var waitMs = 0L
}

/** Spans + Spark listener attribution, all in the harness.
  *
  * Every span records name, start, end, parent, request id and phase
  * in memory; they are written out once at exit. When `enabled`, each
  * span sets a Spark job group named after its id, and a listener
  * files every task's metrics under the group of the stage that ran
  * it — so task time, CPU, GC, shuffle, spill and write bytes land on
  * the innermost span that launched the job, with nothing changed in
  * the library. When disabled, spans are still timed (the harness
  * needs request latencies) but no job group is set and no listener
  * is registered.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var sc: SparkContext = _
  var phase = "setup"
  var req = 0L
  /** when false, spans in this stretch count as untraced even if the
    * tracer is enabled (the traced run alternates to measure overhead)
    */
  var active = true

  private val totals = new ConcurrentHashMap[Long, TaskTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]()
  private val jobsBySpan = new ConcurrentHashMap[Long, AtomicLong]()
  private val stagesBySpan = new ConcurrentHashMap[Long, AtomicLong]()
  val GroupPrefix = "graftbench-span-"

  private object Listener extends SparkListener {
    private def group(p: java.util.Properties): Option[Long] =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      group(e.properties).foreach { g =>
        jobsBySpan.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      group(e.properties).foreach { g =>
        stageGroup.put(e.stageInfo.stageId, g)
        stageSubmit.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        stagesBySpan.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
      }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (stageGroup.containsKey(e.stageId))
        stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      Option(stageGroup.get(id)).foreach { g =>
        val sub = Option(stageSubmit.get(id))
        val first = Option(stageFirstLaunch.get(id))
        for (s <- sub; f <- first) totalsFor(g).synchronized {
          totalsFor(g).waitMs += math.max(0L, f - s)
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val t = totalsFor(g)
        val m = e.taskMetrics
        t.synchronized {
          t.tasks += 1
          if (m != null) {
            t.cpuNs += m.executorCpuTime
            t.gcMs += m.jvmGCTime
            t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            t.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
            t.writtenBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private def totalsFor(g: Long): TaskTotals =
    totals.computeIfAbsent(g, _ => new TaskTotals)

  /** Bind to a (new) SparkContext; registers the listener when enabled. */
  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    if (enabled) ctx.addSparkListener(Listener)
  }

  /** Time `body` as span `name`; nested calls become child spans. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val traced = enabled && active
    if (traced && sc != null)
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans.synchronized {
        spans += Span(id, parent, name, phase, req, t0, t1, traced)
      }
      if (traced && sc != null) {
        if (parent != 0L) sc.setJobGroup(GroupPrefix + parent, "", interruptOnCancel = false)
        else sc.clearJobGroup()
      }
    }
  }

  /** Deliver every queued listener event before reading totals. */
  def flush(): Unit = if (enabled && sc != null) ListenerBusShim.flush(sc, 30000L): Unit

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def totalsOf(id: Long): Option[TaskTotals] = Option(totals.get(id))
  def jobsOf(id: Long): Long = Option(jobsBySpan.get(id)).map(_.get).getOrElse(0L)
  def stagesOf(id: Long): Long = Option(stagesBySpan.get(id)).map(_.get).getOrElse(0L)

  /** Self time of each span: its duration minus the union of its
    * children's intervals (children are sequential here, so the union
    * is their sum, clipped to the parent).
    */
  def selfMs: Map[Long, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map { c =>
        math.max(0L, math.min(c.end, s.end) - math.max(c.start, s.start))
      }.sum
      s.id -> math.max(0.0, (s.end - s.start - covered) / 1e6)
    }.toMap
  }

  /** Spans as JSON lines (written once, at exit). */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = all.sortBy(_.start).map { s =>
      val t = totalsOf(s.id)
      val extra = t.map(x =>
        f""","tasks":${x.tasks},"cpu_ms":${x.cpuNs / 1e6}%.3f,"gc_ms":${x.gcMs},""" +
          f""""shuffle_bytes":${x.shuffleBytes},"spill_bytes":${x.spillBytes},""" +
          f""""written_bytes":${x.writtenBytes},"wait_ms":${x.waitMs}""").getOrElse("")
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","phase":"${s.phase}",""" +
        f""""req":${s.req},"start_ns":${s.start},"end_ns":${s.end},""" +
        f""""self_ms":${self(s.id)}%.3f,"traced":${s.traced}$extra}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
