package servebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call across a layer boundary. `req` groups the spans of
  * one request (see [[Tracer.SetupBase]] for the id ranges). */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark task counters summed over the jobs of one span name or request. */
final class Counters {
  val jobs, tasks, failedTasks, runMs, cpuNs, waitMs = new AtomicLong
  val inputRows, inputBytes, outputBytes, shuffleBytes = new AtomicLong
}

/** Benchmark-side tracer. Spans are recorded only around the benchmark's
  * calls into the engine's public functions and kept in memory until
  * the run ends. The span name and request id of the calling thread
  * ride Spark local properties into job submission, where
  * [[TaskCounters]] picks them up, so task metrics are attributed to the
  * layer call that caused them even when requests run concurrently.
  * Disabled, every method is a plain call-through.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  // (span id, request id, span name) of the innermost open span
  private val current = new ThreadLocal[(Long, Long, String)] {
    override def initialValue(): (Long, Long, String) = (0L, 0L, "")
  }

  val counters: TaskCounters =
    if (enabled) { val c = new TaskCounters; sc.addSparkListener(c); c } else null

  /** Open a root span for request `req`. */
  def request[T](req: Long, name: String)(body: => T): T =
    if (!enabled) body else timed(name, req, parent = 0L)(body)

  /** Open a child span of the calling thread's innermost span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else { val (p, req, _) = current.get; timed(name, req, p)(body) }

  private def timed[T](name: String, req: Long, parent: Long)(body: => T): T = {
    val saved = current.get
    val id = ids.incrementAndGet()
    current.set((id, req, name))
    sc.setLocalProperty(TaskCounters.SpanProp, name)
    sc.setLocalProperty(TaskCounters.ReqProp, req.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, req, t0, System.nanoTime()))
      current.set(saved)
      sc.setLocalProperty(TaskCounters.SpanProp, if (saved._3.isEmpty) null else saved._3)
      sc.setLocalProperty(TaskCounters.ReqProp,
        if (saved._3.isEmpty) null else saved._2.toString)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time per (request, span name): a span's duration minus the
    * part of it its child spans cover (children never overlap: a
    * request runs its layer calls one after another). */
  def selfMs: Map[(Long, String), Double] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(s => (s.req, s.name)).map { case (k, ss) =>
      k -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Write every span as one JSON line; called once, at exit. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.sortBy(_.id).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "req" -> s.req.toString,
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Request ids from here up are set-up reps; 1 until here are measured
    * requests; warm-up requests are negative. */
  val SetupBase: Long = 1L << 40
  def isMeasured(req: Long): Boolean = req > 0 && req < SetupBase
}

object TaskCounters {
  val SpanProp = "servebench.span"
  val ReqProp = "servebench.req"
  private val DrainSpan = "__drain"
}

/** Spark listener summing the task metrics of measured requests per span
  * name and per request. */
final class TaskCounters extends SparkListener {
  import TaskCounters._

  val bySpan = new ConcurrentHashMap[String, Counters]
  val byReq = new ConcurrentHashMap[Long, Counters]
  private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]
  @volatile private var drained = false

  private def of[K](m: ConcurrentHashMap[K, Counters], k: K): Counters =
    m.computeIfAbsent(k, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(SpanProp))).getOrElse("")
    val req = p.flatMap(x => Option(x.getProperty(ReqProp))).map(_.toLong).getOrElse(Long.MinValue)
    e.stageIds.foreach(s => stageOwner.put(s, (span, req)))
    if (Tracer.isMeasured(req)) {
      of(bySpan, span).jobs.incrementAndGet()
      of(byReq, req).jobs.incrementAndGet()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (span, req) = Option(stageOwner.get(e.stageId)).getOrElse(("", Long.MinValue))
    if (span == DrainSpan) { drained = true; return }
    if (!Tracer.isMeasured(req)) return
    val targets = Seq(of(bySpan, span), of(byReq, req))
    val m = e.taskMetrics
    val wait = Option(stageSubmitted.get(e.stageId))
      .map(t => math.max(0L, e.taskInfo.launchTime - t)).getOrElse(0L)
    targets.foreach { c =>
      c.tasks.incrementAndGet()
      if (e.reason != Success) c.failedTasks.incrementAndGet()
      c.waitMs.addAndGet(wait)
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.inputRows.addAndGet(m.inputMetrics.recordsRead)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Block until the listener has seen every event posted so far: a
    * marker job's task end arrives after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    drained = false
    sc.setLocalProperty(SpanProp, DrainSpan)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def span(name: String): Counters = of(bySpan, name)

  /** Counters summed over all measured requests. */
  def measured: Counters = {
    val t = new Counters
    byReq.asScala.values.foreach { c =>
      Seq((t.jobs, c.jobs), (t.tasks, c.tasks), (t.failedTasks, c.failedTasks),
        (t.runMs, c.runMs), (t.cpuNs, c.cpuNs), (t.waitMs, c.waitMs),
        (t.inputRows, c.inputRows), (t.inputBytes, c.inputBytes),
        (t.outputBytes, c.outputBytes), (t.shuffleBytes, c.shuffleBytes))
        .foreach { case (a, b) => a.addAndGet(b.get) }
    }
    t
  }
}
