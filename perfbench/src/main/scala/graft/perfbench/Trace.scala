package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced public call. `op` is the request id shared by every span of
  * one operation; `parent` is 0 for an operation's root span. Times are
  * epoch milliseconds with sub-millisecond digits, so they line up with the
  * listener's job times. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  /** The layer a span measures: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Span recorder for the traced run. Spans stay in memory and are written
  * once at exit. While disabled (every measured run) `span` is a plain call.
  *
  * The innermost span's id rides the submitting thread's Spark local
  * properties, so every job records the span in which it started (Spark
  * copies local properties onto the threads its SQL executions fork). */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** A root span: a new operation. */
  def op[A](name: String)(body: => A): A =
    if (!enabled) body else {
      val id = ids.incrementAndGet()
      open(id, 0L, id, name, body)
    }

  /** A child of the innermost open span on this thread. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body else stack.get() match {
      case (parent, op) :: _ => open(ids.incrementAndGet(), parent, op, name, body)
      case Nil => this.op(name)(body)
    }

  private def open[A](id: Long, parent: Long, op: Long, name: String, body: => A): A = {
    val saved = stack.get()
    val savedProp = sc.getLocalProperty(Tracer.SpanProperty)
    stack.set((id, op) :: saved)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = nowMs
    try body
    finally {
      done.add(Span(id, parent, op, name, t0, nowMs))
      stack.set(saved)
      sc.setLocalProperty(Tracer.SpanProperty, savedProp)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def writeJson(path: String): Unit = {
    val body = spans.map(s => Harness.json(scala.collection.immutable.ListMap(
      "id" -> s.id, "parent" -> s.parent, "request" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Per-span Spark runtime totals. */
final class SpanCost {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  def add(o: SpanCost): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

/** The benchmark's own listener: attributes every job, stage and task
  * metric to the span in which the job started. */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Double]
  /** (span, job start ms, job end ms) of every finished job. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val costs = mutable.Map.empty[Long, SpanCost]
  /** Task durations (ms) per stage, for the skew figure. */
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(stageSpan(_) = span)
    costs.getOrElseUpdate(span, new SpanCost).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { s =>
      jobIntervals += ((s, jobStart(e.jobId), e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, 0L)
    val c = costs.getOrElseUpdate(span, new SpanCost)
    c.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def costOf(spans: Set[Long]): SpanCost = synchronized {
    val t = new SpanCost
    costs.foreach { case (s, c) => if (spans.contains(s)) t.add(c) }
    t
  }

  /** Milliseconds of `[lo, hi]` covered by at least one job of `spans`. */
  def jobCoveredMs(spans: Set[Long], lo: Double, hi: Double): Double = synchronized {
    val iv = jobIntervals.iterator.filter(j => spans.contains(j._1))
      .map(j => (math.max(lo, j._2), math.min(hi, j._3))).filter(j => j._2 > j._1)
      .toSeq.sortBy(_._1)
    var covered = 0.0
    var end = Double.NegativeInfinity
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** The largest stage's (by total task time) max task time over its
    * median task time, across the stages of `spans`. */
  def stageSkew(spans: Set[Long]): Double = synchronized {
    val stages = stageSpan.collect { case (st, s) if spans.contains(s) => st }
      .flatMap(st => stageTasks.get(st)).filter(_.nonEmpty)
    if (stages.isEmpty) 0.0
    else {
      val big = stages.maxBy(_.sum)
      val med = Harness.median(big.toSeq)
      if (med <= 0) 1.0 else big.max / med
    }
  }
}

/** Counts whole-stage codegen and expression codegen fallbacks, which Spark
  * reports only as log warnings. */
object CodegenFallbacks {
  val count = new LongAdder
  private val pattern =
    "(?i)(whole-stage codegen disabled|falling back to interpreter|fallback to interpreted|failed to compile)".r

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            pattern.findFirstIn(e.getMessage.getFormattedMessage).isDefined) count.increment()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }
}
