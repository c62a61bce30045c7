package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call at a benchmark call boundary. Spans of one op share
  * `op`; `parent` is the enclosing span (0 at an op's root). */
final case class Span(id: Long, op: Long, layer: String, call: String,
                      parent: Long, start: Long, var end: Long = 0L) {
  def name: String = s"$layer.$call"
  def seconds: Double = (end - start) / 1e9
}

/** Spans recorded from the benchmark's own calls into the engine. With
  * tracing off every method just runs its body: no span, no job
  * description, no property. With tracing on, each span also sets the
  * Spark job description and the [[Tracer.SpanKey]] local property, so
  * the [[ExecListener]] can charge every job to the span that ran it.
  * Spans stay in memory until [[writeJson]] at the end of the run. */
final class Tracer(sc: SparkContext) {
  var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var opId = 0L

  def all: Seq[Span] = spans.toSeq

  /** Start a new op: spans opened until the next call share its id. */
  def newOp(): Long = { opId += 1; opId }

  def span[A](layer: String, call: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(nextId, opId, layer, call,
        stack.headOption.map(_.id).getOrElse(0L), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
      sc.setJobDescription(s"op${s.op}/${s.name}")
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setJobDescription(prevDesc)
        sc.setLocalProperty(Tracer.SpanKey, prevSpan)
      }
    }

  /** Self time per layer: each span's duration minus the part of it its
    * direct children cover (children never overlap: one calling thread). */
  def selfSeconds(filter: Span => Boolean): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(filter).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds -
        kids.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  def writeJson(path: java.nio.file.Path, exec: ExecListener): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val e = exec.bySpan.getOrElse(s.id, new ExecAcc)
      sb ++= s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""jobs":${e.jobs},"stages":${e.stages},"tasks":${e.tasks},""" +
        s""""task_s":${e.runMs / 1e3},"input_mb":${e.inputBytes / 1e6}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** Spark local property carrying the id of the span a job runs under. */
  val SpanKey = "graftbench.span"
}

/** Spark execution counters of the jobs run under one span. */
final class ExecAcc {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var peakExecMem = 0L

  def add(o: ExecAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** The benchmark's own SparkListener: charges jobs, completed stages and
  * task metrics to the span (see [[Tracer.SpanKey]]) whose call submitted
  * the job; jobs submitted outside any span land on span 0. */
final class ExecListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Long, ExecAcc]
  private val stageSpan = mutable.HashMap.empty[Int, Long]

  private def acc(span: Long) = bySpan.getOrElseUpdate(span, new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, 0L))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Sum over the spans `ids`, after the bus has delivered every event. */
  def total(sc: SparkContext, ids: Iterable[Long]): ExecAcc = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      val t = new ExecAcc
      ids.foreach(id => bySpan.get(id).foreach(t.add))
      t
    }
  }
}

/** Counts Spark's failed Java compilations of generated code. Spark
  * recovers from each by falling back to interpreted evaluation, so the
  * only trace is the CodeGenerator's error log line; this log4j appender
  * counts those lines while it is installed. */
final class CodegenCounter private (name: String)
    extends org.apache.logging.log4j.core.appender.AbstractAppender(
      name, null, null, true, Array.empty) {
  private val n = new java.util.concurrent.atomic.AtomicLong
  def count: Long = n.get()

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getLoggerName.endsWith("codegen.CodeGenerator") &&
      e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR) &&
      e.getMessage.getFormattedMessage.toLowerCase.contains("failed to compile"))
      n.incrementAndGet()
}

object CodegenCounter {
  def install(): CodegenCounter = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new CodegenCounter("graftbench-codegen")
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    app
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of a fixed ladder of percentiles that leaves at least
    * ten samples above it, with the percentile used (50 when the run has
    * too few samples for any of them). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => xs.length * (1 - p / 100) >= 10).getOrElse(50.0)
    (quantile(xs, p / 100), p)
  }
}
