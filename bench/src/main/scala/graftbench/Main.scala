package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the tracer, the
  * attempted/failed op counts and the samples the metrics come from. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: java.io.File,
                val tracer: Tracer, val exec: ExecListener, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Latency of each op run in an untraced measured pass. */
  val opSamples = mutable.ArrayBuffer.empty[Double]
  var measuring = false
  /** Nanoseconds spent in output checks, which no pass time includes. */
  var checkNs = 0L
  /** After-op release meter: (op, persistent RDDs, their MB), traced only. */
  val meter = mutable.ArrayBuffer.empty[(String, Int, Double)]

  def path(name: String): String = new java.io.File(work, name).getAbsolutePath

  /** Run one op: timed, traced as a span of `layer`, then checked. The
    * check runs outside the timing and returns an error message or None;
    * a thrown exception or a failed check counts the op as failed. */
  def op[A](layer: String, call: String)(body: => A)(check: A => Option[String]): Unit = {
    attempted += 1
    tracer.newOp()
    val t0 = System.nanoTime()
    val out =
      try Right(tracer.span(layer, call)(body))
      catch { case NonFatal(e) => Left(s"$layer.$call threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val dt = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] $layer.$call $dt%.3f s")
    if (measuring && !tracer.on) opSamples += dt
    if (tracer.on) meterAfter(s"$layer.$call")
    val c0 = System.nanoTime()
    val err = out.fold(Some(_), a =>
      try check(a) catch { case NonFatal(e) => Some(s"$layer.$call check threw $e") })
    checkNs += System.nanoTime() - c0
    err.foreach(fail)
  }

  /** A check that is not tied to one op (end-of-run verification). */
  def verify(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    val err = try check catch { case NonFatal(e) => Some(s"$what threw $e") }
    err.foreach(fail)
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
    System.err.println(s"[graftbench] FAILED: $msg")
  }

  private def meterAfter(op: String): Unit = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    meter += ((op, sc.getPersistentRDDs.size, mb))
  }
}

object IO {
  /** Execute the whole plan, every column, through Spark's noop sink. */
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** A benchmark workload: seeded inputs, a one-time build, and a measured
  * pass that runs closed-loop from a single thread. */
trait Workload {
  /** Generate the inputs and build what the ops read. Called several
    * times per run; each call starts from scratch. */
  def prepare(ctx: Ctx): Unit
  /** One pass: a fixed sequence of ops. */
  def pass(ctx: Ctx): Unit
  /** Work units (tokens, documents) in one pass. */
  def itemsPerPass: Double
  /** End-of-run checks of outputs that the passes do not collect. */
  def verify(ctx: Ctx): Unit
  /** Layer metrics from the traced run; called after the passes. */
  def layerMetrics(ctx: Ctx, traced: Seq[Span], passes: Int): Map[String, Double]
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR`. Prints `BENCH_META {..}` and, last,
  * `BENCH_RESULT {..}` with every metric the run measured; `run.py`
  * selects the ones `BENCHMARK.json` asks for. */
object Main {
  final case class PassRec(wall: Double, traced: Boolean, gcS: Double,
                           firstSpan: Long, lastSpan: Long)

  val WarmUpPasses = 4

  val layers = Seq("bench", "SparkEntry", "Word2VecDriver", "TextCorpus",
    "Parity", "Embed", "sink", "IvfStore", "Dedup", "plans")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new java.io.File(args("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val anchorStart = anchor()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val codegen = CodegenCounter.install()
    val tracer = new Tracer(sc)
    val exec = new ExecListener
    if (trace) sc.addSparkListener(exec)
    val ctx = new Ctx(spark, seed, work, tracer, exec, cores)
    val wl: Workload = workload match {
      case "w2v_cli" => new W2vCli
      case "text_dedup" => new TextDedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = session start + input generation and one-time build +
    // warm-up passes; the generation and build are repeated and their
    // median taken, so set-up time is steady enough to compare. Pass
    // times keep falling for several passes after the first (JIT), so
    // the warm-up runs that many before anything is measured.
    def timed(body: => Unit): Double = {
      val s0 = System.nanoTime()
      body
      (System.nanoTime() - s0) / 1e9
    }
    val prepares = (1 to (if (trace) 1 else 3)).map(_ => timed(wl.prepare(ctx)))
    val warmUpS = timed((1 to WarmUpPasses).foreach(_ => wl.pass(ctx)))

    val passes = mutable.ArrayBuffer.empty[PassRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    ctx.measuring = true
    // a pass starts while at least half a typical pass fits before the
    // deadline, so every run of a workload makes about the same passes;
    // the traced run alternates traced and untraced passes, whose
    // difference is the tracing overhead
    def halfFits = passes.isEmpty ||
      System.nanoTime() + Stats.median(passes.map(_.wall).toSeq) * 0.5e9 < deadline
    while (passes.length < (if (trace) 2 else 1) || halfFits) {
      tracer.on = trace && passes.length % 2 == 0
      val firstSpan = tracer.all.lastOption.map(_.id + 1).getOrElse(1L)
      val gc0 = gcSeconds()
      val check0 = ctx.checkNs
      val p0 = System.nanoTime()
      tracer.newOp()
      tracer.span("bench", "pass")(wl.pass(ctx))
      val wall = (System.nanoTime() - p0 - (ctx.checkNs - check0)) / 1e9
      val gcS = gcSeconds() - gc0
      val lastSpan = tracer.all.lastOption.map(_.id).getOrElse(0L)
      passes += PassRec(wall, tracer.on, gcS, firstSpan, lastSpan)
    }
    ctx.measuring = false
    // heap still in use after the passes: two full collections with a
    // pause between them, so Spark's context cleaner can release what
    // the first one found unreachable. Not between passes: the cleaner's
    // work would then land inside the next pass.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    tracer.on = trace
    wl.verify(ctx)

    val plain = passes.filterNot(_.traced)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val meta = mutable.LinkedHashMap.empty[String, Any]
    if (plain.nonEmpty && ctx.opSamples.nonEmpty) {
      val runS = Stats.median(plain.map(_.wall).toSeq)
      val (tailS, tailP) = Stats.tail(ctx.opSamples.toSeq)
      metrics ++= Seq(
        "setup_s" -> (sessionS + Stats.median(prepares) + warmUpS),
        "run_s" -> runS,
        "items_per_s" -> wl.itemsPerPass / runS,
        "retained_heap_mb" -> heapMb)
      meta ++= Seq("op_p50_s" -> Stats.median(ctx.opSamples.toSeq), "op_tail_s" -> tailS,
        "op_tail_percentile" -> tailP, "op_samples" -> ctx.opSamples.length)
    }
    if (trace) metrics ++= layerMetrics(ctx, wl, exec, passes.toSeq, codegen)
    val anchorEnd = anchor()
    meta ++= Seq(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "passes" -> passes.length, "traced_passes" -> passes.count(_.traced),
      "pass_s" -> RawJson(passes.map(_.wall).mkString("[", ",", "]")),
      "session_start_s" -> sessionS, "prepare_s" -> RawJson(prepares.mkString("[", ",", "]")),
      "warm_up_s" -> warmUpS,
      "anchor_start_s" -> anchorStart, "anchor_end_s" -> anchorEnd,
      "failures" -> ctx.failures.map(_.replace('"', '\'').replace('\n', ' ')).mkString(" | "))
    if (trace) {
      val out = java.nio.file.Paths.get(work.getParent, "traces", s"$workload-seed$seed.jsonl")
      tracer.writeJson(out, exec)
      meta += "trace_file" -> out.toString
      ctx.meter.foreach { case (op, n, mb) =>
        System.err.println(f"[graftbench] release meter after $op: $n%d persistent RDDs, $mb%.2f MB") }
    }
    println("BENCH_META " + json(meta.toSeq))
    println("BENCH_RESULT " + json(Seq(
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> RawJson(json(metrics.toSeq)))))
    spark.stop()
    if (ctx.failed > 0) sys.exit(1)
  }

  private def layerMetrics(ctx: Ctx, wl: Workload, exec: ExecListener,
                           passes: Seq[PassRec], codegen: CodegenCounter): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val n = traced.length.toDouble
    val ids = traced.flatMap(p => p.firstSpan to p.lastSpan).toSet
    val spans = ctx.tracer.all.filter(s => ids.contains(s.id))
    val layerOnly = wl.layerMetrics(ctx, spans, traced.length)
    val e = exec.total(ctx.spark.sparkContext, ids)
    val wall = traced.map(_.wall).sum
    // self time per traced pass, plus the one-off layer breakdown the
    // workload ran after the passes
    val afterPasses = traced.last.lastSpan
    val passSelf = ctx.tracer.selfSeconds(s => ids.contains(s.id))
    val breakdownSelf = ctx.tracer.selfSeconds(_.id > afterPasses)
    def self(layer: String) =
      passSelf.getOrElse(layer, 0.0) / n + breakdownSelf.getOrElse(layer, 0.0)
    val plain = passes.filterNot(_.traced).map(_.wall)
    val tracedRun = Stats.median(traced.map(_.wall))
    Map(
      "spark.jobs" -> e.jobs / n,
      "spark.stages" -> e.stages / n,
      "spark.tasks" -> e.tasks / n,
      "spark.task_s" -> e.runMs / 1e3 / n,
      "spark.cpu_s" -> e.cpuNs / 1e9 / n,
      "spark.core_util" -> e.runMs / 1e3 / (wall * ctx.cores),
      "spark.shuffle_write_mb" -> e.shuffleWrite / 1e6 / n,
      "spark.shuffle_read_mb" -> e.shuffleRead / 1e6 / n,
      "spark.spill_mb" -> e.spill / 1e6 / n,
      "spark.input_mb" -> e.inputBytes / 1e6 / n,
      "spark.peak_exec_mem_mb" -> e.peakExecMem / 1e6,
      "cached_rdds_after" -> ctx.meter.lastOption.map(_._2.toDouble).getOrElse(0.0),
      "cached_mb_after" -> ctx.meter.lastOption.map(_._3).getOrElse(0.0),
      "gc_s" -> traced.map(_.gcS).sum / n,
      "trace.run_s" -> tracedRun,
      "trace.overhead_s" -> (if (plain.isEmpty) 0.0 else tracedRun - Stats.median(plain)),
      "plans.codegen_failures" -> codegen.count.toDouble
    ) ++ layers.map(l => s"self_s.$l" -> self(l)) ++ layerOnly
  }

  /** Total collection time of every JVM collector so far, in seconds. */
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Fixed single-thread CPU anchor (a xorshift64* fold, no allocation):
    * best of three, in seconds. Recorded at the start and end of every run
    * so a slow host can be told apart from slow code. */
  def anchor(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 30000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    if (acc == 42L) System.err.println("[graftbench] anchor collision")
    (System.nanoTime() - t0) / 1e9
  }.min

  final case class RawJson(s: String)

  def json(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    val vs = v match {
      case RawJson(s) => s
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case other => "\"" + other.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    "\"" + k + "\":" + vs
  }.mkString("{", ",", "}")
}
