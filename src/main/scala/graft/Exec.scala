package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The engine's one home for running independent Spark jobs side by
  * side. Spark job submission is thread-safe and local[*] time-shares
  * its cores, so jobs that do not depend on each other fill each
  * other's stage tails and driver gaps instead of serializing. */
object Exec {

  /** Runs `tasks` concurrently, at most `min(tasks.size, inFlight)` at
    * once, and returns their results in input order. Each task runs on
    * its own pool thread with its description as the Spark job
    * description, so every job it submits carries it.
    *
    * The pool belongs to this call: a task may call `overlap` again
    * (Verify's queries do) without waiting on a slot its caller holds.
    * Pool threads are created on the calling thread and so inherit its
    * Spark local properties (a tracer's span key, say); the pool is
    * shut down and drained before `overlap` returns.
    *
    * `overlap` never returns or throws while a task it started is still
    * running. When tasks fail it throws the first failure in input
    * order, with the later ones attached as suppressed. */
  def overlap[A](tasks: Seq[(String, () => A)], inFlight: Int = 4): Seq[A] = {
    val sc = SparkSession.active.sparkContext
    val pool = Executors.newFixedThreadPool(math.min(tasks.size, inFlight).max(1))
    try {
      val pending = tasks.map { case (desc, body) =>
        pool.submit(new Callable[A] {
          def call(): A = { sc.setJobDescription(desc); body() }
        })
      }
      val outcomes = pending.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(a) => a }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
