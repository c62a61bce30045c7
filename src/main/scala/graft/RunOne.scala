package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: run declared queries N times each against an sf dir and
  * print one timing line per query.
  * `sbt "runMain graft.RunOne q33_ngram_jaccard,q34_knn_cosine <sfDir> 3 explain"`
  *
  * Args: a comma-separated list of query names (one name is a list of
  * one), the sf dir, the iteration count (default 3), and an optional
  * mode: `explain` prints each query's formatted plan before its runs;
  * `jobs` adds the Spark job count and summed job wall time of each
  * query's last iteration to its line. `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`
  * overlays extra Spark confs, so config experiments need no rebuild. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
    val spark = LocalSession(32, b =>
      extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) })
    try run(spark, args) finally spark.stop()
  }

  /** Everything `main` does after session construction. Every name is
    * resolved before anything runs, so a typo fails fast and names
    * itself. Each run writes the full plan to the noop sink: unlike
    * count(), it keeps every projection and the final sort. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunOne <name[,name...]> <sfDir> [iters] [explain|jobs]")
    val sfDir = args(1)
    val iters = args.lift(2).fold(3)(_.toInt)
    require(iters >= 1, s"RunOne: iters must be >= 1, got $iters")
    val mode = args.lift(3)
    require(mode.forall(Set("explain", "jobs")), s"RunOne: unknown mode '${mode.get}'")
    val queries = args(0).split(",").toSeq.map { n =>
      n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"RunOne: unknown query '$n'"))
    }
    queries.foreach { case (name, fn) =>
      if (mode.contains("explain")) fn(spark, sfDir).explain("formatted")
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val earlier = (1 until iters).map(_ => once())
      val (last, jobsNote) =
        if (mode.contains("jobs")) {
          val (t, n, wall) = jobSpan(spark)(once())
          (t, f"  jobs $n (wall $wall%.2f s)")
        } else (once(), "")
      val times = earlier :+ last
      println(f"[runone] $name: min ${times.min}%.2f s  " +
        s"(${times.map(t => f"$t%.2f").mkString(", ")})$jobsNote")
    }
  }

  private val Marker = "runone-marker"

  /** `body`'s result, the Spark jobs it starts, and their summed wall
    * time in seconds. The listener bus is asynchronous but delivers
    * events in order, so `body` runs between two marker jobs: the jobs
    * counted are those that start after the first marker, and the
    * second marker's arrival proves every one of them was delivered. */
  private def jobSpan[A](spark: SparkSession)(body: => A): (A, Int, Double) = {
    val sc = spark.sparkContext
    val closed = new CountDownLatch(1)
    // touched only on the listener-bus thread until `closed` opens
    var open = false
    var jobs = 0
    var wallMs = 0L
    val starts = scala.collection.mutable.Map.empty[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker)) {
          if (open) { open = false; closed.countDown() } else open = true
        } else if (open) { jobs += 1; starts(e.jobId) = e.time }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach(t0 => wallMs += e.time - t0)
    }
    def mark(): Unit = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(prev)
      ()
    }
    sc.addSparkListener(listener)
    val result = try {
      mark()
      val a = body
      mark()
      require(closed.await(1, TimeUnit.MINUTES),
        "RunOne: the listener bus did not deliver the closing marker job")
      a
    } finally sc.removeSparkListener(listener)
    (result, jobs, wallMs / 1e3)
  }
}
