package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The [[Exec.overlap]] contract: input-order results, no early exit
  * while a task runs, suppressed secondary failures, the in-flight
  * bound, nesting without starvation, and per-task job descriptions. */
class ExecSpec extends AnyFunSuite {
  import TestSpark.spark

  test("results come back in input order, whatever order tasks finish in") {
    spark // overlap reads the active session
    val got = Exec.overlap((0 until 6).map { i =>
      s"t$i" -> { () => Thread.sleep((6 - i) * 20L); i * 10 }
    })
    assert(got == (0 until 6).map(_ * 10))
    assert(Exec.overlap(Seq.empty[(String, () => Int)]).isEmpty)
  }

  test("a failing task surfaces only after its slow sibling has finished") {
    spark
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Exec.overlap(Seq[(String, () => Unit)](
        "fails" -> { () => throw new IllegalStateException("boom") },
        "slow" -> { () => Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(e.getMessage == "boom")
    assert(siblingDone.get, "overlap threw while a sibling task was still running")
  }

  test("the first failure in input order is thrown, later ones suppressed") {
    spark
    val e = intercept[RuntimeException] {
      Exec.overlap(Seq[(String, () => Unit)](
        "ok" -> { () => () },
        "first" -> { () => Thread.sleep(200); throw new RuntimeException("first") },
        "second" -> { () => throw new IllegalArgumentException("second") }))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("at most four tasks run at once, and their threads end with the call") {
    spark
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val threads = Exec.overlap((1 to 10).map { i =>
      s"t$i" -> { () =>
        peak.accumulateAndGet(running.incrementAndGet(), math.max)
        Thread.sleep(50)
        running.decrementAndGet()
        Thread.currentThread()
      }
    })
    assert(peak.get <= 4, s"peak in-flight ${peak.get}")
    assert(!threads.contains(Thread.currentThread()))
    threads.distinct.foreach(_.join(10000))
    assert(threads.forall(!_.isAlive), "a pool thread outlived overlap")
  }

  test("an overlap nested inside 8 concurrent overlap tasks completes") {
    spark
    // every outer task waits until all 8 are running at once, so the
    // inner calls can only finish if they need no outer slot
    val allIn = new CountDownLatch(8)
    val sums = Exec.overlap((1 to 8).map { i =>
      s"outer $i" -> { () =>
        allIn.countDown()
        assert(allIn.await(30, TimeUnit.SECONDS), "outer tasks did not all start")
        Exec.overlap((1 to 4).map(j => s"inner $i.$j" -> { () => i * j })).sum
      }
    }, inFlight = 8)
    assert(sums == (1 to 8).map(_ * 10))
  }

  test("each task's Spark jobs carry its description; the caller's is untouched") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("exec-spec ")).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    val before = sc.getLocalProperty("spark.job.description")
    try {
      val counts = Exec.overlap((1 to 3).map { i =>
        s"exec-spec $i" -> { () => spark.range(i * 10L).count() }
      })
      assert(counts == Seq(10L, 20L, 30L))
      val want = Set("exec-spec 1", "exec-spec 2", "exec-spec 3")
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!want.subsetOf(seen.asScala.toSet) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.toSet == want)
      assert(sc.getLocalProperty("spark.job.description") == before)
    } finally sc.removeSparkListener(listener)
  }
}
