package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinAlg

class LinAlgSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("q103 spectrum: ratios are decreasing, nonnegative, and sum to at most 1") {
    val rows = SparkEntry.queries("q103_pca_variance")(spark, TestSpark.sf0001).collect()
    assert(rows.length == 8)
    val ratios = rows.sortBy(_.getLong(0)).map(_.getDouble(1))
    assert(ratios.forall(_ >= 0.0))
    assert(ratios.zip(ratios.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"explained variance must be non-increasing: ${ratios.mkString(",")}")
    assert(ratios.sum <= 1.0 + 1e-9)
  }

  test("q103b covariance cells agree with an independent driver-side computation") {
    val cells = SparkEntry.queries("q103b_covariance")(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val d = 64
    assert(cells.size == d * (d + 1) / 2, "upper triangle of a 64x64 matrix")
    // plain-Scala sample covariance over the collected vectors (500×64
    // at sf0.001) — shares no code with the engine path under test
    val vecs = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val n = vecs.length
    val mean = Array.tabulate(d)(i => vecs.map(_(i)).sum / n)
    def ref(i: Int, j: Int): Double =
      vecs.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / (n - 1)
    for (i <- 0 until d; j <- i until d)
      assert(math.abs(cells((i.toLong, j.toLong)) - ref(i, j)) < 2e-6,
        s"cell ($i,$j): got ${cells((i.toLong, j.toLong))}, reference ${ref(i, j)}")
    // the PCA spectrum must be consistent with its declared input:
    // total variance = trace of the covariance
    val trace = (0 until d).map(i => cells((i.toLong, i.toLong))).sum
    assert(trace > 0.0)
  }

  test("q103b covariance returns empty (not a crash) on an empty corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cov-empty").toString
    import spark.implicits._
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    assert(SparkEntry.queries("q103b_covariance")(spark, dir).collect().isEmpty)
  }

  test("q104 drift detects a planted parity-correlated mean shift on one dimension") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    def noise(i: Int, d: Int) = 0.01 * (((i * 29 + d * 11) % 13) - 6)
    // snapshot B (odd vec_id) is shifted by +0.5 on dim 5 only
    (0 until 400).map { i =>
      val v = Array.tabulate(64)(d => noise(i, d).toFloat)
      if (i % 2 == 1) v(5) += 0.5f
      (i.toLong, v)
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q104_embedding_drift")(spark, dir).collect()
    assert(rows.length == 64)
    val shift = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(shift(5L) - 0.5) < 0.01,
      s"planted +0.5 shift on dim 5 must be reported: ${shift(5L)}")
    assert((0 until 64).filter(_ != 5).forall(d => math.abs(shift(d.toLong)) < 0.01),
      "undrifted dimensions must report ~zero shift")
    val vars = rows.map(r => (r.getLong(0), (r.getDouble(4), r.getDouble(5)))).toMap
    assert(vars.forall { case (_, (va, vb)) => va >= 0 && vb >= 0 })
  }

  test("q105 whitened near-dup ranks a planted duplicate pair first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-white").toString
    // seeded Random, NOT a modular pattern: periodic arithmetic noise
    // mints accidental exact duplicates that legitimately outrank the
    // planted pair
    val rnd = new scala.util.Random(42)
    // anisotropic base: dim 0 carries 50x the spread, so RAW cosine is
    // dominated by dim-0 agreement; whitening must undo that.
    val base = (0 until 300).map { i =>
      val v = Array.tabulate(64)(_ => (0.02 * (rnd.nextDouble() - 0.5)).toFloat)
      v(0) = (if (i % 2 == 0) 0.5f else -0.5f) + (0.02 * (rnd.nextDouble() - 0.5)).toFloat
      (i.toLong, v)
    }
    // planted near-dup: row 1000 = row 7 + tiny perturbation
    val dup = base(7)._2.clone()
    dup(11) = dup(11) + 0.001f
    (base :+ (1000L, dup)).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q105_whitened_neardup")(spark, dir).collect()
    assert(rows.nonEmpty, "candidate generation must produce pairs")
    val top = rows.head
    assert((top.getLong(0), top.getLong(1)) == (7L, 1000L),
      s"planted duplicate must rank first, got (${top.getLong(0)},${top.getLong(1)})")
    assert(top.getDouble(2) > 0.99, s"whitened cosine of a near-copy: ${top.getDouble(2)}")
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("q105 returns empty (not a crash) on an empty corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-white-empty").toString
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    assert(SparkEntry.queries("q105_whitened_neardup")(spark, dir).collect().isEmpty)
  }

  test("pca finds a planted dominant axis and returns orthonormal components") {
    // variance 100x larger along dimension 3 than anywhere else: the
    // first principal component must align with e3 and claim almost
    // all the variance
    val dir = java.nio.file.Files.createTempDirectory("graft-pca").toString
    def noise(i: Int, d: Int) = 0.01 * (((i * 31 + d * 7) % 11) - 5)
    (0 until 200).map { i =>
      val v = Array.tabulate(64)(d => noise(i, d).toFloat)
      v(3) = (if (i % 2 == 0) 1.0f else -1.0f) * (1.0f + 0.001f * i)
      (i.toLong, v)
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val (comps, ratios) = LinAlg.pca(Tables.embeddings(spark, dir), k = 4)
    assert(ratios.head > 0.9, s"dominant axis must claim the spectrum: ${ratios.mkString(",")}")
    assert(math.abs(comps.head(3)) > 0.99, "first component must align with dimension 3")
    // orthonormality
    for (a <- comps.indices; b <- comps.indices) {
      val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
      val expected = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expected) < 1e-6, s"components $a,$b dot=$dot")
    }
  }

  test("projection preserves the planted separation at a quarter of the width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-proj").toString
    def noise(i: Int, d: Int) = 0.01 * (((i * 17 + d * 13) % 7) - 3)
    (0 until 100).map { i =>
      val v = Array.tabulate(64)(d => noise(i, d).toFloat)
      v(5) = if (i < 50) 2.0f else -2.0f // two planted clusters
      (i.toLong, v)
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    val (comps, _) = LinAlg.pca(emb, k = 16)
    val projected = LinAlg.project(emb, comps).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap // pc0 carries the split
    val a = (0 until 50).map(i => projected(i.toLong))
    val b = (50 until 100).map(i => projected(i.toLong))
    assert(a.forall(x => math.signum(x) == math.signum(a.head)),
      "cluster A must stay on one side of the first component")
    assert(b.forall(x => math.signum(x) == math.signum(b.head)) &&
      math.signum(b.head) != math.signum(a.head),
      "cluster B must land on the other side")
  }

  test("q107 projection is reproducible and orders components by variance") {
    val run1 = LinAlg.q107PcaProject(spark, TestSpark.sf0001).collect()
    val run2 = LinAlg.q107PcaProject(spark, TestSpark.sf0001).collect()
    assert(run1.nonEmpty && (run1.map(_.toSeq).toSeq == run2.map(_.toSeq).toSeq),
      "same corpus must project identically across runs (the rows-only contract)")
    // pc_i sample variance must be non-increasing — the defining PCA
    // invariant, and sign/rotation-free (unlike the coordinates)
    val vars = (0 until 8).map { i =>
      val xs = run1.map(_.getDouble(i + 1))
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
    }
    vars.sliding(2).foreach { case Seq(a, b) =>
      assert(a >= b - 1e-9, s"variance must not increase along components: $vars")
    }
  }

  test("q107 returns the empty projection schema (not a crash) on an empty corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q107-empty").toString
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = LinAlg.q107PcaProject(spark, dir)
    assert(out.columns.toSeq == "vec_id" +: (0 until 8).map(i => s"pc$i"))
    assert(out.collect().isEmpty)
  }
}
