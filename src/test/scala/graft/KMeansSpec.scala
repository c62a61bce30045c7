package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KMeans

/** Lloyd fit behavior on planted structure plus q116 invariants —
  * exact values are the DuckDB oracle's job. */
class KMeansSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  test("fit recovers three planted well-separated blobs from seeded starts") {
    import spark.implicits._
    // blob centers far apart; seeds 0/1/2 land one per blob, members
    // 3..59 cycle through blobs with small deterministic jitter
    val centers = Seq(
      Array.fill(8)(0.0), Array.fill(8)(10.0), Array.fill(8)(-10.0))
    val rows = (0 until 60).map { i =>
      val blob = i % 3
      val jitter = 0.01 * ((i * 37 % 13) - 6)
      (i.toLong, centers(blob).map(_ + jitter))
    }
    val e = rows.toDF("vec_id", "v")
    val cents = KMeans.fit(e, k = 3, iters = 3)
    val got = KMeans.assign(e, cents).select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, _) =>
      assert(got(id) == id % 3, s"vec $id landed in ${got(id)}, wanted ${id % 3}")
    }
    // recovered centroids sit on the blob centers (jitter averages ~0)
    val cvs = cents.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    centers.zipWithIndex.foreach { case (c, i) =>
      cvs(i.toLong).zip(c).foreach { case (gotX, wantX) =>
        assert(math.abs(gotX - wantX) < 0.05, s"cluster $i centroid drifted: $gotX vs $wantX")
      }
    }
  }

  test("q119 IVF search: contiguous monotone ranks, recall floor vs exact L2") {
    val rows = SparkEntry.queries("q119_ivf_search")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val recalls = rows.groupBy(_._1).map { case (q, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).sameElements(1L to byRank.size), s"q$q: rank gap")
      assert(byRank.map(_._4).sliding(2).forall {
        case Array(a, b) => a <= b
        case _ => true
      }, s"q$q: l2sq not monotone in rank")
      val qv = vecs(q)
      val exact = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          id -> v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
        }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      byRank.map(_._3).count(exact.contains) / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF nprobe=4/16 recall@10 vs exact L2: mean $mean%.2f over ${recalls.size} queries")
    // probing 4 of 16 cells on the uniform worst-case fixture; a
    // structured corpus (or more probes) only raises this
    assert(mean >= 0.3, f"IVF recall collapsed: $mean%.2f")
  }

  test("q116: every vector lands in exactly one of K clusters, distances ordered") {
    val rows = SparkEntry.queries("q116_kmeans_fit")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty && rows.length <= KMeans.K)
    val nVec = Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_._2).sum == nVec, "every vector assigned exactly once")
    rows.foreach { case (c, n, mn, mx, norm) =>
      assert(n > 0 && mn >= 0.0 && mn <= mx, s"cluster $c: bad distance range")
      assert(norm > 0.0, s"cluster $c: degenerate centroid")
    }
  }

  test("q148 recall@10 is coherent and the Nprobe=4 probe finds most true neighbors") {
    val rows = SparkEntry.queries("q148_ivf_recall")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10, "one recall row per eval query")
    rows.foreach { case (q, n, rec) =>
      assert(n >= 0 && n <= 10, s"query $q: overlap $n outside [0,10]")
      assert(math.abs(rec - n / 10.0) < 1e-9, s"query $q: recall != overlap/10")
    }
    val mean = rows.map(_._3).sum / rows.length
    // probing 4 of 16 cells must beat random cell luck by a wide
    // margin — a broken probe ranking would sit near Nprobe/K = 0.25
    assert(mean >= 0.5, s"mean recall $mean: the probe ranking is broken")
    // and the eval must be non-vacuous: pruning SHOULD cost something
    // somewhere, or the fixture can't distinguish IVF from brute force
    assert(rows.exists(_._2 < 10) || mean == 1.0)
  }

  test("q242 per-K centroids are bit-identical to independent seeded fits") {
    // the K sweep shares one Lloyd stream across its four seed tables;
    // each table must still land exactly where fit(e, k) lands alone
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def bits(cv: Seq[Double]): Seq[Option[Long]] =
      if (cv == null) null
      else cv.asInstanceOf[Seq[java.lang.Double]]
        .map(x => Option(x).map(d => java.lang.Double.doubleToLongBits(d)))
    val swept = KMeans.kSweepCentroids(e).toMap
    assert(swept.keySet == KMeans.KSweep.map(_.toLong).toSet)
    KMeans.KSweep.foreach { k =>
      val alone = KMeans.fit(e, k).collect()
        .map(r => r.getLong(0) -> bits(r.getSeq[Double](1))).toMap
      val inSweep = swept(k.toLong).map { case (cl, cv) => cl -> bits(cv) }.toMap
      assert(alone.size == k, s"K=$k: the fixture must seed all $k cells")
      val differ = (alone.keySet ++ inSweep.keySet).filter(cl => alone.get(cl) != inSweep.get(cl))
      assert(differ.isEmpty, s"K=$k: swept clusters differ from fit(e, $k)")
    }
  }
}
