package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Portable, VectorMean, VectorOps}

/** Vector math + the grouped vector-mean Aggregator, reproducing the
  * reference reducer's exact fixture (`Test.scala:124-135`): two 10-dim
  * vectors whose elements pairwise sum to 0.9, counts 3 and 2 →
  * count 5, mean 0.45 in every position. */
class VectorSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("VectorMean reproduces the reference reducer fixture (3+2 -> 5, 0.45^10)") {
    val v1 = Array.tabulate(10)(i => 0.1 + i * 0.01)          // 0.10 .. 0.19
    val v2 = v1.map(x => 0.9 - x)                             // pairwise sum 0.9
    val rows = Seq(("test", 3L, v1), ("test", 2L, v2)).toDF("word", "count", "vector")
    val out = rows.groupBy("word").agg(
      sum("count").as("count"),
      udaf(VectorMean).apply(col("vector")).as("vector"))
    val r = out.select("count", "vector").as[(Long, Array[Double])].head()
    assert(r._1 == 5L)
    assert(r._2.length == 10)
    r._2.foreach(x => assert(math.abs(x - 0.45) < 1e-12))
  }

  test("VectorMean merge handles empty partitions and single rows") {
    val one = Seq(("k", Array(2.0, 4.0))).toDF("k", "v")
      .groupBy("k").agg(udaf(VectorMean).apply(col("v")).as("m"))
      .select("m").as[Array[Double]].head()
    assert(one.toSeq == Seq(2.0, 4.0))
  }

  test("cosine: identity 1, opposite -1, orthogonal 0, zero-vector null") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (Array(1.0, 2.0, 3.0), Array(0.0, 0.0, 0.0)),
    ).toDF("a", "b")
    val got = df.select(HofSpecs.cosine(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(math.abs(got(0).get - 1.0) < 1e-12)
    assert(math.abs(got(1).get + 1.0) < 1e-12)
    assert(math.abs(got(2).get) < 1e-12)
    assert(got(3).isEmpty)
  }

  test("fused CosineSim expression matches the HOF cosine bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(50)((Array.fill(64)(rnd.nextGaussian()), Array.fill(64)(rnd.nextGaussian())))
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.plans.CosineSim.cosine(col("a"), col("b")).as("fused"),
      HofSpecs.cosine(col("a"), col("b")).as("hof")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // interpreted (non-codegen) path too
    val one = rows.head
    val interp = graft.plans.CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(one._1, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(one._2, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))).eval(null)
    assert(interp.asInstanceOf[Double] == got.head.getDouble(1))
  }

  test("CosineSim: length mismatch and zero vectors yield null") {
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),
      (Array(0.0, 0.0), Array(1.0, 2.0)),
    ).toDF("a", "b")
    val got = df.select(graft.plans.CosineSim.cosine(col("a"), col("b"))).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("dot and l2Norm agree with plain Scala") {
    val a = Array(1.5, -2.0, 0.25)
    val b = Array(4.0, 1.0, -8.0)
    val got = Seq((a, b)).toDF("a", "b")
      .select(HofSpecs.dot(col("a"), col("b")), VectorOps.l2Norm(col("a")))
      .as[(Double, Double)].head()
    assert(math.abs(got._1 - a.zip(b).map { case (x, y) => x * y }.sum) < 1e-12)
    assert(math.abs(got._2 - math.sqrt(a.map(x => x * x).sum)) < 1e-12)
  }
}
