package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** [[Dedup.bucketPairs]], the sort-run pair scan behind q33, q264 and
  * the simhash candidate generator, against the bucket-collect form it
  * replaced ([[HofSpecs.bucketPairs]]): the same pair multiset on
  * generated keyed frames, and q33 / q264 rows that do not depend on
  * the shuffle partition count or AQE. */
class BucketPairsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private val cap = 6

  private val configs = for {
    parts <- Seq("1", "4", "32")
    aqe <- Seq("true", "false")
  } yield Seq("spark.sql.shuffle.partitions" -> parts, "spark.sql.adaptive.enabled" -> aqe)

  private def withConf[A](kv: Seq[(String, String)])(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Ids of one bucket: `df` non-null ids drawn from a range small
    * enough to repeat, plus up to two null ids, which never count. */
  private def bucket(rnd: Random, df: Int): Seq[Option[Long]] =
    Seq.fill(df)(Some(rnd.nextInt(3 * cap).toLong)) ++ Seq.fill(rnd.nextInt(3))(None)

  /** Bucket sizes with df = 0, 1, cap and cap + 1 each present, then
    * random sizes around the cap. */
  private def sizes(rnd: Random): Seq[Int] =
    Seq(0, 1, 1, cap, cap, cap + 1, cap + 1) ++ Seq.fill(40)(rnd.nextInt(cap + 3))

  /** Asserts the scan's pair multiset equals the reference's under every
    * config, and returns the reference. */
  private def checkParity(keyed: DataFrame, keys: Seq[String]): Seq[(Long, Long)] = {
    val want = pairs(HofSpecs.bucketPairs(keyed, keys, "id", cap))
    val got = Dedup.bucketPairs(keyed, keys, "id", cap)
    assert(got.schema.map(f => f.name -> f.dataType) == Seq("id_a" -> LongType, "id_b" -> LongType),
      s"schema: ${got.schema}")
    configs.foreach { kv =>
      assert(withConf(kv)(pairs(got)) == want, s"pair multiset differs at $kv")
    }
    want
  }

  test("bucketPairs equals the collect_list pair form on one key with null keys, null and duplicate ids") {
    val rnd = new Random(11L)
    val rows = sizes(rnd).zipWithIndex.flatMap { case (df, b) =>
      bucket(rnd, df).map(id => (Option(b.toLong), id))
    } ++
      bucket(rnd, cap - 1).map(id => (Option.empty[Long], id)) ++ // the null key is one bucket
      Seq(Some(7L), Some(7L), Some(9L), None).map(id => (Some(-1L), id)) // planted duplicate
    val keyed = spark.sparkContext.parallelize(rnd.shuffle(rows), 3).toDF("k", "id")
    val want = checkParity(keyed, Seq("k"))
    assert(want.count(_ == (7L, 7L)) >= 1 && want.count(_ == (7L, 9L)) >= 2,
      "a duplicated id pairs with itself and once per copy with the others")
    val dfs = rows.filter(_._2.isDefined).groupBy(_._1).values.map(_.size).toSet
    assert(Set(1, cap, cap + 1).subsetOf(dfs), s"bucket sizes must straddle the cap: $dfs")
  }

  test("bucketPairs equals the collect_list pair form on the two-column (band, val) key") {
    val rnd = new Random(12L)
    // few distinct bands and vals, so buckets share one key column and
    // differ in the other; either column may be null
    def opt[A](a: A): Option[A] = if (rnd.nextInt(8) == 0) None else Some(a)
    val keys = sizes(rnd).map(df => (opt(rnd.nextInt(3)), opt(rnd.nextInt(4).toLong), df))
    val rows = keys.flatMap { case (band, v, df) => bucket(rnd, df).map(id => (band, v, id)) }
    val keyed = spark.sparkContext.parallelize(rnd.shuffle(rows), 3).toDF("band", "val", "id")
    assert(checkParity(keyed, Seq("band", "val")).nonEmpty)
  }

  test("q33 and q264 rows are identical under 1, 4 and 32 shuffle partitions, AQE on and off") {
    for (q <- Seq("q33_ngram_jaccard", "q264_winnowed_dedup")) {
      val want = SparkEntry.queries(q)(spark, sf0001).collect().toSeq
      assert(want.nonEmpty, s"$q must find pairs at sf0.001")
      configs.foreach { kv =>
        val got = withConf(kv)(SparkEntry.queries(q)(spark, sf0001).collect().toSeq)
        assert(got == want, s"$q rows differ at $kv")
      }
    }
  }
}
