package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** As-of (point-in-time) join: for each left row, the latest right row
  * with rightTime <= leftTime for the same key — the operator Spark has
  * no built-in for (SURVEY.md §2.6 preference (a): compose built-ins
  * before writing a custom SparkPlan).
  *
  * Algorithm: tag and union both sides, one window over
  * (key ORDER BY time, right-before-left) carrying the last seen right
  * payload forward, keep left rows. One shuffle on the key, zero join
  * fanout — unlike the naive inequality join whose intermediate is
  * O(left × matching-right). This is the standard distributed as-of
  * shape (the same plan a SparkPlan implementation would produce, minus
  * a custom node to maintain).
  */
object AsOf {

  /** Generic as-of join.
    *
    * Skew note: the carry window partitions on the raw key, so a key
    * owning ~all left rows serializes through one task.
    *
    * @param left  left rows; must contain `key` and `leftTime`
    * @param right right rows; must contain `key`, `rightTime` and
    *              `payload` columns to carry; (key, rightTime) must be
    *              unique (pre-aggregate if not)
    */
  def join(left: DataFrame, right: DataFrame, key: String,
           leftTime: String, rightTime: String, payload: Seq[String]): DataFrame = {
    val t = "__asof_t"
    val isRight = "__asof_r"
    val p = "__asof_p"
    val internal = Set(t, isRight, p)
    require(payload.forall(c => !left.columns.contains(c)),
      s"payload columns ${payload.filter(left.columns.contains)} collide with left columns")
    require((left.columns ++ right.columns ++ payload).forall(!internal.contains(_)),
      s"column names $internal are reserved by AsOf.join")
    // the payload travels as ONE struct so every carried column comes
    // from the SAME right row (per-column last(ignoreNulls) would
    // stitch values from different rows when the latest row has nulls)
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(name = c)))
    val l = left
      .withColumn(t, col(leftTime).cast("timestamp"))
      .withColumn(isRight, lit(0))
      .select(Seq(col(key), col(t), col(isRight)) ++
        left.columns.filter(_ != key).map(col) :+
        lit(null).cast(payloadType).as(p): _*)
    val r = right
      .withColumn(t, col(rightTime).cast("timestamp"))
      .withColumn(isRight, lit(1))
      .select(Seq(col(key), col(t), col(isRight)) ++
        left.columns.filter(_ != key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payload.map(col): _*).as(p): _*)
    // right rows sort before left rows at equal time: <= is inclusive
    val w = Window.partitionBy(key)
      .orderBy(col(t).asc, col(isRight).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn(p, last(col(p), ignoreNulls = true).over(w))
    carried.filter(col(isRight) === 0)
      .select(Seq(col(key)) ++
        left.columns.filter(_ != key).map(col) ++
        payload.map(c => col(s"$p.$c").as(c)): _*)
  }

  /** q48: each event joined as-of to the user's latest order on or
    * before the event time. Right side pre-deduped to one row per
    * (custkey, date) so ties are deterministic on both engines. */
  def q48AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    val orders = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("asof_orderkey"))
      .withColumn("asof_date", date_format(col("o_orderdate"), "yyyy-MM-dd"))
    join(
      left = events.withColumnRenamed("user_id", "key"),
      right = orders.withColumnRenamed("o_custkey", "key"),
      key = "key", leftTime = "ts", rightTime = "o_orderdate",
      payload = Seq("asof_date", "asof_orderkey"))
      .select(col("event_id"), col("key").as("user_id"), col("asof_date"), col("asof_orderkey"))
      .orderBy("event_id")
  }
}
