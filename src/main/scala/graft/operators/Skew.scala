package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Key-distribution reports: how keys spread over shards and joins.
  * Skewed joins themselves are left to AQE's skew-join handling (on by
  * default), which splits oversized partitions at runtime; these
  * queries measure the distributions that decide placement and join
  * plans, on the real key population:
  *   - q164: keys moved on a re-shard, modulo vs rendezvous placement;
  *   - q170: estimated vs true join sizes, System-R vs heavy hitters.
  */
object Skew {

  /** Old and new shard counts for [[q164ShardMoves]]. */
  val ShardsBefore = 8
  val ShardsAfter = 9

  /** q164: re-sharding move report — when a store grows from
    * [[ShardsBefore]] to [[ShardsAfter]] shards, how many keys MOVE
    * under (a) modulo placement and (b) rendezvous (highest-random-
    * weight) hashing. Modulo re-homes ~(n−1)/n of all keys on any
    * resize — a cluster-wide re-copy; rendezvous moves only the ~1/n
    * that must (exactly the keys whose new shard wins the weight
    * contest), which is THE argument for consistent placement in any
    * 100 TB sharded layout (embedding shards, IVF cells, CDC
    * snapshots). This query measures both on the real key population —
    * placement schemes should be chosen on measured key distributions,
    * not folklore.
    *
    * Determinism: the per-(key, shard) weight is the q153 multiply-mod
    * chain — pure integer arithmetic, identical in the oracle — and
    * the argmax folds the shard list IN ORDER with a strict `>`
    * (first-wins tie-break; ties are ~1/(2³⁰) with the prime modulus).
    * Scale shape: per-row in-row fold over ≤ [[ShardsAfter]] shards
    * inside codegen (no explode of the corpus), collapsing to
    * O(schemes × shards) cells in one partial-aggregated pass; the
    * report is O(schemes) rows. */
  def q164ShardMoves(spark: SparkSession, dir: String): DataFrame = {
    val m = 1000000007L
    def w(key: Column, shard: Column): Column =
      pmod(pmod(pmod(pmod(key, lit(m)) * lit(1000003L), lit(m))
        + shard * lit(7919L), lit(m)) * lit(69069L), lit(m))
    def rendezvous(n: Int): Column =
      aggregate(sequence(lit(0L), lit(n - 1L)),
        struct(lit(-1L).as("h"), lit(-1L).as("s")),
        (acc, s) => {
          val hv = w(col("doc_id"), s)
          when(hv > acc.getField("h"),
            struct(hv.as("h"), s.as("s"))).otherwise(acc)
        }).getField("s")
    val assigned = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(ShardsBefore.toLong)).as("mod_old"),
        pmod(col("doc_id"), lit(ShardsAfter.toLong)).as("mod_new"),
        rendezvous(ShardsBefore).as("rdv_old"),
        rendezvous(ShardsAfter).as("rdv_new"))
    val schemes = assigned.select(explode(array(
        struct(lit("modulo").as("scheme"), col("mod_old").as("old_shard"),
          col("mod_new").as("new_shard")),
        struct(lit("rendezvous").as("scheme"), col("rdv_old").as("old_shard"),
          col("rdv_new").as("new_shard")))).as("r"))
      .select(col("r.scheme").as("scheme"), col("r.old_shard").as("old_shard"),
        col("r.new_shard").as("new_shard"))
    val loads = schemes.groupBy("scheme", "new_shard")
      .agg(count(lit(1)).as("n"),
        sum((col("old_shard") =!= col("new_shard")).cast("long")).as("moved"))
    loads.groupBy("scheme")
      .agg(sum("n").as("n_docs"), sum("moved").as("n_moved"),
        min("n").as("min_shard_load"), max("n").as("max_shard_load"))
      .select(col("scheme"), col("n_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_docs"), 6).as("moved_frac"),
        col("min_shard_load"), col("max_shard_load"))
      .orderBy("scheme")
  }

  /** Heavy hitters kept per join side by [[q170JoinCardEst]]. */
  val CardEstHH = 20

  /** q170: join-cardinality estimation report — what a cost-based
    * optimizer would PREDICT for a join's output size from bounded
    * per-side statistics, against the true size, for four joins of
    * very different key shapes (unique-key FK joins, a per-user
    * self-join, a 5-key enum self-join). Two estimators:
    * `est_sysr` — the System-R textbook formula |A|·|B|/max(ndv_A,
    * ndv_B), which is skew-blind; `est_hh` — a top-[[CardEstHH]]
    * heavy-hitter sketch per side (exact counts for the hitters,
    * uniform tail under the containment assumption), the shape every
    * modern CBO actually keeps. The report IS the argument for
    * histogram statistics: on the enum self-join the tail model is
    * exact and System-R's error is the skew.
    *
    * Scale shape: per side ONE partial-aggregated count shuffle with
    * O(ndv) output; the true size comes from joining the two COUNT
    * tables (O(ndv) rows, never the corpus against itself — Σ aₖ·bₖ
    * is the join size without materializing the join); heavy-hitter
    * shortlists are TakeOrdered top-20s, and the estimator algebra
    * runs on ≤ 40-row broadcast frames. Counts stay exact integers
    * (decimal sums — the q155 rule); the tail-rate doubles derive
    * identically on both engines. */
  def q170JoinCardEst(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // Round-14 shape. Through round 13 each side's count-table subtree
    // fed THREE consumers (totals, the true-size join, the heavy-hitter
    // top-k) and Catalyst planned the scan+shuffle once per consumer —
    // 24 parquet scans across the four scenarios, zero ReusedExchange
    // (the r14 plan audit). Now each side's count table materializes
    // ONCE (eager localCheckpoint) and its bounded statistics — (n,
    // ndv, Σc²) and the top-[[CardEstHH]] shortlist — collect to the
    // driver in the same concurrent wave ([[graft.Exec.overlap]];
    // O(1)+O(20) rows per side, bounded by construction). The
    // only distributed consumers left are the two FK true-size joins
    // over checkpointed count tables; a self-join's true size IS its
    // Σ ca² statistic (exact integers), so it needs no join at all.
    // The estimator algebra below is the former Catalyst expression
    // tree transcribed 1:1 onto the same exact-integer inputs — same
    // IEEE double ops in the same order, same HALF_UP rounds — so the
    // output is bit-identical (oracle-gated at sf0.01/sf0.1).
    // na/sumSq are None on an EMPTY side (sum over zero rows is null) —
    // the algebra below propagates the null exactly as the former
    // Catalyst expressions did (the empty-corpus degradation lane)
    case class Side(na: Option[Long], da: Long, sumSq: Option[Long],
                    hh: Seq[(Any, Long)])
    def side(desc: String, df: DataFrame): (String, () => (DataFrame, Side)) =
      s"q170 counts: $desc" -> { () =>
        val ct = df.filter(col("k").isNotNull).groupBy("k")
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val st = ct.agg(sum(col("cnt").cast(d38)).cast("long"),
          count(lit(1)),
          sum((col("cnt") * col("cnt")).cast(d38)).cast("long")).head()
        val hh = ct.orderBy(col("cnt").desc, col("k").asc).limit(CardEstHH)
          .collect().map(r => (r.get(0), r.getLong(1))).toSeq
        (ct, Side(if (st.isNullAt(0)) None else Some(st.getLong(0)),
          st.getLong(1),
          if (st.isNullAt(2)) None else Some(st.getLong(2)), hh))
      }
    def actual(a: DataFrame, b: DataFrame): (String, () => Option[Long]) =
      "q170 true join size" -> { () =>
        val r = a.join(b.withColumnRenamed("cnt", "cntb"), "k")
          .agg(sum((col("cnt") * col("cntb")).cast(d38)).cast("long"))
          .head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    val li = Tables.lineitem(spark, dir)
    // wave 1: the six count tables; wave 2: the two FK true-size joins
    // over the checkpointed tables wave 1 returned
    val counted = graft.Exec.overlap(Seq(
      side("events.event_type",
        Tables.events(spark, dir).select(col("event_type").as("k"))),
      side("events.user_id",
        Tables.events(spark, dir).select(col("user_id").as("k"))),
      side("orders.o_orderkey",
        Tables.orders(spark, dir).select(col("o_orderkey").as("k"))),
      side("lineitem.l_orderkey", li.select(col("l_orderkey").as("k"))),
      side("part.p_partkey",
        Tables.part(spark, dir).select(col("p_partkey").as("k"))),
      side("lineitem.l_partkey", li.select(col("l_partkey").as("k")))))
    val Seq(evType, evUser, ordersS, liOrd, partS, liPart) = counted.map(_._2)
    val ct = counted.map(_._1)
    val Seq(actOrd, actPart) =
      graft.Exec.overlap(Seq(actual(ct(2), ct(3)), actual(ct(4), ct(5))))
    import graft.plans.ArgminKernels.roundAt // Spark round(x, n), exactly
    def rowOf(name: String, a: Side, b: Side,
              actual: Option[Long]): org.apache.spark.sql.Row = {
      val aM = a.hh.toMap
      val bM = b.hh.toMap
      val hhProd = a.hh.collect { case (k, c) if bM.contains(k) => c * bM(k) }.sum
      val hhAOnly = a.hh.collect { case (k, c) if !bM.contains(k) => c }.sum
      val hhBOnly = b.hh.collect { case (k, c) if !aM.contains(k) => c }.sum
      val hhARows = a.hh.map(_._2).sum
      val hhBRows = b.hh.map(_._2).sum
      val nHha = a.hh.size.toLong
      val nHhb = b.hh.size.toLong
      val nMatch = a.hh.count { case (k, _) => bM.contains(k) }.toLong
      // null-in → null-out, exactly where the Catalyst tree was null:
      // taHat/tbHat fall to the otherwise(0.0) when the side has ≤ hh
      // distincts (includes the empty side, where da = 0 = n_hha)
      val taHat = if (a.da > nHha)
        (a.na.get - hhARows).toDouble / (a.da - nHha).toDouble else 0.0
      val tbHat = if (b.da > nHhb)
        (b.na.get - hhBRows).toDouble / (b.da - nHhb).toDouble else 0.0
      val tNdv = math.max(0L, math.min(a.da, b.da) - (nHha + nHhb - nMatch))
      val estSysr = for (na <- a.na; nb <- b.na) yield roundAt(
        na.toDouble * nb.toDouble / math.max(a.da, b.da).toDouble, 0).toLong
      val estHh = Some(roundAt(hhProd.toDouble
        + hhAOnly.toDouble * tbHat
        + hhBOnly.toDouble * taHat
        + tNdv.toDouble * taHat * tbHat, 0).toLong)
      def err(est: Option[Long]): Option[Double] =
        for (e <- est; ac <- actual) yield
          roundAt((e - ac).toDouble * 100.0 / ac.toDouble, 2)
      def jl(o: Option[Long]): Any = o.map(java.lang.Long.valueOf).orNull
      def jd(o: Option[Double]): Any = o.map(java.lang.Double.valueOf).orNull
      org.apache.spark.sql.Row(name, jl(a.na), a.da, jl(b.na), b.da,
        jl(actual), jl(estSysr), jl(estHh),
        jd(err(estSysr)), jd(err(estHh)))
    }
    val rows = Seq(
      rowOf("events_self_type", evType, evType, evType.sumSq),
      rowOf("events_self_user", evUser, evUser, evUser.sumSq),
      rowOf("orders_x_lineitem", ordersS, liOrd, actOrd),
      rowOf("part_x_lineitem", partS, liPart, actPart))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("join_name", StringType, nullable = false),
      StructField("n_a", LongType, nullable = true),
      StructField("ndv_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = true),
      StructField("ndv_b", LongType, nullable = false),
      StructField("actual_rows", LongType, nullable = true),
      StructField("est_sysr", LongType, nullable = true),
      StructField("est_hh", LongType, nullable = true),
      StructField("err_sysr_pct", DoubleType, nullable = true),
      StructField("err_hh_pct", DoubleType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("join_name")
  }
}
