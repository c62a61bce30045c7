package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Association-rule mining over the order basket: which item groups
  * co-occur more often than chance. The analytics cousin of the n-gram
  * co-occurrence edges the text side builds (TextRank, triangles) —
  * here the "sentence" is an order and the "words" are the brands in
  * it. */
object Associations {

  /** q124: brand-level market-basket pairs with support and lift.
    *
    * Baskets are each order's DISTINCT brand set (a brand bought twice
    * in one order is one membership); support = pair orders / total
    * orders; lift = P(a,b) / (P(a)·P(b)) — the >1 region is where a
    * recommender finds signal.
    *
    * Scale shape — ONE corpus-sized exchange total (the order-keyed
    * basket build, unavoidable for any per-basket operator unless the
    * fact table is bucketed by order key), which immediately collapses
    * to the distinct basket-pattern HISTOGRAM; pairs then come from an
    * in-row HOF expansion of each pattern's bit indices (each
    * unordered pair once, fanout C(brands-in-basket, 2)) weighted by
    * the pattern count. A basket SELF-JOIN formulation instead
    * recomputes and re-shuffles the 60M-row basket build for every
    * consumer — measured 24 s vs 11 s at 100×, where 11 s is the
    * bit_or build's own floor. The pair/item groupBys have
    * O(|brands|²) / O(|brands|) output, so partial aggregation
    * collapses them map-side; item counts and the scalar order total
    * broadcast into the final join (the q109 shortlist contract). At
    * the raw part-key level the same plan holds but the output is
    * unbounded — that variant wants the A-priori min-support pre-prune
    * on frequent items first, which this brand rollup gets for free. */
  def q124MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    // The brand vocabulary is bounded — collect it (O(|brands|) driver
    // state, the q109 shortlist contract) and represent each basket as
    // a BITMASK under a codegen'd bit_or aggregate: 8-byte group state
    // inside whole-stage codegen, and masks make the downstream
    // pattern histogram a plain long groupBy. A collect_set basket
    // build instead runs as ObjectHashAggregate (no codegen, per-row
    // set churn). Vocabularies wider than 64 take [[basketPairsWide]],
    // the array formulation, losing only the codegen'd aggregate.
    val brands = Tables.part(spark, dir).select(col("p_brand")).distinct()
      .collect().map(_.getString(0)).sorted
    if (brands.length > 64)
      return basketPairsWide(spark, dir)
    // sorted-vocab index: bit i ↔ i-th brand in lexicographic order, so
    // index order IS name order and pair (i < j) is pair (b1 < b2)
    val idxOf = brands.zipWithIndex.toMap
    val dict = broadcast(Tables.part(spark, dir)
      .select(col("p_partkey"),
        typedlit[Map[String, Int]](idxOf).apply(col("p_brand")).as("idx")))
    // ONE heavy pass total: the order-keyed bit_or (the only
    // corpus-sized exchange — unavoidable for any per-basket operator
    // unless the fact table is bucketed by order key) immediately
    // collapses to the DISTINCT basket-pattern
    // histogram (mask, n). Every rollup below — item counts, pair
    // counts, the order total — runs over that tiny weighted table, so
    // it never re-reads or re-shuffles the corpus; the pattern
    // cardinality is bounded by min(orders, observed compositions) and
    // the second groupBy partial-aggregates the 8-byte masks map-side.
    val patterns = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(dict, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(bit_or(expr("shiftleft(cast(1 as bigint), idx)")).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // materialized ONCE for its three
                                     // consumers; O(patterns) rows
    val idsExpr = "filter(sequence(0, 63), i -> (mask >> i) % 2 != 0)"
    val nOrders = patterns.select(sum("n").as("n_orders"))
    val items = patterns.select(explode(expr(idsExpr)).as("i"), col("n"))
      .groupBy("i").agg(sum("n").as("cnt"))
    val pairs = patterns
      .select(expr(idsExpr).as("ids"), col("n"))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS i1, y AS i2))))"))
        .as("p"), col("n"))
      .select(col("p.i1"), col("p.i2"), col("n"))
      .groupBy("i1", "i2")
      .agg(sum("n").as("n_pair"))
    val names = typedlit(brands.toSeq)
    pairs
      .join(broadcast(items.select(col("i").as("i1"), col("cnt").as("cnt1"))), "i1")
      .join(broadcast(items.select(col("i").as("i2"), col("cnt").as("cnt2"))), "i2")
      .crossJoin(broadcast(nOrders))
      .select(
        element_at(names, col("i1") + 1).as("b1"),
        element_at(names, col("i2") + 1).as("b2"),
        col("n_pair"),
        round(col("n_pair").cast("double") / col("n_orders"), 6).as("support"),
        round(col("n_pair").cast("double") * col("n_orders") /
          (col("cnt1") * col("cnt2")), 6).as("lift"))
      .orderBy("b1", "b2")
  }

  /** The |vocab| > 64 fallback: per-basket sorted item ARRAYS via
    * collect_set (ObjectHashAggregate — correct at any vocabulary
    * width, just not codegen'd), then the same in-row pair expansion
    * and bounded rollups as the bitmask path. */
  def basketPairsWide(spark: SparkSession, dir: String): DataFrame = {
    val brandOf = broadcast(
      Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    val orderBrands = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(brandOf, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
      .persist() // three bounded consumers; O(orders) rows, O(1) columns
    try {
      val nOrders = orderBrands.select(count(lit(1)).as("n_orders"))
      val items = orderBrands
        .select(explode(col("bs")).as("brand"))
        .groupBy("brand").agg(count(lit(1)).as("cnt"))
      val pairs = orderBrands
        .select(explode(expr(
          "flatten(transform(bs, (x, i) -> " +
            "transform(slice(bs, i + 2, size(bs)), y -> struct(x AS b1, y AS b2))))"))
          .as("p"))
        .select(col("p.b1"), col("p.b2"))
        .groupBy("b1", "b2")
        .agg(count(lit(1)).as("n_pair"))
      val out = pairs
        .join(broadcast(items.select(col("brand").as("b1"), col("cnt").as("cnt1"))), "b1")
        .join(broadcast(items.select(col("brand").as("b2"), col("cnt").as("cnt2"))), "b2")
        .crossJoin(broadcast(nOrders))
        .select(col("b1"), col("b2"), col("n_pair"),
          round(col("n_pair").cast("double") / col("n_orders"), 6).as("support"),
          round(col("n_pair").cast("double") * col("n_orders") /
            (col("cnt1") * col("cnt2")), 6).as("lift"))
        .orderBy("b1", "b2")
      out.localCheckpoint(eager = true)
    } finally orderBrands.unpersist()
  }

  /** q166: audience-overlap matrix — for every pair of event types,
    * how many DISTINCT users did both, with audience Jaccard and lift.
    * The segment-design primitive: holdout groups, cannibalization
    * checks, and the q155 sweep's independence assumption all start
    * from "how much do these audiences share". The q124 basket kernel
    * re-grounded on (user, event_type): the "basket" is a user's
    * type SET, and distinct-user pair counts fall out of the same
    * bitmask pattern histogram.
    *
    * Scale shape (the q124 argument, unchanged): ONE user-keyed
    * exchange builds the per-user bitmask under a codegen'd bit_or
    * (8-byte group state; the type vocabulary is an enum, ≤ 64 by
    * contract — wider vocabularies would take the q124 array
    * fallback), which collapses IMMEDIATELY to the distinct-pattern
    * histogram — O(min(users, 2^|types|)) rows; singles, pairs, and
    * the user total are in-row HOF expansions over that tiny weighted
    * frame, so the corpus is scanned once and shuffled once. Counts
    * are exact integers; jaccard/lift are the only doubles, derived
    * identically on both engines. */
  def q166AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // O(|types|) driver state — the q109/q124 shortlist contract
    val types = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    require(types.length <= 64, s"type vocabulary ${types.length} > 64")
    val idxOf = types.zipWithIndex.toMap
    val patterns = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        typedlit[Map[String, Int]](idxOf).apply(col("event_type")).as("idx"))
      .groupBy("user_id")
      .agg(bit_or(expr("shiftleft(cast(1 as bigint), idx)")).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // O(patterns); three bounded consumers
    val nUsers = patterns.select(sum("n").as("n_users"))
    val idsExpr = "filter(sequence(0, 63), i -> (mask >> i) % 2 != 0)"
    val singles = patterns.select(explode(expr(idsExpr)).as("i"), col("n"))
      .groupBy("i").agg(sum("n").as("cnt"))
    val pairs = patterns
      .select(expr(idsExpr).as("ids"), col("n"))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS i1, y AS i2))))"))
        .as("p"), col("n"))
      .select(col("p.i1"), col("p.i2"), col("n"))
      .groupBy("i1", "i2").agg(sum("n").as("n_both"))
    val names = typedlit(types.toSeq)
    pairs
      .join(broadcast(singles.select(col("i").as("i1"), col("cnt").as("ua"))), "i1")
      .join(broadcast(singles.select(col("i").as("i2"), col("cnt").as("ub"))), "i2")
      .crossJoin(broadcast(nUsers))
      .select(
        element_at(names, col("i1") + 1).as("type_a"),
        element_at(names, col("i2") + 1).as("type_b"),
        col("ua").as("users_a"), col("ub").as("users_b"),
        col("n_both").as("users_both"),
        round(col("n_both").cast("double") /
          (col("ua") + col("ub") - col("n_both")).cast("double"), 6).as("jaccard"),
        round(col("n_both").cast("double") * col("n_users") /
          (col("ua").cast("double") * col("ub").cast("double")), 4).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** q166b: the SKETCH rendering of [[q166AudienceOverlap]] — pairwise
    * audience intersections via Apache DataSketches HLL
    * (`hll_sketch_agg` / `hll_union`) and inclusion-exclusion:
    * |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B). The 100 TB shape when
    * even the per-user exchange is unwanted: per-type sketches build
    * with map-side MERGEABLE partials (no user-keyed shuffle AT ALL —
    * the q166 bitmask path shuffles the corpus once; this path
    * shuffles O(partitions × types) sketch bytes), pairwise algebra
    * then runs on an O(|types|)-row broadcast frame. Estimates are
    * engine-specific (DataSketches internals) → rows-only by the
    * q44/q130b contract; the spec bounds each estimate against the
    * exact q166 matrix instead. */
  def q166bAudienceOverlapHll(spark: SparkSession, dir: String): DataFrame = {
    val lgK = 12 // ~1.6 % rel. std. error on singles; intersection
                 // error compounds through inclusion-exclusion (spec-bounded)
    val sk = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      .localCheckpoint(eager = true) // O(|types|) rows of sketch bytes
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.crossJoin(broadcast(b)) // O(|types|²) of a bounded enum frame
      .filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        // hll_sketch_estimate returns BIGINT — the whole algebra stays integer
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        (hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb"))
          - hll_sketch_estimate(hll_union(col("ska"), col("skb"))))
          .as("est_both"))
      .orderBy("type_a", "type_b")
  }
}
