package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality profiling: the per-column summary a pipeline computes
  * before trusting a new table drop — row count, null count, exact
  * distinct count per column — schema-driven, so it works on any
  * DataFrame without per-table code. */
object Profile {

  /** One row per profiled column: (column, n_rows, n_null, n_distinct).
    *
    * One INDEPENDENT single-column aggregation per profiled column,
    * submitted concurrently ([[graft.Exec.overlap]]) and assembled
    * into the O(columns) local result. Through round 13 this was ONE
    * Aggregate with N exact count-distincts, which Spark plans as an
    * Expand: every input row fans out N+1 ways into a hash agg whose
    * grouping key is ALL N columns + gid — the full table crosses the
    * exchange once per column (measured 5.3 s at sf0.1; the r14 plan
    * audit). The per-column form is strictly less work at ANY scale: each job
    * scans ONLY its own column (parquet column pruning — the same
    * total bytes as one all-column scan, split N ways), its single
    * distinct aggregate plans Expand-free as a two-phase partial
    * aggregation over that column's distinct values alone, and the N
    * jobs back-fill each other's stragglers instead of serializing.
    * Answers are identical exact integers. */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame =
    profileWith(df, columns, "n_distinct",
      c => countDistinct(col(c)))

  /** The shared fan-out/assemble harness of [[profile]] /
    * [[profileApprox]]: per column, one concurrent
    * (count(1), count(c), <distinct agg>) job; results assemble into
    * the O(columns) local frame. */
  private def profileWith(df: DataFrame, columns: Seq[String],
                          distinctName: String,
                          distinctAgg: String => org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val rows = graft.Exec.overlap(columns.map { c =>
      s"profile: $c" -> { () =>
        val r = df.agg(count(lit(1)).as("n"), count(col(c)).as("nn"),
          distinctAgg(c).as("nd")).head()
        org.apache.spark.sql.Row(c, r.getLong(0), r.getLong(0) - r.getLong(1),
          r.getLong(2))
      }
    })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("column_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_null",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(distinctName,
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy("column_name")
  }

  /** q130: profile every lineitem column — the widest table in the
    * star schema, 11 columns of four types in one pass. */
  def q130ProfileLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    profile(li, li.columns.toSeq)
  }

  /** The 100 TB profile path — approx_count_distinct (HLL++, rsd 2 %)
    * instead of exact distincts: the N HLL aggregates are ordinary
    * partial-aggregable functions, so the plan is ONE scan with NO
    * Expand (exact multi-count-distinct fans every row out N+1 ways
    * and keeps per-column distinct state — measured 33 s exact vs 9 s
    * HLL at 100× on near-unique columns, with the HLL pass flat in
    * memory where the exact one carries 15M-key hash state per
    * high-cardinality column). Sketch contents are engine-specific
    * (the q44/q51b precedent), so the query is declared rows-only; its
    * contract — every estimate within the rsd bound of q130's exact
    * answer — is the spec instead. */
  def profileApprox(df: DataFrame, columns: Seq[String]): DataFrame =
    profileWith(df, columns, "n_distinct_approx",
      c => approx_count_distinct(col(c), rsd = 0.02))

  /** q130b: the lineitem profile through the sketch path. */
  def q130bProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    profileApprox(li, li.columns.toSeq)
  }

  /** q140: equi-depth decile histogram of l_extendedprice — the
    * distribution sketch a profiler attaches next to q130's counts.
    * Deliberately NOT `ntile(10)`: a global rank window moves the whole
    * corpus to one partition (the scale killer WindowExec warns about).
    * Instead ONE percentile aggregate produces the 9 interior decile
    * boundaries (O(1) output), the 1-row boundary array broadcasts
    * back, and each row computes its bin with a counting fold over the
    * array — so the histogram costs two scans and an O(bins) final
    * agg at any corpus size (at 100 TB swap the exact percentile for
    * approx_percentile, the q51b trade). Boundaries are rounded at
    * 6 dp BEFORE binning so the Spark and oracle cutpoints are
    * identical doubles. */
  def q140EquiDepthHist(spark: SparkSession, dir: String): DataFrame =
    equiDepthHist(Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("x")), exact = true)

  /** q140b: the declared 100 TB histogram path — approx_percentile
    * boundaries (GK sketch, O(accuracy) state per partition) instead
    * of exact `percentile` (which buffers EVERY value: measured 24.5 s
    * vs 1.9 s at 100× = 60M rows). The sketch returns actual data
    * values within rank error n/accuracy, so each bin's population is
    * within that rank error of N/10 — the spec pins this against the
    * exact q140 bins; rows-only by the q51b sketch contract. */
  def q140bEquiDepthApprox(spark: SparkSession, dir: String): DataFrame =
    equiDepthHist(Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("x")), exact = false)

  /** Shared binning plan: ONE percentile aggregate (exact or sketch)
    * produces the 9 interior decile boundaries, the 1-row array
    * broadcasts back over the scan, each row bins via a counting fold.
    * Boundaries round at 6 dp pre-binning (oracle cutpoint parity). */
  private def equiDepthHist(values: DataFrame, exact: Boolean): DataFrame = {
    val spark = values.sparkSession
    val qs = (1 to 9).map(_ / 10.0)
    // Exact boundaries via a DISTRIBUTED sort + order-statistic pick
    // (round 14): `percentile(x, ...)` buffers a value→count map of
    // the whole column into ONE merge task — l_extendedprice is
    // near-unique (583k/600k at sf0.1), so that single task held and
    // sorted the entire column (measured ~3 s of q140's 3.9 s; the
    // scaladoc used to punt to the sketch at 100 TB for exactly this).
    // A range-partitioned sort + zipWithIndex picks the 18 bracketing
    // ranks instead and interpolates EXACTLY as Percentile
    // .getPercentile does ((higher−pos)·lo + (pos−lower)·hi, same
    // double arithmetic, same NaN-last total order), so the rounded
    // cutpoints are bit-identical and no task ever holds the column.
    val bounds =
      if (!exact)
        values.agg(expr("transform(approx_percentile(x, array(" +
          s"${qs.mkString(", ")}), 10000), b -> round(b, 6)) AS bs"))
      else {
        val vals = values.filter(col("x").isNotNull)
        val n = vals.count() // vectorized count, before any sort pass
        lazy val xs = vals.select(col("x"))
          .rdd.map(_.getDouble(0))
          .sortBy(identity)(Ordering.Double.TotalOrdering,
            implicitly[scala.reflect.ClassTag[Double]])
          .zipWithIndex()
        if (n == 0L)
          // empty column: the percentile aggregate's null-array lane
          values.agg(expr(s"transform(percentile(x, array(" +
            s"${qs.mkString(", ")})), b -> round(b, 6)) AS bs"))
        else {
          val pos = qs.map(_ * (n - 1))
          val wanted = pos.flatMap(p =>
            Seq(math.floor(p).toLong, math.ceil(p).toLong)).toSet
          val at = xs.filter { case (_, i) => wanted.contains(i) }
            .map(_.swap).collectAsMap()
          val bs = pos.map { p =>
            val (lo, hi) = (math.floor(p).toLong, math.ceil(p).toLong)
            val b = if (lo == hi) at(lo)
            else (hi - p) * at(lo) + (p - lo) * at(hi)
            graft.plans.ArgminKernels.round6(b)
          }
          spark.range(1).select(
            array(bs.map(lit(_)): _*).cast("array<double>").as("bs"))
        }
      }
    values.crossJoin(broadcast(bounds)) // 1-row boundary array × corpus scan
      .select(col("x"), expr(
        "1 + aggregate(bs, 0, (acc, b) -> acc + if(x > b, 1, 0)) AS bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(min("x"), 2).as("lo"),
        round(max("x"), 2).as("hi"),
        round(avg("x"), 4).as("mean_x"))
      .orderBy("bin")
  }

  /** q179: data-contract constraint audit — the rules engine that
    * complements q130's profiler: the profiler DESCRIBES a table (null
    * rates, distincts); this one ENFORCES declared expectations
    * (referential integrity, value ranges, derived-column consistency,
    * temporal sanity) and reports violations per rule — the
    * Deequ/Great-Expectations-style gate a lakehouse runs on every
    * snapshot before promoting it.
    *
    * Each rule is one scan with a partial-aggregated conditional count
    * (violations never materialize as rows — only the counts move);
    * the FK checks are left joins against the dimension's key set
    * (broadcast when the dimension fits, shuffled hash otherwise — the
    * optimizer's call, both correct). The result is O(rules) rows
    * whatever the corpus size. */
  def q179DqAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(rule: String, table: String, checked: DataFrame,
              viol: org.apache.spark.sql.Column): DataFrame =
      checked.agg(count(lit(1)).as("n_checked"),
          coalesce(sum(viol.cast("long")), lit(0L)).as("n_violations"))
        .select(lit(rule).as("rule"), lit(table).as("table_name"),
          col("n_checked"), col("n_violations"))
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val events = Tables.events(spark, dir)
    val docs = Tables.documents(spark, dir)
    val fkOrders = audit("fk_orders_customer", "orders",
      orders.join(Tables.customer(spark, dir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left"),
      col("c_custkey").isNull)
    val fkLineitem = audit("fk_lineitem_orders", "lineitem",
      lineitem.join(orders.select(col("o_orderkey").as("ok")),
        col("l_orderkey") === col("ok"), "left"),
      col("ok").isNull)
    val qty = audit("lineitem_qty_in_range", "lineitem", lineitem,
      col("l_quantity") <= 0 || col("l_quantity") > 100)
    val disc = audit("lineitem_discount_in_range", "lineitem", lineitem,
      col("l_discount") < 0 || col("l_discount") > 0.5)
    val price = audit("orders_price_positive", "orders", orders,
      col("o_totalprice") <= 0)
    val evNull = audit("events_value_present", "events", events,
      col("value").isNull)
    val evTs = audit("events_ts_in_bounds", "events", events,
      col("ts").isNull || col("ts") < to_timestamp(lit("2020-01-01")) ||
        col("ts") >= to_timestamp(lit("2030-01-01")))
    val nchars = audit("documents_nchars_consistent", "documents",
      docs.filter(col("text").isNotNull),
      col("n_chars") =!= length(col("text")))
    Seq(fkOrders, fkLineitem, qty, disc, price, evNull, evTs, nchars)
      .reduce(_.union(_))
      .withColumn("violation_rate",
        // an empty table passes vacuously (rate null, zero violations)
        when(col("n_checked") > 0,
          round(col("n_violations").cast("double") / col("n_checked"), 6)))
      .withColumn("passed", (col("n_violations") === 0L).cast("long"))
      .orderBy("rule")
  }

  /** q181: Benford leading-digit audit — the forensic-accounting check
    * (Benford 1938; the auditor's first screen for fabricated or
    * truncated figures): for each monetary/quantity column, the
    * observed leading-digit distribution beside Benford's log₁₀(1+1/d)
    * expectation and the χ² distance. A synthetic or capped generator
    * fails loudly (uniform quantities score a huge χ²), which is
    * exactly the point — the q179 rules engine checks DECLARED
    * contracts, this one checks a STATISTICAL law the data should obey.
    *
    * Leading digits are extracted in exact integer space: amounts land
    * on the cent grid (round(x·100) — the q155 rule), and the digit is
    * the first character of the INTEGER's decimal string — never
    * floor(x/10^floor(log₁₀x)), whose log of an exact power of ten can
    * land at 2.999… and misclassify a boundary amount (the float
    * hazard both engines would hit differently). One scan per column
    * collapses to 9 partial-aggregated digit cells; χ² folds over
    * those 27 rows. */
  def q181BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    def digits(metric: String, table: DataFrame, x: org.apache.spark.sql.Column) =
      table.filter(x > 0)
        .select(substring(round(x * 100, 0).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .select(lit(metric).as("metric"), col("digit"), col("n"))
    val cells = Seq(
      digits("o_totalprice", Tables.orders(spark, dir), col("o_totalprice")),
      digits("l_extendedprice", Tables.lineitem(spark, dir), col("l_extendedprice")),
      digits("l_quantity", Tables.lineitem(spark, dir), col("l_quantity")))
      .reduce(_.union(_))
    val w = Window.partitionBy("metric")
    // the χ² fold is a DOUBLE sum: pin its order (9 digit rows) so the
    // accumulation is sequential and engine-identical
    val wOrd = Window.partitionBy("metric").orderBy("digit")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("total", sum("n").over(w))
      .withColumn("share", round(col("n").cast("double") / col("total"), 6))
      .withColumn("benford",
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("chi2", round(sum(
        (col("n") - col("total") * col("benford"))
          * (col("n") - col("total") * col("benford"))
          / (col("total") * col("benford"))).over(wOrd), 4))
      .select(col("metric"), col("digit"), col("n"), col("share"),
        col("benford"), col("chi2"))
      .orderBy("metric", "digit")
  }

  /** q183: order-header vs line-item revenue reconciliation — the
    * warehouse cross-table consistency check q179's single-table rules
    * cannot express: does Σ extendedprice·(1−disc)·(1+tax) over an
    * order's lines reproduce the header's o_totalprice? Per-status
    * summary with exact mismatch counts and cent-grid delta magnitudes
    * (Σ|Δ| accumulates as exact integers — the q155 rule — so the
    * report hashes identically however partial sums interleave).
    * One join shuffled on orderkey (both sides partial-aggregated
    * first: lines collapse to O(orders) rows BEFORE the join), then
    * O(statuses) output. Headers with no lines count separately —
    * absence is its own finding. */
  def q183OrderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val lineTotals = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      // cent-grid per line, summed exactly: round each line's charge to
      // cents FIRST (the only portable definition — float Σ then round
      // is order-sensitive)
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax")) * 100, 0).cast("long")).as("line_cents"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long").as("hdr_cents"))
      .join(lineTotals, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderstatus"),
        col("hdr_cents"),
        col("line_cents"),
        when(col("line_cents").isNotNull,
          abs(col("hdr_cents") - col("line_cents"))).as("adelta"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("line_cents").isNotNull.cast("long")).as("n_with_lines"),
        sum((col("adelta") > 1L).cast("long")).as("n_mismatch"),
        sum(col("adelta")).as("sum_abs_cents"),
        max(col("adelta")).as("max_abs_cents"))
      .select(col("o_orderstatus"), col("n_orders"), col("n_with_lines"),
        coalesce(col("n_mismatch"), lit(0L)).as("n_mismatch"),
        round(coalesce(col("sum_abs_cents"), lit(0L)).cast("double") / 100.0, 2)
          .as("sum_abs_delta"),
        round(coalesce(col("max_abs_cents"), lit(0L)).cast("double") / 100.0, 2)
          .as("max_abs_delta"))
      .orderBy("o_orderstatus")
  }

  /** q192: k-anonymity risk report over the customer table — for the
    * quasi-identifier tuple (nation, market segment, account-balance
    * band), how many customers sit in equivalence classes smaller
    * than k for the standard ladder k ∈ {2, 5, 10, 20} (Sweeney 2002):
    * the re-identification audit that must pass BEFORE a "de-
    * identified" extract ships — q69 scrubs direct identifiers, this
    * measures what the indirect ones still leak in combination.
    *
    * One scan collapses to the O(classes) equivalence-class histogram
    * (classes are bounded by the QI value grid, not the row count);
    * the per-k rollup is a conditional fold over that tiny frame
    * (classes × 4 via a literal explode). Exact integer counts
    * everywhere. */
  def q192KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"))
    classes
      .select(col("sz"),
        explode(array(lit(2L), lit(5L), lit(10L), lit(20L))).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_classes"),
        sum("sz").as("n_rows"),
        sum((col("sz") < col("k")).cast("long")).as("n_classes_at_risk"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(0L))
          .as("n_rows_at_risk"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") / col("n_rows"), 6))
      .orderBy("k")
  }

  /** q194: categorical-entropy audit across the lake — Shannon entropy,
    * normalized entropy, and top-value share for the six governance-
    * critical enum columns (events.event_type, documents.source/lang,
    * orders.o_orderstatus, part.p_brand, lineitem.l_returnflag): the
    * distribution-shape companion to q130's counts. A column whose
    * entropy collapses release-over-release is a dying dimension (one
    * value swallowing the feed — exactly what q83's mix planner and
    * q138's skew report would hit next); near-max entropy on a
    * supposedly-skewed column means a broken producer writing
    * uniformly.
    *
    * Each column is one partial-aggregated scan to its O(distinct)
    * histogram; the entropy folds over a value-ORDERED window (the
    * q181 χ² convention — a sequential double sum both engines
    * evaluate identically), and the six bounded frames union to
    * O(columns) rows. log2 spelled ln/ln(2) to mirror Spark. */
  def q194ColumnEntropy(spark: SparkSession, dir: String): DataFrame = {
    def one(label: String, df: DataFrame, c: org.apache.spark.sql.Column) = {
      val hist = df.filter(c.isNotNull)
        .groupBy(c.cast("string").as("v"))
        .agg(count(lit(1)).as("n"))
      val all = Window.partitionBy(lit(1))
      val wv = Window.partitionBy(lit(1)).orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val p = col("n").cast("double") / col("total").cast("double")
      hist
        .withColumn("total", sum("n").over(all))
        .withColumn("h", sum(-p * log(p) / math.log(2.0)).over(wv))
        .groupBy(lit(label).as("column_name"))
        .agg(max("total").as("n_rows"),
          count(lit(1)).as("n_distinct"),
          round(max("h"), 6).as("entropy_bits"),
          round(max("h") / greatest(log(count(lit(1)).cast("double"))
            / math.log(2.0), lit(1e-12)), 6).as("norm_entropy"),
          round(max("n").cast("double") / max("total"), 6).as("top_share"))
    }
    one("events.event_type", Tables.events(spark, dir), col("event_type"))
      .union(one("documents.source", Tables.documents(spark, dir), col("source")))
      .union(one("documents.lang", Tables.documents(spark, dir), col("lang")))
      .union(one("orders.o_orderstatus", Tables.orders(spark, dir), col("o_orderstatus")))
      .union(one("part.p_brand", Tables.part(spark, dir), col("p_brand")))
      .union(one("lineitem.l_returnflag", Tables.lineitem(spark, dir), col("l_returnflag")))
      .orderBy("column_name")
  }

  /** q197: inclusion-dependency discovery — q179 ENFORCES the FKs the
    * schema declares; this one DISCOVERS them: for each candidate
    * (child column → parent column) pair, what share of the child's
    * DISTINCT values the parent contains (Bauckmann et al.'s unary IND
    * profiling). Containment 1.0 = a joinable key relationship worth
    * declaring; the deliberately-spurious candidates (events.user_id →
    * customer, doc_id → vec_id) measure what a discovery pass must
    * reject — a profiler that only confirms known FKs is a rubber
    * stamp.
    *
    * Each pair collapses BOTH sides to distinct key sets before the
    * one join (child distincts ⋖ parent key set — broadcast when the
    * parent is a dim, shuffled otherwise, the optimizer's call);
    * output is O(candidate pairs). Exact integer counts. */
  def q197InclusionDeps(spark: SparkSession, dir: String): DataFrame = {
    def probe(rule: String, child: DataFrame, childCol: String,
              parent: DataFrame, parentCol: String): DataFrame = {
      val c = child.filter(col(childCol).isNotNull)
        .select(col(childCol).cast("long").as("v")).distinct()
      val p = parent.filter(col(parentCol).isNotNull)
        .select(col(parentCol).cast("long").as("pv")).distinct()
      c.join(p, col("v") === col("pv"), "left")
        .agg(lit(rule).as("candidate"),
          count(lit(1)).as("n_child_distinct"),
          sum(col("pv").isNotNull.cast("long")).as("n_contained"))
        .withColumn("containment",
          round(col("n_contained").cast("double") / col("n_child_distinct"), 6))
        .withColumn("is_inclusion", (col("n_contained") === col("n_child_distinct")).cast("long"))
    }
    val li = Tables.lineitem(spark, dir)
    val orders = Tables.orders(spark, dir)
    probe("lineitem.l_orderkey->orders.o_orderkey", li, "l_orderkey",
        orders, "o_orderkey")
      .union(probe("lineitem.l_partkey->part.p_partkey", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .union(probe("orders.o_custkey->customer.c_custkey", orders, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .union(probe("customer.c_nationkey->nation.n_nationkey",
        Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .union(probe("orders.o_orderkey->lineitem.l_orderkey", orders, "o_orderkey",
        li, "l_orderkey"))
      .union(probe("events.user_id->customer.c_custkey",
        Tables.events(spark, dir), "user_id",
        Tables.customer(spark, dir), "c_custkey"))
      .union(probe("documents.doc_id->embeddings.vec_id",
        Tables.documents(spark, dir), "doc_id",
        Tables.embeddings(spark, dir), "vec_id"))
      .orderBy("candidate")
  }

  /** q205: right-to-be-forgotten impact report — BEFORE executing a
    * GDPR/CCPA deletion batch, price it: for a deterministic request
    * set of principals (ids ≡ 0 mod 97 stands in for the legal
    * queue), how many rows each table purges, directly (the principal
    * column) and by CASCADE (lineitems whose parent order belongs to a
    * forgotten customer — depth 2). The report is what a data-deletion
    * runbook reviews before the irreversible pass, and the share
    * column is capacity planning for the rewrite (q69 scrubs content
    * PII; this prices identity-keyed row deletion).
    *
    * Every leg is one conditional partial-aggregated scan; the only
    * join is the cascade leg, where orders first COLLAPSE to the
    * forgotten orderkey set (broadcast below the guard size, shuffled
    * hash beyond it — the optimizer's call). O(tables) output. */
  /** q208: cross-modal coverage — per source, the share of documents
    * that HAVE an embedding row (doc_id ⇄ vec_id, the alignment q197
    * profiles globally): the completeness gate before any q34/q49/q78
    * semantic stage, where a source at 60 % coverage silently
    * contributes only its embedded 60 % and the mix (q83) drifts from
    * the text-side plan. One distinct-collapsed key join (embedding
    * keys are the smaller side — broadcast under the guard), one
    * partial-aggregated rollup; O(sources) output. */
  def q208ModalityCoverage(spark: SparkSession, dir: String): DataFrame = {
    val vecIds = Tables.embeddings(spark, dir)
      .select(col("vec_id")).distinct()
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(vecIds, col("doc_id") === col("vec_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("vec_id").isNotNull.cast("long")).as("n_embedded"))
      .withColumn("coverage",
        round(col("n_embedded").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }

  def q205DeletionImpact(spark: SparkSession, dir: String): DataFrame = {
    def leg(table: String, df: DataFrame, principal: org.apache.spark.sql.Column,
            depth: Long): DataFrame =
      df.agg(lit(table).as("table_name"),
        count(lit(1)).as("n_rows"),
        sum((principal % 97 === 0).cast("long")).as("n_affected"),
        lit(depth).as("cascade_depth"))
    val forgottenOrders = Tables.orders(spark, dir)
      .filter(col("o_custkey") % 97 === 0)
      .select(col("o_orderkey").as("fk")).distinct()
    val lineitemLeg = Tables.lineitem(spark, dir)
      .join(forgottenOrders, col("l_orderkey") === col("fk"), "left")
      .agg(lit("lineitem").as("table_name"),
        count(lit(1)).as("n_rows"),
        sum(col("fk").isNotNull.cast("long")).as("n_affected"),
        lit(2L).as("cascade_depth"))
    leg("customer", Tables.customer(spark, dir), col("c_custkey"), 1L)
      .union(leg("orders", Tables.orders(spark, dir), col("o_custkey"), 1L))
      .union(leg("events", Tables.events(spark, dir), col("user_id"), 1L))
      .union(lineitemLeg)
      .withColumn("share",
        round(col("n_affected").cast("double") / col("n_rows"), 6))
      .orderBy("table_name")
  }

  /** q229: Good–Turing unseen-mass estimate per source — P(the next
    * token drawn from this feed is a word never seen before) ≈ n₁/N
    * (Good 1953), plus the Chao1 richness floor V + n₁²/(2·n₂): the
    * "is more of this feed worth crawling" number — a source whose
    * unseen mass is ~0 is exhausted (more of it is rote), one at 0.05
    * still pays for collection. Complements q165's Heaps CURVE with
    * the closed-form marginal estimate a mix planner can threshold.
    *
    * One token scan → (source, word) counts → the O(sources)
    * frequency-of-frequencies fold. Exact integer counts everywhere;
    * the two estimates are single closed-form doubles per source. */
  def q229GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.Portable.tokenize(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    wc.groupBy("source")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        sum((col("c") === 1).cast("long")).as("n_singletons"),
        sum((col("c") === 2).cast("long")).as("n_doubletons"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        col("n_singletons"), col("n_doubletons"),
        round(when(col("n_tokens") > 0,
          col("n_singletons").cast("double") / col("n_tokens")), 6)
          .as("unseen_mass"),
        round(when(col("n_doubletons") > 0,
          col("n_vocab").cast("double")
            + col("n_singletons").cast("double")
            * col("n_singletons").cast("double")
            / (lit(2.0) * col("n_doubletons").cast("double")))
          .otherwise(col("n_vocab").cast("double")), 2).as("chao1_richness"))
      .orderBy("source")
  }

  /** q230: l-diversity audit — the sensitive-attribute companion to
    * q192's k-anonymity (Machanavajjhala et al. 2007): a class can be
    * k-anonymous and STILL leak if all k members share one sensitive
    * value (homogeneity attack — "I can't tell which row is you, but
    * every candidate row says the same thing about you"). Per
    * (nation, balance-band) quasi-identifier class, l = distinct
    * market segments; the ladder l ∈ {2, 3, 5} reports classes and
    * customers below each bar. Same O(classes) collapse as q192 —
    * classes are bounded by the QI value grid, never row count. */
  def q230LDiversity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"),
        countDistinct("c_mktsegment").as("l"))
    classes
      .select(col("sz"), col("l"),
        explode(array(lit(2L), lit(3L), lit(5L))).as("l_bar"))
      .groupBy("l_bar")
      .agg(count(lit(1)).as("n_classes"),
        sum("sz").as("n_rows"),
        sum((col("l") < col("l_bar")).cast("long")).as("n_classes_below"),
        sum(when(col("l") < col("l_bar"), col("sz")).otherwise(0L))
          .as("n_rows_at_risk"),
        min("l").as("min_l"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") / col("n_rows"), 6))
      .orderBy("l_bar")
  }

  /** q252: t-closeness audit — the third rung of the anonymization
    * ladder (Li, Li & Venkatasubramanian 2007) after q192's
    * k-anonymity and q230's l-diversity: a class can be k-anonymous
    * AND l-diverse and still leak if its sensitive-value DISTRIBUTION
    * differs sharply from the global one (skewness attack — "every
    * candidate row for you is 90% segment X in a population that's
    * 20% X"). Per (nation, balance-band) quasi-identifier class
    * (q230's QI), t = the variational distance ½·Σ|p_s − q_s| between
    * the class's market-segment distribution and the global one (the
    * paper's equal-ground-distance EMD for categorical attributes);
    * the ladder t̄ ∈ {0.1, 0.2, 0.3} reports classes and customers
    * above each bar.
    *
    * Scale shape: one scan to the O(classes × segments) cell
    * histogram plus one to the O(segments) global — zero cells are
    * materialized by a classes × segments grid join (a missing
    * segment still contributes |0 − q_s|), everything downstream is
    * arithmetic over that bounded frame. Determinism: p/q are ratios
    * of exact counts; the per-class Σ folds over a segment-ORDERED
    * window (the q194/q181 sequential-sum convention), so both
    * engines add the same doubles in the same order. */
  def q252TCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
    val global = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("gn"))
      .crossJoin(broadcast(
        cust.groupBy().agg(count(lit(1)).as("n_total"))))
    val classes = cust.groupBy("c_nationkey", "bal_band")
      .agg(count(lit(1)).as("sz"))
    val cells = cust.groupBy("c_nationkey", "bal_band", "c_mktsegment")
      .agg(count(lit(1)).as("cn"))
    val wv = Window.partitionBy("c_nationkey", "bal_band")
      .orderBy("c_mktsegment")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val t = classes.crossJoin(broadcast(global))
      .join(cells, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .withColumn("ad",
        abs(coalesce(col("cn"), lit(0L)).cast("double") / col("sz")
          - col("gn").cast("double") / col("n_total")))
      .withColumn("t", sum("ad").over(wv) / 2.0)
      .groupBy("c_nationkey", "bal_band")
      .agg(max("sz").as("sz"), max("t").as("t"))
    t.select(col("sz"), col("t"),
        explode(array(lit(0.1), lit(0.2), lit(0.3))).as("t_bar"))
      .groupBy("t_bar")
      .agg(count(lit(1)).as("n_classes"),
        sum("sz").as("n_rows"),
        sum((col("t") > col("t_bar")).cast("long")).as("n_classes_above"),
        sum(when(col("t") > col("t_bar"), col("sz")).otherwise(0L))
          .as("n_rows_at_risk"),
        round(max("t"), 6).as("max_t"))
      .withColumn("risk_share",
        round(col("n_rows_at_risk").cast("double") / col("n_rows"), 6))
      .orderBy("t_bar")
  }
}
