package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-cohort accumulator of q153's fused bootstrap pass: raw-mean
  * partials plus one (Σ wt·value, Σ wt) lane per replica. Top-level so
  * executor-side instances carry no outer reference. */
private[operators] final class BootAcc(n: Int) extends Serializable {
  var sv = 0.0
  var cnt = 0L
  val swv = new Array[Double](n)
  val sw = new Array[Long](n)
}

/** Statistical analysis operators — the hypothesis-testing /
  * association layer over the same collapsed aggregates the monitoring
  * queries (q80/q113/q125/q126) build on. Everything reduces the corpus
  * to a bounded summary FIRST (contingency cells, co-moments, daily
  * series), so the statistics run on O(categories²) / O(columns²) /
  * O(types × days) rows regardless of corpus size. */
object Stats {

  /** q134: χ² test of independence between two categorical columns
    * (lang × source over documents) — "is the language mix the same
    * across sources?", the first question a mix planner asks before
    * trusting per-source language quotas. One partial-aggregated
    * count per (lang, source) cell; expected counts come from the
    * row/column marginals of the SAME cell table (two tiny re-groups +
    * broadcast joins), so the corpus is scanned exactly once. The
    * statistic sums over O(|langs|·|sources|) cells. */
  def q134ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).cast("double").as("n"))
    val total = cells.agg(sum("n").as("t"))
    val rowM = cells.groupBy("lang").agg(sum("n").as("rn"))
    val colM = cells.groupBy("source").agg(sum("n").as("sn"))
    cells
      .join(broadcast(rowM), "lang")
      .join(broadcast(colM), "source")
      .crossJoin(broadcast(total))
      .select(((col("n") - col("rn") * col("sn") / col("t")) *
        (col("n") - col("rn") * col("sn") / col("t")) /
        (col("rn") * col("sn") / col("t"))).as("term"))
      .agg(round(sum("term"), 6).as("chi2"),
        count(lit(1)).as("n_cells"))
  }

  /** q135: Pearson correlation matrix over lineitem's measure columns —
    * the feature-redundancy screen run before any modeling step. ONE
    * Aggregate computes all pairwise `corr` co-moments in a single
    * scan (each is O(1) state), then `stack` unpivots the 1-row result
    * to the (c1, c2, r) triangle. Rounded to 4 dp — the q52
    * moment-aggregate contract (co-moment summation order differs
    * across engines at the last ulp; 6 dp would race it). */
  def q135CorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for (i <- cols.indices; j <- i + 1 until cols.length)
      yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 4).as(s"__c_${a}_$b")
    }
    val one = Tables.lineitem(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (a, b) => s"'$a', '$b', `__c_${a}_$b`" }
      .mkString(", ")
    one.select(expr(s"stack(${pairs.size}, $stackArgs) AS (c1, c2, r)"))
      .orderBy("c1", "c2")
  }

  /** q136: median/MAD robust outlier detection on the daily per-type
    * value series — the heavy-tail-safe companion to q80's z-score (a
    * single spike inflates a mean and sigma; it barely moves a median
    * and MAD). Exact percentiles (the q51 contract) over the collapsed
    * O(types × days) series: one pass for the per-type median, one for
    * the MAD, broadcast back; a day flags when |x − med| > 3 · MAD
    * (and MAD > 0 — a constant series has no scale to exceed). Daily
    * sums and both statistics round at 6 dp before comparison (the
    * q113 convention). */
  def q136MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(round(sum("value"), 6).as("x"))
    val med = daily.groupBy("event_type")
      .agg(round(expr("percentile(x, 0.5)"), 6).as("med"))
    val mad = daily.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(round(expr("percentile(abs(x - med), 0.5)"), 6).as("mad"))
    daily
      .join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("x"), col("med"), col("mad"),
        round(abs(col("x") - col("med")), 6).as("dev"),
        ((col("mad") > 0) &&
          (round(abs(col("x") - col("med")), 6) > lit(3.0) * col("mad")))
          .cast("long").as("is_outlier"))
      .orderBy("event_type", "day")
  }

  /** q137: Welch's unequal-variance t-test between two event cohorts
    * (purchase vs view `value`) — the A/B answer sheet: "is the mean
    * different, given the groups don't share a variance?". ONE
    * partial-aggregated scan produces the two (n, mean, s²) summaries
    * (each O(1) agg state); the statistic and the Welch–Satterthwaite
    * df are arithmetic over that 2-row table, so the corpus is read
    * once and nothing but two summary rows ever moves. 4 dp on the
    * derived stats (the q52/q135 moment contract: co-moment summation
    * order differs across engines at the last ulp). */
  def q137WelchTtest(spark: SparkSession, dir: String): DataFrame =
    welchFromSummaries(welchSummaries(Tables.events(spark, dir)))

  /** The per-cohort (n, mean, s²) summaries the t-test runs on. `n`
    * counts non-null VALUES, not rows — a null measurement contributes
    * to neither the moments nor the sample size. */
  private def welchSummaries(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy("event_type")
      .agg(count(col("value")).cast("double").as("n"),
        avg("value").as("m"),
        var_samp("value").as("s2"))

  /** The closed-form statistic over the 2-row summary table. */
  private def welchFromSummaries(g: DataFrame): DataFrame = {
    val a = g.filter(col("event_type") === "purchase")
      .select(col("n").as("n1"), col("m").as("m1"), col("s2").as("v1"))
    val b = g.filter(col("event_type") === "view")
      .select(col("n").as("n2"), col("m").as("m2"), col("s2").as("v2"))
    val se2 = col("v1") / col("n1") + col("v2") / col("n2")
    a.crossJoin(b) // 1 row × 1 row — both sides are O(1) summaries
      .select(
        col("n1").cast("long").as("n_purchase"),
        col("n2").cast("long").as("n_view"),
        round(col("m1"), 4).as("mean_purchase"),
        round(col("m2"), 4).as("mean_view"),
        round((col("m1") - col("m2")) / sqrt(se2), 4).as("t_stat"),
        round(se2 * se2 /
          (col("v1") * col("v1") / (col("n1") * col("n1") * (col("n1") - 1)) +
           col("v2") * col("v2") / (col("n2") * col("n2") * (col("n2") - 1))), 4)
          .as("welch_df"))
  }

  /** q138: key-skew report — the diagnostic a 100 TB operator runs
    * BEFORE picking a partitioning: per candidate shuffle key, the
    * row/key counts, the top-1/top-10 key shares, and the normalized
    * entropy of the key histogram (1 = uniform, → 0 = one hot key).
    * Each relation is scanned once into a partial-aggregated key
    * histogram; the shares come from a TakeOrderedAndProject over that
    * histogram (top-10, never a global sort) and the entropy from one
    * more O(1)-state agg — so the report costs O(distinct keys)
    * intermediate rows, not O(corpus). This is the measurement that
    * decides whether a key needs more than AQE's skew-join split. */
  def q138SkewReport(spark: SparkSession, dir: String): DataFrame = {
    def report(df: DataFrame, rel: String, key: String): DataFrame = {
      val hist = df.groupBy(col(key).cast("string").as("k"))
        .agg(count(lit(1)).cast("double").as("c"))
      val top = hist.orderBy(desc("c"), asc("k")).limit(10)
        .agg(max("c").as("c1"), sum("c").as("c10"))
      hist
        .agg(sum("c").as("n"), count(lit(1)).cast("double").as("keys"),
          sum(col("c") * log(col("c"))).as("clogc"))
        .crossJoin(broadcast(top)) // 1×1: totals × top-10 summary
        .select(lit(rel).as("relation"), lit(key).as("key"),
          col("n").cast("long").as("n_rows"),
          col("keys").cast("long").as("n_keys"),
          round(col("c1") / col("n"), 6).as("top1_share"),
          round(col("c10") / col("n"), 6).as("top10_share"),
          // H = ln n − (Σ c·ln c)/n, normalized by ln(keys)
          when(col("keys") > 1,
            round((log(col("n")) - col("clogc") / col("n")) / log(col("keys")), 6))
            .otherwise(lit(0.0)).as("entropy_norm"))
    }
    val ev = Tables.events(spark, dir)
    report(ev, "events", "user_id")
      .unionAll(report(ev, "events", "event_type"))
      .unionAll(report(Tables.lineitem(spark, dir), "lineitem", "l_suppkey"))
      .orderBy("relation", "key")
  }

  /** q143: block-jackknife standard error of the per-cohort mean — the
    * distributed answer to "what's the uncertainty on this metric?"
    * without bootstrap resampling (which would re-scan the corpus B
    * times). Rows hash deterministically into 32 blocks; each block
    * contributes one (sum, count) partial per cohort, and the
    * leave-one-block-out means give the delete-one jackknife variance:
    * SE² = (K−1)/K · Σ_b (x̄₋ᵦ − mean of x̄₋ᵦ)².  ONE corpus scan →
    * O(cohorts × 32) cells; everything after runs on the cell table.
    * This is the estimator a 1000-executor metrics pipeline can afford:
    * partial-aggregable, deterministic, no replication of the data.
    * Blocks key on `event_id % 32` — deterministic and engine-portable
    * (ids are assignment-order, so blocks are exchangeable). */
  def q143BlockJackknife(spark: SparkSession, dir: String): DataFrame = {
    val k = 32
    val cells = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), pmod(col("event_id"), lit(k)).as("block"))
      .agg(sum("value").as("s"), count(col("value")).cast("double").as("c"))
    val tot = cells.groupBy("event_type")
      .agg(sum("s").as("ts"), sum("c").as("tc"),
        count(lit(1)).as("n_blocks"))
    // leave-one-out mean per block, then its variance across blocks
    val loo = cells.join(tot, "event_type")
      .select(col("event_type"), col("n_blocks"),
        ((col("ts") - col("s")) / (col("tc") - col("c"))).as("loo_mean"))
    loo
      .groupBy("event_type")
      .agg(first("n_blocks").as("k_blocks"),
        var_pop("loo_mean").as("loo_var"))
      .join(tot.select(col("event_type"), (col("ts") / col("tc")).as("mean_raw")),
        "event_type")
      .filter(col("k_blocks") >= 2) // jackknife needs ≥2 blocks
      .select(col("event_type"),
        col("k_blocks"),
        round(col("mean_raw"), 4).as("mean_value"),
        round(sqrt((col("k_blocks") - 1) * col("loo_var")), 4).as("jackknife_se"))
      .orderBy("event_type")
  }

  /** q144: per-source quality trend — is each source's daily mean doc
    * quality drifting? `regr_slope`/`regr_r2` over (day index, daily
    * mean) per source: the corpus collapses to O(sources × days) cells
    * under one partial-aggregated groupBy (the q113 contract), the
    * regression runs on the cell table with O(1) co-moment state per
    * source. Day index counts from each source's first day so slopes
    * compare across sources; daily means round before the fit (the
    * cross-engine moment convention). Quality = the q37 length/stopword
    * blend's cheap core (chars per whitespace token), enough to detect
    * drift without re-running the full scorer. */
  /** q153: Poisson bootstrap — per-cohort mean with a bootstrap SE and
    * 95 % percentile CI, the distributed companion to q143's jackknife.
    * Classic bootstrap resampling (draw n rows with replacement) is
    * impossible without a global index; the Poisson trick replaces it:
    * each row independently receives a Poisson(1) weight per replica,
    * which converges to multinomial resampling and needs NO
    * coordination — the canonical resampler on sharded data. Weights
    * are DERIVED, not drawn: u = hash(event_id, rep)/(2³¹-ish prime)
    * inverted through the fixed Poisson(1) CDF table, so both engines
    * (and any two cluster runs) see identical weights — q45b's
    * determinism rule applied to randomness itself.
    *
    * Scale shape: the replica axis explodes IN-ROW (200× rows inside
    * the scan stage, never materialized to disk) and collapses to
    * O(cohorts × 200) partial-aggregated cells before the ONE
    * exchange; the replica means then fold to O(cohorts) output. At
    * 100 TB the same plan holds — the shuffle carries
    * partitions × cohorts × 200 partial rows, independent of corpus
    * size; if 200× in-row amplification ever dominates the scan, the
    * explode swaps for a width-200 aggregate kernel (one struct array
    * per partition) with identical semantics. Replica means round to
    * 6 dp before the SE/percentile fold (q113's convention) so the
    * oracle reproduces them bit-for-bit; exact percentiles by the
    * q51/q127 contract. */
  def q153PoissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val reps = 200
    val m = 1000000007L
    val base = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    // three multiply-mod rounds with the replica stride injected in the
    // middle: a single linear pass (the first cut) left replicas only
    // 7919/M ≈ 8e-6 apart in u-space, so all 200 weightings were nearly
    // identical (SE collapsed, CI missed the mean); each multiply-mod
    // wraps the stride ~550× around [0, M), decorrelating replicas
    // (validated against the analytic s/√n: ratios 0.77-1.12 across
    // cohorts, CIs bracket the means)
    // u = pmod(pmod(pmod(pmod(event_id, M)·1000003, M) + rep·7919, M)
    //          ·69069, M)·1000003 mod M / 1.0000000070e9
    // Poisson(1) CDF inversion: fixed cumulative thresholds e^-1 Σ 1/k!
    // (identical literals in the DuckDB twin), tail truncated at 7 —
    // both evaluated in the fused kernel below, arithmetic unchanged.
    // ONE corpus scan serves both the replicas and the raw mean: the
    // (cohort, rep) cells carry unweighted (Σvalue, count) partials
    // beside the weighted sums — each original row appears exactly
    // `reps` times, so Σsv/Σcnt over the cells IS the raw mean (no
    // second pass over events). A zero-total-weight replica keeps its
    // unweighted partials but contributes a NULL rep_mean, which the
    // null-ignoring SE/percentile/count aggregates skip — the exact
    // drop-empty-replica semantics without losing raw-mean mass.
    //
    // Round 14: the replica axis no longer explodes through the hash
    // aggregate — `reps`× row amplification paid a grouping-key hash
    // probe per (row, rep) (corpus × 200 probes for 1000 live keys;
    // measured 1.6 s at sf0.1). One fused mapPartitions pass computes
    // the same multiply-mod u, the same CDF-inversion weight, and folds
    // the same per-(cohort, rep) accumulators in the same in-partition
    // row order the partial aggregation used; the O(cohorts × reps)
    // cells treeAggregate to the driver. Cross-partition merge order
    // reassociates the double sums exactly as the exchange's arbitrary
    // fetch order already did; the 6-dp rep_mean round (and terminal
    // round4) absorbs it — dump-compared bit-identical at sf0.01/sf0.1.
    val cellSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("sv",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rep_mean",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    def mergeAccs(a: Map[String, BootAcc],
                  b: Map[String, BootAcc]): Map[String, BootAcc] = {
      val onlyB = b.filter { case (k, _) => !a.contains(k) }
      a.foreach { case (k, acc) =>
        b.get(k).foreach { o =>
          acc.sv += o.sv; acc.cnt += o.cnt
          var i = 0
          while (i < reps) {
            acc.swv(i) += o.swv(i); acc.sw(i) += o.sw(i); i += 1
          }
        }
      }
      a ++ onlyB
    }
    val agg = base.select(col("event_type"), col("event_id"), col("value"))
      .queryExecution.toRdd.mapPartitions { it =>
        val accs = new java.util.HashMap[String, BootAcc]()
        it.foreach { row =>
          val et = row.getUTF8String(0).toString
          val v = row.getDouble(2)
          var acc = accs.get(et)
          if (acc == null) { acc = new BootAcc(reps); accs.put(et, acc) }
          acc.sv += v
          acc.cnt += 1L
          if (row.isNullAt(1)) {
            // null event_id: u is null, every `when` is null, the chain
            // falls to otherwise(7) — replayed
            var i = 0
            while (i < reps) { acc.swv(i) += 7L * v; acc.sw(i) += 7L; i += 1 }
          } else {
            val eid = row.getLong(1)
            // the declared multiply-mod chain, in exact long arithmetic
            // (pmod on a positive modulus; no step exceeds ~1e15)
            val base0 = Math.floorMod(Math.floorMod(eid, m) * 1000003L, m)
            var rep = 1L
            while (rep <= reps) {
              val u = Math.floorMod(Math.floorMod(
                Math.floorMod(base0 + rep * 7919L, m) * 69069L, m)
                * 1000003L, m).toDouble / 1.0000000070e9
              val w = if (u < 0.367879441171) 0L else if (u < 0.735758882343) 1L
                else if (u < 0.919698602929) 2L else if (u < 0.981011843124) 3L
                else if (u < 0.996340153173) 4L else if (u < 0.999405815182) 5L
                else if (u < 0.999916758851) 6L else 7L
              val i = (rep - 1).toInt
              acc.swv(i) += w * v
              acc.sw(i) += w
              rep += 1L
            }
          }
        }
        import scala.jdk.CollectionConverters._
        Iterator.single(accs.asScala.toMap)
      }
      .treeAggregate(Map.empty[String, BootAcc])(
        seqOp = (z, mp) => if (z.isEmpty) mp else mergeAccs(z, mp),
        combOp = (a, b) => if (a.isEmpty) b else if (b.isEmpty) a
          else mergeAccs(a, b))
    val rows = agg.toSeq.flatMap { case (et, a) =>
      (0 until reps).map { i =>
        org.apache.spark.sql.Row(et, a.sv, a.cnt,
          if (a.sw(i) > 0)
            graft.plans.ArgminKernels.round6(a.swv(i) / a.sw(i))
          else null)
      }
    }
    val cells = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), cellSchema)
    cells.groupBy("event_type")
      .agg(count(col("rep_mean")).as("n_reps"),
        stddev_samp(col("rep_mean")).as("se"),
        expr("percentile(rep_mean, 0.025D)").as("lo"),
        expr("percentile(rep_mean, 0.975D)").as("hi"),
        (sum("sv") / sum("cnt")).as("mean_raw"))
      .select(col("event_type"), col("n_reps"),
        round(col("mean_raw"), 4).as("mean_value"),
        round(col("se"), 4).as("boot_se"),
        round(col("lo"), 4).as("ci_lo"),
        round(col("hi"), 4).as("ci_hi"))
      .orderBy("event_type")
  }

  /** q155: one-vs-rest mean-shift sweep with Benjamini–Hochberg FDR
    * control — "which event types' values differ from everything
    * else, accounting for the fact that we ran |types| tests at
    * once": the multiple-testing guard every metrics platform needs
    * before alerting on a sweep of segments. Per type, a Welch z-test
    * of the type's values against the complement; the complement's
    * moments come from TOTALS MINUS the type's own sums (no second
    * scan, no anti-join): one O(types) summary table drives
    * everything. p-values via the Abramowitz–Stegun 7.1.26 erfc
    * polynomial — closed-form arithmetic both engines evaluate
    * identically on the 4-dp-rounded t (large-sample z approximation;
    * df >> 30 at every fixture, noted here rather than computed) —
    * then BH: rank p ascending, adjusted p = min over j ≥ rank of
    * p_j·m/j (the reversed running min), significant at FDR 0.05.
    * Corpus collapses to O(types) sums in ONE partial-aggregated
    * scan; the test/BH math runs on that tiny frame.
    *
    * Moments accumulate in EXACT 1e-3 fixed-point (the q161/q163
    * rule): `value` lands on the integer grid v3 = round(value·1000)
    * BEFORE any sum, so Σv3 / Σv3² are order-independent integers
    * (decimal(38,0) in Spark, HUGEINT in DuckDB) and both engines
    * derive the SAME doubles from them — float Σvalue / Σvalue² is
    * accumulation-order-sensitive, and the order skew flipped the
    * 4-dp round of one t_stat across engines (the round-7 hash fail).
    * Per-row v3² ≤ 3.2e11 fits a long; the decimal sums are exact at
    * any corpus size. */
  def q155AbFdr(spark: SparkSession, dir: String): DataFrame = {
    // O(types) rows feeding two consumers (totals + the per-type join);
    // localCheckpoint keeps the corpus scan single-pass
    val perType = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"))
      .groupBy("event_type")
      .agg(count(col("v3")).as("cnt"),
        sum(col("v3").cast("decimal(38,0)")).as("s3"),
        sum((col("v3") * col("v3")).cast("decimal(38,0)")).as("ss6"))
      .localCheckpoint()
    val tot = perType.agg(sum("cnt").as("tcnt"), sum("s3").as("ts3"),
      sum("ss6").as("tss6"), count(lit(1)).as("m"))
    val j = perType.crossJoin(broadcast(tot)) // O(types) × 1 row
      // exact integers → doubles at the LAST moment; the double
      // expression tree below is literal-identical in the oracle
      .select(col("event_type"), col("m"),
        col("cnt").cast("double").as("n"),
        (col("s3").cast("double") / 1000.0).as("s"),
        (col("ss6").cast("double") / 1000000.0).as("ss"),
        col("tcnt").cast("double").as("tn"),
        (col("ts3").cast("double") / 1000.0).as("ts"),
        (col("tss6").cast("double") / 1000000.0).as("tss"))
      .select(col("event_type"), col("n"), col("m"),
        (col("s") / col("n")).as("m1"),
        ((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)).as("v1"),
        (col("tn") - col("n")).as("n2"),
        ((col("ts") - col("s")) / (col("tn") - col("n"))).as("m2"),
        ((col("tss") - col("ss"))
          - (col("ts") - col("s")) * (col("ts") - col("s")) / (col("tn") - col("n")))
          .as("ss2c"))
    val t = round((col("m1") - col("m2")) /
      sqrt(col("v1") / col("n") + col("ss2c") / (col("n2") - 1) / col("n2")), 4)
    // erfc(x) ≈ (a1·k + a2·k² + a3·k³ + a4·k⁴ + a5·k⁵)·e^(−x²),
    // k = 1/(1 + 0.3275911·x) — identical literals in the oracle;
    // p = 2·(1 − Φ(|t|)) = erfc(|t|/√2)
    val x = abs(col("t_stat")) / sqrt(lit(2.0))
    val kk = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (((((lit(1.061405429) * kk - lit(1.453152027)) * kk)
      + lit(1.421413741)) * kk - lit(0.284496736)) * kk + lit(0.254829592)) * kk
    val p = round(poly * exp(-x * x), 6)
    val ranked = j
      .select(col("event_type"), col("n").cast("long").as("n_values"),
        col("m"), t.as("t_stat"))
      .withColumn("p_value", p)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p_value").asc, col("event_type").asc)))
    ranked
      .withColumn("p_bh", round(least(min(col("p_value") * col("m") / col("rk"))
        .over(Window.orderBy(col("p_value").asc, col("event_type").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)), lit(1.0)), 6))
      .select(col("event_type"), col("n_values"), col("t_stat"), col("p_value"),
        col("p_bh"),
        when(col("p_bh") <= 0.05, 1L).otherwise(0L).as("significant"))
      .orderBy("event_type")
  }

  def q144QualityTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .groupBy(col("source"),
        // deterministic synthetic "day": docs carry no timestamp, so
        // the drift axis is the ingest-order proxy doc_id / 20
        (col("doc_id") / 20).cast("long").as("day"))
      .agg(round(avg(col("n_chars").cast("double") /
        greatest(size(split(col("text"), " ")), lit(1))), 6).as("q"))
    daily
      .groupBy("source")
      .agg(count(lit(1)).as("n_days"),
        round(expr("regr_slope(q, day)"), 6).as("slope"),
        round(expr("regr_r2(q, day)"), 4).as("r2"),
        round(avg("q"), 6).as("mean_q"))
      .filter(col("n_days") >= 2)
      .orderBy("source")
  }

  /** q167: leave-one-out source influence — data valuation at the
    * source grain. For the corpus-wide regression of per-doc distinct
    * vocabulary (y) on token count (x) — the lexical-richness-vs-length
    * relation every curation report monitors — each source's influence
    * is the CHANGE in the fitted slope when that source is deleted:
    * the "what does this source do to my corpus statistics" question a
    * mix planner asks before cutting or up-weighting a feed (the q163
    * removal-effect idea applied to a fitted statistic instead of a
    * Markov chain).
    *
    * No per-source refit touches the corpus: OLS has sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²), they are ADDITIVE, and the
    * LOO fit for source s is a closed form over totals-minus-own (the
    * q155 complement pattern) — ONE corpus scan collapses to
    * O(sources) sum rows and the algebra runs on that frame. All five
    * moments are INTEGERS (token/type counts), accumulated exactly
    * (decimal(38,0) in Spark, HUGEINT in DuckDB — the q155/q161/q163
    * fixed-point rule), so both engines derive identical doubles:
    * per-row xy ≤ ~5e5·5e5 fits a long, the decimal sums never
    * overflow at any corpus size. */
  def q167LooInfluence(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val perSource = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("x"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("cnt"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"))
      .localCheckpoint() // O(sources); feeds the totals AND the per-source join
    val tot = perSource.agg(sum("cnt").as("tcnt"), sum("sx").as("tsx"),
      sum("sy").as("tsy"), sum("sxy").as("tsxy"), sum("sxx").as("tsxx"))
    // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), full and LOO forms
    // from the same exact integers → identical doubles both engines.
    // Zero-variance guard: a degenerate feed (constant doc length —
    // the dirty-rows sweep's template corpus) has no defined slope;
    // null, never a DIVIDE_BY_ZERO that kills the stage (ANSI throws
    // on double division too)
    def slope(n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column): Column = {
      val den = n * sxx - sx * sx
      when(den =!= 0.0, (n * sxy - sx * sy) / den)
    }
    val asD = (c: Column) => c.cast("double")
    perSource.crossJoin(broadcast(tot)) // O(sources) × 1 row
      .select(col("source"), col("cnt"),
        slope(asD(col("tcnt")), asD(col("tsx")), asD(col("tsy")),
          asD(col("tsxy")), asD(col("tsxx"))).as("slope_full"),
        slope(asD(col("tcnt") - col("cnt")), asD(col("tsx") - col("sx")),
          asD(col("tsy") - col("sy")), asD(col("tsxy") - col("sxy")),
          asD(col("tsxx") - col("sxx"))).as("slope_loo"))
      .select(col("source"), col("cnt").as("n_docs"),
        round(col("slope_full"), 6).as("slope_full"),
        round(col("slope_loo"), 6).as("slope_loo"),
        round(col("slope_loo") - col("slope_full"), 6).as("influence"))
      .withColumn("infl_rank", row_number().over(Window.orderBy(
        abs(col("slope_loo") - col("slope_full")).desc, col("source").asc)).cast("long"))
      .orderBy("source")
  }

  /** Equal-width score bins for [[q172IsotonicFit]]. */
  val IsoBins = 20

  /** q172: isotonic calibration — the FIX for what the q150
    * reliability diagram only measures. A monotone score (here the
    * first embedding dimension, scoring "is this the label-1
    * cluster") gets a nondecreasing calibrated probability per score
    * bin via isotonic regression: the PAV solution, computed NOT by
    * the sequential pool-adjacent-violators sweep (driver-state,
    * order-dependent) but by its minimax closed form
    * iso(i) = max_{j≤i} min_{k≥i} weightedMean(bin_j..bin_k) —
    * pure bounded joins, no iteration, no driver loop: exactly the
    * declarative rendering a distributed engine wants (the q163
    * "algebra on the collapsed frame" rule).
    *
    * Scale shape: ONE corpus scan collapses to O(bins) exact-integer
    * (n, positives) cells (bin edges from a broadcast min/max
    * aggregate); the minimax runs as two aggregations over the
    * O(bins²) interval frame — 400 rows at [[IsoBins]]=20 regardless
    * of corpus size. The doubles (interval means) derive from exact
    * integers identically on both engines; the spec replays the
    * classic PAVA sweep in plain Scala and pins equality. */
  def q172IsotonicFit(spark: SparkSession, dir: String): DataFrame = {
    val nb = IsoBins
    val scored = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0 &&
        col("label").isNotNull)
      .select(element_at(col("embedding"), 1).cast("double").as("s"),
        (col("label") === 1).cast("long").as("pos"))
    val span = scored.agg(min("s").as("lo"), max("s").as("hi"))
    val binned = scored.crossJoin(broadcast(span))
      .select(when(col("hi") > col("lo"),
        least(floor((col("s") - col("lo")) / ((col("hi") - col("lo")) / nb)),
          lit(nb - 1).cast("double")).cast("long"))
        .otherwise(lit(0L)).as("bin"), col("pos"), col("lo"), col("hi"))
      .groupBy("bin", "lo", "hi")
      .agg(count(lit(1)).as("n"), sum("pos").as("np"))
    // dense index over the PRESENT bins (empty bins carry no weight —
    // PAV over observed blocks); O(bins) single-partition window
    val idx = binned
      .withColumn("i", row_number().over(Window.orderBy("bin")).cast("long"))
      .withColumn("cn", sum("n").over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cp", sum("np").over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint() // O(bins); three bounded consumers below
    // interval means over [j..k]: (cp_k − cp_{j−1}) / (cn_k − cn_{j−1})
    val jf = idx.select(col("i").as("j"),
      (col("cn") - col("n")).as("cn0"), (col("cp") - col("np")).as("cp0"))
    val kf = idx.select(col("i").as("k"), col("cn").as("cnk"), col("cp").as("cpk"))
    val means = jf.crossJoin(broadcast(kf)).filter(col("j") <= col("k"))
      .select(col("j"), col("k"),
        (col("cpk") - col("cp0")).cast("double")
          ./((col("cnk") - col("cn0")).cast("double")).as("m"))
    // iso(i) = max over j ≤ i of ( min over k ≥ i of mean(j,k) ):
    // expand per i, aggregate innermost-first — two bounded groupBys
    val perI = means.crossJoin(broadcast(idx.select(col("i"))))
      .filter(col("j") <= col("i") && col("k") >= col("i"))
    val iso = perI.groupBy("i", "j").agg(min("m").as("mn"))
      .groupBy("i").agg(max("mn").as("iso"))
    idx.join(broadcast(iso), "i")
      .select(col("i").as("bin_idx"),
        round(col("lo") + col("bin").cast("double") *
          ((col("hi") - col("lo")) / nb), 6).as("s_lo"),
        round(col("lo") + (col("bin") + 1).cast("double") *
          ((col("hi") - col("lo")) / nb), 6).as("s_hi"),
        col("n"), col("np").as("positives"),
        round(col("np").cast("double") / col("n").cast("double"), 6).as("raw_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy("bin_idx")
  }

  /** Deterministic 50/50 experiment split on user_id — the q153
    * multiply-mod chain applied to ASSIGNMENT: both engines (and any
    * two cluster runs) put every user in the same arm with no stored
    * assignment table. Shared by q175/q176 so the monitor and its
    * balance diagnostic audit the SAME experiment. */
  private[operators] def armOf(user: Column): Column =
    pmod(pmod(user, lit(1000000007L)) * lit(1000003L), lit(1000000007L)) % 2L === 1L

  /** q175: always-valid sequential A/B monitor (mixture SPRT) — the
    * peeking-safe replacement for re-running q137's fixed-horizon
    * t-test every day: a fixed-horizon p-value re-checked daily inflates
    * false positives without bound, while the mSPRT's always-valid
    * p-value (pₙ = min over days so far of 1/Λₙ; Johari, Koomen,
    * Pekelis & Walsh, KDD 2017) is valid at EVERY look, so the monitor
    * may stop the moment it crosses 0.05. Λₙ for a normal mean
    * difference under a N(0, τ²) mixture prior has the closed form
    * √(Vₙ/(Vₙ+τ²))·exp(Δₙ²τ²/(2Vₙ(Vₙ+τ²))) with Vₙ the Welch variance
    * of the running difference — arithmetic both engines evaluate
    * identically.
    *
    * ONE corpus scan collapses to O(days) per-day/per-arm cells with
    * moments on the EXACT 1e-3 integer grid (the q155 rule:
    * decimal(38,0) sums, order-free); the cumulative sums that feed
    * every daily look are ordered-window folds over that tiny frame, so
    * all doubles derive from identical exact integers in identical
    * sequential order. Days before both arms hold ≥ 2 observations
    * report a null look (min skips them). */
  def q175Msprt(spark: SparkSession, dir: String): DataFrame = {
    val tau2 = 0.01 // τ = 0.1, on the metric's own scale
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        armOf(col("user_id")).as("t"),
        round(col("value") * 1000, 0).cast("long").as("v3"))
      .groupBy("day")
      .agg(
        sum(when(col("t"), 1L).otherwise(0L)).as("dn1"),
        sum(when(col("t"), col("v3")).otherwise(0L).cast("decimal(38,0)")).as("ds1"),
        sum(when(col("t"), col("v3") * col("v3")).otherwise(0L).cast("decimal(38,0)")).as("dq1"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("dn2"),
        sum(when(!col("t"), col("v3")).otherwise(0L).cast("decimal(38,0)")).as("ds2"),
        sum(when(!col("t"), col("v3") * col("v3")).otherwise(0L).cast("decimal(38,0)")).as("dq2"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exact integer cumulative moments → doubles at the last moment
    val cumd = daily
      .withColumn("n1", sum("dn1").over(cum))
      .withColumn("n2", sum("dn2").over(cum))
      .withColumn("s1", sum("ds1").over(cum).cast("double") / 1000.0)
      .withColumn("q1", sum("dq1").over(cum).cast("double") / 1000000.0)
      .withColumn("s2", sum("ds2").over(cum).cast("double") / 1000.0)
      .withColumn("q2", sum("dq2").over(cum).cast("double") / 1000000.0)
      .withColumn("nd1", col("n1").cast("double"))
      .withColumn("nd2", col("n2").cast("double"))
    val v = (col("q1") - col("s1") * col("s1") / col("nd1"))
      ./(col("nd1") - 1) / col("nd1") +
      (col("q2") - col("s2") * col("s2") / col("nd2"))
        ./(col("nd2") - 1) / col("nd2")
    val delta = col("s1") / col("nd1") - col("s2") / col("nd2")
    val lam = sqrt(col("vv") / (col("vv") + lit(tau2))) *
      exp(col("dd") * col("dd") * lit(tau2) /
        (lit(2.0) * col("vv") * (col("vv") + lit(tau2))))
    val looks = cumd
      .withColumn("vv", when(col("n1") >= 2 && col("n2") >= 2, v))
      // one-armed prefix guard: a day-prefix with zero rows in an arm
      // (tiny or skewed cohorts — the dirty-rows sweep) has no defined
      // lift; null, never a 0/0 ANSI throw
      .withColumn("dd", when(col("n1") >= 1 && col("n2") >= 1, delta))
      .withColumn("lam", when(col("vv").isNotNull && col("vv") > 0, lam))
    looks
      .withColumn("p_avi",
        round(least(coalesce(min(lit(1.0) / col("lam")).over(cum), lit(1.0)),
          lit(1.0)), 6))
      .select(col("day"), col("n1").as("n_t"), col("n2").as("n_c"),
        round(col("dd"), 6).as("delta"),
        round(log(col("lam")), 6).as("log_lambda"),
        col("p_avi"),
        (col("p_avi") <= 0.05).cast("long").as("significant"))
      .orderBy("day")
  }

  /** q176: covariate-balance report for the q175 experiment — the SMD
    * (standardized mean difference) audit every experimentation
    * platform runs before trusting an effect estimate: if the arms
    * differ on PRE-treatment covariates, the randomization (or the
    * hash!) is suspect. Covariates are per-user integers (event count,
    * Σvalue on the 1e-3 grid, distinct types, active days), so arm
    * moments are exact decimal sums (the q155 rule) and the SMD
    * (mₜ−m꜀)/√((vₜ+v꜀)/2) — Cohen's d with the standard pooled-SD
    * denominator — derives from identical integers on both engines.
    * |SMD| < 0.1 is the conventional balance threshold. The corpus
    * collapses to O(users) covariate rows in one user-keyed exchange;
    * the unpivot and the per-covariate moments run on that frame. */
  def q176CovariateBalance(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("d"),
        coalesce(round(col("value") * 1000, 0).cast("long"), lit(0L)).as("v3"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("v3").as("vsum3"),
        countDistinct("event_type").as("n_types"),
        countDistinct("d").as("n_days"))
      .select(armOf(col("user_id")).as("t"),
        // everything on the ×1000 grid so all four covariates share
        // one exact-integer moment pipeline
        col("n_events") * 1000L as "n_events",
        col("vsum3").as("value_sum"),
        col("n_types") * 1000L as "n_types",
        col("n_days") * 1000L as "n_days")
    val long = perUser.select(col("t"),
      expr("stack(4, 'n_events', n_events, 'value_sum', value_sum, " +
        "'n_types', n_types, 'n_days', n_days) AS (covariate, x3)"))
    long.groupBy("covariate")
      .agg(
        sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("t"), col("x3")).otherwise(0L).cast("decimal(38,0)")).as("s_t"),
        // square in decimal(38,0), never LONG: a user whose x3 exceeds
        // ~3e9 on the ×1000 grid overflows the long square and ANSI-
        // throws (the q190 hazard); DuckDB promotes to HUGEINT
        sum(when(col("t"), col("x3").cast("decimal(38,0)") * col("x3").cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("q_t"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("t"), col("x3")).otherwise(0L).cast("decimal(38,0)")).as("s_c"),
        sum(when(!col("t"), col("x3").cast("decimal(38,0)") * col("x3").cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("q_c"))
      .select(col("covariate"), col("n_t"), col("n_c"),
        (col("s_t").cast("double") / 1000.0 / col("n_t")).as("m_t"),
        (col("s_c").cast("double") / 1000.0 / col("n_c")).as("m_c"),
        ((col("q_t").cast("double") / 1000000.0
          - (col("s_t").cast("double") / 1000.0) * (col("s_t").cast("double") / 1000.0)
            / col("n_t")) / (col("n_t") - 1)).as("v_t"),
        ((col("q_c").cast("double") / 1000000.0
          - (col("s_c").cast("double") / 1000.0) * (col("s_c").cast("double") / 1000.0)
            / col("n_c")) / (col("n_c") - 1)).as("v_c"))
      .select(col("covariate"), col("n_t"), col("n_c"),
        round(col("m_t"), 6).as("mean_t"),
        round(col("m_c"), 6).as("mean_c"),
        // a covariate constant in BOTH arms has no SD to standardize
        // by: smd is null there (and the arms are trivially balanced
        // iff the constants agree)
        when(col("v_t") + col("v_c") > 0,
          round((col("m_t") - col("m_c")) /
            sqrt((col("v_t") + col("v_c")) / 2.0), 4)).as("smd"))
      .withColumn("balanced",
        when(col("smd").isNotNull, (abs(col("smd")) < 0.1).cast("long"))
          .otherwise((col("mean_t") === col("mean_c")).cast("long")))
      .orderBy("covariate")
  }

  /** q182: exact Theil–Sen robust trend per event-type daily series —
    * the median of ALL pairwise slopes (Theil 1950, Sen 1968): the
    * robust complement to q144's OLS fit, immune to the outlier days
    * q113/q136 flag (a single corrupted day can drag an OLS slope
    * arbitrarily; the pairwise median shrugs at up to 29 % bad days).
    * Reported beside the OLS slope so the gap itself is the outlier
    * signal.
    *
    * Exact, not sampled, because the grain makes it cheap: the corpus
    * collapses to O(types × days) daily cells first (one partial-
    * aggregated scan — the q113 shape), and the pair self-join is
    * O(types × days²) = bounded by the CALENDAR, not the corpus (30
    * days → 435 pairs/type). Slopes round to 6 dp (the q51 exact-
    * percentile contract: interpolation over identical doubles), day
    * indices are exact integer epoch-days. */
  def q182TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("d"))
      .agg(round(sum("value"), 6).as("x"))
      .localCheckpoint() // O(types × days); joined against itself
    val slopes = daily.select(col("event_type"), col("d").as("di"), col("x").as("xi"))
      .join(daily.select(col("event_type"), col("d").as("dj"), col("x").as("xj")),
        "event_type")
      .filter(col("di") < col("dj"))
      .select(col("event_type"),
        round((col("xj") - col("xi")) / (col("dj") - col("di")), 6).as("slope"))
    val ols = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        round(expr("regr_slope(x, d)"), 6).as("ols_slope"))
    slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
      .join(ols, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("ts_slope"), col("ols_slope"),
        round(abs(col("ts_slope") - col("ols_slope")), 6).as("divergence"))
      .orderBy("event_type")
  }

  /** q189: revenue-concentration report — the Gini coefficient of
    * per-customer spend by nation, plus the exact totals: "is this
    * market a broad base or three whales" — the inequality companion
    * to q138's shuffle-skew report, at the BUSINESS grain (whale-
    * concentrated revenue means churn risk, and whale-concentrated
    * keys mean the q138 salting advice applies to the revenue marts
    * too).
    *
    * Scale shape: the fact table collapses to per-customer cent sums
    * first (ONE partial-aggregated scan; exact decimal(38,0) cents —
    * the q155 grid rule), then to the per-(nation, cents) VALUE
    * histogram — so the rank-weighted sum Σ i·x_i is computed from
    * cumulative counts over distinct spend values, never a
    * per-customer global rank (Gini is invariant to tie order, which
    * is what makes the histogram form exact). Customer and nation are
    * broadcast dims. All sums exact integers/decimals until the single
    * final division. */
  def q189GiniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(sum(col("cents").cast("decimal(38,0)")).as("cust_cents"))
    val nations = broadcast(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    val hist = spend
      .join(nations, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"), col("cust_cents").as("v"))
      .agg(count(lit(1)).as("c"))
    // exclusive cumulative count below each value: ranks i of the c
    // tied customers at value v are cum0+1 .. cum0+c, so
    // Σ i·x over them = v·(c·cum0 + c(c+1)/2) — exact integers
    val w = Window.partitionBy("n_name").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val parts = hist
      .withColumn("cum0", sum("c").over(w) - col("c"))
      // DIV = exact integer division (Column `/` would promote to
      // double); c(c+1) is always even so the quotient is exact
      .select(col("n_name"), col("c"), col("v"),
        expr("v * (c * cum0 + (c * (c + 1)) DIV 2)").as("iw"))
    parts.groupBy("n_name")
      .agg(sum("c").as("n_customers"),
        sum((col("v") * col("c")).cast("decimal(38,0)")).as("s"),
        sum(col("iw").cast("decimal(38,0)")).as("t"))
      .select(col("n_name").as("nation"), col("n_customers"),
        round(col("s").cast("double") / 100.0, 2).as("total_rev"),
        round((lit(2.0) * col("t").cast("double")
            - (col("n_customers") + 1).cast("double") * col("s").cast("double"))
          / (col("n_customers").cast("double") * col("s").cast("double")), 6)
          .as("gini"))
      .orderBy("nation")
  }

  /** q195: A/B test power planner — for each event type, the days of
    * data needed to detect a 1 % / 2 % / 5 % relative lift in mean
    * value at α = 0.05 (two-sided), power 0.8, from the type's OWN
    * variance and daily volume: n/arm = 2σ²(z_{0.975}+z_{0.8})²/Δ².
    * This is the query a team runs BEFORE q137/q155/q175 — "can this
    * experiment ever conclude, and how long must it run": an
    * underpowered test that runs anyway is how dashboards fill with
    * false negatives.
    *
    * The corpus collapses to O(types) exact fixed-point moment rows
    * (the q155 1e-3 grid — variance derives from identical integers in
    * both engines) plus the calendar span; everything after is
    * closed-form arithmetic with literal z constants. ceil lands on
    * exact doubles from exact integers, so the day counts are engine-
    * stable. */
  def q195PowerMde(spark: SparkSession, dir: String): DataFrame = {
    val zsum2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
    val m = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        round(col("value") * 1000, 0).cast("long").as("v3"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("v3").cast("decimal(38,0)")).as("s3"),
        sum((col("v3") * col("v3")).cast("decimal(38,0)")).as("ss6"),
        (max("day") - min("day") + 1).as("n_days"))
    val s = col("s3").cast("double") / 1000.0
    val ss = col("ss6").cast("double") / 1000000.0
    val nD = col("n").cast("double")
    val mean = s / nD
    val variance = (ss - s * s / nD) / (nD - 1)
    val daily = nD / col("n_days").cast("double")
    def days(liftPct: Double) = {
      val delta = mean * (liftPct / 100.0)
      // 2 arms share the type's daily volume; guard degenerate types
      when(abs(mean) > 0 && variance > 0,
        ceil(lit(2.0) * (lit(2.0) * variance * lit(zsum2) / (delta * delta))
          / daily).cast("long"))
    }
    m.select(col("event_type"), col("n").as("n_values"), col("n_days"),
        round(mean, 4).as("mean_value"),
        round(sqrt(variance), 4).as("sd_value"),
        round(daily, 2).as("daily_volume"),
        days(1.0).as("days_1pct"),
        days(2.0).as("days_2pct"),
        days(5.0).as("days_5pct"))
      .orderBy("event_type")
  }

  /** q206: experiment retention guardrail — week-offset retention per
    * arm of the q175 experiment split, with the treatment−control gap:
    * the check that a metric win is not paid for in churn (the
    * guardrail every launch review demands next to the q175/q137 lift
    * number). Cohorting is corpus-anchored: a user counts toward
    * offset k only if their first week is ≥ k weeks before the corpus
    * horizon (otherwise retention at k is unobservable — the q173
    * right-censoring lesson at the week grain).
    *
    * The corpus collapses to the distinct (user, week) frame in one
    * user-keyed pass; first weeks, the horizon, and the four offset
    * probes are bounded algebra on that frame (offset probes join back
    * on (user, w0+k) — key joins, never a week × history blowup).
    * Counts are exact integers; the rates and gap are single
    * divisions. */
  def q206RetentionGuardrail(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT) DIV 7")
          .as("week"))
      .distinct()
      .localCheckpoint() // O(users × weeks); four consumers below
    val first = uw.groupBy("user_id").agg(min("week").as("w0"))
      .withColumn("t", armOf(col("user_id")))
    val horizon = uw.agg(max("week").as("maxw"))
    val probes = first.crossJoin(broadcast(horizon))
      .select(col("user_id"), col("t"), col("w0"),
        explode(array(lit(1L), lit(2L), lit(3L), lit(4L))).as("off"))
      .filter(col("w0") + col("off") <= col("maxw"))
      // (user, w0+off) is a KEY probe into the distinct user-week frame
      // — never a per-user history fanout
      .withColumn("target", col("w0") + col("off"))
      .join(uw.select(col("user_id"), col("week").as("target"),
        lit(1L).as("hit")), Seq("user_id", "target"), "left")
      .select(col("t"), col("off"), coalesce(col("hit"), lit(0L)).as("retained"))
    probes.groupBy("off")
      .agg(
        sum(col("t").cast("long")).as("n_t"),
        sum((!col("t")).cast("long")).as("n_c"),
        sum(when(col("t"), col("retained")).otherwise(0L)).as("r_t"),
        sum(when(!col("t"), col("retained")).otherwise(0L)).as("r_c"))
      .select(col("off").as("week_offset"), col("n_t"), col("n_c"),
        round(col("r_t").cast("double") / col("n_t"), 6).as("rate_t"),
        round(col("r_c").cast("double") / col("n_c"), 6).as("rate_c"),
        round(col("r_t").cast("double") / col("n_t")
          - col("r_c").cast("double") / col("n_c"), 6).as("gap"))
      .orderBy("week_offset")
  }

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** q216: CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
    * 2013) — the adjustment every mature A/B platform applies before
    * reading a lift: regress each user's experiment-period value (Y)
    * on their PRE-period value (X), report the residualized mean
    * Y − θ(X − μx) per arm and how much variance the adjustment
    * removed (the whole point: a 40 % variance cut is a 40 % shorter
    * experiment at the same power, q195's planner fed better inputs).
    *
    * Period split = the q190 mid-day convention. All moments are
    * EXACT integers on the 1e-3 grid (decimal(38,0)/HUGEINT — the
    * q155 rule), and every variance is derived ALGEBRAICALLY:
    * var(Y_cuped) = var(Y) − 2θcov + θ²var(X), never by accumulating
    * per-user residual doubles (whose sum order differs across
    * engines). θ pools both arms (the standard pre-experiment
    * covariate is treatment-independent by construction). Corpus
    * collapses to O(users) rows in one user-keyed exchange, then to
    * O(arms) exact moment rows. */
  def q216Cuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull
        && col("ts").isNotNull)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        round(col("value") * 1000, 0).cast("long").as("v3"))
    val mid = ev.agg(floor((min("day") + max("day")) / 2.0).cast("long").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("day") <= col("mid"), col("v3")).otherwise(0L)).as("x3"),
        sum(when(col("day") > col("mid"), col("v3")).otherwise(0L)).as("y3"))
      .select(armOf(col("user_id")).as("t"), col("x3"), col("y3"))
    val arms = per.groupBy("t")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x3"))).as("sx"), sum(dec(col("y3"))).as("sy"),
        sum(dec(col("x3")) * dec(col("x3"))).as("sxx"),
        sum(dec(col("x3")) * dec(col("y3"))).as("sxy"),
        sum(dec(col("y3")) * dec(col("y3"))).as("syy"))
      .localCheckpoint() // O(2) rows feeding totals + the final select
    val tot = arms.agg(sum("n").as("gn"), sum("sx").as("gsx"),
      sum("sxx").as("gsxx"), sum("sxy").as("gsxy"), sum("sy").as("gsy"))
    // exact integers → doubles with an expression tree the oracle
    // mirrors literally (division order matters at the last ulp)
    val j = arms.crossJoin(broadcast(tot))
      .select(col("t"), col("n").cast("double").as("n"),
        (col("sx").cast("double") / 1000.0).as("sxd"),
        (col("sy").cast("double") / 1000.0).as("syd"),
        (col("sxx").cast("double") / 1000000.0).as("sxxd"),
        (col("sxy").cast("double") / 1000000.0).as("sxyd"),
        (col("syy").cast("double") / 1000000.0).as("syyd"),
        col("gn").cast("double").as("gnd"),
        (col("gsx").cast("double") / 1000.0).as("gsxd"),
        (col("gsy").cast("double") / 1000.0).as("gsyd"),
        (col("gsxx").cast("double") / 1000000.0).as("gsxxd"),
        (col("gsxy").cast("double") / 1000000.0).as("gsxyd"))
      // n=1 arms / gn=1 corpora: (n−1) denominators are 0/0 → NaN,
      // and NaN > 0 is TRUE in Spark, so an unguarded NaN would sail
      // through the theta/var_reduction gates instead of nulling them
      // (the q220 n>=3 / q221 n>=2 degenerate-denominator convention)
      .select(col("t"), col("n"),
        (col("sxd") / col("n")).as("mx"), (col("syd") / col("n")).as("my"),
        when(col("n") > 1, (col("sxxd") - col("sxd") * col("sxd") / col("n"))
          / (col("n") - 1)).as("vx"),
        when(col("n") > 1, (col("syyd") - col("syd") * col("syd") / col("n"))
          / (col("n") - 1)).as("vy"),
        when(col("n") > 1, (col("sxyd") - col("sxd") * col("syd") / col("n"))
          / (col("n") - 1)).as("cxy"),
        (col("gsxd") / col("gnd")).as("gmx"),
        when(col("gnd") > 1,
          (col("gsxxd") - col("gsxd") * col("gsxd") / col("gnd"))
            / (col("gnd") - 1)).as("gvx"),
        when(col("gnd") > 1,
          (col("gsxyd") - col("gsxd") * col("gsyd") / col("gnd"))
            / (col("gnd") - 1)).as("gcxy"))
      .withColumn("theta",
        when(col("gvx") > 0, col("gcxy") / col("gvx"))) // degenerate pre-period: no adjustment defined
    j.select(
        when(col("t"), "treatment").otherwise("control").as("arm"),
        col("n").cast("long").as("n_users"),
        round(col("my"), 6).as("mean_y"),
        round(when(col("theta").isNotNull,
          col("my") - col("theta") * (col("mx") - col("gmx"))), 6)
          .as("mean_cuped"),
        round(col("vy"), 6).as("var_y"),
        round(when(col("theta").isNotNull,
          col("vy") - lit(2.0) * col("theta") * col("cxy")
            + col("theta") * col("theta") * col("vx")), 6).as("var_cuped"),
        round(when(col("theta").isNotNull && col("vy") > 0,
          lit(1.0) - (col("vy") - lit(2.0) * col("theta") * col("cxy")
            + col("theta") * col("theta") * col("vx")) / col("vy")), 6)
          .as("var_reduction"),
        round(col("theta"), 6).as("theta"))
      .orderBy("arm")
  }

  /** q217: Mann–Whitney U (Wilcoxon rank-sum) — purchase vs view
    * values: the DISTRIBUTION-FREE companion to q137's Welch t (heavy
    * right tails make means lie; ranks don't care). Exact midranks
    * with tie correction, computed WITHOUT a corpus-sized sort: the
    * corpus collapses to the O(|value grid|) histogram (value is
    * 1e-3-grid data, ≤ ~5e5 cells no matter the corpus size), ranks
    * fold over the value-ORDERED histogram, and every intermediate is
    * kept ×2 so midrank arithmetic stays in EXACT integers (a midrank
    * is a half-integer; 2·R1 = Σ n1·(2·below + t + 1) is an integer).
    * z from the normal approximation with tie-corrected variance;
    * p via the q155 A&S erfc polynomial. */
  def q217MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .filter(col("value").isNotNull
        && col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 1000, 0).cast("long").as("v3"),
        (col("event_type") === "purchase").as("is_p"))
      .groupBy("v3")
      .agg(sum(col("is_p").cast("long")).as("n1"),
        sum((!col("is_p")).cast("long")).as("n2"))
    val below = coalesce(sum(col("n1") + col("n2"))
      .over(Window.orderBy("v3").rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val cells = hist
      .withColumn("below", below)
      .withColumn("tcell", col("n1") + col("n2"))
      // 2·Σ n1·midrank and Σ(t³−t), both exact integers
      .agg(
        sum(dec(col("n1"))).as("n1t"), sum(dec(col("n2"))).as("n2t"),
        sum(dec(col("n1")) * (dec(col("below")) * 2 + dec(col("tcell")) + 1))
          .as("r1x2"),
        sum(dec(col("tcell")) * dec(col("tcell")) * dec(col("tcell"))
          - dec(col("tcell"))).as("ties"))
    val g = cells.select(
      col("n1t").cast("double").as("n1"), col("n2t").cast("double").as("n2"),
      col("r1x2").cast("double").as("r1x2"),
      col("ties").cast("double").as("tsum"))
      .select(col("n1"), col("n2"),
        (col("r1x2") / 2.0 - col("n1") * (col("n1") + 1) / 2.0).as("u"),
        (col("n1") + col("n2")).as("nn"), col("tsum"))
      .withColumn("mu", col("n1") * col("n2") / 2.0)
      .withColumn("varu",
        col("n1") * col("n2") / 12.0 * ((col("nn") + 1)
          - col("tsum") / (col("nn") * (col("nn") - 1))))
      .withColumn("z", when(col("varu") > 0,
        round((col("u") - col("mu")) / sqrt(col("varu")), 4)))
    val x = abs(col("z")) / sqrt(lit(2.0))
    val kk = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = (((((lit(1.061405429) * kk - lit(1.453152027)) * kk)
      + lit(1.421413741)) * kk - lit(0.284496736)) * kk + lit(0.254829592)) * kk
    g.select(col("n1").cast("long").as("n_purchase"),
        col("n2").cast("long").as("n_view"),
        round(col("u"), 1).as("u_stat"), col("z"),
        round(poly * exp(-x * x), 6).as("p_value"))
      .orderBy("n_purchase")
  }

  /** q218: two-sample Kolmogorov–Smirnov — the SHAPE test beside
    * q217's location test: D = sup|F₁−F₂| between the purchase and
    * view value distributions, answering "is the whole distribution
    * different" (a variance or tail change moves D while leaving
    * ranks and means alone). Same O(|value grid|) histogram collapse
    * as q217; the sup runs over EXACT integers — |c1·N2 − c2·N1| is
    * an integer for every grid cell, so the argmax (max diff, then
    * lowest value: the deterministic tie-break) never compares
    * accumulated doubles. Decision at the asymptotic 5 % critical
    * value 1.358·√(N/(n1·n2)). */
  def q218KsTest(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .filter(col("value").isNotNull
        && col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 1000, 0).cast("long").as("v3"),
        (col("event_type") === "purchase").as("is_p"))
      .groupBy("v3")
      .agg(sum(col("is_p").cast("long")).as("n1"),
        sum((!col("is_p")).cast("long")).as("n2"))
      .localCheckpoint() // O(grid) rows feeding totals + the cum fold
    val tot = hist.agg(sum(dec(col("n1"))).as("n1t"), sum(dec(col("n2"))).as("n2t"))
    val wcum = Window.orderBy("v3")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diffs = hist.crossJoin(broadcast(tot))
      .withColumn("c1", sum(dec(col("n1"))).over(wcum))
      .withColumn("c2", sum(dec(col("n2"))).over(wcum))
      .withColumn("idiff", abs(col("c1") * col("n2t") - col("c2") * col("n1t")))
    val top = diffs
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("idiff"), asc("v3"))))
      .filter(col("rk") === 1)
    top.select(
        col("n1t").cast("long").as("n_purchase"),
        col("n2t").cast("long").as("n_view"),
        round(col("idiff").cast("double")
          / (col("n1t").cast("double") * col("n2t").cast("double")), 6)
          .as("d_stat"),
        (col("v3").cast("double") / 1000.0).as("at_value"),
        round(lit(1.358) * sqrt((col("n1t").cast("double")
            + col("n2t").cast("double"))
          / (col("n1t").cast("double") * col("n2t").cast("double"))), 6)
          .as("crit_05"))
      .withColumn("reject_05",
        (col("d_stat") > col("crit_05")).cast("long"))
      .orderBy("n_purchase")
  }

  /** q219: empirical-Bayes (James–Stein) shrinkage of per-source mean
    * quality — the fix for the q88/q144 report's small-source lie: a
    * 30-doc source topping the raw quality ranking on noise. One-way
    * random-effects moments (MSB vs pooled within-σ², the textbook
    * ANOVA estimator with n₀ for unequal group sizes) give τ², and
    * each source's mean shrinks toward the grand mean with weight
    * τ²/(τ² + σ²/nₛ) — exactly 0 information added, just variance
    * traded for bias where n is small.
    *
    * Quality is the q37 score on its 1e-6 grid → per-source moments
    * are EXACT integers; the two cross-source double folds (MSB,
    * pooled within) run over the source-ORDERED O(sources) frame (the
    * q181 sequential-sum convention), so both engines fold in the
    * same order. */
  def q219EbShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val q6 = TextAnalysis.qualityScored(
        Tables.documents(spark, dir).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"),
        round(col("quality") * 1000000, 0).cast("long").as("q6"))
    val per = q6.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(dec(col("q6"))).as("s"),
        sum(dec(col("q6")) * dec(col("q6"))).as("ss"))
      .localCheckpoint() // O(sources) rows, four window consumers
    val wAll = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val folded = per
      .withColumn("bign", sum(col("n")).over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("gs", sum(col("s")).over(wAll))
      .withColumn("sn2", sum(dec(col("n")) * dec(col("n"))).over(wAll))
      .select(col("source"), col("n"), col("bign"), col("k"),
        col("n").cast("double").as("nd"),
        (col("s").cast("double") / 1000000.0).as("sd"),
        (col("ss").cast("double") / 1e12).as("ssd"),
        col("bign").cast("double").as("bnd"),
        col("k").cast("double").as("kd"),
        (col("gs").cast("double") / 1000000.0).as("gsd"),
        col("sn2").cast("double").as("sn2d"))
      .withColumn("m", col("sd") / col("nd"))
      .withColumn("mu", col("gsd") / col("bnd"))
      // within-SS and n(m−μ)² fold source-ordered: identical sequence
      // both engines
      .withColumn("wss", sum(col("ssd") - col("sd") * col("sd") / col("nd"))
        .over(wAll))
      .withColumn("bss", sum(col("nd") * (col("m") - col("mu"))
        * (col("m") - col("mu"))).over(wAll))
      // degenerate corpora null out cleanly rather than flowing NaN
      // (NaN > 0 is TRUE in Spark, so an unguarded 0/0 would pass the
      // shrink gate): all-singleton sources ⇒ bign = k ⇒ no within-σ²;
      // a single source ⇒ k = 1 ⇒ no between-MSB and no shrink target
      .withColumn("sig2", when(col("bnd") > col("kd"),
        col("wss") / (col("bnd") - col("kd"))))
      .withColumn("msb", when(col("kd") > 1, col("bss") / (col("kd") - 1)))
      .withColumn("n0", when(col("kd") > 1,
        (col("bnd") - col("sn2d") / col("bnd")) / (col("kd") - 1)))
      .withColumn("tau2", when(col("msb").isNotNull && col("sig2").isNotNull,
        greatest((col("msb") - col("sig2")) / col("n0"), lit(0.0))))
      .withColumn("shrink", when(col("tau2") + col("sig2") / col("nd") > 0,
        col("tau2") / (col("tau2") + col("sig2") / col("nd")))
        .otherwise(when(col("tau2").isNotNull && col("sig2").isNotNull,
          lit(0.0))))
    folded.select(col("source"), col("n").as("n_docs"),
        round(col("m"), 6).as("raw_mean"),
        round(col("mu") + col("shrink") * (col("m") - col("mu")), 6)
          .as("shrunk_mean"),
        round(col("shrink"), 6).as("shrink_weight"),
        round(col("tau2"), 8).as("tau2"))
      .orderBy("source")
  }

  /** q220: lag-1 autocorrelation + Durbin–Watson per event type's
    * daily value series — the "is today's total just yesterday's"
    * check that decides whether q80/q113's independence-assuming
    * alarms are trustworthy (an ACF₁ of 0.8 means every z-score is
    * effectively computed on n/5 independent points). Daily totals
    * land on the exact 1e-3 grid (the q190 y3 convention); ALL
    * series moments — Σy, Σy², Σy·y₋₁, Σ(Δy)², the boundary values
    * y₁/yₙ needed to de-mean the lag product — are exact integers
    * from ONE ordered-window pass over the O(types × days) frame, so
    * acf1 = (ΣyL − ȳ(S−y₁) − ȳ(S−yₙ) + (n−1)ȳ²) / (Σy² − S²/n) and
    * dw derive from identical doubles. Consecutive OBSERVED days (row
    * lag, the q126 convention — gaps are q156's business). */
  def q220Autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull
        && col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 1000, 0).cast("long")).as("y3"))
    val wo = Window.partitionBy("event_type").orderBy("d")
    val lagged = daily
      .withColumn("yl", lag("y3", 1).over(wo))
    val m = lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("y3"))).as("s"),
        sum(dec(col("y3")) * dec(col("y3"))).as("ss"),
        sum(when(col("yl").isNotNull, dec(col("y3")) * dec(col("yl")))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("sl"),
        sum(when(col("yl").isNotNull,
          (dec(col("y3")) - dec(col("yl"))) * (dec(col("y3")) - dec(col("yl"))))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("sd2"),
        min_by(col("y3"), col("d")).as("yfirst"),
        max_by(col("y3"), col("d")).as("ylast"))
    m.filter(col("n") >= 3)
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        col("n").cast("double").as("nd"),
        (col("s").cast("double") / 1000.0).as("sd"),
        (col("ss").cast("double") / 1000000.0).as("ssd"),
        (col("sl").cast("double") / 1000000.0).as("sld"),
        (col("sd2").cast("double") / 1000000.0).as("sd2d"),
        (col("yfirst").cast("double") / 1000.0).as("y1"),
        (col("ylast").cast("double") / 1000.0).as("yn"))
      .withColumn("ybar", col("sd") / col("nd"))
      .withColumn("css", col("ssd") - col("sd") * col("sd") / col("nd"))
      .select(col("event_type"), col("n_days"),
        round(col("ybar"), 4).as("mean_daily"),
        round(when(col("css") > 0,
          (col("sld") - col("ybar") * (col("sd") - col("y1"))
            - col("ybar") * (col("sd") - col("yn"))
            + (col("nd") - 1) * col("ybar") * col("ybar")) / col("css")), 4)
          .as("acf1"),
        round(when(col("css") > 0, col("sd2d") / col("css")), 4).as("dw"))
      .orderBy("event_type")
  }

  /** q221: empirical-Bernstein confidence bounds per source on mean
    * quality — the DECISION layer over q219's point shrinkage: a
    * variance-adaptive bound (Maurer & Pontil 2009: mean ∓
    * √(2·v·ln(3/δ)/n) + 3·ln(3/δ)/n, valid for [0,1]-bounded scores)
    * that says which sources are CONFIDENTLY below the q37 quality
    * gate rather than merely sample-noisy — the difference between
    * cutting a feed and re-crawling it. Per-source exact 1e-6-grid
    * moments (one scan, O(sources) frame); every bound is closed-form
    * arithmetic on that source's OWN integers — no cross-source
    * double fold at all. δ = 0.05. */
  def q221BernsteinBounds(spark: SparkSession, dir: String): DataFrame = {
    val q6 = TextAnalysis.qualityScored(
        Tables.documents(spark, dir).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"),
        round(col("quality") * 1000000, 0).cast("long").as("q6"))
    // ln(3/δ) at δ=0.05 spelled ln(60.0): 3.0/0.05 is NOT the exact
    // double 60, and the oracle must evaluate the identical literal
    val ln3d = math.log(60.0)
    q6.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(dec(col("q6"))).as("s"),
        sum(dec(col("q6")) * dec(col("q6"))).as("ss"))
      .filter(col("n") >= 2)
      .select(col("source"), col("n").cast("long").as("n_docs"),
        col("n").cast("double").as("nd"),
        (col("s").cast("double") / 1000000.0).as("sd"),
        (col("ss").cast("double") / 1e12).as("ssd"))
      .withColumn("m", col("sd") / col("nd"))
      .withColumn("v",
        (col("ssd") - col("sd") * col("sd") / col("nd")) / (col("nd") - 1))
      .withColumn("margin",
        sqrt(lit(2.0) * col("v") * lit(ln3d) / col("nd"))
          + lit(3.0) * lit(ln3d) / col("nd"))
      .select(col("source"), col("n_docs"),
        round(col("m"), 6).as("mean_q"),
        round(col("v"), 8).as("var_q"),
        round(col("m") - col("margin"), 6).as("lb_95"),
        round(col("m") + col("margin"), 6).as("ub_95"))
      .withColumn("confidently_low", (col("ub_95") < 0.5).cast("long"))
      .orderBy("source")
  }

  /** q260: Poisson overdispersion index — the model-validity check
    * BEFORE anyone alerts on count rates: per event type, the
    * variance-to-mean ratio (Fisher's dispersion index) of DAILY event
    * counts over the corpus's full day span (absent days count zero —
    * computable from the observed rows alone: zeros add nothing to
    * Σc or Σc², only to N). Poisson counts have D = 1; D ≫ 1
    * (overdispersion — bursty arrivals, mixed subpopulations) means
    * Poisson-rate thresholds (the q113-family alerts) fire spuriously
    * and a negative-binomial model is needed. Flagged when D exceeds
    * 1 + 2·√(2/(N−1)) — two SDs of χ²/(N−1) under the Poisson null
    * (normal approximation). Complements q235 (inter-event gap
    * burstiness) at the day grain and q125 (seasonality).
    *
    * Scale shape: one partial-agged scan to the O(types × days) daily
    * frame, then O(types) exact decimal moments — doubles only after
    * aggregation, identical expression trees both engines (the q216
    * discipline). */
  def q260DispersionIndex(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
    val span = ev.agg((max("day") - min("day") + 1L).as("n_days"))
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val m = daily.groupBy("event_type").agg(
        count(lit(1)).as("n_obs_days"),
        sum(dec(col("c"))).as("s1"),
        sum(dec(col("c") * col("c"))).as("s2"))
      .crossJoin(broadcast(span))
    val nd = col("n_days").cast("double")
    val mean = col("s1").cast("double") / nd
    val vr = when(col("n_days") > 1,
      (col("s2").cast("double") * nd
        - col("s1").cast("double") * col("s1").cast("double"))
        / (nd * (nd - 1)))
    val g = m.withColumn("mean", mean).withColumn("vr", vr)
    g.select(col("event_type"), col("n_days"), col("n_obs_days"),
        col("s1").cast("long").as("n_events"),
        round(col("mean"), 4).as("mean_daily"),
        round(col("vr"), 4).as("var_daily"),
        when(col("mean") > 0 && col("vr").isNotNull,
          round(col("vr") / col("mean"), 6)).as("dispersion"),
        when(col("mean") > 0 && col("vr").isNotNull,
          (col("vr") / col("mean") >
            lit(1.0) + lit(2.0) * sqrt(lit(2.0) / (nd - 1))).cast("long"))
          .as("overdispersed"))
      .orderBy("event_type")
  }

  /** q254: difference-in-differences — the OBSERVATIONAL-causal
    * estimator the experimentation family lacked: when a change ships
    * at a known cutover (the q190/q216 mid-day split) to one user
    * group (the q216 hash arm), the treated arm's naive post−pre delta
    * confounds the change with seasonality; DiD subtracts the control
    * arm's delta under the parallel-trends assumption (Card & Krueger
    * 1994). Implemented in the PAIRED form, which is both the tighter
    * estimator and the shuffle-cheaper plan: per user,
    * d = post-total − pre-total on the exact 1e-3 value grid, then a
    * Welch two-sample test on d between arms — did = mean(d_T) −
    * mean(d_C), Welch SE / t / Satterthwaite df (the q137 tree), with
    * the four arm×period cell means as the parallel-trends readout.
    *
    * Scale shape: ONE user-keyed exchange to per-user period totals
    * (the q216 plan), then O(arms) exact decimal moment rows; the
    * statistic is closed-form arithmetic on a 1-row frame. All moments
    * are exact integers (d ≤ ~1e9·grid per user → d² sums in
    * decimal(38,0)); doubles appear only after aggregation, in an
    * expression tree the oracle mirrors literally. Degenerate-arm
    * guards follow the q216 convention (n ≤ 1 ⇒ null variance ⇒ null
    * se/t/df rather than NaN). */
  def q254DiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull
        && col("ts").isNotNull)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        round(col("value") * 1000, 0).cast("long").as("v3"))
    val mid = ev.agg(floor((min("day") + max("day")) / 2.0).cast("long").as("mid"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("day") <= col("mid"), col("v3")).otherwise(0L)).as("x3"),
        sum(when(col("day") > col("mid"), col("v3")).otherwise(0L)).as("y3"))
      .select(armOf(col("user_id")).as("t"), col("x3"), col("y3"),
        (col("y3") - col("x3")).as("d3"))
    val arms = per.groupBy("t")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x3"))).as("sx"), sum(dec(col("y3"))).as("sy"),
        sum(dec(col("d3"))).as("sd"),
        sum(dec(col("d3")) * dec(col("d3"))).as("sdd"))
    // pivot the two arm rows into one via conditional aggregation —
    // the frame is O(arms), the pivot is free
    val row = arms.agg(
      sum(when(col("t"), col("n"))).as("nt"),
      sum(when(!col("t"), col("n"))).as("nc"),
      sum(when(col("t"), col("sx"))).as("sxt"),
      sum(when(!col("t"), col("sx"))).as("sxc"),
      sum(when(col("t"), col("sy"))).as("syt"),
      sum(when(!col("t"), col("sy"))).as("syc"),
      sum(when(col("t"), col("sd"))).as("sdt"),
      sum(when(!col("t"), col("sd"))).as("sdc"),
      sum(when(col("t"), col("sdd"))).as("sddt"),
      sum(when(!col("t"), col("sdd"))).as("sddc"))
    val u = row.select(
      col("nt").cast("double").as("nt"), col("nc").cast("double").as("nc"),
      (col("sxt").cast("double") / 1000.0).as("sxt"),
      (col("sxc").cast("double") / 1000.0).as("sxc"),
      (col("syt").cast("double") / 1000.0).as("syt"),
      (col("syc").cast("double") / 1000.0).as("syc"),
      (col("sdt").cast("double") / 1000.0).as("sdt"),
      (col("sdc").cast("double") / 1000.0).as("sdc"),
      (col("sddt").cast("double") / 1000000.0).as("sddt"),
      (col("sddc").cast("double") / 1000000.0).as("sddc"))
    val vt = when(col("nt") > 1,
      (col("sddt") - col("sdt") * col("sdt") / col("nt")) / (col("nt") - 1))
    val vc = when(col("nc") > 1,
      (col("sddc") - col("sdc") * col("sdc") / col("nc")) / (col("nc") - 1))
    val g = u.select(col("*"),
      (col("sdt") / col("nt") - col("sdc") / col("nc")).as("did"),
      vt.as("vt"), vc.as("vc"))
      .withColumn("se2", col("vt") / col("nt") + col("vc") / col("nc"))
    g.select(
        col("nt").cast("long").as("n_treat"),
        col("nc").cast("long").as("n_ctrl"),
        round(col("sxt") / col("nt"), 6).as("pre_mean_treat"),
        round(col("syt") / col("nt"), 6).as("post_mean_treat"),
        round(col("sxc") / col("nc"), 6).as("pre_mean_ctrl"),
        round(col("syc") / col("nc"), 6).as("post_mean_ctrl"),
        round(col("did"), 6).as("did"),
        when(col("se2") > 0, round(sqrt(col("se2")), 6)).as("se"),
        when(col("se2") > 0, round(col("did") / sqrt(col("se2")), 4)).as("t_stat"),
        when(col("se2") > 0, round(col("se2") * col("se2") /
          (col("vt") * col("vt") / (col("nt") * col("nt") * (col("nt") - 1)) +
           col("vc") * col("vc") / (col("nc") * col("nc") * (col("nc") - 1))), 4))
          .as("welch_df"))
  }

  /** q253: per-source OLS feature attribution — the textbook
    * DISTRIBUTED regression shape: regress each source's quality score
    * (the q37 gate output) on its two ratio features (ttr, stop_share)
    * by one-pass sufficient statistics — ONE partial-aggregated scan
    * collapses the corpus to ten exact Gram/cross moments per source
    * (O(sources) rows), then the 3×3 normal equations solve in closed
    * form (Cramer) on that tiny frame. At 100 TB this is THE way to
    * fit linear models: nothing iterative, nothing driver-side, no
    * second pass — and the readout (which feature actually moves the
    * gate, per source) is what a curation owner checks before tuning
    * the q37 weights. R² from the same moments
    * (SSE = Syy − b·X'y, SST = Syy − Sy²/n).
    *
    * Determinism: ttr / stop_share / quality are ALREADY 6-dp-rounded
    * per-row values (the q37 contract), so their 1e-6 grid ints are
    * exact; every Σ (incl. all products, ≤1e12 per row) accumulates as
    * decimal(38,0) — order-free. The doubles appear only AFTER
    * aggregation: grid sums convert and rescale identically in both
    * engines, and the Cramer/R² expression tree is written in the
    * same shape on both sides (the q155 fixed-point discipline). */
  def q253OlsQuality(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityScored(
        Tables.documents(spark, dir).filter(col("text").isNotNull),
        carry = Seq("source"))
      .select(col("source"),
        round(col("ttr") * 1000000, 0).cast("long").as("t"),
        round(col("stop_share") * 1000000, 0).cast("long").as("s"),
        round(col("quality") * 1000000, 0).cast("long").as("y"))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val m = scored.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(d38(col("t"))).as("st"), sum(d38(col("s"))).as("ss"),
      sum(d38(col("y"))).as("sy"),
      sum(d38(col("t") * col("t"))).as("stt"),
      sum(d38(col("s") * col("s"))).as("sss"),
      sum(d38(col("t") * col("s"))).as("sts"),
      sum(d38(col("t") * col("y"))).as("sty"),
      sum(d38(col("s") * col("y"))).as("ssy"),
      sum(d38(col("y") * col("y"))).as("syy"))
    // unit-scale doubles (exact ints in, deterministic conversion)
    val w = m.select(col("source"), col("n").cast("double").as("n"),
      (col("st").cast("double") / 1e6).as("st"),
      (col("ss").cast("double") / 1e6).as("ss"),
      (col("sy").cast("double") / 1e6).as("sy"),
      (col("stt").cast("double") / 1e12).as("stt"),
      (col("sss").cast("double") / 1e12).as("sss"),
      (col("sts").cast("double") / 1e12).as("sts"),
      (col("sty").cast("double") / 1e12).as("sty"),
      (col("ssy").cast("double") / 1e12).as("ssy"),
      (col("syy").cast("double") / 1e12).as("syy"))
    val det = col("n") * (col("stt") * col("sss") - col("sts") * col("sts")) -
      col("st") * (col("st") * col("sss") - col("sts") * col("ss")) +
      col("ss") * (col("st") * col("sts") - col("stt") * col("ss"))
    val det0 = col("sy") * (col("stt") * col("sss") - col("sts") * col("sts")) -
      col("st") * (col("sty") * col("sss") - col("sts") * col("ssy")) +
      col("ss") * (col("sty") * col("sts") - col("stt") * col("ssy"))
    val det1 = col("n") * (col("sty") * col("sss") - col("sts") * col("ssy")) -
      col("sy") * (col("st") * col("sss") - col("sts") * col("ss")) +
      col("ss") * (col("st") * col("ssy") - col("sty") * col("ss"))
    val det2 = col("n") * (col("stt") * col("ssy") - col("sty") * col("sts")) -
      col("st") * (col("st") * col("ssy") - col("sty") * col("ss")) +
      col("sy") * (col("st") * col("sts") - col("stt") * col("ss"))
    val solved = w
      .withColumn("det", det)
      .withColumn("b0", when(col("det") =!= 0.0, det0 / col("det")))
      .withColumn("b1", when(col("det") =!= 0.0, det1 / col("det")))
      .withColumn("b2", when(col("det") =!= 0.0, det2 / col("det")))
      .withColumn("sse", col("syy") - col("b0") * col("sy")
        - col("b1") * col("sty") - col("b2") * col("ssy"))
      .withColumn("sst", col("syy") - col("sy") * col("sy") / col("n"))
    solved.select(col("source"), col("n").cast("long").as("n_docs"),
        round(col("b0"), 6).as("b_intercept"),
        round(col("b1"), 6).as("b_ttr"),
        round(col("b2"), 6).as("b_stop_share"),
        when(col("sst") > 0, round(lit(1.0) - col("sse") / col("sst"), 6))
          .as("r2"))
      .orderBy("source")
  }
}
