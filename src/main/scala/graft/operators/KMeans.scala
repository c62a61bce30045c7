package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.L2Dist

/** Seeded fixed-iteration Lloyd k-means over the embedding corpus — the
  * trainable half the IVF (q45) and PQ (q114) indexes were missing from
  * the DECLARED surface: q45's MLlib fit is run-dependent (rows-only by
  * contract), while this fit is a pure function of the corpus and so
  * carries a full DuckDB oracle. The determinism recipe stacks three
  * established contracts: seeds are the k lowest-id vectors (q45b),
  * assignment distances round to 6 before an id-tie-broken argmin
  * (q45b/q114), and each round's centroid coordinates round to 6 after
  * the per-dimension mean (the q103b lesson: UNROUNDED cross-engine
  * sums differ in the last ulps; 6-dp rounding sits ~7 orders above the
  * reassociation noise). Iteration count is FIXED — convergence-gated
  * loops can stop at different rounds across engines (the q110 rule).
  *
  * Scale shape per round: ONE fused corpus pass — each row runs the
  * native NearestL2 argmin against the k collected centroids (O(k)
  * driver state) and folds into per-partition (sum, count)
  * accumulators per (cluster, dim), merged by treeReduce. Nothing
  * shuffles and nothing is checkpointed. This is how MLlib's own
  * k-means iterates (broadcast centers + tree-aggregated sums); q242's
  * K sweep runs the same [[lloyd]] loop over four tagged seed tables.
  */
object KMeans {

  /** Cluster count (seeded from vec_id < K, the q45b rule). */
  val K = 16
  /** Fixed Lloyd rounds. */
  val Iters = 3

  /** The k collected centroids as literal candidate structs and the
    * argmin as `array_min` — a pure per-row projection. Struct ordering
    * is lexicographic (dist first, cluster second) with nulls-first /
    * NaN-last field semantics, exactly the `orderBy(asc(dist),
    * asc(cluster))` + `rk = 1` contract of the window form this
    * replaced (round 14): the window shuffled k×corpus candidate rows
    * — each still carrying the full vector — through an Exchange +
    * Sort PER CALL (and per Lloyd round), where the argmin over a
    * k-row table is per-row work. The centroid table is O(k) driver
    * state by construction (the IVF-cell-ids bounded-collect rule). */
  private def bestCentroid(cRows: Array[(Long, Seq[Double])], vcol: Column): Column =
    graft.plans.NearestL2.nearest(vcol, cRows.toSeq)

  private def collectCents(cents: DataFrame): Array[(Long, Seq[Double])] =
    cents.select(col("cluster"), col("cv")).collect() // O(k) bounded
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Double](1)))

  /** Assignment over an already-collected centroid array. */
  private[graft] def assignCollected(e: DataFrame,
                                     cRows: Array[(Long, Seq[Double])]): DataFrame = {
    if (cRows.isEmpty)
      return e.select(col("vec_id"), col("v"),
        lit(null).cast("long").as("cluster"),
        lit(null).cast("double").as("dist")).limit(0)
    e.select(col("vec_id"), col("v"), bestCentroid(cRows, col("v")).as("b"))
      .select(col("vec_id"), col("v"),
        col("b.id").as("cluster"), col("b.dist").as("dist"))
  }

  /** Nearest-centroid assignment: (vec_id, v, cluster, dist) — dist
    * rounded to 6 BEFORE the argmin, cluster-id tie-break (see
    * [[bestCentroid]] for why this is a projection, not a window). */
  def assign(e: DataFrame, cents: DataFrame): DataFrame =
    assignCollected(e, collectCents(cents))

  /** `iters` Lloyd rounds from the seeded start: assign, then replace
    * each centroid with the 6-dp-rounded per-dimension mean of its
    * members (empty clusters keep their previous centroid — the
    * standard Lloyd fallback, and the branch the oracle reproduces
    * with a left join + coalesce on absent means). Returns
    * (cluster, cv). */
  def fit(e: DataFrame, k: Int = K, iters: Int = Iters): DataFrame = {
    centroidFrame(e.sparkSession, lloyd(e, Seq(0L -> seedRows(e, k)), iters)).drop("kk")
  }

  /** The k lowest-id vectors as (cluster, cv) seeds (the q45b rule). */
  private def seedRows(e: DataFrame, k: Int): Array[(Long, Seq[Double])] =
    e.filter(col("vec_id") < k)
      .select(col("vec_id"), col("v"))
      .collect() // O(k) bounded: the seed rows
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Double](1)))

  /** The Lloyd loop over several disjoint-tagged centroid tables at
    * once: [[fit]] runs it with one tag, q242 with one per K. Each
    * round is ONE corpus pass: every row runs each live tag's
    * NearestL2 argmin kernel and feeds per-(tag, cluster, dim)
    * (sum, count) accumulators that treeReduce to the O(Σk×dim)
    * driver state. avg reassociates under the merge exactly as a
    * partial-agg mean would; the 6-dp round absorbs it (the q103b
    * argument). Null vectors still assign (and contribute nothing),
    * null elements are skipped like avg's null-skipping, and a
    * dimension with no observations stays absent from the centroid.
    *
    * A tag whose table comes back EXACTLY unchanged has reached its
    * Lloyd fixed point: unchanged centroids ⇒ unchanged assignment ⇒
    * unchanged means in every later round, so it leaves the live set
    * and later rounds skip it with the same answer. (A NaN mean never
    * compares equal, so a pathological fit still runs all rounds.)
    * Per-tag arithmetic never mixes with another tag's, so a tag's
    * result is bit-identical to running it alone. */
  private[graft] def lloyd(e: DataFrame, seeds: Seq[(Long, Array[(Long, Seq[Double])])],
                           iters: Int): Seq[(Long, Array[(Long, Seq[Double])])] = {
    var cents = seeds
    var live = seeds.filter(_._2.nonEmpty).map(_._1).toSet
    val vOnly = e.select(col("v"))
    def grown(a: Array[Double], n: Int) =
      if (a.length >= n) a else java.util.Arrays.copyOf(a, n)
    def grownL(a: Array[Long], n: Int) =
      if (a.length >= n) a else java.util.Arrays.copyOf(a, n)
    var r = 0
    while (r < iters && live.nonEmpty) {
      val kers = cents.filter(t => live(t._1)).map { case (kk, arr) =>
        (kk, graft.plans.NearestL2.kernelFor(arr.toSeq))
      }.toArray
      val idIdxs = kers.map { case (_, ker) => ker.ids.zipWithIndex.toMap }
      val kSizes = kers.map(_._2.ids.length)
      val nKer = kers.length
      val rdd = vOnly.queryExecution.toRdd.mapPartitions { rows =>
        val sums = Array.tabulate(nKer)(t => Array.fill(kSizes(t))(Array.emptyDoubleArray))
        val cnts = Array.tabulate(nKer)(t => Array.fill(kSizes(t))(Array.emptyLongArray))
        rows.foreach { row =>
          val v = if (row.isNullAt(0)) null else row.getArray(0)
          var t = 0
          while (t < nKer) {
            val ci = idIdxs(t)(kers(t)._2.kernel(v).getLong(1))
            if (v != null) {
              val n = v.numElements()
              if (sums(t)(ci).length < n) {
                sums(t)(ci) = grown(sums(t)(ci), n)
                cnts(t)(ci) = grownL(cnts(t)(ci), n)
              }
              var i = 0
              while (i < n) {
                if (!v.isNullAt(i)) {
                  sums(t)(ci)(i) += v.getDouble(i); cnts(t)(ci)(i) += 1L
                }
                i += 1
              }
            }
            t += 1
          }
        }
        Iterator.single((sums, cnts))
      }
      if (rdd.getNumPartitions == 0) live = Set.empty // no rows: nothing moves
      else {
        val (sums, cnts) = rdd.treeReduce { case ((s1, c1), (s2, c2)) =>
          var t = 0
          while (t < s1.length) {
            var ci = 0
            while (ci < s1(t).length) {
              val n = math.max(s1(t)(ci).length, s2(t)(ci).length)
              s1(t)(ci) = grown(s1(t)(ci), n); c1(t)(ci) = grownL(c1(t)(ci), n)
              var i = 0
              while (i < s2(t)(ci).length) {
                s1(t)(ci)(i) += s2(t)(ci)(i); c1(t)(ci)(i) += c2(t)(ci)(i)
                i += 1
              }
              ci += 1
            }
            t += 1
          }
          (s1, c1)
        }
        val means: Map[(Long, Long), Seq[Double]] =
          kers.zipWithIndex.flatMap { case ((kk, ker), t) =>
            ker.ids.zipWithIndex.flatMap { case (id, ci) =>
              val present = (0 until cnts(t)(ci).length).filter(cnts(t)(ci)(_) > 0L)
              if (present.isEmpty) None
              else Some((kk, id) -> (present.map(i =>
                graft.plans.ArgminKernels.round6(
                  sums(t)(ci)(i) / cnts(t)(ci)(i))): Seq[Double]))
            }
          }.toMap
        val next = cents.map { case (kk, arr) =>
          if (!live(kk)) (kk, arr)
          else (kk, arr.map { case (cl, cv) => (cl, means.getOrElse((kk, cl), cv)) })
        }
        live = cents.zip(next).collect {
          case ((kk, was), (_, now)) if live(kk) && !now.sameElements(was) => kk
        }.toSet
        cents = next
      }
      r += 1
    }
    cents
  }

  /** Tagged centroid tables as a local frame: (kk, cluster, cv). */
  private def centroidFrame(spark: SparkSession,
                            tables: Seq[(Long, Array[(Long, Seq[Double])])]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("kk", LongType, nullable = true),
      StructField("cluster", LongType, nullable = true),
      StructField("cv", ArrayType(DoubleType, containsNull = true), nullable = true)))
    val rows = tables.flatMap { case (kk, arr) =>
      arr.map { case (cl, cv) => org.apache.spark.sql.Row(kk, cl, cv) }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** k-center exemplar count (q255). */
  val KCenterK = 8

  /** q255: greedy k-center (farthest-point) coreset — the diversity
    * SELECTOR the sampling family lacked: q158 samples uniformly
    * within IVF cells (representativeness), this picks the
    * [[KCenterK]] exemplars that MINIMIZE the maximum distance from
    * any corpus vector to its nearest exemplar (the classic 2-approx
    * greedy for the k-center objective — Gonzalez 1985; the coreset
    * selector of Sener & Savarese's active learning, ICLR 2018, and
    * the facility-location pattern behind "pick maximally diverse
    * training exemplars"). The emitted radius sequence is the
    * COVERAGE CURVE: radius_r = the corpus's covering radius after r
    * exemplars, non-increasing by construction — how fast diversity
    * saturates, the readout that sizes an exemplar budget.
    *
    * Scale shape: the standard incremental trick — each round scans
    * the corpus ONCE against the single newest exemplar (broadcast
    * 1-row) folding cover = least(cover, dist), so k exemplars cost k
    * corpus scans with no k×corpus join; the running cover frame is
    * localCheckpointed per round (the Lloyd lineage rule) and the
    * per-round argmax is a TakeOrdered limit(1) — the driver only
    * ever holds the k picked rows (bounded-by-construction collect,
    * the IVF-cell-ids rule). Determinism: covers 6-dp-rounded before
    * comparison, argmax ties break on vec_id asc, NaN/null covers
    * (corrupt vectors) are filtered from candidacy — oracle-replayed
    * by an unrolled k-step CTE chain. */
  def q255KCenter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // Degenerate corpora still emit exactly KCenterK rows: the oracle's
    // unrolled UNION ALL always produces k rows — an exhausted round's
    // scalar subqueries become (r, NULL, NULL) — so the Spark side pads
    // to the same row set rather than truncating (ADVICE r11)
    def padded(rows: Vector[(Long, Option[Long], Option[Double])]) =
      (rows ++ (rows.length.toLong until KCenterK.toLong)
          .map(r => (r, Option.empty[Long], Option.empty[Double])))
        .toDF("pick_round", "vec_id", "radius").orderBy("pick_round")
    val seedRow = e.agg(min("vec_id").as("m")).head()
    if (seedRow.isNullAt(0)) return padded(Vector.empty)
    val seed = seedRow.getLong(0)
    def centerOf(id: Long) =
      broadcast(e.filter(col("vec_id") === id).select(col("v").as("cv")))
    var chosen = Vector((0L, Option(seed), Option.empty[Double]))
    var cur = e.crossJoin(centerOf(seed))
      .select(col("vec_id"), col("v"),
        round(L2Dist.sqDist(col("v"), col("cv")), 6).as("cover"))
      .localCheckpoint(true)
    var r = 1L
    var exhausted = false
    while (r < KCenterK && !exhausted) {
      val nxt = cur.filter(!col("vec_id").isin(chosen.flatMap(_._2): _*))
        .filter(col("cover").isNotNull && !isnan(col("cover")))
        .orderBy(desc("cover"), asc("vec_id")).limit(1)
        .select("vec_id", "cover").collect()
      if (nxt.isEmpty) exhausted = true
      else {
        val id = nxt(0).getLong(0)
        chosen = chosen :+ ((r, Option(id), Some(nxt(0).getDouble(1))))
        if (r < KCenterK - 1)
          cur = cur.crossJoin(centerOf(id))
            .select(col("vec_id"), col("v"),
              least(col("cover"), round(L2Dist.sqDist(col("v"), col("cv")), 6))
                .as("cover"))
            .localCheckpoint(true)
        r += 1
      }
    }
    padded(chosen)
  }

  /** q261: coarse-quantizer STALENESS audit — the index-maintenance
    * decision q242 (how many cells) and q224 (how many probes) don't
    * answer: the corpus has GROWN since the IVF was trained; is the
    * old fit still serving well, or is it time to re-train and
    * re-assign? Centroids fit on the old snapshot (the lower half of
    * the id range — ids are mint-ordered, so this is "the corpus as
    * of half the ids ago") serve the FULL corpus, side by side with a
    * fresh fit: per cell, membership and mean assignment distance
    * under each; globally, the churn (vectors whose cell id changes —
    * cell ids are seed lineages shared by both fits) and the mean-
    * distance delta the re-fit buys. High churn + a positive delta =
    * re-encode; flat = the index ages well. This is THE recurring
    * operational question for a 100 TB serving deployment, where a
    * re-fit means re-assigning (and for q245, re-encoding) everything.
    *
    * Scale shape: two seeded Lloyd fits (the audited broadcast-
    * centroid plan) + two full assignments, joined once on vec_id —
    * all existing audited pieces; the report is O(K) rows + O(1)
    * globals. Corrupt rows (null/NaN dists) drop from the audit (the
    * q225 NaN rule). Deterministic end to end → oracle-replayed by
    * two prefixed kmeans chains (the old chain's Lloyd iterates the
    * snapshot, its final assignment serves the full corpus). */
  def q261IndexStaleness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val j = staleFreshAudit(e) match {
      case Some(j) => j
      case None => return e.select(lit(0L).as("cell"), lit(0L).as("n_stale"),
        lit(0.0).as("mean_dist_stale"), lit(0L).as("n_fresh"),
        lit(0.0).as("mean_dist_fresh"), lit(0L).as("n_churned"),
        lit(0.0).as("churn_share"), lit(0.0).as("dist_delta")).limit(0)
    }
    val g = j.agg(count(lit(1)).as("nv"),
      sum((col("sc") =!= col("fc")).cast("long")).as("n_churned"),
      sum(grid6(col("sd"))).as("ssd"), sum(grid6(col("fd"))).as("sfd"))
    val scx = j.groupBy(col("sc").as("cell"))
      .agg(count(lit(1)).as("n_stale"), gridMean(col("sd")).as("mean_dist_stale"))
    val fcx = j.groupBy(col("fc").as("cell"))
      .agg(count(lit(1)).as("n_fresh"), gridMean(col("fd")).as("mean_dist_fresh"))
    scx.join(fcx, Seq("cell"), "full_outer")
      .crossJoin(broadcast(g))
      .select(col("cell"),
        coalesce(col("n_stale"), lit(0L)).as("n_stale"),
        col("mean_dist_stale"),
        coalesce(col("n_fresh"), lit(0L)).as("n_fresh"),
        col("mean_dist_fresh"),
        col("n_churned"),
        round(col("n_churned").cast("double") / col("nv"), 6).as("churn_share"),
        round((col("ssd").cast("double") / col("nv")
          - col("sfd").cast("double") / col("nv")) / 1000000.0, 6).as("dist_delta"))
      .orderBy("cell")
  }

  /** The audit frame q261 and q266 share: centroids fit on the old
    * snapshot (vec_id ≤ max/2) and on the full corpus each assign the
    * FULL corpus, joined on vec_id — (vec_id, sc, sd, fc, fd), rows with
    * a null/NaN distance on either side dropped. None on an empty
    * corpus. Checkpointed: the churn fold and the cell reports all
    * read it. */
  private def staleFreshAudit(e: DataFrame): Option[DataFrame] = {
    val mx = e.agg(max("vec_id").as("m")).head() // 1 row by construction
    if (mx.isNullAt(0)) return None
    val cutoff = Math.floorDiv(mx.getLong(0), 2L)
    val stale = assign(e, fit(e.filter(col("vec_id") <= cutoff)))
      .select(col("vec_id"), col("cluster").as("sc"), col("dist").as("sd"))
    val fresh = assign(e, fit(e))
      .select(col("vec_id"), col("cluster").as("fc"), col("dist").as("fd"))
    Some(stale.join(fresh, "vec_id")
      .filter(col("sd").isNotNull && col("fd").isNotNull
        && !isnan(col("sd")) && !isnan(col("fd")))
      .localCheckpoint(true))
  }

  /** A 6-dp-rounded value on the exact ×10⁶ integer grid, summable in
    * any order (the q155 fixed-point rule). */
  private[graft] def grid6(c: Column): Column =
    round(c * 1000000, 0).cast("long").cast("decimal(38,0)")

  /** The group's mean of 6-dp-rounded values, summed on [[grid6]]. */
  private[graft] def gridMean(c: Column): Column =
    round(sum(grid6(c)).cast("double") / count(lit(1)) / 1000000.0, 6)

  /** Churn share above which [[q266MaintenancePolicy]] retrains +
    * re-encodes instead of appending under the stale artifacts — the
    * operating point a deployment tunes against q261's audit (both
    * driver corpora sit at 0.35-0.39: the index ages well enough to
    * keep appending; the spec's planted axis-drift corpus crosses it). */
  val ReindexChurnThreshold = 0.5

  /** q266: the maintenance POLICY gate — the decision step between
    * q261's audit (is the index stale?) and the two acts (q263's
    * O(arrivals) append vs a full retrain + re-encode), closing the
    * plan→act loop the way q243 closed it for mix planning: compute
    * the churn a fresh fit would cause, compare against
    * [[ReindexChurnThreshold]], and emit the per-cell health report of
    * the index the policy actually KEEPS — the stale centroids (the
    * append branch: arrivals keep filing into the existing cells, the
    * q263 path) or the fresh ones (the retrain branch: every vector
    * re-assigned, and for a PQ store re-encoded). One row per cell of
    * the chosen index: (decision, churn_share, cell, n_members,
    * mean_dist).
    *
    * Scale shape: exactly q261's two audited fits + two assignments +
    * one vec_id join (the audit is the expensive part — the decision
    * and the report are O(K) folds over the same joined frame); the
    * branch SELECTION is a scalar predicate, not a third pass.
    * Deterministic end to end → oracle-replayed with the two prefixed
    * kmeans chains and a CASE-gated union. */
  def q266MaintenancePolicy(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val empty = e.select(lit("append").as("decision"),
      lit(0.0).as("churn_share"), lit(0L).as("cell"),
      lit(0L).as("n_members"), lit(0.0).as("mean_dist")).limit(0)
    val j = staleFreshAudit(e).getOrElse(return empty)
    val churnRow = j.agg((sum((col("sc") =!= col("fc")).cast("long"))
        .cast("double") / count(lit(1))).as("churn")).head()
    if (churnRow.isNullAt(0)) return empty
    val churn = churnRow.getDouble(0)
    val retrain = churn > ReindexChurnThreshold
    val chosen =
      if (retrain) j.select(col("fc").as("cell"), col("fd").as("d"))
      else j.select(col("sc").as("cell"), col("sd").as("d"))
    chosen.groupBy("cell")
      .agg(count(lit(1)).as("n_members"), gridMean(col("d")).as("mean_dist"))
      .select(lit(if (retrain) "retrain" else "append").as("decision"),
        round(lit(churn), 6).as("churn_share"),
        col("cell"), col("n_members"), col("mean_dist"))
      .orderBy("cell")
  }

  /** Cells probed per query in q119 (of K = 16). */
  val Nprobe = 4

  /** Probe counts swept by q224 (of K = 16 cells). */
  val ProbeSweep: Seq[Int] = Seq(1, 2, 4, 8)

  /** Recall eval block for the sweeps: queries are `vec_id <
    * EvalBlock` (q224/q242/q244 share it, and the oracle SQL
    * interpolates it — a hardcoded copy desyncs silently). */
  val EvalBlock = 10

  /** The eval query block (q_id, qv): the [[EvalBlock]] lowest ids of a
    * (vec_id, v) table — broadcast-sized at any corpus size. */
  private[graft] def evalQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < EvalBlock)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Exact ground truth for the recall family: per query, the 10
    * nearest OTHER vectors by 6-dp-rounded squared L2, id tie-break —
    * (q_id, n_id). The q34 shape: the corpus streams past the broadcast
    * query block, the only exchange is the per-query rank window over
    * |q|×N candidate rows. It is the calibration cost; a production
    * query path never runs it. */
  private[graft] def exactTop10(e: DataFrame, q: DataFrame): DataFrame = {
    val wt = Window.partitionBy("q_id").orderBy(asc("l2sq"), asc("n_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(L2Dist.sqDist(col("qv"), col("v")), 6).as("l2sq"))
      .withColumn("rank", row_number().over(wt))
      .filter(col("rank") <= 10)
      .select("q_id", "n_id")
  }

  /** Probe ranking: every query (q_id, qv) against the broadcast
    * centroid table (`tags`…, cluster, cv), ranked per (`tags`…, q_id)
    * by (round-6 dist ASC, cluster ASC) as `crk`, the `depth` nearest
    * kept. Both sides are bounded by construction (query block × K
    * index metadata). */
  private[graft] def rankedCells(q: DataFrame, cents: DataFrame, depth: Int,
                                 tags: String*): DataFrame = {
    val wq = Window.partitionBy((tags :+ "q_id").map(col): _*)
      .orderBy(asc("cdist"), asc("cluster"))
    q.crossJoin(broadcast(cents))
      .withColumn("cdist", round(L2Dist.sqDist(col("qv"), col("cv")), 6))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= depth)
  }

  /** The probed members' exact top-10 per (`tags`…, q_id): members
    * (n_id, nv, `on`…) stream past the broadcast probe frame (`tags`…,
    * q_id, qv, `on`…), self excluded — (`tags`…, q_id, n_id, l2sq,
    * rank). */
  private def probedTop10(members: DataFrame, qcells: DataFrame, on: Seq[String],
                          tags: String*): DataFrame = {
    val wx = Window.partitionBy((tags :+ "q_id").map(col): _*)
      .orderBy(asc("l2sq"), asc("n_id"))
    members.join(broadcast(qcells), on)
      .filter(col("n_id") =!= col("q_id"))
      .select((tags.map(col) ++ Seq(col("q_id"), col("n_id"),
        round(L2Dist.sqDist(col("qv"), col("nv")), 6).as("l2sq"))): _*)
      .withColumn("rank", row_number().over(wx).cast("long"))
      .filter(col("rank") <= 10)
  }

  /** Recall overlap: how many of each group's truth pairs the search
    * returned — the truth (`by`…, q_id, n_id) left-joined to the
    * broadcast hit pairs, `n_overlap` per `by` group. */
  private[graft] def overlapCount(truth: DataFrame, hits: DataFrame,
                                  by: String*): DataFrame = {
    val keys = (by ++ Seq("q_id", "n_id")).distinct
    truth.join(broadcast(hits.select(keys.map(col): _*).withColumn("hit", lit(1L))),
        keys, "left")
      .groupBy(by.map(col): _*)
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
  }

  /** The q119 IVF pipeline up to its ranked top-10 — shared with the
    * q148 recall evaluation. */
  private def ivfTop10(e: DataFrame): DataFrame = {
    val cents = fit(e)
    val members = assign(e, cents)
      .select(col("vec_id").as("n_id"), col("v").as("nv"), col("cluster"))
    probedTop10(members,
      rankedCells(evalQueries(e), cents, Nprobe).select("q_id", "qv", "cluster"),
      Seq("cluster"))
  }

  /** q119: IVF search over the q116 cells — the classic inverted-file
    * ANN query path, here END-TO-END deterministic and oracle-checked
    * (q45's MLlib fit is run-dependent; the seeded Lloyd fit is not):
    * rank the K centroids per query, probe the Nprobe nearest cells,
    * exact-rescore ONLY their members, top-10 out. Scale shape: the
    * probe table is |queries|×Nprobe rows + query vectors — broadcast;
    * the corpus side streams past filtered by cell membership, so with
    * the corpus written clustered by cell (the q45/partitioned-events
    * layout argument) the scan itself prunes to Nprobe/K of the data
    * and nothing ever shuffles. Completes the declared ANN ladder:
    * q34 brute → q61 blocked → q84 binary-quantized → q119 IVF →
    * q114b/q115 PQ. */
  def q119IvfSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    ivfTop10(e)
      .select(col("q_id"), col("rank"), col("n_id"), col("l2sq"))
      .orderBy("q_id", "rank")
  }

  /** q148: recall@10 of the IVF search against exact brute-force
    * ground truth — the number an ANN deployment is actually judged
    * by (the q119 scaladoc promises pruning; this measures what the
    * pruning costs in answer quality, per query). Ground truth is the
    * exact L2 top-10 over the whole corpus ([[exactTop10]] —
    * affordable for the 10-query eval block; production runs this on
    * a sampled query set for exactly that reason); overlap counts via
    * one left join on (q_id, n_id). A cell-probe miss shows up as
    * recall < 1 on the specific query whose true neighbors sat in
    * unprobed cells — the signal that tunes Nprobe. */
  def q148IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    overlapCount(exactTop10(e, evalQueries(e)), ivfTop10(e), "q_id")
      .select(col("q_id"), col("n_overlap"),
        round(col("n_overlap") / lit(10.0), 4).as("recall_at_10"))
      .orderBy("q_id")
  }

  /** q224: IVF nprobe sweep — recall@10 AND vectors-scanned per query
    * at nprobe ∈ {1, 2, 4, 8}: the cost/quality TRADEOFF CURVE behind
    * q148's single recall point (q148 says what Nprobe = 4 recalls;
    * this says what each extra probe buys and what it costs, which is
    * the number that actually tunes a 100 TB deployment — scanned
    * vectors IS the query's IO bill when cells are storage-clustered).
    *
    * One fit, one assignment, one truth pass (all shared across the
    * sweep); the probe sets nest (crk ≤ np), so the sweep is a probe-
    * table EXPLODE — the corpus-side join fans out only on the
    * broadcast side. n_scanned = probed cell sizes − 1 (a query's own
    * cell is always its crk = 1 probe, and self is excluded from
    * candidates). */
  def q224NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = fit(e)
    val members = assign(e, cents)
      .select(col("vec_id").as("n_id"), col("v").as("nv"), col("cluster"))
      .localCheckpoint() // cell sizes + the probe join both consume the
      // assignment — without the cut each re-runs the K×corpus argmin
      // (this IS the stored index artifact a deployment materializes)
    val cellSizes = members.groupBy("cluster").agg(count(lit(1)).as("csz"))
    val q = evalQueries(e)
    val probes = array(ProbeSweep.map(p => lit(p.toLong)): _*)
    val qcells = rankedCells(q, cents, ProbeSweep.max)
      .withColumn("np", explode(probes))
      .filter(col("crk") <= col("np"))
      .select("np", "q_id", "qv", "cluster")
    val ivf = probedTop10(members, qcells, Seq("cluster"), "np")
    val truth = exactTop10(e, q).withColumn("np", explode(probes))
    // ivf (≤ sweep × queries × 10 rows) and overlap (≤ sweep × queries)
    // are probe-block-bounded at ANY corpus size — broadcast both so
    // the tail of the plan stays exchange-light (the bare joins planned
    // as SortMergeJoins of 40-row frames)
    val overlap = overlapCount(truth, ivf, "np", "q_id")
    val scanned = qcells.join(broadcast(cellSizes), "cluster")
      .groupBy("np", "q_id")
      .agg(sum("csz").as("n_raw"))
    scanned.join(broadcast(overlap), Seq("np", "q_id"))
      .select(col("np").as("nprobe"), col("q_id"),
        (col("n_raw") - 1).as("n_scanned"), col("n_overlap"),
        round(col("n_overlap") / lit(10.0), 4).as("recall_at_10"))
      .orderBy("nprobe", "q_id")
  }

  /** Cell counts swept by q242. */
  val KSweep: Seq[Int] = Seq(8, 16, 32, 64)

  /** q242's per-K centroid tables, tagged by K: every K in [[KSweep]]
    * seeded from its k lowest ids and fit by ONE [[lloyd]] stream. */
  private[graft] def kSweepCentroids(e: DataFrame): Seq[(Long, Array[(Long, Seq[Double])])] = {
    val seeds = seedRows(e, KSweep.max)
    lloyd(e, KSweep.map(k => (k.toLong, seeds.filter(_._1 < k))), Iters)
  }

  /** q242: IVF cell-count sweep — recall@10, vectors scanned, and fit
    * cost at K ∈ {8, 16, 32, 64} × nprobe ∈ {1, 2, 4, 8}: the OTHER
    * knob a 100 TB deployment tunes (q224 answers "how many cells do I
    * probe"; this answers "how many cells should the index have").
    * More cells = cheaper queries (each probe scans ~n/K vectors) but
    * a costlier fit (each Lloyd round is n·K distance evaluations) and
    * thinner cells whose boundaries cut true neighborhoods — the sweep
    * reports all three so the choice is a read, not a guess. Totals
    * are summed over the 10-query eval block: scanned counts exact
    * integers, recall from exact overlap integers (Σoverlap / 100).
    *
    * Scale shape: the four fits run as ONE [[lloyd]] stream — each K's
    * centroid table carries a disjoint `kk` tag and every round is a
    * SINGLE corpus pass over all live tags; per-K math is
    * bit-identical to four independent seeded fits (seeds = the k
    * lowest ids, the q45b rule; the oracle runs four independent
    * chains and hash-matches; KMeansSpec pins it). At 100 TB the
    * corpus scan is the fit's dominant cost, so sharing it across K
    * divides the sweep's IO by |sweep|. ONE final tagged assignment
    * (localCheckpointed — the q224 cut; it IS the index artifact)
    * feeds cell sizes and the probe join; the exact truth pass runs
    * once, K- and nprobe-independent; probe sets nest, so the whole
    * sweep is the q224 broadcast-side explode with kk as one more
    * probe-frame column. fit_dist_evals = n·K·rounds is reported
    * closed-form per K — the number whose growth caps how large a K
    * the build budget allows. */
  def q242KSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val nv = e.agg(count(lit(1)).as("n_vectors"))
    val q = evalQueries(e)
    val probes = array(ProbeSweep.map(p => lit(p.toLong)): _*)
    val cents = kSweepCentroids(e)
    // one tagged assignment: each vector's per-kk argmin, exploded
    val tagged = cents.filter(_._2.nonEmpty).map { case (kk, arr) =>
      struct(lit(kk).as("kk"), bestCentroid(arr, col("v")).as("b"))
    }
    val members = (
      if (tagged.isEmpty)
        e.select(lit(null).cast("long").as("kk"), col("vec_id").as("n_id"),
          col("v").as("nv"), lit(null).cast("long").as("cluster")).limit(0)
      else
        e.select(col("vec_id"), col("v"), explode(array(tagged: _*)).as("p"))
          .select(col("p.kk").as("kk"), col("vec_id").as("n_id"),
            col("v").as("nv"), col("p.b.id").as("cluster"))
      ).localCheckpoint() // one tagged assignment, two consumers (q224)
    val cellSizes = members.groupBy("kk", "cluster").agg(count(lit(1)).as("csz"))
    val qcells = rankedCells(q, centroidFrame(spark, cents),
        ProbeSweep.max, "kk")
      .withColumn("np", explode(probes))
      .filter(col("crk") <= col("np"))
      .select("kk", "np", "q_id", "qv", "cluster")
    val ivf = probedTop10(members, qcells, Seq("kk", "cluster"), "kk", "np")
    // exact ground truth: K- and nprobe-independent, enumerated across
    // both sweep axes for the overlap join (still ≤ |K|·|np|·100 rows)
    val truth = exactTop10(e, q)
      .withColumn("np", explode(probes))
      .withColumn("kk", explode(array(KSweep.map(k => lit(k.toLong)): _*)))
    val overlap = overlapCount(truth, ivf, "kk", "np")
    val scanned = qcells.join(broadcast(cellSizes), Seq("kk", "cluster"))
      .groupBy("kk", "np")
      // each query's own cell is its crk = 1 probe and self is never
      // a candidate: one vector off PER QUERY at every sweep point
      .agg((sum("csz") - countDistinct(col("q_id"))).as("n_scanned"))
    scanned.join(broadcast(overlap), Seq("kk", "np"))
      .crossJoin(broadcast(nv))
      .select(col("kk").as("k"), col("np").as("nprobe"),
        col("n_scanned"), col("n_overlap"),
        round(col("n_overlap") / lit(EvalBlock * 10.0), 4).as("recall_at_10"),
        (col("n_vectors") * col("kk") * Iters).as("fit_dist_evals"))
      .orderBy("k", "nprobe")
  }

  /** Per-cluster sample quota for [[q158DiversitySample]]. */
  val SampleQuota = 8

  /** q158: cluster-balanced diversity sample — draw [[SampleQuota]]
    * vectors per k-means cell, uniformly WITHIN each cell. Uniform
    * corpus sampling inherits the corpus's mode collapse (a crawl that
    * is 60 % one template yields a sample that is 60 % that template);
    * quota-per-cluster sampling instead equalizes semantic regions —
    * the selection step behind diversity-curated training mixes
    * (cluster-then-sample, the DataComp/SemDeDup curation family),
    * eval-set construction, and annotation batches that must cover the
    * embedding space rather than its densest mode.
    *
    * Determinism: the within-cell pick ranks a multiply-mod hash of
    * vec_id (the q153 derived-randomness rule — reproducible across
    * engines, runs, and re-partitioning, where df.sample is
    * partitioning-dependent), tie-broken by vec_id. Scale shape: the
    * q116 fit's bounded rounds + ONE assignment scan against broadcast
    * centroids; the pick is a per-cluster rank window whose exchange
    * carries K groups, and output is K × quota rows at any corpus
    * size. */
  def q158DiversitySample(spark: SparkSession, dir: String): DataFrame = {
    val m = 1000000007L
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pick = pmod(pmod(pmod(col("vec_id"), lit(m)) * lit(1000003L), lit(m))
      * lit(69069L), lit(m))
    val w = Window.partitionBy("cluster").orderBy(asc("pick"), asc("vec_id"))
    assign(e, fit(e))
      .select(col("cluster"), col("vec_id"), col("dist"), pick.as("pick"))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= SampleQuota)
      .select(col("cluster"), col("pick_rank").cast("long").as("pick_rank"),
        col("vec_id"), col("dist"))
      .orderBy("cluster", "pick_rank")
  }

  /** q116: the fitted clustering, reported per cluster — member count,
    * centroid 2-norm, and the tightest/loosest member distance (min and
    * max are order-independent, so no summation-order hash hazard). */
  def q116KmeansFit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = fit(e)
    val norm = round(sqrt(aggregate(col("cv"), lit(0.0), (acc, x) => acc + x * x)), 6)
    assign(e, cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min("dist").as("min_dist"),
        max("dist").as("max_dist"))
      .join(cents.select(col("cluster"), norm.as("centroid_norm")), "cluster")
      .select(col("cluster"), col("n_members"), col("min_dist"),
        col("max_dist"), col("centroid_norm"))
      .orderBy("cluster")
  }
}
