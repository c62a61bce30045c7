package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed linear algebra over the embeddings table — the
  * "MLlib + distributed linear algebra" leg of the north star. PCA here
  * is the embedding-space diagnostic a curation pipeline runs before
  * semantic dedup or ANN indexing: a spectrum that collapses onto a few
  * components means the space is anisotropic and cosine thresholds
  * calibrated on it drift (the motivation for whitening in
  * SemDeDup-style pruning).
  *
  * Scale shape: `RowMatrix.computePrincipalComponentsAndExplainedVariance`
  * runs one distributed pass to assemble the d×d Gramian (tree-aggregated
  * partials; d = 64 here, so the driver solves a 64×64 eigenproblem —
  * O(d²) driver state, independent of row count), and projection is a
  * per-row matrix-vector product. Nothing corpus-sized leaves the
  * executors. */
object LinAlg {

  /** q103 (rows-only): per-component explained-variance ratios of the
    * embedding covariance, k=8. Eigenvector SIGNS are implementation-
    * specific, so the declared surface reports the sign-free spectrum;
    * the projection API below carries the vectors themselves. */
  def q103PcaVariance(spark: SparkSession, dir: String): DataFrame = {
    val (_, variance) = pca(Tables.embeddings(spark, dir), k = 8)
    import spark.implicits._
    variance.zipWithIndex
      .map { case (v, i) => (i.toLong, math.rint(v * 1e6) / 1e6) }
      .toSeq.toDF("component", "explained_variance_ratio")
      .orderBy("component")
  }

  /** q103b: the PCA INPUT — the sample covariance matrix of the
    * embedding columns (upper triangle, 6 dp). This is the d×d Gramian
    * `RowMatrix` tree-aggregates before its driver-side eigensolve.
    * Rows-only by contract: tree-aggregated BLAS accumulation and a
    * serial SQL sum can land a cell on opposite sides of the 6-dp
    * rounding boundary (or on -0.0 vs 0.0), so a rounded-hash gate is
    * flaky by construction; LinAlgSpec instead checks every cell
    * against an independent driver-side computation at 1e-9 tolerance —
    * tighter than the hash it replaces.
    *
    * Scale shape: the `RowMatrix` tree-aggregated Gramian itself — each
    * partition accumulates a dense d(d+1)/2 BLAS buffer (no per-element
    * rows ever exist), partials merge in a tree, and the driver holds
    * O(d²) state. This is the ONE sanctioned RDD boundary (README
    * design rules: MLlib distributed linear algebra). The first-cut
    * declarative form — per-row HOF outer-product explode + cell-keyed
    * partial aggregate — was plan-correct but 17× slower at sf0.1
    * (8.5 s vs 0.5 s): 41M interpreted lambda evals + struct
    * allocations against one fused BLAS `spr` per row. Same values
    * either way (round-6 absorbs FP merge order; the spec checks cells
    * against an independent driver-side computation). */
  def q103bCovariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = uniformVectors(Tables.embeddings(spark, dir))
      .rdd.map(r => OldVectors.dense(r.getSeq[Double](0).toArray))
    if (rows.isEmpty()) return Seq.empty[(Long, Long, Double)].toDF("i", "j", "cov")
    val cov = new RowMatrix(rows).computeCovariance()
    // HALF_UP mirrors round(x, 6) on both engines (away-from-zero ties)
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val d = cov.numRows
    val cells = for { i <- 0 until d; j <- i until d }
      yield (i.toLong, j.toLong, r6(cov(i, j)))
    cells.toDF("i", "j", "cov").orderBy("i", "j")
  }

  /** q104 (oracle): embedding-space drift between two corpus snapshots —
    * the vector-side twin of q98's text-distribution drift monitor. A
    * pipeline that reuses cosine thresholds or an ANN index across
    * snapshots needs to know whether the embedding distribution moved;
    * per-dimension mean shift and variance change are the standard
    * first-order alarm (and, unlike the eigensolve, exact arithmetic —
    * so this sits under the DuckDB hash gate). Snapshots are the
    * deterministic vec_id parity split, the q98 convention.
    *
    * Scale shape: ONE corpus pass — posexplode to (dim, x) with the
    * snapshot flag, then conditional aggregates partial-combine
    * map-side; the shuffle carries O(d) rows per partition and the
    * result is d rows. Nothing corpus-sized moves. */
  def q104EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select((col("vec_id") % 2 === 0).as("a"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    e.groupBy(col("dim").cast("long").as("dim"))
      .agg(
        avg(when(col("a"), col("x"))).as("ma"),
        avg(when(!col("a"), col("x"))).as("mb"),
        var_samp(when(col("a"), col("x"))).as("va"),
        var_samp(when(!col("a"), col("x"))).as("vb"))
      .select(col("dim"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round(col("mb") - col("ma"), 6).as("mean_shift"),
        round(col("va"), 6).as("var_a"), round(col("vb"), 6).as("var_b"))
      .orderBy("dim")
  }

  /** q105 (rows-only): whitened semantic near-dup ranking — the payoff
    * of the PCA front end. Cosine thresholds on anisotropic embedding
    * spaces are dominated by the top principal directions (the SemDeDup
    * motivation documented on this object); whitening — project onto
    * the top-k components, standardize each coordinate — removes that
    * bias before scoring. Output: the top 200 candidate pairs ranked by
    * exact whitened cosine (rows-only: the eigensolve isn't
    * SQL-expressible; determinism and planted-dup recovery are
    * spec-tested instead).
    *
    * Scale shape: the PCA pass is the q103 tree-aggregated Gramian
    * (O(d²) driver state); projection + whitening are per-row codegen
    * (the k×d matrix and k scales are plan literals); candidate
    * generation and exact rescoring are the audited q49 blocked plan on
    * the whitened vectors — zero-padded to `planeDim` so the SHARED
    * simhash banding reads a full-width vector (zeros beyond k change
    * neither band dots nor cosine). A global top-200 over band-bounded
    * candidates is TakeOrderedAndProject, not a full sort. */
  def q105WhitenedNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSim
    val emb = Tables.embeddings(spark, dir)
    val k = 16
    if (emb.limit(1).collect().isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "white_cos")
    }
    val (comps, _) = pca(emb, k)
    val proj = project(emb, comps)
    val sd = proj.select((0 until k).map(i => stddev_samp(col(s"pc$i")).as(s"s$i")): _*).head()
    val scales = (0 until k).map(i => math.max(sd.getDouble(i), 1e-12))
    val white = proj.select(col("vec_id"),
      concat(
        array((0 until k).map(i => col(s"pc$i") / scales(i)): _*),
        array_repeat(lit(0.0), Dedup.planeDim - k)).as("v"))
      .localCheckpoint(true) // consumed 3× (band table + both pair sides)
    val cand = Dedup.candidatePairs(Dedup.simhashBandTable(white))
    cand
      .join(white.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(white.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(CosineSim.cosine(col("va"), col("vb")), 6).as("white_cos"))
      .orderBy(desc("white_cos"), asc("id_a"), asc("id_b"))
      .limit(200)
  }

  /** q107 (rows-only): the PCA projection API as a declared query —
    * every embedding projected onto the top-8 principal components,
    * 6 dp. Rows-only like q103: eigenvector signs/rotations are
    * implementation-specific, so the oracle-free contract is
    * reproducibility + the variance ordering invariant (pc0 carries the
    * most variance), both spec-tested in LinAlgSpec. Declaring it puts
    * the last library-only LinAlg entry (project) under the driver's
    * dirty-row/empty-corpus sweeps.
    *
    * Scale shape: the q103 tree-aggregated Gramian (O(d²) driver state)
    * plus one per-row codegen'd projection pass — the k×d matrix rides
    * into the plan as literals; nothing corpus-sized moves. */
  def q107PcaProject(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val emb = Tables.embeddings(spark, dir)
    val empty = emb.select(col("vec_id") +:
      (0 until k).map(i => lit(0.0).as(s"pc$i")): _*).limit(0)
    if (emb.limit(1).collect().isEmpty) return empty
    val (comps, _) = pca(emb, k)
    project(emb, comps)
      .select(col("vec_id") +:
        (0 until k).map(i => round(col(s"pc$i"), 6).as(s"pc$i")): _*)
      .orderBy("vec_id")
  }

  /** Corrupt-row guard for the RowMatrix boundary: dense BLAS buffers
    * require every row non-null at ONE uniform dimension — a null
    * embedding NPEs the mapper and a truncated array fails the Gramian
    * requirement, either way poisoning the whole job on one bad row
    * (the dirty-vector sweep's finding). A NaN/Inf dimension is the
    * same class of poison one step later: it contaminates every
    * co-moment it touches, fails the eigensolve (NotConverged), and
    * NaN cells break the 6-dp BigDecimal rounding. Keep the MODAL
    * dimension (the encoder's actual output width; one column-pruned
    * O(distinct dims) agg decides it), drop strays and non-finite
    * rows — the declarative twins degrade per-row, this is the guard
    * that gives the RDD boundary the same contract. */
  private def uniformVectors(embeddings: DataFrame): DataFrame = {
    val v = embeddings
      .select(col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .filter(!exists(col("v"),
        x => isnan(x) || abs(x) === lit(Double.PositiveInfinity)))
    val dims = v.groupBy(size(col("v")).as("d")).count()
      .orderBy(desc("count"), asc("d")).limit(1)
      .collect()
    if (dims.isEmpty) v else v.filter(size(col("v")) === dims.head.getInt(0))
  }

  /** Principal components + explained-variance ratios of an
    * (vec_id, embedding) table. Returns (d×k column-major components,
    * k ratios). */
  def pca(embeddings: DataFrame, k: Int): (Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = uniformVectors(embeddings)
      .rdd.map(r => OldVectors.dense(r.getSeq[Double](0).toArray))
    val mat = new RowMatrix(rows)
    val (pc, variance) = {
      val r = mat.computePrincipalComponentsAndExplainedVariance(k)
      (r._1, r._2)
    }
    val d = pc.numRows
    val cols = Array.tabulate(k)(j => Array.tabulate(d)(i => pc(i, j)))
    (cols, variance.toArray.take(k))
  }

  /** Project embeddings onto the top-k principal components — the
    * dimensionality-reduction / whitening front end for downstream
    * similarity work. The k×d projection matrix broadcasts as literals
    * inside the plan; projection is one codegen'd per-row pass. */
  def project(embeddings: DataFrame, components: Array[Array[Double]]): DataFrame = {
    val proj = components.map { comp =>
      val compCol = array(comp.map(lit): _*)
      aggregate(
        zip_with(col("v"), compCol, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    }
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id") +: proj.zipWithIndex.map { case (c, i) => c.as(s"pc$i") }: _*)
  }

  /** q177: label-centroid geometry — the pairwise cosine structure of
    * the class centroids, with each centroid's neighbors ranked: the
    * embedding-space confusion map ("which classes sit on top of each
    * other") a team reads before trusting kNN label propagation (q99)
    * or mining cross-label hard negatives (q141 assumes near classes
    * exist — this says WHICH). The q120/q160 source-divergence idea
    * moved from lexical histograms to embedding geometry.
    *
    * Scale shape: one posexplode pass collapses the corpus to
    * O(labels × d) centroid cells (the q05 plan — partial-aggregated,
    * one exchange); every downstream join runs on that bounded frame.
    * Determinism: centroid coordinates round to 6 dp (the q05
    * contract), then land on the ×10⁶ integer grid, so the pairwise
    * dot products and norms are EXACT integer sums (the q155 rule
    * applied to vector algebra — a float dot over shuffled cells would
    * be accumulation-order-sensitive); cosine is the only double,
    * derived identically on both engines. */
  def q177CentroidGeometry(spark: SparkSession, dir: String): DataFrame = {
    val cent = Tables.embeddings(spark, dir)
      // NaN dims (fp overflow upstream) poison avg → the grid CAST
      // throws under ANSI; a poisoned vector drops, the centroid stands
      .filter(!expr("exists(embedding, x -> isnan(cast(x AS double)))"))
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      // 6-dp round then exact ×10⁶ grid: |v6| ≤ ~10⁷, d = 64 → dot
      // sums ≤ ~6.4e15, well inside long range. The second round(…, 0)
      // matters: double→long CAST truncates in Spark but rounds in
      // DuckDB, so the grid landing must be an explicit round on both
      .agg(round(round(avg("x"), 6) * 1000000.0, 0).cast("long").as("v6"))
      .localCheckpoint() // O(labels × d); feeds norms and pairs
    val norms = cent.groupBy("label")
      .agg(sum(col("v6") * col("v6")).as("nrm"))
    val pairs = cent.select(col("label").as("la"), col("pos"), col("v6").as("va"))
      .join(cent.select(col("label").as("lb"), col("pos"), col("v6").as("vb")), "pos")
      .filter(col("la") =!= col("lb"))
      .groupBy("la", "lb")
      .agg(sum(col("va") * col("vb")).as("dot"))
    pairs
      .join(norms.select(col("label").as("la"), col("nrm").as("na")), "la")
      .join(norms.select(col("label").as("lb"), col("nrm").as("nb")), "lb")
      .select(col("la").as("label_a"), col("lb").as("label_b"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("label_a").orderBy(desc("cosine"), asc("label_b"))))
      .orderBy("label_a", "rnk")
  }

  /** q199: embedding-space health report per label — RMS vector norm,
    * centroid norm, and anisotropy ‖μ‖²/E‖x‖² (the mean-vector share
    * of total energy; ≈ the expected cosine between random same-label
    * pairs — Ethayarajh 2019's degeneration measure). Anisotropy → 1
    * is embedding collapse (every vector points the same way: a dead
    * encoder, a normalization bug, or mode-collapsed training) — the
    * go/no-go check BEFORE this table feeds q34 retrieval or q49
    * dedup, where collapsed geometry silently turns "nearest neighbor"
    * into "random row". Complements q104 (drift BETWEEN snapshots)
    * with the absolute geometry of ONE snapshot.
    *
    * Exactness: per-element values land on the ×10⁶ integer grid
    * (the q177 contract), so per-row norm² is an exact in-row fold,
    * per-label Σnorm² and per-(label, dim) component sums are exact
    * decimals, and ‖Σx‖² = Σ_pos S_p² is exact decimal algebra —
    * anisotropy = Σ S_p² / (n·Σnorm²) is ONE double division. One
    * corpus scan for the row moments + one posexplode pass to
    * O(labels × d) cells; nothing else touches the corpus. */
  def q199EmbeddingHealth(spark: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0 &&
        !expr("exists(embedding, x -> isnan(cast(x AS double)))"))
      .select(col("label").cast("long").as("label"),
        expr("transform(cast(embedding AS array<double>)," +
          " x -> cast(round(x * 1000000.0, 0) AS bigint))").as("v6"))
      .localCheckpoint() // one decode of the grid feeds both passes
    val rowMoments = grid
      .select(col("label"),
        expr("aggregate(v6, cast(0 AS bigint), (acc, v) -> acc + v * v)")
          .as("norm2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("norm2").cast("decimal(38,0)")).as("sn"))
    val compSums = grid
      .select(col("label"), posexplode(col("v6")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum(col("v").cast("decimal(38,0)")).as("sp"))
      .groupBy("label")
      .agg(sum(col("sp") * col("sp")).as("ssp"))
    rowMoments.join(compSums, "label")
      .select(col("label"), col("n_vectors"),
        round(sqrt(col("sn").cast("double") / col("n_vectors"))
          / 1000000.0, 6).as("rms_norm"),
        round(sqrt(col("ssp").cast("double")) / col("n_vectors")
          / 1000000.0, 6).as("centroid_norm"),
        when(col("sn") > 0,
          round(col("ssp").cast("double")
            / (col("n_vectors").cast("double") * col("sn").cast("double")), 6))
          .as("anisotropy"))
      .orderBy("label")
  }
}
