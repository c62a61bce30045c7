package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives for dedup cluster resolution. A pair
  * generator (q33/q42/q49) emits near-duplicate EDGES; an actual dedup
  * pipeline must then resolve them into groups and elect one canonical
  * document per group — connected components.
  *
  * The implementation is min-label propagation expressed as DataFrame
  * joins: each round every node adopts the smallest label among itself
  * and its neighbors. Rounds are pure join+groupBy plans, so Catalyst
  * partial-aggregates the `min` map-side and the per-round cost is one
  * O(E) shuffle — the same shape GraphX/GraphFrames use. Convergence
  * takes at most graph-diameter rounds; near-dup components are
  * quasi-cliques (every member close to every other), so the practical
  * diameter is 2-3. For adversarially chained graphs the alternating
  * large-star/small-star variant (Kiveris et al., "Connected Components
  * in MapReduce and Beyond") bounds rounds at O(log n) using exactly
  * this join primitive — swap the round body, keep the loop.
  *
  * Each round ends in `localCheckpoint`: without it round k's plan
  * embeds round k-1's, and by round 10 Catalyst re-optimizes (and
  * re-executes, absent caching) an exponentially nested tree. The
  * checkpoint materializes the O(V) label table and resets lineage —
  * the standard iterative-algorithm pattern on Spark. The driver sees
  * only one scalar per round (the changed-row count used as the
  * convergence test), never the data. */
object Graph {

  /** Catalyst-ordered `<` over the atomic key types the graph
    * primitives carry in RDD rounds: strings compare in UTF8 binary
    * order (exactly Catalyst's asc()/min()), everything else via its
    * natural Comparable order. */
  private def anyLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    case (x, y) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y.asInstanceOf[AnyRef]) < 0
  }

  /** The undirected `(id_a, id_b)` edge list as distinct directed
    * (src, dst) pairs, checkpointed: the upstream pair plan (e.g. the
    * whole simhash-band candidate chain) runs ONCE, not per round. */
  private def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()

  /** The keyed-RDD round scaffold over one edge list, whose first
    * column's type is the id type. Every keyed table of a primitive
    * shares one hash partitioner sized like a SQL shuffle, so per-round
    * joins against the cached tables are narrow. */
  private final class Rounds(edges: DataFrame) {
    val spark: SparkSession = edges.sparkSession
    val idType = edges.schema.head.dataType
    val p = new org.apache.spark.HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

    /** Partitioned once and kept across rounds. */
    def cached[V: ClassTag](r: RDD[(Any, V)]): RDD[(Any, V)] =
      r.partitionBy(p).persist(StorageLevel.MEMORY_AND_DISK)

    /** `sym` keyed by dst (the neighbor lists a label round joins
      * against) and every src labeled with itself — the start of
      * [[connectedComponents]] and [[labelPropagation]]. */
    def selfLabeled(sym: DataFrame): (RDD[(Any, Any)], RDD[(Any, Any)]) =
      (cached(sym.select("dst", "src").rdd.map(r => (r.get(0), r.get(1)))),
        cached(sym.select("src").distinct().rdd.map(r => (r.get(0), r.get(0)))))

    /** A keyed round result as a frame: column `key` keeps the edge
      * list's id type; `value` names and types the value column. */
    def toFrame[V](rows: RDD[(Any, V)], key: String, value: StructField): DataFrame =
      spark.createDataFrame(rows.map { case (k, v) => Row(k, v) },
        StructType(Seq(StructField(key, idType), value)))
  }

  /** Connected components of an undirected edge list.
    *
    * @param edges  DataFrame with two long columns `id_a`, `id_b`
    * @param maxIter safety bound on propagation rounds; exceeding it
    *                throws rather than returning a half-converged
    *                labeling (raise it for high-diameter graphs)
    * @return (id, component) — `component` is the minimum id reachable
    *         from `id`; only ids that appear in some edge are labeled */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // rounds as one keyed-RDD chain (the [[pageRank]] shape), but
    // convergence-gated: each round's single action is the count that
    // materializes the persisted label table, and "did anything move"
    // is a LongAccumulator bumped where a neighbor minimum wins —
    // 1 job/round instead of checkpoint + anti-join-count jobs. An
    // (impossible in local mode, harmless anywhere) task retry could
    // only over-count, costing one extra converged round, never a
    // wrong labeling. min-label and the final table are exact integer/
    // binary-string comparisons — bit-identical to the DataFrame form.
    val k = new Rounds(edges)
    val (byDst, labels0) = k.selfLabeled(symmetric(edges))
    var labels = labels0
    var round = 0
    while (round < maxIter) {
      val acc = k.spark.sparkContext.longAccumulator("cc-label-moves")
      val nbrMin = byDst.join(labels)
        .map { case (_, (src, lab)) => (src, lab) }
        .reduceByKey(k.p, (a: Any, b: Any) => if (anyLess(b, a)) b else a)
      val next = labels.leftOuterJoin(nbrMin).mapValues {
        case (l, Some(m)) if anyLess(m, l) => acc.add(1L); m
        case (l, _) => l
      }.persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // materializes the round; acc is final after this
      val prev = labels
      labels = next
      prev.unpersist(false)
      round += 1
      if (acc.value == 0L)
        return k.toFrame(labels, "id", StructField("label", k.idType))
    }
    throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(graph diameter exceeds the bound)")
  }

  /** Fixed-iteration PageRank over an undirected edge list — the second
    * iterative-graph primitive after connected components, and the same
    * per-round shape: one narrow join + one O(E) reduceByKey shuffle
    * (the [[walk]] rounds). Iteration count is FIXED (not convergence-gated)
    * so the output is a pure function of the edge list — that is what
    * makes it oracle-checkable, unlike tolerance-stopped variants whose
    * round count can differ across engines.
    *
    * Symmetrizing first means every node has degree ≥ 1, so there is no
    * dangling-mass redistribution term — the (1−d)/|V| teleport plus
    * neighbor contributions conserve total rank exactly. |V| is ONE
    * driver scalar (a count), never the data.
    *
    * @param edges two columns `id_a`, `id_b` (any atomic key type)
    * @return (id, r) — unnormalized-by-rounding PageRank after `iters`
    *         full rounds, full precision (callers round for contracts) */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val sym = symmetric(edges)
    val deg = degrees(sym)
    val nV = deg.count()
    if (nV == 0) return deg.select(col("src").as("id"), lit(0.0).as("r"))
    // the uniform walk: every node starts at 1/|V| and teleports the
    // same (1−d)/|V| each round, computed once as the DataFrame form did
    val teleport = (1.0 - damping) / nV
    walk(sym, deg, deg.select(col("src").as("id"), lit(1.0 / nV).as("t")),
      iters, damping, _ => teleport)
  }

  /** Out-degree per src of a [[symmetric]] edge list, as a double. */
  private def degrees(sym: DataFrame): DataFrame =
    sym.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
      .localCheckpoint()

  /** The fixed-round random walk behind [[pageRank]] and
    * [[personalizedPageRank]]. `nodes` is (id, t): every node of `deg`
    * with its start mass t; each round a node's rank becomes
    * `teleport(t) + d·Σ r/deg` over its in-edges.
    *
    * ROUNDS AS ONE RDD LINEAGE (round 14): the DataFrame loop paid a
    * localCheckpoint job + Catalyst planning + AQE stage scheduling PER
    * ROUND (the per-round plan tree must be cut, because pr appears
    * twice in it). Keyed RDDs share lineage as a DAG instead: the
    * degree-folded edge list and the node table are hash-partitioned
    * ONCE and cached, every per-round join is narrow (same
    * partitioner), and the only shuffle per round is the contribution
    * reduceByKey — the whole 10-round walk is ONE job. Numerics are the
    * exact per-edge r/deg and teleport expressions the DataFrame form
    * evaluated; reduceByKey reassociates the sum, which the callers'
    * round-6 contract absorbs (the q110 scaladoc argument — ~1e-15
    * against a 1e-6 grain). */
  private def walk(sym: DataFrame, deg: DataFrame, nodes: DataFrame, iters: Int,
                   damping: Double, teleport: Double => Double): DataFrame = {
    val k = new Rounds(sym)
    val nodesT = k.cached(nodes.rdd.map(r => (r.get(0), r.getDouble(1))))
    val edgesR = k.cached(sym.join(deg, "src").select("src", "dst", "deg").rdd
      .map(r => (r.get(0), (r.get(1), r.getDouble(2)))))
    var pr = nodesT
    (1 to iters).foreach { _ =>
      val contrib = edgesR.join(pr)
        .map { case (_, ((dst, dg), r)) => (dst, r / dg) }
        .reduceByKey(k.p, _ + _)
      pr = nodesT.leftOuterJoin(contrib).mapValues { case (t, c) =>
        teleport(t) + damping * c.getOrElse(0.0)
      }
    }
    k.toFrame(pr, "id", StructField("r", DoubleType, nullable = false))
  }

  /** q110: TextRank keyword extraction (Mihalcea &amp; Tarau '04) — PageRank
    * over the word co-occurrence graph, the classic unsupervised
    * keyword/importance scorer a corpus-curation pipeline uses to pick
    * salient vocabulary without labels. Nodes are corpus words, edges
    * are distinct adjacent-token pairs (the q74 transition stream,
    * deduplicated and canonicalized; self-loops dropped). Scores round
    * to 6 decimals — ten rounds of double arithmetic reassociate at
    * ~1e-15, far under the rounding grain, so the DuckDB unrolled twin
    * hashes identically. */
  def q110TextRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("id_a"),
        greatest(col("w1"), col("w2")).as("id_b"))
      .distinct()
    pageRank(edges, iters = 10, damping = 0.85)
      .select(col("id").as("word"), round(col("r"), 6).as("rank"))
      .orderBy(desc("rank"), asc("word"))
  }

  /** Per-node triangle counts of an undirected graph via DEGREE-ORDERED
    * edge orientation — the standard scalable enumeration (Cohen,
    * "Graph Twiddling in a MapReduce World"): orient every edge from
    * its lower-(degree, id) endpoint to the higher one; each triangle
    * then has exactly one apex with two out-edges, so self-joining the
    * oriented list on the apex and probing the third side counts every
    * triangle exactly once. The payoff at scale: max out-degree under
    * this orientation is O(√E) on ANY graph — a celebrity node with
    * millions of neighbors receives edges instead of emitting them, so
    * the apex self-join's per-key fanout is bounded where a naive
    * wedge join explodes. Three hash joins + one groupBy; integer
    * arithmetic only, so the oracle twin is exact with no rounding
    * contract at all.
    *
    * @param edges undirected (id_a, id_b); dedup/canonicalization done
    *              here, self-loops dropped
    * @return (id, n_triangles) for nodes on ≥ 1 triangle */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id")).union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): a before b iff (deg_a, a) < (deg_b, b)
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val or = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dst_deg"))
      .localCheckpoint() // three consumers below; cut the shared prefix
    val o1 = or.select(col("src"), col("dst").as("v"), col("dst_deg").as("kv"))
    val o2 = or.select(col("src"), col("dst").as("w"), col("dst_deg").as("kw"))
    val tri = o1.join(o2, "src")
      .filter(col("kv") < col("kw") || (col("kv") === col("kw") && col("v") < col("w")))
      .join(or.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    tri.select(col("u").as("id"))
      .union(tri.select(col("v").as("id")))
      .union(tri.select(col("w").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Personalized PageRank (the random walk teleports to the SEED set,
    * not uniformly) — the "related nodes" primitive behind query
    * expansion and graph-based recommendation: rank mass concentrates
    * around the seeds instead of spreading to global hubs. Same
    * fixed-iteration [[walk]] rounds as [[pageRank]] (each round one
    * O(E) shuffle); the only changes are the start vector (1/|S| on
    * seeds) and the teleport term ((1−d)·t: (1−d)/|S| on seeds, 0
    * elsewhere). Seeds outside the graph are
    * ignored; an empty effective seed set returns the empty frame. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val sym = symmetric(edges)
    val deg = degrees(sym)
    val seedIds = seeds.select(col("id")).distinct()
      .join(deg.select(col("src").as("id")), Seq("id"))
      .localCheckpoint()
    val nS = seedIds.count()
    if (nS == 0) return deg.limit(0).select(col("src").as("id"), lit(0.0).as("r"))
    val tele = seedIds.select(col("id"), (lit(1.0) / lit(nS)).as("t"))
    val nodes = deg.select(col("src").as("id"))
      .join(tele, Seq("id"), "left")
      .select(col("id"), coalesce(col("t"), lit(0.0)).as("t"))
    walk(sym, deg, nodes, iters, damping, t => (1.0 - damping) * t)
  }

  /** q132: words related to the lexicographically smallest vocabulary
    * word via personalized PageRank over the co-occurrence graph — the
    * query-expansion view (q110 ranks globally; this ranks AROUND a
    * seed). The seed choice is a pure function of the corpus, so the
    * query stays oracle-checkable. */
  def q132PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("id_a"),
        greatest(col("w1"), col("w2")).as("id_b"))
      .distinct()
    val seed = edges.select(least(min("id_a"), min("id_b")).as("id"))
    personalizedPageRank(edges, seed, iters = 10, damping = 0.85)
      .select(col("id").as("word"), round(col("r"), 6).as("rank"))
      .orderBy(desc("rank"), asc("word"))
  }

  /** Synchronous label propagation (Raghavan et al. '07) made
    * deterministic: every node starts labeled with itself; each round,
    * every node adopts the most frequent label among its NEIGHBORS,
    * ties broken by lexicographically smallest label; a fixed round
    * count makes the result a pure function of the edge list (the
    * q110 fixed-iteration contract), hence oracle-checkable. Unlike
    * connectedComponents' min-label fixpoint, frequency voting finds
    * DENSE communities — a bridge edge between two cliques doesn't
    * merge them, because one vote loses to the clique majority.
    *
    * Per round: one narrow join of the O(V) label table against the
    * cached O(E) symmetric edge list and one vote-folding shuffle. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    // single-lineage RDD rounds (the [[walk]] note): edges keyed by
    // dst once and cached; each round joins labels narrowly on dst and
    // folds votes per src in ONE aggregateByKey shuffle (map-side
    // HashMap combine — the old form paid a (node, label) exchange AND
    // a per-node window exchange per round). Vote counts are exact
    // integers and the (votes desc, label asc) winner is an
    // order-independent argmax, so rounds stay bit-identical; string
    // labels compare in UTF8 binary order, exactly Catalyst's asc().
    val k = new Rounds(edges)
    val (byDst, labels0) = k.selfLabeled(symmetric(edges))
    var labels = labels0
    (1 to iters).foreach { _ =>
      labels = byDst.join(labels)
        .map { case (_, (src, label)) => (src, label) }
        .aggregateByKey(
          scala.collection.mutable.HashMap.empty[Any, Long], k.p)(
          (m, lab) => { m.update(lab, m.getOrElse(lab, 0L) + 1L); m },
          (m1, m2) => {
            m2.foreach { case (lab, n) =>
              m1.update(lab, m1.getOrElse(lab, 0L) + n)
            }
            m1
          })
        .mapValues { m =>
          var bestLab: Any = null
          var bestN = -1L
          m.foreach { case (lab, n) =>
            if (n > bestN || (n == bestN && anyLess(lab, bestLab)))
              { bestLab = lab; bestN = n }
          }
          bestLab
        }
    }
    k.toFrame(labels, "node", StructField("label", k.idType))
  }

  /** q128: communities of the q110 word co-occurrence graph via 3
    * deterministic label-propagation rounds — the curation view that
    * groups vocabulary into topical clusters where q68's connected
    * components would glue everything reachable into one blob. */
  def q128LabelProp(spark: SparkSession, dir: String): DataFrame = {
    val edges = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("id_a"),
        greatest(col("w1"), col("w2")).as("id_b"))
      .distinct()
    labelPropagation(edges, iters = 3)
      .select(col("node").as("word"), col("label"))
      .orderBy("word")
  }

  /** q117: triangle counts over the q110 word co-occurrence graph —
    * the local-clustering signal (which vocabulary sits in tightly
    * interlinked contexts) and the second declared consumer of the
    * co-occurrence edge list. */
  def q117Triangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(col("w1").as("id_a"), col("w2").as("id_b"))
    triangleCounts(edges)
      .select(col("id").as("word"), col("n_triangles"))
      .orderBy(desc("n_triangles"), asc("word"))
  }

  /** Single-source shortest paths by `iters` synchronous Bellman-Ford
    * relaxation rounds over a weighted symmetric edge list
    * (src, dst, w) — the weighted companion to [[connectedComponents]]'
    * min-label fixpoint. Fixed iteration count (the q110 contract):
    * after r rounds the table holds exact distances for every node
    * within r hops of the source, a pure function of (edges, source),
    * hence oracle-checkable as an unrolled CTE. Each accumulated
    * distance rounds at 6 dp so both engines relax identical doubles
    * (the q113 convention).
    *
    * Per round: one narrow cogroup of the O(V) frontier against the
    * cached edge list + one min-reduce shuffle. At 100 TB the graph table is the small side
    * (vocabulary-capped, the q110 argument); rounds never touch the
    * corpus. */
  def shortestPaths(wedges: DataFrame, source: DataFrame,
                    iters: Int): DataFrame = {
    // single-lineage RDD rounds (the [[walk]] note). The edge list
    // is partitioned once and cached — its lineage reaches back through
    // the corpus scan, and un-cached rounds would re-scan the corpus
    // per round (measured 44 s → 6 s at 100× docs when this was first
    // cut). Each round cogroups the distance table narrowly against
    // the edges and min-reduces relaxations in ONE shuffle; distances
    // round to 6 dp per relaxation exactly as Catalyst's round() did
    // (same BigDecimal HALF_UP kernel), and min() is order-independent,
    // so the table stays bit-identical round for round.
    val k = new Rounds(wedges)
    val e = k.cached(wedges.select("src", "dst", "w").rdd
      .map(r => (r.get(0), (r.get(1), r.getDouble(2)))))
    var dist = source.select(col("id")).rdd.map(r => (r.get(0), 0.0))
      .partitionBy(k.p)
    (1 to iters).foreach { _ =>
      dist = dist.cogroup(e)
        .flatMap { case (id, (ds, es)) =>
          ds.headOption match {
            case None => Iterator.empty
            case Some(d) => Iterator.single((id, d)) ++
              es.iterator.map { case (dst, w) =>
                (dst, graft.plans.ArgminKernels.round6(d + w))
              }
          }
        }
        .reduceByKey(k.p, (a: Double, b: Double) => math.min(a, b))
    }
    k.toFrame(dist, "id", StructField("d", DoubleType, nullable = false))
  }

  /** q147: cheapest association paths from the seed word over the
    * WEIGHTED co-occurrence graph — edge cost ln(1 + N/cnt) (frequent
    * co-occurrence = short hop), so the distance ranks how tightly
    * each vocabulary word associates with the seed through any chain
    * of contexts: the graph-distance cousin of q132's random-walk
    * relatedness (PPR rewards MANY paths; this rewards the single
    * strongest one). Seed = deterministic min word (the q132 rule);
    * 8 relaxation rounds exceed the vocabulary graph's diameter. */
  def q147ShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val pc = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("double").as("cnt"))
    val tot = pc.agg(sum("cnt").as("n"))
    val half = pc.crossJoin(broadcast(tot)) // 1-row total × O(E) edges
      .select(col("a"), col("b"),
        round(log(lit(1.0) + col("n") / col("cnt")), 6).as("w"))
    val wedges = half.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(half.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val seed = wedges.select(least(min("src"), min("dst")).as("id"))
    shortestPaths(wedges, seed, iters = 8)
      .select(col("id").as("word"), round(col("d"), 6).as("dist"))
      .orderBy("dist", "word")
  }

  /** Walk shape for [[q171DeepWalk]]: top-N start words, walks per
    * start, transitions per walk (8-node paths). */
  val WalkStarts = 20
  val WalksPerStart = 2
  val WalkSteps = 7

  /** q171: DeepWalk corpus generation (Perozzi et al. 2014) — random
    * walks over the bigram transition graph, emitted as token
    * sequences. This is the graph-to-sequence bridge back to the
    * reference's own model: DeepWalk's whole insight is that walk
    * corpora feed word2vec UNCHANGED, so these paths are literal
    * training input for the q40 embedding trainer — graph embeddings
    * from the same Spark pipeline, no new trainer.
    *
    * "Random" is DERIVED, never drawn (the q153/q45b determinism rule,
    * here applied to a CHOICE instead of a weight): at node v, step t,
    * walk w the chooser is r = mmix(tokenId(v), 100·w + t) mod out(v) —
    * pure integer arithmetic — and the walk takes the successor whose
    * cumulative-count interval [cum − cnt, cum) contains r, i.e. a
    * frequency-proportional draw from a common random sequence. Both
    * engines (and any two cluster runs) walk the SAME paths, so the
    * oracle replays every transition bit-for-bit through
    * [[WalkSteps]] unrolled CTEs (the q110/q147/q163 fixed-iteration
    * rule). Dead ends self-resolve: a node with no successors simply
    * stops extending (left-join miss keeps cur/path unchanged).
    *
    * Scale shape: bigrams extract IN-ROW (zip of adjacent tokens, no
    * corpus shuffle before the edge groupBy); the edge table with
    * per-source cumulative counts is vocabulary-capped (the q110
    * argument — this IS q110's graph family) and localCheckpointed
    * once; each step is a broadcast left join of the O(starts × walks)
    * frontier against it. The corpus is touched exactly once. */
  def q171DeepWalk(spark: SparkSession, dir: String): DataFrame = {
    val m = 1000000007L
    def mmix(key: org.apache.spark.sql.Column, salt: org.apache.spark.sql.Column) =
      pmod(pmod(pmod(pmod(key, lit(m)) * lit(1000003L), lit(m))
        + salt * lit(7919L), lit(m)) * lit(69069L), lit(m))
    val toks = graft.Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(graft.functions.Portable.tokenize(col("text")).as("ws"))
      .persist() // edge build + start shortlist share the scan
    try {
      val bigrams = toks.filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), " +
            "i -> struct(element_at(ws, i) AS v, element_at(ws, i + 1) AS u))"))
          .as("p"))
        .groupBy(col("p.v").as("v"), col("p.u").as("u"))
        .agg(count(lit(1)).as("cnt"))
      val bySucc = Window.partitionBy("v").orderBy(col("cnt").desc, col("u").asc)
      val edges = bigrams
        .withColumn("cum", sum("cnt").over(
          bySucc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", sum("cnt").over(Window.partitionBy("v")))
        .localCheckpoint(eager = true) // vocabulary-capped; 7 join consumers
      val starts = toks.select(explode(col("ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word").asc).limit(WalkStarts)
        .select(col("word").as("start"))
      var frontier = starts
        .select(col("start"), explode(sequence(lit(0L),
          lit(WalksPerStart - 1L))).as("walk"))
        .select(col("start"), col("walk"),
          col("start").as("cur"), col("start").as("path"))
      for (t <- 1 to WalkSteps) {
        val r = pmod(mmix(graft.plans.TokenId.tokenId(col("cur")),
          col("walk") * lit(100L) + lit(t.toLong)), col("tot"))
        frontier = frontier.join(broadcast(edges),
            col("v") === col("cur") &&
              r >= col("cum") - col("cnt") && r < col("cum"), "left")
          .select(col("start"), col("walk"),
            coalesce(col("u"), col("cur")).as("cur"),
            when(col("u").isNull, col("path"))
              .otherwise(concat_ws(" ", col("path"), col("u"))).as("path"))
      }
      val out = frontier
        .select(col("start").as("start_word"), col("walk").as("walk_id"),
          col("path"),
          size(split(col("path"), " ")).cast("long").as("n_nodes"))
        .orderBy("start_word", "walk_id")
      val rows = out.collect() // O(starts × walks) by construction;
                               // eager so the token cache releases
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally toks.unpersist()
  }

  /** q198: graph summary + degree assortativity of the bigram word
    * graph — Newman's r (2002): the Pearson correlation of endpoint
    * degrees over every (directed-symmetrized) edge. r < 0 means hubs
    * attach to leaves (the disassortative shape natural language
    * produces — function words hub everything); r drifting toward 0/+
    * on a corpus snapshot is template/boilerplate structure distorting
    * the co-occurrence topology — a graph-level companion to q188's
    * Zipf slope over the SAME vocabulary-capped graph q110/q117/q147
    * analyze.
    *
    * All five correlation moments (Σx, Σy, Σxy, Σx², Σy²) accumulate
    * as EXACT integers/decimals over the edge frame (degrees are
    * integers — the q155 rule needs no grid here), so r is a single
    * closed-form double both engines derive identically. Corpus cost
    * is the one tokenize scan behind `transitions`; the edge and
    * degree frames are vocabulary-bounded, and the degree join is a
    * bounded-frame hash join. */
  /** q215: global clustering coefficient of the bigram graph —
    * C = 3·triangles / wedges (wedges = Σ_v deg(v)(deg(v)−1)/2): the
    * scalar transitivity measure over the same vocabulary-capped graph
    * q117 enumerates and q198 correlates. Natural co-occurrence graphs
    * cluster strongly (topics close triangles); a collapse toward the
    * random-graph baseline is the same template-distortion smell as a
    * flat q188 slope, measured on topology instead of frequency.
    * Triangle cost is q117's O(√E)-oriented enumeration; wedges are
    * exact integer arithmetic on the degree frame; one division. */
  def q215ClusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val edges = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("id_a"),
        greatest(col("w1"), col("w2")).as("id_b"))
      .distinct()
      .localCheckpoint() // feeds degrees AND the triangle enumeration
    val deg = edges.select(col("id_a").as("id"))
      .union(edges.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val degAgg = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1)) DIV 2").cast("decimal(38,0)")).as("wedges"))
    // q117's per-node counts sum each triangle exactly 3 times
    val triAgg = triangleCounts(edges)
      .agg(coalesce(expr("sum(n_triangles) DIV 3"), lit(0L)).as("n_triangles"))
    val m = edges.agg(count(lit(1)).as("n_edges"))
    degAgg.crossJoin(broadcast(triAgg)).crossJoin(broadcast(m))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("wedges").cast("long").as("n_wedges"),
        when(col("wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double")
            / col("wedges").cast("double"), 6)).as("global_clustering"))
      .orderBy("n_nodes")
  }

  def q198Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .distinct()
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint() // vocabulary-bounded; feeds degrees + moments
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val joined = sym
      .join(deg.select(col("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
    val m = joined.agg(
      count(lit(1)).as("m"),
      sum(col("dx").cast("decimal(38,0)")).as("sx"),
      sum(col("dy").cast("decimal(38,0)")).as("sy"),
      sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
      sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
      sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max("deg").as("max_degree"))
    val md = col("m").cast("double")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val num = md * col("sxy").cast("double") - sx * sy
    val den = sqrt(md * col("sxx").cast("double") - sx * sx) *
      sqrt(md * col("syy").cast("double") - sy * sy)
    m.crossJoin(broadcast(nodes)) // 1 row × 1 row
      .select(col("n_nodes"),
        expr("m DIV 2").as("n_edges"),
        // empty-corpus guard: ANSI division by a zero node count throws
        when(col("n_nodes") > 0,
          round(md / col("n_nodes").cast("double"), 4)).as("mean_degree"),
        col("max_degree"),
        when(den > 0, round(num / den, 6)).as("assortativity"))
      .orderBy("n_nodes")
  }

  /** Peeling rounds for [[q234KCore]] — fixed, never convergence-gated
    * (the q110/q116 cross-engine rule); 10 rounds reach the fixpoint
    * on every fixture and the CONTRACT is "the subgraph after 10
    * peels", so a pathological deep-peel graph still matches. */
  val CoreRounds = 10
  /** Core orders reported by q234. */
  val CoreKs: Seq[Int] = Seq(2, 3)

  /** q234: k-core decomposition of the bigram word graph — iteratively
    * peel nodes of degree &lt; k; what survives is the graph's dense
    * backbone (Seidman 1983). On a text graph the 2-core separates
    * connective vocabulary from one-off fringe words, and the 3-core
    * is the template/boilerplate skeleton — the STRUCTURAL complement
    * to q110's TextRank scores (rank says important; core says
    * embedded in dense structure). k ∈ [[CoreKs]], [[CoreRounds]]
    * unrolled peels.
    *
    * Scale shape: each peel is one degree aggregate + two key joins on
    * the vocabulary-capped edge list (never the corpus), with a
    * localCheckpoint lineage cut per round (the q132/q110 pattern);
    * rounds × ks is a fixed constant. */
  def q234KCore(spark: SparkSession, dir: String): DataFrame = {
    val ed0 = TextAnalysis.transitions(spark, dir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"))
      .distinct()
      .localCheckpoint()
    // the per-k peels are independent round loops over the shared edge
    // checkpoint — run them concurrently so one k's checkpoint/count
    // jobs fill the other's driver gaps
    graft.Exec.overlap(CoreKs.map { k => s"q234 $k-core peel" -> { () =>
      var ed = ed0
      var edCount = -1L // unknown until the first peel's checkpoint
      var r = 0
      while (r < CoreRounds) {
        val keep = ed.select(col("a").as("id"))
          .union(ed.select(col("b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("id")
        ed = ed
          .join(keep.select(col("id").as("a")), "a")
          .join(keep.select(col("id").as("b")), "b")
          .select("a", "b")
          .localCheckpoint()
        r += 1
        // fixpoint early-exit (round 14): peeling only ever REMOVES
        // edges, so an unchanged count means an unchanged edge set and
        // every remaining peel is the identity — the contract ("the
        // subgraph after CoreRounds peels") is met with the same answer
        // at a fraction of the rounds (the fixtures reach the fixpoint
        // in 2-4 peels; the fixed bound stays as the worst case)
        val n = ed.count()
        if (n == edCount) r = CoreRounds
        edCount = n
      }
      val nodes = ed.select(col("a").as("id"))
        .union(ed.select(col("b").as("id"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      val maxDeg = ed.select(col("a").as("id"))
        .union(ed.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .agg(coalesce(max("deg"), lit(0L)).as("max_core_degree"))
      ed.agg(count(lit(1)).as("n_edges"))
        .crossJoin(nodes).crossJoin(maxDeg)
        .select(lit(k.toLong).as("k"), col("n_nodes"), col("n_edges"),
          col("max_core_degree"))
    } }).reduce(_ unionAll _).orderBy("k")
  }
}
