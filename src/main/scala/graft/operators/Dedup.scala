package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** Deduplication family for a large-scale training-data pipeline: exact
  * (hash group-by), MinHash signatures + LSH banding, SimHash, and n-gram
  * Jaccard — each expressed as declarative relational plans so Catalyst
  * gets partial aggregation, pushdown and AQE for free, and each
  * reproducible in DuckDB SQL for the oracle (the portable polynomial
  * hash in [[graft.functions.Portable]] is the shared randomness).
  *
  * Scale design: all variants reduce documents to small per-doc
  * signatures BEFORE any join. The only shuffles are on signature keys
  * (vocab-, band- or shingle-cardinality), never doc × doc. The classic
  * trap — pairwise similarity — appears only AFTER candidate generation
  * (LSH buckets / shared-shingle pairs with a document-frequency cutoff),
  * which is how MinHash dedup is run on web-scale corpora (RefinedWeb /
  * SlimPajama style).
  */
object Dedup {

  /** q30: exact dedup — group identical texts by a 128-bit content hash
    * (md5 of the UTF-8 bytes; byte-identical in DuckDB), keep the
    * smallest doc_id as canonical. The hash keeps shuffle rows narrow at
    * corpus scale. Width matters: an earlier version grouped on the
    * 30-bit portable fingerprint and a 100× amplification run (500k
    * docs) produced ~844 birthday collisions — false merges an exact
    * dedup must not have. The rolling fingerprint remains the right tool
    * for order-sensitive similarity (q38), not identity. */
  def q30ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  /** Per-(doc, word) distinct tokens — the common prefix of the hashing
    * dedupers. */
  private def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Portable.tokenize(col("text"))).as("word"))
      .distinct()

  /** Fixed MinHash band parameters (a, b) — shared literally with the
    * oracle SQL. 8 hash functions h_j(x) = (a_j * x + b_j) mod P. */
  val minhashBands: Seq[(Int, Long, Long)] = Seq(
    (0, 1000003L, 12345L), (1, 999983L, 54321L), (2, 850021L, 98765L),
    (3, 774047L, 13579L), (4, 655243L, 24680L), (5, 524287L, 86420L),
    (6, 433003L, 11111L), (7, 334213L, 99999L))

  /** q31: MinHash signatures — for each doc and each of 8 hash bands,
    * min((a*h(word)+b) mod P) over the doc's distinct words. Equal
    * signatures in a band = LSH candidate bucket. The 8 band minima are
    * static aggregate columns over one row per (doc, word-hash) —
    * unpivoted to (doc, band, minhash) AFTER aggregation, so the
    * pre-shuffle row count is O(doc tokens), not ×8 (same lesson as
    * q32: the bands-table cross join cost 8× shuffle rows at a 100×
    * corpus). */
  def q31MinHashSig(spark: SparkSession, dir: String): DataFrame = {
    val mins = minhashBands.map { case (band, a, b) =>
      min((col("h") * a + b) % Portable.P).as(s"m$band")
    }
    docTokens(spark, dir)
      .withColumn("h", Portable.tokenId(col("word")))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array(minhashBands.map { case (band, _, _) => col(s"m$band") }: _*))
          .as(Seq("band", "minhash")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("minhash"))
      .orderBy("doc_id", "band")
  }

  /** q32: 16-bit SimHash — each distinct word votes ±1 on each bit of
    * its hash; bit set iff the vote sum is positive. The 16 bit-votes
    * are 16 static aggregate columns over one (doc, word-hash) row —
    * NOT a ×16 bits-table join: at a 100×-amplified corpus the join
    * form pushed 240M rows through the shuffle (11s) where this shape
    * shuffles O(docs) partial-agg buffers. */
  def q32SimHash(spark: SparkSession, dir: String): DataFrame = {
    val votes = (0 until 16).map { b =>
      sum(when((col("h").divide(lit(1L << b))).cast("long") % 2 === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    val simhash = (0 until 16)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    docTokens(spark, dir)
      .withColumn("h", Portable.tokenId(col("word")))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
      .orderBy("doc_id")
  }

  /** q33: n-gram Jaccard near-dup candidates — 4-word shingles,
    * Jaccard = |∩| / (|A|+|B|-|∩|), keep the top-20 most similar pairs.
    * Candidates come from the shingle inverted index by [[bucketPairs]]
    * (never a doc × doc self-join); bucketing needs only shingle
    * equality, so shingles are native 64-bit hashes (plans.ShingleHashes)
    * and no shingle string is built. The df ≤ 50 cutoff is prefix
    * filtering: it bounds the pair fanout per shingle and drops only
    * stop-shingles that carry no dedup signal (part of the operator
    * contract, mirrored in the oracle). Shingle width matters at scale:
    * on this corpus 3-grams produce ~1.3M candidate pairs, 4-grams ~50k
    * — same knob that keeps web-scale MinHash dedup tractable. */
  def q33NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    shingleJaccardPairs(Tables.documents(spark, dir), k = 4, dfCap = 50)
      .orderBy(desc("jaccard"), asc("id_a"), asc("id_b"))
      .limit(20)

  /** Embedding-simhash blocking constants. `nBands` bands of `bandBits`
    * sign bits each; bit j is the sign of the dot product with a fixed
    * ±1 hyperplane over the first `planeDim` dimensions. Wider bands
    * (8 bits = 256 buckets/band) keep bucket occupancy ~N/256 per band;
    * `bucketCap` is the contract's hard bound on per-bucket fanout —
    * buckets larger than the cap carry no near-dup signal (they are the
    * blocking analogue of q33's stop-shingle df cutoff). */
  val planeDim = 64
  val nBands = 4
  val bandBits = 8
  val bucketCap = 200

  /** splitmix64 — the standard public-domain 64-bit finalizer (Steele et
    * al., "Fast splittable pseudorandom number generators"). A linear
    * hash's parity is itself linear (an earlier attempt made all 32
    * hyperplanes identical); this mixes properly. */
  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic ±1 hyperplanes, plane j = `simhashPlanes(j)`. The
    * same literals are inlined into the DuckDB oracle SQL (SparkEntry) —
    * shared randomness, the same contract style as [[minhashBands]]. */
  val simhashPlanes: Array[Array[Double]] =
    Array.tabulate(nBands * bandBits, planeDim) { (j, i) =>
      if ((splitmix64((j * planeDim + i).toLong) & 1L) == 0L) 1.0 else -1.0
    }

  /** Unpivoted simhash band table (vec_id, band, val) for an embedding
    * table (vec_id, v: array&lt;double&gt;). All 32 dots in one nested HOF:
    * transform over the 32-plane literal, each an order-deterministic
    * fold of zip_with products. Interpreted (HOFs skip codegen) but
    * shuffle-free and O(rows · bits · dim); unpivot happens AFTER the
    * per-row computation (the q31/q32 lesson: never multiply rows
    * before aggregation/shuffle). Shared by the near-dup pair
    * generator and the blocked kNN join.
    *
    * Dimension contract: the signature reads the FIRST `planeDim` dims
    * (vectors are sliced, so longer embeddings — e.g. 100-dim Word2Vec
    * output — work; without the slice zip_with would null-pad the
    * shorter side and every dot product would silently collapse to
    * bucket 0). Vectors SHORTER than planeDim still degenerate that
    * way and are a contract violation; the DuckDB twin assumes exactly
    * planeDim. */
  def simhashBandTable(e: DataFrame, bands: Int = nBands): DataFrame = {
    // Round 11: the 32-dot projection is the native codegen'd
    // graft.plans.SimhashBands expression — bit-identical band values
    // to the HOF `transform(planes, p -> aggregate(zip_with(...)))`
    // form it replaced (DedupSimilaritySpec pins equality incl. the
    // short/null/NaN/long-vector lanes). The round-11 bench regen
    // roughly HALVED every banded query (q86 4.17->2.76s, q49
    // 0.82->0.31, q61 0.99->0.37, q203 1.01->0.44; SCALING.md), and
    // the projection is the one stage that is pure per-row CPU on
    // EVERY corpus row — the share that grows with corpus size.
    e.select(col("vec_id"),
      posexplode(graft.plans.SimhashBands.bands(col("v"), bands))
        .as(Seq("band", "val")))
  }

  /** Ordered id pairs (id_a, id_b) of every bucket — the rows of
    * `keyed` sharing one value of `keys`, a null key being one value —
    * that holds 2..`cap` non-null bigint `id`s: every pair by sorted
    * position i < j, so a duplicated id pairs with itself and once per
    * copy with the others. That is the pair multiset of the
    * `collect_list` bucket form (HofSpecs.bucketPairs); callers dedupe
    * or count. The paper's map → shuffle → reduce: hash-partition on
    * `keys`, sort by (`keys`, `id`), then a streaming scan over each run
    * of equal keys (by value; callers key on integral columns) that
    * holds at most `cap` ids and yields its pairs lazily. */
  def bucketPairs(keyed: DataFrame, keys: Seq[String], id: String, cap: Int): DataFrame = {
    val nk = keys.size
    keyed.select((keys :+ id).map(col): _*)
      .repartition(keys.map(col): _*)
      .sortWithinPartitions((keys :+ id).map(col): _*)
      .mapPartitions { (part: Iterator[Row]) =>
        val rows = part.buffered
        val ids = new Array[Long](cap)
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
          val key = Array.tabulate[Any](nk)(rows.head.get)
          var n = 0
          while (rows.hasNext && (0 until nk).forall(k => rows.head.get(k) == key(k))) {
            val r = rows.next()
            if (!r.isNullAt(nk)) { if (n < cap) ids(n) = r.getLong(nk); n += 1 }
          }
          if (n < 2 || n > cap) Iterator.empty
          else Iterator.range(0, n - 1)
            .flatMap(i => Iterator.range(i + 1, n).map(j => (ids(i), ids(j))))
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("id_a", "id_b")
  }

  /** Distinct ordered candidate pairs (id_a < id_b) of an unpivoted band
    * table (vec_id, band, val): [[bucketPairs]] on (band, val) under
    * `bucketCap`, deduplicated since a pair can share several bands. Its
    * oracle twin is SparkEntry.simhashCandCte; keep them in lockstep. */
  def candidatePairs(ub: DataFrame): DataFrame =
    bucketPairs(ub, Seq("band", "val"), "vec_id", bucketCap).distinct()

  /** Blocked-exact embedding near-dup — the scale-safe declared form of
    * q49. Candidates are pairs sharing at least one of `nBands` simhash
    * band values; survivors are scored with EXACT cosine and filtered at
    * `minCosine`. Semantics are "blocked-exact" by contract: a pair in
    * the output has its true cosine (no approximation), and a pair is
    * eligible iff the banding blocks it together — deterministic, so the
    * oracle reproduces it bit-for-bit.
    *
    * Scale shape: the signature is a pure per-row projection (one HOF
    * fold per plane, no shuffle, order-deterministic so the sign matches
    * the oracle's sequential dot product); then ONE shuffle on
    * (band, value) with `bucketCap` bounding per-bucket pair fanout, a
    * distinct on candidate pairs, and two key joins to rescore. No
    * doc × doc join anywhere — the plan the O(N²/2) theta-join version
    * (now DedupSimilaritySpec's brute-force reference) could never be.
    *
    * Recall is geometry-dependent: ~0.99 for true near-dups (cos ≥ 0.95)
    * but low in the isotropic-noise tail near the threshold — measured
    * against the exact baseline in DedupSimilaritySpec.
    *
    * @param e (vec_id: long, v: array&lt;double&gt;) */
  def blockedEmbeddingNearDup(e: DataFrame, minCosine: Double): DataFrame = {
    import graft.plans.CosineSim
    val pairs = candidatePairs(simhashBandTable(e))
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(CosineSim.cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b"))
  }

  /** q49: embedding-cosine near-duplicates, blocked-exact (simhash-band
    * candidate generation + exact cosine rescoring) at threshold 0.45.
    * Replaced the all-pairs theta-join form, which planned as a
    * BroadcastNestedLoopJoin with O(N²/2) cosine evaluations (measured:
    * 212 s at 20k vectors) — that form survives as the brute-force
    * reference in DedupSimilaritySpec. */
  def q49EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    blockedEmbeddingNearDup(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      minCosine = 0.45)

  /** q257: coarse-quantizer refinement audit for the banded blocker —
    * the composition question a 100 TB dedup owner actually asks: if
    * the q49 candidate join ANDed a cheap IVF-cell agreement onto the
    * simhash-band match (candidates must share a band value AND the
    * seeded Lloyd cell), how much of the exact-rescore bill disappears,
    * and how many found duplicates walk out with it? Refined candidates
    * are a strict SUBSET of the banded set (the filter applies on top
    * of the SAME capped generator), so both deltas are plain count
    * arithmetic on one verdict frame: cand_kept_ratio prices the
    * cosine-kernel bill cut, dup_kept_ratio prices the recall — dups
    * lost are exactly the high-cosine pairs straddling a Voronoi
    * boundary, the classic blocking tension quantified. One row out.
    *
    * Scale shape: the q49 generator + ONE seeded fit/assignment (both
    * already-audited plans), one |candidates|-row verdict projection,
    * one global fold — nothing new shuffles. Deterministic end to end
    * (seeded fit, capped buckets, 6-dp cosines) → oracle-replayed by
    * the shared simhash-candidate + kmeans CTE chains. */
  def q257CellRefinedBlocking(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSim
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cells = KMeans.assign(e, KMeans.fit(e))
      .select(col("vec_id"), col("cluster"))
    val verdicts = candidatePairs(simhashBandTable(e))
      .join(cells.select(col("vec_id").as("id_a"), col("cluster").as("ca")), "id_a")
      .join(cells.select(col("vec_id").as("id_b"), col("cluster").as("cb")), "id_b")
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(
        (col("ca") === col("cb")).cast("long").as("same_cell"),
        (round(CosineSim.cosine(col("va"), col("vb")), 6) >= 0.45)
          .cast("long").as("is_dup"))
    verdicts.agg(
        count(lit(1)).as("n_cand_band"),
        sum("same_cell").as("n_cand_refined"),
        sum("is_dup").as("n_dups_band"),
        sum(col("same_cell") * col("is_dup")).as("n_dups_refined"))
      .select(col("n_cand_band"), col("n_cand_refined"),
        round(col("n_cand_refined").cast("double") / col("n_cand_band"), 6)
          .as("cand_kept_ratio"),
        col("n_dups_band"), col("n_dups_refined"),
        (col("n_dups_band") - col("n_dups_refined")).as("n_dups_lost"),
        when(col("n_dups_band") > 0,
          round(col("n_dups_refined").cast("double") / col("n_dups_band"), 6))
          .as("dup_kept_ratio"))
  }

  /** Fold count for the q259 cluster-aware split. */
  val KFoldK = 5

  /** q259: cluster-aware (group) k-fold assignment — sklearn's
    * GroupKFold applied to the dedup graph, the train/eval hygiene
    * step the split family was missing: q62 buckets docs by CONTENT
    * hash, but two near-duplicates have different content hashes and
    * can land in different folds, leaking one fold's answers into
    * another's training half. Here the fold key is the q68 CLUSTER
    * canonical (connected near-dup groups travel as one unit; every
    * unpaired doc is its own singleton group), so cross-fold leakage
    * through the near-dup graph is ZERO BY CONSTRUCTION — and the
    * report prices what the naive per-doc split would have leaked
    * beside it (clusters straddling naive folds and the docs in them).
    * Per fold: docs, tokens, clustered docs; the audit constants ride
    * every row.
    *
    * Scale shape: the q49/q68 machinery (already audited), one hash
    * projection per doc, an O(clusters) audit fold and an O(k) output
    * group — nothing new shuffles beyond the cluster join. Hash =
    * the q216 arm chain on the group id, mod [[KFoldK]] — exact
    * integer arithmetic both engines replay. */
  def q259GroupKfold(spark: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val mem = Graph.connectedComponents(
        q49EmbeddingNearDup(spark, dir).select("id_a", "id_b"))
      .select(col("id").as("doc_id"), col("label").as("grp0"))
    val f = docs.join(mem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("grp0"), col("doc_id")).as("grp"),
        col("grp0").isNotNull.cast("long").as("clustered"))
      .withColumn("fold",
        pmod(pmod(col("grp"), lit(P)) * lit(1000003L), lit(P)) % KFoldK)
      .withColumn("nfold",
        pmod(pmod(col("doc_id"), lit(P)) * lit(1000003L), lit(P)) % KFoldK)
      .localCheckpoint(true) // the closure feeds folds + the audit
    val multi = f.groupBy("grp")
      .agg(count(lit(1)).as("sz"),
        countDistinct("fold").as("gdf"),
        countDistinct("nfold").as("ndf"))
      .filter(col("sz") >= 2)
    val aud = multi.agg(
      count(lit(1)).as("n_clusters_multi"),
      coalesce(sum((col("ndf") > 1).cast("long")), lit(0L)).as("n_split_naive"),
      coalesce(sum((col("gdf") > 1).cast("long")), lit(0L)).as("n_split_group"),
      coalesce(sum(when(col("ndf") > 1, col("sz")).otherwise(0L)), lit(0L))
        .as("n_docs_in_split_naive"))
    f.groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("clustered").as("n_clustered_docs"))
      .crossJoin(broadcast(aud))
      .orderBy("fold")
  }

  /** q68: dedup CLUSTER resolution — the step after pair generation
    * that an actual dedup pipeline needs: near-dup pairs (the q49 edge
    * list) resolved into groups via [[Graph.connectedComponents]], with
    * the minimum vec_id elected canonical. A pipeline keeps the
    * canonical row per cluster and drops the rest; pairs alone can't
    * tell you that (A~B, B~C must collapse to ONE survivor even when
    * A~C was never emitted). Only vectors that appear in some pair are
    * listed — everything else is trivially its own singleton. */
  def q68DedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(q49EmbeddingNearDup(spark, dir).select("id_a", "id_b"))

  /** q68's resolution tail from any (id_a, id_b) pair list: the
    * connectedComponents + canonical-election body. */
  private def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val comp = Graph.connectedComponents(pairs)
    val sizes = comp.groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_members"))
    comp.select(col("id").as("vec_id"), col("label").as("cluster"))
      .join(sizes, "cluster")
      .select(col("vec_id"), col("cluster"), col("n_members"),
        (col("vec_id") === col("cluster")).cast("long").as("is_canonical"))
      .orderBy("cluster", "vec_id")
  }

  /** q73: INCREMENTAL ingest dedup — the shape a production pipeline
    * actually runs: a small incoming shard is checked against the huge
    * existing corpus index, not the corpus against itself. Every batch
    * doc is classified `dup_corpus` (content hash already indexed — the
    * existing corpus row stays canonical), `dup_batch` (first seen
    * earlier IN this shard) or `new`, with the canonical doc_id it
    * resolves to. The shard here is the deterministic doc_id % 10 == 7
    * slice; the other 90% of `documents` plays the corpus index.
    *
    * Scale shape — the asymmetry is the whole point: shard ≪ corpus, so
    * the shard's distinct hash set BROADCASTS and the corpus streams
    * past it in one scan (left-semi) with **zero corpus shuffle**; only
    * the matched hashes (≤ shard cardinality) are aggregated and joined
    * back, also broadcast. Intra-shard firsts are one window over the
    * shard alone. A deployed index would serve the same contract from a
    * stored hash table with a bloom-filter pre-screen — the runtime
    * bloom pruning demonstrated in ScaleSpec is exactly that screen. */
  def q73IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val matched = corpus
      .join(broadcast(batch.select("content_hash").distinct()), Seq("content_hash"), "left_semi")
      .groupBy("content_hash").agg(min("doc_id").as("corpus_canonical"))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("content_hash")
    batch
      .withColumn("batch_min", min("doc_id").over(byHash))
      .join(broadcast(matched), Seq("content_hash"), "left")
      .select(
        col("doc_id"),
        when(col("corpus_canonical").isNotNull, lit("dup_corpus"))
          .when(col("doc_id") > col("batch_min"), lit("dup_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("corpus_canonical"), col("batch_min")).as("canonical_id"))
      .orderBy("doc_id")
  }

  /** q77: MinHash calibration — the sketch-quality audit a dedup
    * deployment runs before trusting signature agreement as a Jaccard
    * proxy: for a deterministic pair set (adjacent doc ids — cheap,
    * reproducible, and spanning the low-similarity spectrum random
    * pairs live in), compare the 8-band MinHash agreement estimate
    * against the EXACT word-set Jaccard and report the error. If
    * |est − jaccard| drifts, the band count is too low for the corpus'
    * similarity profile (E[est] = jaccard, σ = √(J(1−J)/8)).
    *
    * Scale shape: signatures are the q31 aggregate (one O(doc tokens)
    * shuffle); the exact intersection joins the token table to itself
    * on the COMPOSITE key (word, doc_id+1=doc_id) — both sides hash on
    * (word, id), so a stop-word appearing in every doc produces no
    * fanout (keying on word alone would quadratically explode on
    * high-df words at corpus scale). */
  def q77MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(spark, dir)
    val mins = minhashBands.map { case (band, a, b) =>
      min((col("h") * a + b) % Portable.P).as(s"m$band")
    }
    val sigs = toks.withColumn("h", Portable.tokenId(col("word")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), mins: _*)
    val inter = toks.as("a")
      .join(toks.as("b"),
        col("a.word") === col("b.word") && col("a.doc_id") + 1 === col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"))
      .agg(count(lit(1)).as("n_inter"))
    val nEqual = (0 until minhashBands.size)
      .map(k => when(col(s"sa.m$k") === col(s"sb.m$k"), 1).otherwise(0))
      .reduce(_ + _)
    sigs.as("sa")
      .join(sigs.as("sb"), col("sa.doc_id") + 1 === col("sb.doc_id"))
      .join(inter, col("sa.doc_id") === col("id_a"), "left")
      .select(
        col("sa.doc_id").as("id_a"),
        col("sb.doc_id").as("id_b"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("sa.n_words") + col("sb.n_words") - coalesce(col("n_inter"), lit(0L))), 6)
          .as("jaccard"),
        (nEqual.cast("double") / minhashBands.size).as("est"))
      .withColumn("abs_err", round(abs(col("jaccard") - col("est")), 6))
      .orderBy("id_a")
  }

  /** q78: SemDeDup-style semantic prune — partition the embedding space
    * into cells, elect one anchor per cell, and mark every member whose
    * cosine to its cell's anchor clears the near-dup threshold
    * (SemDeDup, Abbas et al. 2023: semantic dedup = drop all-but-one of
    * each tight cluster; duplicates this cheap pass misses across cell
    * boundaries are q49/q68's job). Production SemDeDup uses k-means
    * cells (the q45 IVF machinery); the declared query uses the first
    * 8-bit simhash band as a DETERMINISTIC cell id so the oracle can
    * reproduce the partition — the algebra (cell → anchor → cosine →
    * threshold) is identical either way.
    *
    * Scale shape: cell assignment is per-row projection; anchor
    * election is a 256-group aggregate (partial agg collapses it before
    * the shuffle); anchors then BROADCAST back — no doc×doc join, one
    * O(rows) shuffle total. */
  def q78SemanticPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSim
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // bands = 1: only the 8 cell planes are evaluated — the dots HOF is
    // interpreted per-row work, so computing the other 24 planes to
    // throw them away cost ~4x (measured 1.8s -> 0.6s at sf0.1)
    val cells = simhashBandTable(e, bands = 1)
      .select(col("vec_id"), col("val").as("cell"))
    val anchors = cells.groupBy("cell").agg(min("vec_id").as("anchor_id"))
    val anchorVecs = anchors
      .join(e.select(col("vec_id").as("anchor_id"), col("v").as("av")), Seq("anchor_id"))
    cells.join(e, Seq("vec_id"))
      .join(broadcast(anchorVecs), Seq("cell"))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("vec_id"), col("cell"), col("anchor_id"),
        round(CosineSim.cosine(col("v"), col("av")), 6).as("cos_anchor"))
      .withColumn("is_dup", col("cos_anchor") >= 0.45)
      .orderBy("vec_id")
  }

  /** Thresholded text near-dup edge list — the q33 blocked shape
    * (native shingle hashes, bucketed pair generation, df ≤ `dfCap`
    * bound) without q33's top-k contract: every ordered pair whose
    * rounded shingle-set Jaccard clears `minJaccard`. The edge list is
    * materialized via localCheckpoint — the Graph CC pattern, since
    * the edge list (unlike q33's LIMIT 20) is not driver-bounded. */
  def textNearDupEdges(docs: DataFrame, k: Int, dfCap: Int, minJaccard: Double): DataFrame =
    shingleJaccardPairs(docs, k, dfCap)
      .filter(col("jaccard") >= minJaccard)
      .localCheckpoint(true)

  /** Shared pair-generation plan over the doc corpus: the df-capped
    * shingle buckets of [[bucketPairs]], counted per pair into |∩| and
    * scored with shingle-set Jaccard. Set sizes come from a narrow
    * per-doc projection: the hashes are deduped per doc, so the array
    * length is the distinct-shingle count, and a doc with no shingles
    * can never appear in a pair, so filtering it keeps the inner joins
    * identical. */
  private def shingleJaccardPairs(docs: DataFrame, k: Int, dfCap: Int): DataFrame = {
    val hashes = graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), k)
    // the shingle kernel touches every corpus token: run it ONCE for
    // the inverted index and the set sizes. EAGER checkpoint: a lazy one
    // materialized inside the consuming action, where the size broadcast
    // and the shuffle map stage computed the same partition concurrently.
    val base = docs.select(col("doc_id"), hashes.as("hs"))
      .localCheckpoint(true)
    val pairs = bucketPairs(base.select(col("doc_id"), explode(col("hs")).as("shingle")),
        Seq("shingle"), "doc_id", dfCap)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    // sizes is O(docs): the probe joins go through the size guard on
    // plan statistics, which costs no Spark job (a row count costs two)
    val sizes = base
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"))
      .filter(col("n_sh") > 0)
    pairs
      .join(Guard.modelBroadcast(
        sizes.select(col("doc_id").as("id_a"), col("n_sh").as("size_a"))), "id_a")
      .join(Guard.modelBroadcast(
        sizes.select(col("doc_id").as("id_b"), col("n_sh").as("size_b"))), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter") / (col("size_a") + col("size_b") - col("inter")), 6).as("jaccard"))
  }

  /** Shipped winnowing window for the q264 dedup mode — the q250
    * sweep's middle rung (keep_ratio ≈ 2/(w+1) ≈ 0.22, guarantee: any
    * shared run of ≥ w+WinnowK−1 = 11 words is caught). */
  val WinnowDedupW = 8

  /** q264: winnowed near-dup dedup — the q250 signature-size lever
    * APPLIED inside the q33 family, not just measured: candidate
    * generation runs on the winnowed minimizer signatures (the
    * ~2/(w+1) deterministic sample; at 100 TB the gram table is the
    * biggest artifact a shingle dedup shuffles, and this mode never
    * builds it — the selected hashes are ALL that is stored and ALL
    * that shuffles), then the exact Jaccard rescores the candidates
    * alone on their full distinct-gram sets, top-20 out (the q33
    * contract). The df ≤ 50 rarity cap applies to the STORED table —
    * the selected hashes — because in the production mode the full
    * gram table never exists to cap against.
    *
    * Contract (QueriesSpec): candidates are a SUBSET of the uncapped
    * shared-gram truth (every selected hash IS one of the doc's gram
    * hashes), and a planted duplicate pair sharing ≥ [[WinnowDedupW]]
    * +WinnowK−1 consecutive words is ALWAYS caught (Schleimer et al.
    * 2003, thm 1) with its exact Jaccard.
    *
    * Scale shape: grams + window-min are per-row kernels in one scan;
    * the inverted index shuffles ~0.22× of q33's bytes; buckets are
    * df-capped so pair fanout is bounded; the rescore joins the
    * candidate pairs (≪ N²) back to the per-doc gram arrays. */
  def q264WinnowedDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = TextAnalysis.winnowGrams(Tables.documents(spark, dir))
      .select(col("doc_id"), array_distinct(col("gh")).as("dg"),
        TextAnalysis.winnowSig(WinnowDedupW).as("sig"))
      .localCheckpoint(true) // feeds the inverted index + both rescore sides
    val cand = bucketPairs(base.select(col("doc_id"), explode(col("sig")).as("h")),
        Seq("h"), "doc_id", cap = 50)
      .distinct()
    cand
      .join(base.select(col("doc_id").as("id_a"), col("dg").as("dga")), "id_a")
      .join(base.select(col("doc_id").as("id_b"), col("dg").as("dgb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("dga"), col("dgb"))).cast("long").as("n_common"),
        size(col("dga")).cast("long").as("n_a"),
        size(col("dgb")).cast("long").as("n_b"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
      .orderBy(desc("jaccard"), asc("id_a"), asc("id_b"))
      .limit(20)
  }

  /** q86: multi-signal dedup resolution — real pipelines run SEVERAL
    * near-dup detectors (surface text, semantic embedding, URL, exact
    * hash) and must resolve the UNION of their edge lists into one
    * cluster decision, tracking which signal found what (a cluster only
    * the embedding signal sees is a paraphrase family; only the text
    * signal, boilerplate). Here: q33-shape text edges (4-gram Jaccard
    * ≥ 0.5) unioned with the q49 embedding edges (blocked-exact cosine
    * ≥ 0.45, vec_id keyed to doc_id by the data model), resolved via
    * [[Graph.connectedComponents]], min-id canonical — with per-cluster
    * signal provenance flags.
    *
    * Scale shape: both edge generators are the already-audited blocked
    * plans (no all-pairs anywhere); the union adds one distinct-shuffle
    * over O(edges); CC is the q68 machinery. Nothing new grows faster
    * than its inputs. */
  def q86HybridDedup(spark: SparkSession, dir: String): DataFrame = {
    // the two edge generators are independent — build them concurrently
    // ([[graft.Exec.overlap]]): the text side's eager checkpoint
    // otherwise serializes ahead of the embedding side's banding+rescore
    val Seq(text, emb) = graft.Exec.overlap(Seq(
      "q86 text near-dup edges" -> { () =>
        textNearDupEdges(
          Tables.documents(spark, dir).select("doc_id", "text"),
          k = 4, dfCap = 50, minJaccard = 0.5)
          .select(col("id_a"), col("id_b"),
            lit(1L).as("sig_text"), lit(0L).as("sig_emb"))
      },
      "q86 embedding near-dup edges" -> { () =>
        blockedEmbeddingNearDup(
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
          minCosine = 0.45)
          .select(col("id_a"), col("id_b"),
            lit(0L).as("sig_text"), lit(1L).as("sig_emb"))
          .localCheckpoint(true)
      }))
    // Materialize the union once: CC's iterative rounds and the flags
    // join both consume it, and without the checkpoint each consumer
    // would re-run BOTH edge generators (measured 6.5 s -> 5.3 s at
    // sf0.1; the remainder is the edge generators themselves plus CC's
    // per-round fixed cost).
    val edges = text.unionByName(emb)
      .groupBy("id_a", "id_b")
      .agg(max("sig_text").as("sig_text"), max("sig_emb").as("sig_emb"))
      .localCheckpoint(true)
    val comp = Graph.connectedComponents(edges.select("id_a", "id_b"))
    val members = comp.select(col("id").as("doc_id"), col("label").as("cluster"))
    val sizes = members.groupBy("cluster").agg(count(lit(1)).as("n_members"))
    val flags = edges
      .join(members.select(col("doc_id").as("id_a"), col("cluster")), "id_a")
      .groupBy("cluster")
      .agg(max("sig_text").as("has_text"), max("sig_emb").as("has_emb"))
    members.join(sizes, "cluster").join(flags, "cluster")
      .select(col("doc_id"), col("cluster"), col("n_members"),
        (col("doc_id") === col("cluster")).cast("long").as("is_canonical"),
        col("has_text"), col("has_emb"))
      .orderBy("cluster", "doc_id")
  }

  /** q42 (rows-only): MLlib MinHashLSH signatures over word sets — the
    * library-native LSH surface (model hashes are seeded but not
    * reproducible in DuckDB, so no SQL oracle; the approx-join path is
    * exercised in the test suite). */
  def q42MlMinHashLsh(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Portable.tokenize(col("text")).as("words"))
      .filter(size(col("words")) > 0) // MinHashLSH rejects all-zero vectors
    val cv = new CountVectorizer().setInputCol("words").setOutputCol("features")
      .setBinary(true).setMinDF(1.0)
    val vecs = cv.fit(docs).transform(docs)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(42L)
    val model = lsh.fit(vecs)
    model.transform(vecs)
      .select(col("doc_id"), posexplode(col("hashes")).as(Seq("table_id", "hvec")))
      .select(col("doc_id"), col("table_id").cast("long").as("table_id"),
        org.apache.spark.ml.functions.vector_to_array(col("hvec")).getItem(0).cast("long").as("hash"))
      .orderBy("doc_id", "table_id")
  }

  /** Jaccard threshold for [[q169SetSimJoin]]. */
  val SetSimTau = 0.8

  /** q169: EXACT set-similarity self-join at Jaccard ≥ [[SetSimTau]]
    * via prefix filtering (the PPJoin family, Xiao et al. 2008/
    * Chaudhuri et al. 2006) — the provably COMPLETE counterpart to
    * q33's df-capped candidates and q42's probabilistic MinHash: every
    * pair at the threshold is returned, no sketch error, no dropped
    * stop-shingles. The principle: order every doc's shingle set by a
    * GLOBAL frequency order (rarest first) and keep only the first
    * |d| − ⌈τ·|d|⌉ + 1 tokens as its prefix; two sets with J ≥ τ must
    * overlap within those prefixes (if the prefixes were disjoint, the
    * intersection is confined to the suffixes, too small to reach τ).
    * Candidates come from an inverted index over PREFIX tokens only,
    * plus the length filter τ·max(|a|,|b|) ≤ min(|a|,|b|); survivors
    * verify EXACTLY on the full sets.
    *
    * Scale shape: no global rank is materialized — (df, shingle) IS
    * the frequency order, so ordering is a per-doc sort_array after
    * one df join (shingle-keyed shuffles, O(corpus shingles)). The
    * inverted index holds only prefix occurrences (~(1−τ) of shingle
    * volume, and prefix tokens are the RAREST, so per-token fanout is
    * smallest where lists would be longest — the algorithm's whole
    * point); verification joins are candidate-bounded. A pathological
    * hot prefix token would be AQE-split (and τ bounds how common a
    * prefix token can usefully be). Doc shingle arrays are bounded by
    * doc length — the collect_list is per-doc, never cross-doc. */
  def q169SetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val tau = SetSimTau
    val sh = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(
        graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), 4))
        .as("shingle"))
      .persist() // df build + per-doc arrays both read it
    try {
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      val ordered = sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("toks"),
          sort_array(collect_list(col("shingle"))).as("set"))
        .withColumn("sz", size(col("toks")).cast("long"))
        .select(col("doc_id"), col("sz"), col("toks"), col("set"))
        .localCheckpoint() // O(docs); feeds prefixes AND verification
      val prefixes = ordered
        .select(col("doc_id"), col("sz"),
          explode(slice(col("toks"), lit(1),
            (col("sz") - ceil(col("sz") * tau) + 1).cast("int"))).as("t"))
        .select(col("doc_id"), col("sz"), col("t.shingle").as("shingle"))
      val cands = prefixes.as("a").join(prefixes.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id") &&
            greatest(col("a.sz"), col("b.sz")) * tau <=
              least(col("a.sz"), col("b.sz")).cast("double"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val ta = ordered.select(col("doc_id").as("id_a"),
        col("set").as("set_a"), col("sz").as("size_a"))
      val tb = ordered.select(col("doc_id").as("id_b"),
        col("set").as("set_b"), col("sz").as("size_b"))
      val out = cands.join(ta, "id_a").join(tb, "id_b")
        .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
          size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("inter"))
        .filter(col("inter") / (col("size_a") + col("size_b") - col("inter")) >= tau)
        .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"), col("inter"),
          round(col("inter") / (col("size_a") + col("size_b") - col("inter")), 6)
            .as("jaccard"))
        .orderBy("id_a", "id_b")
      // materialize EAGERLY so the shingle cache can release — but on
      // the EXECUTORS (localCheckpoint), never the driver: a driver
      // collect here OOMed on the 100×-amplified corpus, where every
      // doc carries 100 verbatim copies and the τ=0.8 answer is ~25M
      // pairs (C(100,2) × originals) — the result is bounded by the
      // near-dup POPULATION, which an adversarial corpus controls
      out.localCheckpoint()
    } finally sh.unpersist()
  }

  /** q178: cross-source shingle containment — the provenance question
    * the SYMMETRIC measures (q33 Jaccard, q120 divergence) can't
    * answer: "what fraction of source A's distinct 4-gram shingles
    * also appear in source B", which is directional — a small feed
    * scraped from a big one shows high containment A→B with near-zero
    * Jaccard (Broder's containment vs resemblance distinction). This
    * is the source-level plagiarism/mirror audit a mix planner runs
    * before counting two feeds as independent.
    *
    * Plan: native [[graft.plans.ShingleHashes]] per doc (no shingle
    * strings ever), dedup to (source, shingle) — the corpus collapses
    * to the source-level shingle-set relation — then ONE shuffle on
    * shingle joins the ≤|sources| owners of each shingle into ordered
    * pairs; per-source set sizes are a broadcast. Output is
    * O(sources²). Exact at this scale; at 100 TB the q33 df-cap (drop
    * shingles in >K sources) bounds the per-shingle fanout at K²
    * pairs — it biases containment DOWN by at most the capped-shingle
    * share, the documented tradeoff. */
  def q178SourceContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(
        graft.plans.ShingleHashes.shingleHashes(split(col("text"), " "), 4))
        .as("shingle"))
      .distinct() // (source, shingle): the whole downstream input
      .localCheckpoint()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.select(col("source").as("src_a"), col("shingle"))
      .join(sh.select(col("source").as("src_b"), col("shingle")), "shingle")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double") / col("n_a"), 6).as("containment_ab"),
        round(col("shared").cast("double") / col("n_b"), 6).as("containment_ba"))
      .orderBy("src_a", "src_b")
  }

  /** q201: dedup-cluster size distribution — the planning view OVER
    * the q68 resolution: how many clusters of each size the near-dup
    * graph resolves to, including the size-1 singletons q68's
    * edge-driven components never see (total vectors minus clustered
    * vectors). The histogram is what prices a dedup pass BEFORE it
    * runs — Σ(size−1) over sizes ≥ 2 is exactly the rows a keep-one-
    * per-cluster policy deletes, and a fat tail (one giant cluster)
    * is the q86-style template blob that deserves inspection, not
    * silent deletion.
    *
    * Cost is the q49 candidate generation + q68's checkpointed CC
    * rounds (both already bounded — banded candidates, vocabulary-free
    * cluster frames); the histogram folds the O(clustered vectors)
    * component table to O(distinct sizes), and the singleton row is
    * two counts. */
  /** q210: cross-source copy flow — which source PAIRS share exact-
    * duplicate content, and how much: the syndication/mirror map at
    * the hash grain (q178 measures fuzzy shingle containment; this is
    * verbatim copy flow — "who republishes whom", the thing a crawl
    * dedup policy keys source priorities on). The (source, hash)
    * DISTINCT frame self-joins on hash — fanout per hash is bounded by
    * the number of SOURCES carrying it (≤ source cardinality, not copy
    * count), so a 10⁶-copy boilerplate hash still produces at most
    * O(sources²) pair rows. O(source pairs) output. */
  def q210CopyFlow(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), md5(col("text").cast("binary")).as("h"))
      .distinct()
    sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_hashes"))
      .orderBy(desc("n_shared_hashes"), asc("src_a"), asc("src_b"))
  }

  /** q212: dedup threshold sensitivity — the decision curve over the
    * q49/q201 machinery: candidate-pair and affected-document counts
    * as the cosine threshold τ sweeps {0.45, 0.6, 0.75}, from ONE
    * banding + ONE exact rescoring pass (the τ filter is a post-score
    * predicate, so the sweep costs nothing extra). This is the number
    * a curation owner reads before picking τ: how many documents each
    * setting would pull into clusters — next to q203's recall, the
    * other axis of the same knob. */
  def q212DedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val scored = q49EmbeddingNearDup(spark, dir) // pairs with cos ≥ 0.45
      .select(col("id_a"), col("id_b"), col("cos_sim"))
      .localCheckpoint() // one banding+rescore feeds all three τ
    scored
      .select(col("id_a"), col("id_b"), col("cos_sim"),
        explode(array(lit(0.45), lit(0.6), lit(0.75))).as("tau"))
      .filter(col("cos_sim") >= col("tau"))
      .select(col("tau"), col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("member"))
      .groupBy("tau")
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
        countDistinct("member").as("n_docs_affected"))
      .orderBy("tau")
  }

  /** q203: banding recall curve — the q148 move applied to the DEDUP
    * ladder: for a bounded anchor block (the 200 lowest vec_ids), what
    * share of the TRUE ≥τ cosine pairs does q49's simhash banding block
    * together, at τ ∈ {0.45, 0.6, 0.75}? This is the knob-tuning
    * answer-quality number for the whole q49/q61/q68/q86/q201 family:
    * recall near 1.0 at high τ (true near-dups) and sagging toward the
    * 0.45 boundary is the designed trade — measured, not asserted, and
    * re-measured whenever bands/planes change.
    *
    * Ground truth costs anchors × corpus (the q34 broadcast-block
    * shape — the block is 200 rows at ANY corpus size, never N²); the
    * candidate side is the same one-shuffle banding q49 already runs.
    * Cosines round at 6 dp (CosineSim's oracle contract) before the τ
    * threshold. */
  def q203BandingRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSim
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val block = e.orderBy("vec_id").limit(200)
    val truth = broadcast(block.select(col("vec_id").as("ba"), col("v").as("va")))
      .join(e.select(col("vec_id").as("bb"), col("v").as("vb")),
        col("ba") =!= col("bb"))
      .select(least(col("ba"), col("bb")).as("id_a"),
        greatest(col("ba"), col("bb")).as("id_b"),
        round(CosineSim.cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= 0.45)
      .groupBy("id_a", "id_b").agg(max("cos").as("cos")) // in-block pairs hit twice
    val cand = candidatePairs(simhashBandTable(e))
      .withColumn("caught", lit(1L))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .select(col("cos"), coalesce(col("caught"), lit(0L)).as("caught"),
        explode(array(lit(0.45), lit(0.6), lit(0.75))).as("tau"))
      .filter(col("cos") >= col("tau"))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_true"),
        sum("caught").as("n_caught"))
      .withColumn("recall",
        round(col("n_caught").cast("double") / col("n_true"), 6))
      .orderBy("tau")
  }

  /** q204: quality-aware canonical election — q68 elects min-id per
    * cluster, which keeps an ARBITRARY copy; a curation pipeline should
    * keep the BEST copy. Per q68 near-dup cluster, elect the member
    * whose document carries the highest q37 quality (doc_id ties break
    * low — deterministic), and report the quality spread the election
    * spans: a wide spread is exactly the case where min-id election
    * silently kept a worse copy. Members without a matching document
    * (the q197 cross-modal containment caveat) participate with null
    * quality and lose every contest against a scored member.
    *
    * Cost: the q49/q68 machinery (bounded) + one broadcast-size
    * quality join at the CLUSTERED-vector grain (≪ corpus) + one
    * per-cluster rank window over member lists bounded by cluster
    * size. */
  def q204CanonicalElection(spark: SparkSession, dir: String): DataFrame = {
    val comp = Graph.connectedComponents(
      q49EmbeddingNearDup(spark, dir).select("id_a", "id_b"))
      .select(col("id").as("vec_id"), col("label").as("cluster"))
    val quality = TextAnalysis.qualityScored(
      Tables.documents(spark, dir).filter(col("text").isNotNull))
      .select(col("doc_id"), col("quality"))
    val members = comp.join(quality, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"), col("cluster"), col("quality"))
    val w = Window.partitionBy("cluster")
      .orderBy(desc_nulls_last("quality"), asc("vec_id"))
    members
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("vec_id"))).as("canonical_vec"),
        max(when(col("rk") === 1, col("quality"))).as("canonical_quality"),
        round(max("quality") - min("quality"), 6).as("quality_spread"),
        sum((col("rk") === 1 && col("vec_id") === col("cluster")).cast("long"))
          .as("same_as_minid"))
      .orderBy("cluster")
  }

  /** q246: canonical-election REGRET — the bill for q204's
    * observation. q68's production election keeps the min-id member
    * (cheap: no quality join on the keep path); q204 showed the
    * quality election can disagree. This query prices the
    * disagreement per cluster: the quality gap between the best
    * member and the min-id member actually kept (`regret`, ≥ 0 by
    * construction of the election order), whether the two elections
    * disagree at all, and the TOKEN mass each choice keeps/drops —
    * the number that decides whether a pipeline should pay for the
    * quality join at dedup time (regret ≈ 0 → min-id is free and
    * fine; a fat regret tail on big clusters → the quality election
    * pays for itself in kept training tokens). Members without a
    * matching document carry null quality/tokens (the q204 rule) and
    * lose every contest; null arithmetic propagates identically in
    * both engines.
    *
    * Cost: the q49/q68 machinery + the q204 quality join + one
    * per-cluster window — nothing beyond the passes it audits. */
  def q246ElectionRegret(spark: SparkSession, dir: String): DataFrame = {
    val comp = Graph.connectedComponents(
      q49EmbeddingNearDup(spark, dir).select("id_a", "id_b"))
      .select(col("id").as("vec_id"), col("label").as("cluster"))
    val qual = TextAnalysis.qualityScored(
      Tables.documents(spark, dir).filter(col("text").isNotNull))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val members = comp.join(qual, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"), col("cluster"), col("n_tokens"), col("quality"))
    val w = Window.partitionBy("cluster")
      .orderBy(desc_nulls_last("quality"), asc("vec_id"))
    members
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("vec_id") === col("cluster"), col("quality")))
          .as("minid_quality"),
        max(when(col("rk") === 1, col("vec_id"))).as("best_vec"),
        max(when(col("rk") === 1, col("quality"))).as("best_quality"),
        max(when(col("vec_id") === col("cluster"), col("n_tokens")))
          .as("tokens_kept_minid"),
        sum(when(col("vec_id") =!= col("cluster"), col("n_tokens")))
          .as("tokens_dropped_minid"))
      .select(col("cluster"), col("n_members"),
        (col("best_vec") =!= col("cluster")).cast("long").as("disagree"),
        col("minid_quality"), col("best_quality"),
        round(col("best_quality") - col("minid_quality"), 6).as("regret"),
        col("tokens_kept_minid"), col("tokens_dropped_minid"))
      .orderBy("cluster")
  }

  def q201ClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val comp = Graph.connectedComponents(
      q49EmbeddingNearDup(spark, dir).select("id_a", "id_b"))
      .localCheckpoint() // feeds the histogram + the clustered count
    val hist = comp.groupBy("label")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
    val totals = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("nv"))
      .crossJoin(broadcast(comp.agg(count(lit(1)).as("nc"))))
    val singletons = totals
      .select(lit(1L).as("cluster_size"),
        (col("nv") - col("nc")).as("n_clusters"),
        (col("nv") - col("nc")).as("n_docs"))
      .filter(col("n_clusters") > 0)
    singletons.union(hist)
      .withColumn("removable",
        when(col("cluster_size") >= 2,
          col("n_docs") - col("n_clusters")).otherwise(0L))
      .orderBy("cluster_size")
  }

  /** The (bands, rows-per-band) splits of the 8 MinHash functions a
    * banding planner can choose among — shared literally with the q222
    * oracle. */
  val BandingConfigs: Seq[(Int, Int)] = Seq((8, 1), (4, 2), (2, 4), (1, 8))

  /** q222: LSH banding PLANNER — the closed-form collision s-curve
    * p(s) = 1 − (1 − sʳ)ᵇ for every (b, r) split of the shipped 8
    * MinHash functions, beside each config's threshold s* = (1/b)^(1/r)
    * (Mining of Massive Datasets §3.4, the standard banding analysis).
    * q203 MEASURES what the shipped banding recalls on this corpus;
    * this is the a-priori curve you consult BEFORE re-hashing 100 TB
    * with a different (b, r) — pure arithmetic over a 19-point
    * similarity grid × 4 configs, no corpus scan at all.
    *
    * Parity: powers unroll to LEFT-ASSOCIATED multiplication chains
    * (sʳ = s·s·…, (1−sʳ)ᵇ likewise) and s* is spelled exp(ln(1/b)/r) —
    * cross-engine pow() bit-parity is NOT established, ln/exp and
    * products are (the q154/q155 precedent). */
  def q222BandingPlanner(spark: SparkSession, dir: String): DataFrame = {
    val grid = spark.range(1, 20)
      .select((col("id").cast("double") / 20.0).as("s"))
    BandingConfigs.map { case (b, r) =>
      val sr = (1 to r).map(_ => col("s")).reduce(_ * _)
      val qb = (1 to b).map(_ => lit(1.0) - sr).reduce(_ * _)
      grid.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        col("s"),
        round(lit(1.0) - qb, 6).as("p_collide"),
        round(exp(log(lit(1.0) / b) / lit(r.toDouble)), 6).as("s_threshold"))
    }.reduce(_ unionAll _)
      .orderBy("rows_per_band", "s")
  }

  /** q223: dedup threshold STABILITY — Rand index and adjusted Rand
    * index between the cluster resolutions at τ = 0.45 (the shipped
    * q49/q68 gate) and τ = 0.60: the "how much does my dedup decision
    * actually change if I tighten the gate" number that turns q212's
    * pair counts into a partition-level answer (pairs can shift a lot
    * while the de-duplicated corpus barely moves, and vice versa).
    * ARI ≈ 1 says the threshold choice is a non-event; ARI ≪ 1 says
    * the corpus sits exactly in the contested cosine band and the
    * gate needs the q203-style measured calibration.
    *
    * Scale shape: the banding + exact rescoring runs ONCE
    * (localCheckpoint), both closures run on the EDGE list (bounded by
    * candidates, never the corpus), and all pair-counting sums are
    * exact integers over the O(clusters²-joint) contingency cells —
    * C(n,2) terms carried ×2 (n(n−1)) so nothing divides until the
    * final closed-form doubles. Vectors on no 0.45-edge are singletons
    * in BOTH partitions — they agree trivially and only shift both
    * indices toward 1, so the report scopes to the contested universe
    * (documented; the oracle mirrors the same scope). */
  def q223ThresholdStability(spark: SparkSession, dir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs45 = blockedEmbeddingNearDup(e, 0.45)
      .select("id_a", "id_b", "cos_sim").localCheckpoint()
    val pairs60 = pairs45.filter(col("cos_sim") >= 0.6)
    // the two closures are independent round loops over the one edge
    // checkpoint — overlap them: each CC's per-round job fills the
    // other's driver gaps
    val Seq(c45, c60) = graft.Exec.overlap(Seq(
      "q223 components at 0.45" -> { () =>
        Graph.connectedComponents(pairs45.select("id_a", "id_b"))
          .select(col("id"), col("label").as("c45"))
      },
      "q223 components at 0.60" -> { () =>
        Graph.connectedComponents(pairs60.select("id_a", "id_b"))
          .select(col("id"), col("label").as("c60"))
      }))
    val assigned = c45.join(c60, Seq("id"), "left")
      .select(col("id"), col("c45"), coalesce(col("c60"), col("id")).as("c60"))
    val cells = assigned.groupBy("c45", "c60").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // O(joint clusters) rows, three consumers
    val sij = cells.agg(
      sum(d38(col("nij")) * (d38(col("nij")) - 1)).as("sij2"),
      sum(col("nij")).as("n"))
    val sa = cells.groupBy("c45").agg(sum(col("nij")).as("ai"))
      .agg(sum(d38(col("ai")) * (d38(col("ai")) - 1)).as("sa2"),
        count(lit(1)).as("k45"))
    val sb = cells.groupBy("c60").agg(sum(col("nij")).as("bj"))
      .agg(sum(d38(col("bj")) * (d38(col("bj")) - 1)).as("sb2"),
        count(lit(1)).as("k60"))
    val np45 = pairs45.agg(count(lit(1)).as("n_pairs_045"))
    val np60 = pairs60.agg(count(lit(1)).as("n_pairs_060"))
    sij.crossJoin(sa).crossJoin(sb).crossJoin(np45).crossJoin(np60)
      .select(coalesce(col("n"), lit(0L)).cast("long").as("n_vectors"),
        col("n_pairs_045"), col("n_pairs_060"),
        col("k45").as("n_clusters_045"), col("k60").as("n_clusters_060"),
        coalesce(col("n"), lit(0L)).cast("double").as("nd"),
        col("sij2").cast("double").as("sij2d"),
        col("sa2").cast("double").as("sa2d"),
        col("sb2").cast("double").as("sb2d"))
      .withColumn("rr", col("nd") * (col("nd") - 1))
      .withColumn("rand_index", round(when(col("rr") > 0,
        (col("rr") + lit(2.0) * col("sij2d") - col("sa2d") - col("sb2d"))
          / col("rr")), 6))
      .withColumn("expected", when(col("rr") > 0,
        col("sa2d") / 2.0 * (col("sb2d") / 2.0) / (col("rr") / 2.0)))
      .withColumn("denom", when(col("expected").isNotNull,
        (col("sa2d") / 2.0 + col("sb2d") / 2.0) / 2.0 - col("expected")))
      .withColumn("ari", round(when(
        col("denom").isNotNull && abs(col("denom")) > 0,
        (col("sij2d") / 2.0 - col("expected")) / col("denom")), 6))
      .select("n_vectors", "n_pairs_045", "n_pairs_060", "n_clusters_045",
        "n_clusters_060", "rand_index", "ari")
      .orderBy("n_vectors")
  }

  /** q226: encoder-consistency audit — docs with IDENTICAL text whose
    * embeddings disagree. Same input must embed to (numerically) the
    * same vector; a cosine below ~1 on an exact-dup pair means the
    * encoder is non-deterministic, version-drifted mid-backfill, or
    * the vector store is keyed wrong — a silent poison for every
    * ANN/dedup result built on the store, detectable ONLY by this
    * cross-check (each pipeline is self-consistent on its own).
    *
    * Scale shape: exact-dup pairs come from the q30 md5 groups as
    * CONSECUTIVE members per group (a lead() per hash — O(group)
    * pairs, never O(group²): consecutive pairs already witness every
    * group, since same-text ⇒ same expected vector is transitive);
    * two key joins fetch the vectors; O(sources) output. */
  def q226EncoderConsistency(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSim
    val w = Window.partitionBy("h").orderBy("doc_id")
    val pairs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("id_b", lead("doc_id", 1).over(w))
      .filter(col("id_b").isNotNull)
      .select(col("source"), col("doc_id").as("id_a"), col("id_b"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("source"),
        round(CosineSim.cosine(col("va"), col("vb")), 6).as("cos_sim"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_dup_pairs"),
        sum((col("cos_sim") < 0.999).cast("long")).as("n_mismatch"),
        min("cos_sim").as("min_cos"))
      .select(col("source"), col("n_dup_pairs"), col("n_mismatch"),
        round(col("n_mismatch").cast("double") / col("n_dup_pairs"), 6)
          .as("mismatch_rate"),
        col("min_cos"))
      .orderBy("source")
  }

  /** q227: dedup SIGNAL agreement — Cohen's κ between the two
    * independent near-dup verdicts the engine ships, measured on the
    * shared candidate universe (the q49 embedding banding): per pair,
    * (a) the TEXT verdict — ≥ 2 of the 8 q31 MinHash band minima equal
    * (the q42 LSH decision), and (b) the EMBEDDING verdict — exact
    * cosine ≥ 0.45 (the q49 gate). κ ≈ 0 means the q86 hybrid's two
    * signals fire on disjoint populations (both earn their keep);
    * κ ≈ 1 means one of the two passes is redundant cost at 100 TB.
    *
    * Scale shape: candidates from ONE capped bucket scan; MinHash
    * signatures are the q31 aggregate; two key joins + a single 2×2
    * cell fold — no doc×doc anywhere. κ algebra from exact integer
    * cells (the q191 shape, one global table). */
  def q227SignalAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.CosineSim
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cos = candidatePairs(simhashBandTable(e))
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(CosineSim.cosine(col("va"), col("vb")), 6).as("cos_sim"))
    val mins = minhashBands.map { case (band, a, b) =>
      min((col("h") * a + b) % Portable.P).as(s"m$band")
    }
    val sigs = docTokens(spark, dir)
      .withColumn("h", Portable.tokenId(col("word")))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
    val nEqual = minhashBands.indices
      .map(k => when(col(s"sa.m$k") === col(s"sb.m$k"), 1L).otherwise(0L))
      .reduce(_ + _)
    cos
      .join(sigs.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("id_b") === col("sb.doc_id"))
      .select((nEqual >= 2).as("a"), (col("cos_sim") >= 0.45).as("b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
      .select(col("n_pairs"), col("n11"), col("n10"), col("n01"), col("n00"),
        when(col("n_pairs") > 0,
          (col("n11") + col("n00")).cast("double") / col("n_pairs")).as("po"),
        when(col("n_pairs") > 0,
          ((col("n11") + col("n10")).cast("double") / col("n_pairs"))
            * ((col("n11") + col("n01")).cast("double") / col("n_pairs"))
            + ((col("n01") + col("n00")).cast("double") / col("n_pairs"))
            * ((col("n10") + col("n00")).cast("double") / col("n_pairs")))
          .as("pe"))
      .select(col("n_pairs"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
        round(when(col("pe") < 1.0,
          (col("po") - col("pe")) / (lit(1.0) - col("pe"))), 6).as("kappa"))
      .orderBy("n_pairs")
  }
}
