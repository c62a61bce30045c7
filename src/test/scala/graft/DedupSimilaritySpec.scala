package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Quantize, Similarity, MediaBlob}

/** Behavior tests for the dedup + similarity-search APIs on constructed
  * data with planted duplicates/neighbors. */
class DedupSimilaritySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"

  /** Local union-find ground truth: each id with an edge labeled with
    * the min id of its component. */
  private def unionFindLabels(edges: Seq[(Long, Long)], n: Int): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    ids.map(id => id -> ids.filter(o => find(o.toInt) == find(id.toInt)).min).toMap
  }

  /** q49's brute-force reference: every pair at cosine >= 0.45 via an
    * all-pairs theta-join — O(N²/2), a BroadcastNestedLoopJoin, so it
    * lives here and not on the query surface. */
  private def exactEmbeddingNearDupAllPairs(dir: String) = {
    import graft.plans.CosineSim
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(CosineSim.cosine(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.45)
  }

  test("q45b seeded IVF cells: every seed owns its cell and the histogram covers the corpus") {
    val rows = SparkEntry.queries("q45b_ivf_seeded_cells")(spark, TestSpark.sf0001).collect()
    val total = Tables.embeddings(spark, TestSpark.sf0001).count()
    assert(rows.map(_.getLong(0)).toList == (0L to 7L).toList,
      "all 8 seed cells must be non-empty — each seed assigns to itself")
    assert(rows.map(_.getLong(1)).sum == total, "every vector assigned exactly once")
    rows.foreach { r =>
      assert(r.getDouble(3) == 1.0,
        s"cell ${r.getLong(0)}: the seed's self-cosine must be the cell max")
    }
  }

  test("blocked-exact q49 is a subset of brute force with identical scores and no nested-loop join") {
    val blocked = Dedup.q49EmbeddingNearDup(spark, TestSpark.sf0001)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the declared near-dup query must not plan an all-pairs nested loop")
    val b = blocked.select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    val exact = exactEmbeddingNearDupAllPairs(TestSpark.sf0001)
      .select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
    // blocking never invents a pair, and survivors carry the EXACT cosine
    assert(b.subsetOf(exact), s"blocked produced non-exact pairs: ${b -- exact}")
  }

  test("blocked-exact near-dup recalls planted high-cosine duplicates") {
    // 64-dim corpus of seeded noise + 10 planted near-identical pairs
    // (tiny perturbation => cosine ~0.999). Band recall at cos >= 0.95 is
    // ~0.99 by the sign-agreement geometry; allow one miss.
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(Dedup.planeDim)(rnd.nextGaussian())
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val planted = (0 until 10).map { i =>
      val src = base(i)._2
      (100L + i, src.map(x => x + 0.02 * rnd.nextGaussian()))
    }
    val e = (base ++ planted).toDF("vec_id", "v")
    val found = Dedup.blockedEmbeddingNearDup(e, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert((expected -- found).size <= 1,
      s"blocking missed planted near-dups: ${expected -- found}")
    // and nothing in the noise should reach cosine 0.95
    assert(found.subsetOf(expected), s"false positives: ${found -- expected}")
  }

  test("connected components resolve a chain that pairwise edges never close") {
    import graft.operators.Graph
    // 1-2-3-4 is a path: (1,4) is never an edge, yet they must share a
    // cluster; {10,11} is separate. Diameter 3 forces multi-round
    // propagation (a one-round implementation would fail on node 4).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components match a local union-find on random graphs") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val got = Graph.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFindLabels(edges, n))
  }

  test("min-label components match union-find on a denser random graph") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(23)
    val n = 80
    val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val got = Graph.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFindLabels(edges, n))
  }

  test("q68 elects exactly one canonical (the min id) per near-dup cluster") {
    val rows = SparkEntry.queries("q68_dedup_clusters")(spark, TestSpark.sf0001).collect()
    if (rows.nonEmpty) {
      val byCluster = rows.groupBy(_.getLong(1))
      byCluster.foreach { case (cluster, members) =>
        assert(members.map(_.getLong(0)).min == cluster, "cluster label must be the min member id")
        assert(members.count(_.getLong(3) == 1L) == 1, "exactly one canonical per cluster")
        assert(members.forall(_.getLong(2) == members.length), "n_members must equal the group size")
        assert(members.length >= 2, "every clustered vector came from some pair")
      }
    }
  }

  test("exact dedup groups identical texts under one canonical id") {
    val docs = Seq((10L, "a b c"), (11L, "a b c"), (12L, "a b d"))
      .toDF("doc_id", "text")
    val grouped = docs
      .select(col("doc_id"), graft.functions.Portable.fingerprint(split(col("text"), " ")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(grouped == Map(10L -> 2L, 12L -> 1L))
  }

  test("simhash of near-identical docs differs in few bits; distinct docs differ more") {
    // run the q32 relational simhash over a tiny parquet-free path by
    // reusing the public query on sf0.001 is heavy; instead check the
    // bit-vote construction directly on word hashes
    val h = (w: String) => w.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % graft.functions.Portable.P)
    def simhash(words: Seq[String]): Long =
      (0 until 16).map { b =>
        val votes = words.map(w => if (((h(w) >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << b else 0L
      }.sum
    val a = base.split(" ").toSeq
    val b = base.replace("today", "tomorrow").split(" ").toSeq
    val c = "totally unrelated content with spark shuffles exchanges and aggregates".split(" ").toSeq
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(simhash(a), simhash(b)) <= hamming(simhash(a), simhash(c)))
  }

  test("as-of join picks the latest right row at or before each left time") {
    import graft.operators.AsOf
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 09:00:00"), 200L),  // before any right row
    ).toDF("key", "lt", "left_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), "a"),
      (1L, ts("2024-01-01 11:00:00"), "b"),
      (1L, ts("2024-01-01 12:00:00"), "c"),   // equal time: <= is inclusive
      (2L, ts("2024-01-01 23:00:00"), "z"),
    ).toDF("key", "rt", "tag")
    val got = AsOf.join(left, right, "key", "lt", "rt", Seq("tag"))
      .select("left_id", "tag").as[(Long, Option[String])].collect().toMap
    assert(got(100L) == Some("a"))
    assert(got(101L) == Some("c"))
    assert(got(200L) == None)
  }

  test("as-of join carries all payload columns from the SAME right row (null payloads stay null)") {
    import graft.operators.AsOf
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 12:00:00"), 100L)).toDF("key", "lt", "left_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), Some("a"), Some(5L)),
      (1L, ts("2024-01-01 11:00:00"), Some("b"), None),   // latest row: extra is null
    ).toDF("key", "rt", "tag", "extra")
    val row = AsOf.join(left, right, "key", "lt", "rt", Seq("tag", "extra"))
      .select("tag", "extra").head()
    assert(row.getString(0) == "b")
    assert(row.isNullAt(1), "null payload in the latest right row must not be backfilled from older rows")
  }

  test("line dedup keeps first occurrences and rebuilds cleaned text in order") {
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (0L, s"$segA $segB"),  // first occurrence of A and B
      (1L, s"$segA $segC"),  // A is a cross-doc duplicate -> dropped
      (2L, s"$segB $segA"),  // both duplicated -> everything dropped
      (3L, "short tail"))    // sub-width remainder segment, unique
      .toDF("doc_id", "text")
    // exercise the real operator end-to-end: write the constructed docs
    // as a documents table in a temp dir and point the query at it
    val dir = java.nio.file.Files.createTempDirectory("graft-linededup").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.q59LineDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((2L, 0L, s"$segA $segB")))
    assert(got(1L) == ((2L, 1L, segC)))
    assert(got(2L) == ((2L, 2L, "")))
    assert(got(3L) == ((1L, 0L, "short tail")))
  }

  test("simhash bands read the first planeDim dims of LONGER vectors (no null collapse)") {
    val rnd = new scala.util.Random(3)
    // 100-dim vectors (e.g. Word2Vec output) — wider than the 64-dim planes
    val e = (0 until 20).map(i => (i.toLong, Array.fill(100)(rnd.nextGaussian())))
      .toDF("vec_id", "v")
    val bands = Dedup.simhashBandTable(e).collect()
    assert(bands.length == 20 * Dedup.nBands)
    // degenerate zip_with null-padding would put EVERY vector in val=0
    assert(bands.map(_.getLong(2)).distinct.length > 1,
      "band values collapsed — dimension slice is broken")
  }

  test("native simhash_bands equals the HOF projection bit-for-bit, incl. degenerate lanes") {
    // the round-11 kernel promotion's parity gate: the codegen'd
    // SimhashBands expression must reproduce the HOF
    // transform(planes, p -> aggregate(zip_with(slice(v), p, *), 0, +))
    // + sign-packing form it replaced on every lane — real corpus
    // vectors, longer vectors, SHORT vectors (all-zero bands via
    // zip_with null-poisoning), vectors with null and NaN components.
    val rnd = new scala.util.Random(17)
    val fixtures: Seq[(Long, Seq[java.lang.Double])] =
      (0 until 50).map(i => (i.toLong,
        Seq.fill(Dedup.planeDim)(java.lang.Double.valueOf(rnd.nextGaussian())))) ++
      Seq(
        (100L, Seq.fill(100)(java.lang.Double.valueOf(rnd.nextGaussian()))),
        (101L, Seq.fill(10)(java.lang.Double.valueOf(1.0))),  // short
        (102L, Seq.tabulate(Dedup.planeDim)(j =>
          if (j == 7) null else java.lang.Double.valueOf(1.0))), // null elem
        (103L, Seq.tabulate(Dedup.planeDim)(j =>
          java.lang.Double.valueOf(if (j == 3) Double.NaN else 1.0)))) // NaN
    val e = fixtures.toDF("vec_id", "v")
    // the replaced HOF form, kept verbatim as the reference
    val want = HofSpecs.simhashBands(e, "v", Dedup.nBands, "b")
      .select(col("vec_id"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val got = e.select(col("vec_id"),
        graft.plans.SimhashBands.bands(col("v"), Dedup.nBands).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"vec $id: got ${got(id)}, want $w")
    }
    // the degenerate lanes: short/null-element vectors null-poison to
    // all-zero bands; a NaN component NaNs every dot and Spark's
    // NaN-sorts-greatest `>=` sets every bit (the HOF contract)
    Seq(101L, 102L).foreach(id =>
      assert(got(id) == List.fill(Dedup.nBands)(0L), s"vec $id not degenerate"))
    assert(got(103L) == List.fill(Dedup.nBands)(255L), "NaN lane must saturate")
    // null input stays null
    assert(e.filter(col("vec_id") === 0L)
      .select(graft.plans.SimhashBands.bands(lit(null).cast("array<double>"),
        Dedup.nBands)).head().isNullAt(0))
  }

  test("blocked kNN join ranks a planted near-duplicate as the top neighbor") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(Dedup.planeDim)(rnd.nextGaussian().toFloat)
    val base = (0 until 40).map(i => (i.toLong, vec()))
    val planted = (0 until 8).map { i =>
      (200L + i, base(i)._2.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-knnjoin").toString
    (base ++ planted).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top1 = Similarity.q61KnnJoin(spark, dir)
      .filter(col("rank") === 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    // a near-identical copy dominates isotropic noise; allow one banding miss
    val hits = (0 until 8).count(i => top1.get(200L + i).contains(i.toLong))
    assert(hits >= 7, s"planted originals not top-ranked: $top1")
  }

  test("chunk dedup content-addresses identical 64-byte chunks across payloads") {
    val block = "x" * 64 // one full chunk, shared by docs 0 and 1
    val docs = Seq(
      (0L, block + "tail-one"),
      (1L, block + "different-tail"),
      (2L, "y" * 40)) // unique, sub-chunk-size payload
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-chunks").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Multimodal.q60ChunkDedup(spark, dir).collect()
    // exactly one duplicated chunk: the shared 64-byte block
    assert(rows.length == 1)
    assert(rows(0).getString(0).matches("[0-9a-f]{32}"))
    assert(rows(0).getLong(1) == 2L && rows(0).getLong(2) == 64L && rows(0).getLong(3) == 64L)
  }

  test("q76 int8 quantization: exact levels on hand vectors, zero vector safe") {
    val e = Seq(
      (1L, Array(1.0, -0.5, 0.0, 0.25)),
      (2L, Array(0.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "v")
    val q = Quantize.quantized(e).orderBy("vec_id")
      .select("vec_id", "scale", "qvec").as[(Long, Double, Seq[Long])].collect()
    // scale = 1/127; -0.5 -> floor(-63.5 + 0.5) = -63; 0.25 -> floor(32.25) = 32
    assert(q(0)._2 == 1.0 / 127.0)
    assert(q(0)._3 == Seq(127L, -63L, 0L, 32L))
    assert(q(1)._3 == Seq(0L, 0L, 0L, 0L), "all-zero vector quantizes to zeros, no div-by-zero")
    // reconstruction bound: max-abs scaling never clips, so |v - q*scale| <= scale/2
    val err = q(0)._3.zip(Seq(1.0, -0.5, 0.0, 0.25)).map { case (qi, vi) => math.abs(vi - qi * q(0)._2) }
    assert(err.forall(_ <= q(0)._2 / 2 + 1e-15), s"per-dim error within half a level: $err")
  }

  test("q76 on real embeddings: cosine fidelity stays high, rmse within half a level") {
    val rows = SparkEntry.queries("q76_quantize_int8")(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, rmse, cosQ) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(rmse <= scale / 2 + 1e-12, "rmse is bounded by half a quantization level")
      assert(cosQ > 0.995, s"int8 must preserve cosine geometry, got $cosQ")
    }
  }

  test("q86 hybrid dedup: text and embedding edges merge transitively with provenance") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hybrid").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t4 = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def uniq(i: Int) = (1 to 10).map(j => s"u${i}w$j").mkString(" ")
    Seq(
      (1L, t1), (2L, t1),           // text duplicates 1-2
      (3L, uniq(3)),
      (4L, t4), (5L, t4),           // text duplicates 4-5
      (6L, uniq(6)), (7L, uniq(7))
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def onehot(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0f else -0.01f)
    val shared23 = Array.tabulate(64)(j => if (j % 2 == 0) 0.7f else -0.7f)
    val shared67 = Array.tabulate(64)(j => if (j % 3 == 0) 0.9f else -0.4f)
    Seq(
      (1L, onehot(1)),
      (2L, shared23), (3L, shared23),   // embedding duplicates 2-3
      (4L, onehot(4)), (5L, onehot(5)),
      (6L, shared67), (7L, shared67)    // embedding duplicates 6-7
    ).toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val got = Dedup.q86HybridDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // text 1-2 and embedding 2-3 chain into ONE cluster — the merge no
    // single-signal pass can make — flagged with both provenances
    assert(got(1L) == ((1L, 3L, 1L, 1L, 1L)), s"got $got")
    assert(got(2L) == ((1L, 3L, 0L, 1L, 1L)))
    assert(got(3L) == ((1L, 3L, 0L, 1L, 1L)))
    // single-signal clusters carry only their own flag
    assert(got(4L) == ((4L, 2L, 1L, 1L, 0L)), "text-only cluster")
    assert(got(6L) == ((6L, 2L, 1L, 0L, 1L)), "embedding-only cluster")
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("q84 sign bands: exact big-endian packing on hand vectors") {
    // dims 0-15 alternate +/- (first bit is the most significant),
    // 16-31 all positive, 32-47 all non-positive (zero is a 0 bit),
    // 48-63 only the first dim positive
    val v = (0 until 16).map(i => if (i % 2 == 0) 1.0 else -1.0) ++
      Seq.fill(16)(0.5) ++ Seq.fill(8)(0.0) ++ Seq.fill(8)(-0.5) ++
      (1.0 +: Seq.fill(15)(-1.0))
    val sig = Quantize.binarySignatures(Seq((1L, v.toArray)).toDF("vec_id", "v"))
      .select("b0", "b1", "b2", "b3").as[(Long, Long, Long, Long)].head()
    assert(sig == ((0xAAAAL, 0xFFFFL, 0L, 0x8000L)))
  }

  test("q84 binary-quantized retrieval: planted sign-identical twin is rank 1 at hamming 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bq").toString
    // deterministic pseudo-random 64-dim vectors: prime modulus > id
    // range so no two ids collide into the same vector, no exact zeros
    def vec(id: Long): Array[Float] =
      Array.tabulate(64)(j => (((id * 48271 + j * 16807) % 101) - 50.2).toFloat / 50.2f)
    val twin = vec(0L).map(x => x + math.signum(x) * 0.001f) // same signs as vec 0
    val rows = (0L until 60L).map(i => (i, vec(i))) :+ (100L, twin)
    rows.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val got = Quantize.q84BinaryQuantKnn(spark, dir).collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 10L).toSet, "one block per query vector")
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to 10L), "exactly ranks 1..10")
      assert(rs.forall(r => r.getLong(3) >= 0L && r.getLong(3) <= 64L), "hamming in [0, 64]")
    }
    val top0 = got.filter(r => r.getLong(0) == 0L && r.getLong(1) == 1L).head
    assert(top0.getLong(2) == 100L, "the sign-identical twin is retrieved first")
    assert(top0.getLong(3) == 0L, "twin signature is bit-identical -> hamming 0")
    assert(top0.getDouble(4) > 0.999, "exact re-rank confirms near-identity")
    assert(top0.getLong(5) == 1L, "the twin is also in the exact brute-force top-k")
  }

  test("q84 recall on real embeddings is measured, nonzero, and honest about BQ limits") {
    val got = SparkEntry.queries("q84_binary_quant_knn")(spark, TestSpark.sf0001).collect()
    assert(got.length == 100, "10 queries x top-10")
    val recall = got.map(_.getLong(5)).sum / 100.0
    // on isotropic noise sign-bit recall is mid-range (measured ~0.5 at
    // sf0.01); the query's whole point is to REPORT it before a corpus
    // commits to BQ serving. Anything near zero means the shortlist
    // stage is broken; near one would be suspicious on this data.
    assert(recall >= 0.2, s"hamming shortlist must carry signal, got $recall")
  }

  test("q99 kNN label eval: planted clusters predict their own label leave-one-out") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-knnlabel").toString
    // three well-separated clusters of 8 vectors each: a shared cluster
    // direction plus small per-vector jitter, labels = cluster id
    def vec(cluster: Int, j: Int): Array[Float] = Array.tabulate(64) { d =>
      val base = if (d % 3 == cluster) 1.0f else 0.05f
      base + 0.01f * ((j * 31 + d * 7) % 5)
    }
    val rows = for (c <- 0 until 3; j <- 0 until 8)
      yield ((c * 8 + j).toLong, vec(c, j), c)
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.q99KnnLabelEval(spark, dir).collect()
    assert(out.length == 24)
    assert(out.forall(_.getLong(4) == 1L),
      s"every planted query must recover its cluster label: " +
        out.filter(_.getLong(4) == 0L).mkString("; "))
    assert(out.forall(_.getLong(3) == 5L),
      "all 5 neighbors must come from the query's own cluster")
  }

  test("q77 calibration: identical docs estimate jaccard 1 exactly; error is sketch-bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cal").toString
    Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),          // same word set -> jaccard 1, est 1
      (3L, "epsilon zeta eta theta")           // disjoint from 2 -> jaccard 0
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.q77MinhashCalibration(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((1.0, 1.0, 0.0)), "identical word sets: all 8 minima agree")
    assert(got(2L)._1 == 0.0, "disjoint word sets have jaccard 0")
    // corpus-level: mean |est - jaccard| within ~2 sigma of the 8-band binomial bound
    val errs = Dedup.q77MinhashCalibration(spark, TestSpark.sf0001)
      .select("abs_err").as[Double].collect()
    assert(errs.sum / errs.length < 0.25, s"mean calibration error ${errs.sum / errs.length}")
  }

  test("q78 semantic prune flags a planted same-cell duplicate and respects anchor order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    def vec(seed: Int) = Array.tabulate(64)(i => math.sin(i * 0.7 + seed).toFloat)
    Seq(
      (1L, vec(0), 0), (2L, vec(0), 0),        // identical -> same cell, cos 1
      (3L, vec(5), 1), (4L, vec(9), 1)
    ).toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val rows = Dedup.q78SemanticPrune(spark, dir).collect()
    val byId = rows.map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(byId(2L)._1 == 1L && byId(2L)._2 == 1.0 && byId(2L)._3,
      s"vec 2 is a semantic dup of its cell anchor 1: ${byId.get(2L)}")
    rows.foreach { r =>
      assert(r.getLong(2) < r.getLong(0), "anchors are cell minima and never listed as members")
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
    }
  }

  test("multimodal decodeStub is deterministic and matches the metadata contract") {
    val blob = MediaBlob(7L, "hello world".getBytes("UTF-8"))
    val m1 = Multimodal.decodeStub(blob)
    val m2 = Multimodal.decodeStub(blob)
    assert(m1 == m2)
    assert(m1.n_bytes == 11L)
    assert(m1.first_byte == 'h'.toLong)
    assert(m1.width == 64 + 11 % 512 && m1.height == 64 + (11 * 31) % 512 && m1.channels == 3)
  }
}
