package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Portable, VectorOps}
import graft.operators.Dedup

/** The higher-order-function (HOF) forms the native `graft.plans`
  * kernels replaced, kept as their executable specs. Each is built only
  * from Spark built-ins, so its values are Spark's own semantics; the
  * kernels must reproduce them exactly ([[KernelParitySpec]]).
  *
  * On a null input array the HOF forms of [[gramHashes]],
  * [[winnowMinima]] and [[simhashBands]] do not return null (`size` and
  * `greatest` turn the null into one window, or the planes into null
  * dots), while the kernels follow the expression contract null → null;
  * no engine call site feeds them a null array. */
object HofSpecs {

  /** Characters of a string column as array<string>, no empties.
    * (Spark `split(s, "")` keeps a trailing "" at limit -1; filter it.) */
  private def chars(c: Column): Column =
    filter(split(c, ""), ch => ch =!= lit(""))

  /** [[graft.plans.TokenId]]: fold (acc*31 + codepoint) % P. */
  def tokenId(c: Column): Column =
    aggregate(chars(c), lit(0L), (acc, ch) => (acc * lit(31L) + ascii(ch)) % lit(Portable.P))

  /** [[Portable.tokenize]], the reference tokenizer: lowercase, split on
    * non-word runs, keep purely alphabetic tokens. */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "\\W+"), w => w.rlike("^[a-z]+$"))

  /** [[graft.plans.GramHashes]]: positional poly-131 k-gram hashes, the
    * former body of `TextAnalysis.winnowGrams`. */
  def gramHashes(words: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(size(words) - lit(k - 1), lit(1))),
      i => aggregate(slice(words, i, lit(k)), lit(0L),
        (acc, wd) => (acc * lit(131L) + Portable.tokenId(wd)) % lit(Portable.P)))

  /** [[graft.plans.WinnowMinima]]: distinct w-window minima, the former
    * body of `TextAnalysis.winnowSig`. */
  def winnowMinima(gh: Column, w: Int): Column = array_distinct(transform(
    sequence(lit(1), greatest(size(gh) - lit(w - 1), lit(1))),
    j => array_min(slice(gh, j, lit(w)))))

  /** [[graft.plans.SimhashBands]]: the `Dedup.bandTable` projection it
    * replaced — 32 hyperplane dot products over the first planeDim dims
    * of column `v`, sign bits packed into `bands` values — added to `df`
    * as column `out`. */
  def simhashBands(df: DataFrame, v: String, bands: Int, out: String): DataFrame = {
    val planesLit = array(Dedup.simhashPlanes.take(bands * Dedup.bandBits)
      .map(p => array(p.map(lit): _*)): _*)
    val dots = transform(planesLit, p =>
      aggregate(zip_with(slice(col(v), 1, Dedup.planeDim), p, (x, w) => x * w),
        lit(0.0), (acc, y) => acc + y))
    val packed = (0 until bands).map { k =>
      (0 until Dedup.bandBits)
        .map(t => when(element_at(col("__dots"), k * Dedup.bandBits + t + 1) >= 0,
          lit(1L << t)).otherwise(0L))
        .reduce(_ + _)
    }
    df.withColumn("__dots", dots).withColumn(out, array(packed: _*)).drop("__dots")
  }

  /** [[graft.plans.ShingleHashes]]: distinct space-joined word n-grams
    * of `words`; docs shorter than n shingle to their full text (slice
    * clamps at the end). */
  def shingles(words: Column, n: Int): Column = array_distinct(transform(
    sequence(lit(1), greatest(size(words) - lit(n - 1), lit(1))),
    i => array_join(slice(words, i, lit(n)), " ")))

  /** Elementwise dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** [[graft.plans.CosineSim]]: dot over the product of the two norms;
    * null for a zero vector. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = VectorOps.l2Norm(a) * VectorOps.l2Norm(b)
    when(n === 0.0, lit(null)).otherwise(d / n)
  }

  /** [[graft.plans.L2Dist]]: the seeded left fold of squared differences. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** [[Dedup.bucketPairs]]: the bucket-collect form it replaced — each
    * bucket's sorted id list from `collect_list` (which drops null ids),
    * kept at 2..`cap` ids, expanded into its ordered (id_a, id_b) pairs
    * by one HOF. */
  def bucketPairs(keyed: DataFrame, keys: Seq[String], id: String, cap: Int): DataFrame =
    keyed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)), b -> struct(a AS id_a, b AS id_b))))"
      )).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
}
