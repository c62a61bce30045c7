package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the benchmark feeds the engine
  * comes from here, and every generator also returns the ground truth
  * the workload checks outputs against. */
object Gen {

  /** `n` distinct lowercase words of 3 to 9 letters. */
  def vocabulary(rnd: Random, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double, rnd: Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** A directory of `files` text files holding `tokens` Zipf-drawn words
    * (12 to 20 per line). Returns the exact per-word tally. */
  def textCorpus(dir: java.io.File, rnd: Random, tokens: Int, vocab: Int,
                 files: Int): Map[String, Long] = {
    val words = vocabulary(rnd, vocab)
    val zipf = new Zipf(vocab, 1.0, rnd)
    val tally = mutable.HashMap.empty[String, Long]
    dir.mkdirs()
    val perFile = tokens / files
    (0 until files).foreach { f =>
      val sb = new StringBuilder
      var left = if (f == files - 1) tokens - perFile * (files - 1) else perFile
      while (left > 0) {
        val n = math.min(left, 12 + rnd.nextInt(9))
        (0 until n).foreach { j =>
          val w = words(zipf.next())
          tally(w) = tally.getOrElse(w, 0L) + 1
          if (j > 0) sb += ' '
          sb ++= w
        }
        sb += '\n'
        left -= n
      }
      java.nio.file.Files.writeString(new java.io.File(dir, f"part-$f%03d.txt").toPath, sb.toString)
    }
    tally.toMap
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  /** Planted duplicates of a generated document corpus. */
  final case class Planted(
      /** copy doc_id -> the original it copies byte for byte */
      exact: Map[Long, Long],
      /** (original, near copy) with a few words substituted */
      near: Seq[(Long, Long)])

  /** `dir/documents.parquet` of `nDocs` Zipf-worded documents (40 to 120
    * words), of which a fixed share are exact copies and a fixed share
    * are near copies (2 word substitutions, so 4-gram Jaccard >= 0.6) of
    * earlier originals; every copy gets a higher doc_id than its
    * original. */
  def documents(spark: SparkSession, dir: String, rnd: Random, nDocs: Int,
                vocab: Int): Planted = {
    val words = vocabulary(rnd, vocab)
    val zipf = new Zipf(vocab, 1.0, rnd)
    val nExact = nDocs * 3 / 100
    val nNear = nDocs * 5 / 100
    val nOrig = nDocs - nExact - nNear
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    (0 until nOrig).foreach(_ => texts += Array.fill(40 + rnd.nextInt(81))(words(zipf.next())))
    // each copy draws a distinct original, so copy groups are pairs
    val origs = rnd.shuffle((0 until nOrig).toVector).take(nExact + nNear)
    val exact = origs.take(nExact).map { o => texts += texts(o).clone(); (texts.length - 1L) -> o.toLong }
    val near = origs.drop(nExact).map { o =>
      val t = texts(o).clone()
      rnd.shuffle(t.indices.toVector).take(2).foreach(i => t(i) = words(rnd.nextInt(vocab)))
      texts += t
      (o.toLong, texts.length - 1L)
    }
    val srcs = (0 until 20).map(i => s"src$i")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val s = t.mkString(" ")
      Row(i.toLong, s, "en", srcs(rnd.nextInt(20)), s.length.toLong)
    }
    def f(n: String, t: DataType) = StructField(n, t, nullable = true)
    val schema = StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType)))
    write(spark, rows.toSeq, schema, s"$dir/documents.parquet")
    Planted(exact.toMap, near)
  }

  /** `n` vectors, each a small perturbation of one of `centers`; ids
    * from `idFrom`. */
  def clustered(rnd: Random, centers: Array[Array[Double]], n: Int,
                idFrom: Long): Array[(Long, Array[Double])] =
    Array.tabulate(n) { i =>
      val c = centers(rnd.nextInt(centers.length))
      (idFrom + i, c.map(x => x + rnd.nextGaussian() * 0.15))
    }

  /** `k` cluster centers in `dim` dimensions, in `groups` well-separated
    * groups: a vector's true nearest neighbours share its center, and the
    * coarse groups give an IVF index cells worth probing. */
  def centers(rnd: Random, k: Int, dim: Int, groups: Int): Array[Array[Double]] = {
    val coarse = Array.fill(groups)(Array.fill(dim)(rnd.nextGaussian() * 3.0))
    Array.fill(k)(coarse(rnd.nextInt(groups)).map(x => x + rnd.nextGaussian()))
  }

  def vectorFrame(spark: SparkSession, vs: Array[(Long, Array[Double])],
                  idCol: String, vecCol: String): DataFrame = {
    val schema = StructType(Seq(StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.toSeq.map { case (id, v) => Row(id, v.toSeq) }, 4), schema)
  }
}
