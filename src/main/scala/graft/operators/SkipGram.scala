package graft.operators

import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** Skip-gram Word2Vec with hierarchical softmax (Mikolov et al. 2013):
  * a port of the fit of MLlib's Word2Vec that reuses the word count the
  * job computes anyway.
  *
  * Copied from MLlib exactly, so a one-partition fit over a corpus whose
  * word counts are all distinct is bit-identical to MLlib's Word2Vec
  * estimator (`SkipGramParitySpec`): the Huffman tree, the
  * exp table, `XORShiftRandom` seeding (per partition
  * `seed ^ ((idx+1) << 16) ^ ((-k-1) << 8)`), the alpha schedule
  * (including MLlib's quirk that every iteration's task restarts at the
  * initial learning rate), sentences chunked at 1000 words, and the
  * `sdot`/`saxpy` calls on the netlib instance MLlib's
  * `BLAS.nativeBLAS` resolves to.
  *
  * What differs is the scaffold around the loop:
  *  - Vocabulary: one aggregation over the persisted token frame, filtered
  *    by `minCount`, collected (a vocabulary-sized bound, as MLlib's own
  *    collect) and ordered by (count desc, word asc). MLlib breaks count
  *    ties by `reduceByKey` output order, so the two agree only where
  *    counts are distinct; here ties never depend on the partitioning.
  *    The counts are the model's, so callers need no second word count.
  *  - Training: one job per iteration over `coalesce(numPartitions)`,
  *    which shuffles only when `numPartitions` exceeds the input
  *    partitions. Each task trains copies of the broadcast `syn0`/`syn1`
  *    and reads the tree once (MLlib reads the broadcast three times per
  *    softmax step). Modified rows merge on the driver by MLlib's
  *    averaging rule: a row's new value is the mean of the partitions
  *    that modified it, so with one partition it is a plain copy.
  *  - Result: a driver-side [[Model]]; [[Model.toDF]] parallelizes it.
  */
object SkipGram {
  private val ExpTableSize = 1000
  private val MaxExp = 6
  private val MaxCodeLength = 40
  private val MaxSentenceLength = 1000
  private val LearningRate = 0.025

  /** A fitted model on the driver. Row `i` of the vocabulary is
    * `words(i)` with corpus count `counts(i)` and vector
    * `syn0(i*dim until (i+1)*dim)`; rows are in training order
    * (count desc, word asc). */
  final class Model(val words: Array[String], val counts: Array[Long],
                    val syn0: Array[Float], val dim: Int) {
    def size: Int = words.length

    val index: Map[String, Int] = words.iterator.zipWithIndex.toMap

    def contains(word: String): Boolean = index.contains(word)

    /** (word, count, vector: array<double>) in word order, one
      * `parallelize` slice per default-parallelism core. Not a local
      * relation: a plan over this frame runs in tasks, not folded into
      * the driver's optimizer. */
    def toDF(spark: SparkSession): DataFrame = {
      val rows = (0 until size).sortBy(words(_)).map { i =>
        val v = new Array[Double](dim)
        var j = 0
        while (j < dim) { v(j) = syn0(i * dim + j).toDouble; j += 1 }
        Row(words(i), counts(i), v)
      }
      val sc = spark.sparkContext
      spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), Model.schema)
    }
  }

  object Model {
    private val schema = StructType(Seq(
      StructField("word", StringType),
      StructField("count", LongType, nullable = false),
      StructField("vector", ArrayType(DoubleType, containsNull = false), nullable = false)))
  }

  /** The vocabulary of a token frame (column `words`): one aggregation,
    * words with count >= `minCount`, ordered by (count desc, word asc). */
  def vocabulary(tokens: DataFrame, minCount: Int): Array[(String, Long)] =
    tokens.select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) }

  /** MLlib's sigmoid table over [-MaxExp, MaxExp]. */
  private def expTable(): Array[Float] = {
    val t = new Array[Float](ExpTableSize)
    var i = 0
    while (i < ExpTableSize) {
      val tmp = math.exp((2.0 * i / ExpTableSize - 1.0) * MaxExp)
      t(i) = (tmp / (tmp + 1.0)).toFloat
      i += 1
    }
    t
  }

  /** MLlib's Huffman tree over counts in training order: per word, its
    * binary code and the inner nodes (row indexes of `syn1`) on its path
    * from the root. */
  private def huffman(counts: Array[Long]): (Array[Array[Int]], Array[Array[Int]]) = {
    val n = counts.length
    val count = new Array[Long](n * 2 + 1)
    val binary = new Array[Int](n * 2 + 1)
    val parent = new Array[Int](n * 2 + 1)
    System.arraycopy(counts, 0, count, 0, n)
    java.util.Arrays.fill(count, n, 2 * n, Long.MaxValue)
    var pos1 = n - 1
    var pos2 = n
    def smallest(): Int =
      if (pos1 >= 0 && count(pos1) < count(pos2)) { pos1 -= 1; pos1 + 1 }
      else { pos2 += 1; pos2 - 1 }
    var a = 0
    while (a < n - 1) {
      val min1 = smallest()
      val min2 = smallest()
      assert(count(min1) < Long.MaxValue && count(min2) < Long.MaxValue)
      count(n + a) = count(min1) + count(min2)
      parent(min1) = n + a
      parent(min2) = n + a
      binary(min2) = 1
      a += 1
    }
    val code = new Array[Int](MaxCodeLength)
    val point = new Array[Int](MaxCodeLength)
    val codes = new Array[Array[Int]](n)
    val points = new Array[Array[Int]](n)
    a = 0
    while (a < n) {
      var b = a
      var i = 0
      while (b != n * 2 - 2) {
        code(i) = binary(b)
        point(i) = b
        i += 1
        b = parent(b)
      }
      val wc = new Array[Int](i)
      val wp = new Array[Int](i + 1)
      wp(0) = n - 2
      b = 0
      while (b < i) {
        wc(i - b - 1) = code(b)
        wp(i - b) = point(b) - n
        b += 1
      }
      codes(a) = wc
      points(a) = wp.take(i)
      a += 1
    }
    (codes, points)
  }

  /** What every training task reads once: the vocabulary index, the
    * tree and the exp table. */
  private final class Tree(val index: Map[String, Int], val codes: Array[Array[Int]],
                           val points: Array[Array[Int]], val expTable: Array[Float])
    extends Serializable

  /** The rows one task modified: indexes and their values, row-major. */
  private final case class Modified(syn0Rows: Array[Int], syn0: Array[Float],
                                    syn1Rows: Array[Int], syn1: Array[Float])

  /** Fit on a token frame (column `words`: array<string>). The frame is
    * persisted for the vocabulary and training passes and released
    * before returning; broadcasts are destroyed. */
  def fit(tokensIn: DataFrame, cfg: graft.GraftConfig): Model = {
    val dim = cfg.layerSize
    val window = cfg.windowSize
    val iterations = cfg.iterations
    val numPartitions = cfg.numPartitions
    val seed = cfg.seed
    val tokens = tokensIn.select(col("words")).persist()
    try {
      val vocab = vocabulary(tokens, cfg.minWordFrequency)
      val vocabSize = vocab.length
      require(vocabSize > 0, "The vocabulary size should be > 0. You may need to check " +
        "the setting of minCount, which could be large enough to remove all your words in sentences.")
      if (vocabSize.toLong * dim >= Int.MaxValue) {
        throw new RuntimeException("Please increase minCount or decrease vectorSize in Word2Vec" +
          " to avoid an OOM. You are highly recommended to make your vocabSize*vectorSize, " +
          "which is " + vocabSize + "*" + dim + " for now, less than `Int.MaxValue`.")
      }
      val words = vocab.map(_._1)
      val counts = vocab.map(_._2)
      val trainWordsCount = counts.sum
      val (codes, points) = huffman(counts)
      val sc = tokens.sparkSession.sparkContext
      val initRandom = SqlBridge.xorShiftRandom(seed)
      val syn0Global = Array.fill[Float](vocabSize * dim)((initRandom.nextFloat() - 0.5f) / dim)
      val syn1Global = new Array[Float](vocabSize * dim)
      val model = new Model(words, counts, syn0Global, dim)
      val bcTree = sc.broadcast(new Tree(model.index, codes, points, expTable()))

      val rows = tokens.rdd
      val input = rows.coalesce(numPartitions, shuffle = numPartitions > rows.getNumPartitions)
      val totalWordsCounts = iterations * trainWordsCount + 1
      try {
        for (k <- 1 to iterations) {
          val bcSyn0 = sc.broadcast(syn0Global)
          val bcSyn1 = sc.broadcast(syn1Global)
          val previousWords = (k - 1) * trainWordsCount
          val partial = input.mapPartitionsWithIndex { (idx, it) =>
            val tree = bcTree.value
            val sentences = it.flatMap { r =>
              if (r.isNullAt(0)) Iterator.empty
              else r.getSeq[String](0).flatMap(tree.index.get)
                .grouped(MaxSentenceLength).map(_.toArray)
            }
            val random = SqlBridge.xorShiftRandom(seed ^ ((idx + 1) << 16) ^ ((-k - 1) << 8))
            Iterator.single(trainPartition(sentences, tree, bcSyn0.value.clone(),
              bcSyn1.value.clone(), random, dim, window, numPartitions,
              previousWords, totalWordsCounts))
          }.collect()
          merge(partial.iterator.map(p => (p.syn0Rows, p.syn0)), syn0Global, dim)
          merge(partial.iterator.map(p => (p.syn1Rows, p.syn1)), syn1Global, dim)
          bcSyn0.destroy()
          bcSyn1.destroy()
        }
      } finally bcTree.destroy()
      model
    } finally tokens.unpersist()
  }

  /** MLlib's per-partition skip-gram loop over one task's sentences. */
  private def trainPartition(sentences: Iterator[Array[Int]], tree: Tree,
                             syn0: Array[Float], syn1: Array[Float],
                             random: java.util.Random, dim: Int, window: Int,
                             numPartitions: Int, previousWords: Long,
                             totalWordsCounts: Long): Modified = {
    val blas = BLAS.getInstance()
    val codes = tree.codes
    val points = tree.points
    val expTable = tree.expTable
    val vocabSize = codes.length
    val syn0Modify = new Array[Int](vocabSize)
    val syn1Modify = new Array[Int](vocabSize)
    var alpha = LearningRate
    var lastWordCount = 0L
    var wordCount = 0L
    while (sentences.hasNext) {
      val sentence = sentences.next()
      if (wordCount - lastWordCount > 10000) {
        lastWordCount = wordCount
        alpha = LearningRate *
          (1 - (numPartitions * wordCount.toDouble + previousWords) / totalWordsCounts)
        if (alpha < LearningRate * 0.0001) alpha = LearningRate * 0.0001
      }
      wordCount += sentence.length
      var pos = 0
      while (pos < sentence.length) {
        val word = sentence(pos)
        val code = codes(word)
        val point = points(word)
        val b = random.nextInt(window)
        var a = b
        while (a < window * 2 + 1 - b) {
          if (a != window) {
            val c = pos - window + a
            if (c >= 0 && c < sentence.length) {
              val lastWord = sentence(c)
              val l1 = lastWord * dim
              val neu1e = new Array[Float](dim)
              var d = 0
              while (d < code.length) {
                val inner = point(d)
                val l2 = inner * dim
                var f = blas.sdot(dim, syn0, l1, 1, syn1, l2, 1)
                if (f > -MaxExp && f < MaxExp) {
                  val ind = ((f + MaxExp) * (ExpTableSize / MaxExp / 2.0)).toInt
                  f = expTable(ind)
                  val g = ((1 - code(d) - f) * alpha).toFloat
                  blas.saxpy(dim, g, syn1, l2, 1, neu1e, 0, 1)
                  blas.saxpy(dim, g, syn0, l1, 1, syn1, l2, 1)
                  syn1Modify(inner) += 1
                }
                d += 1
              }
              blas.saxpy(dim, 1.0f, neu1e, 0, 1, syn0, l1, 1)
              syn0Modify(lastWord) += 1
            }
          }
          a += 1
        }
        pos += 1
      }
    }
    def rowsOf(modify: Array[Int], syn: Array[Float]): (Array[Int], Array[Float]) = {
      val ids = modify.indices.filter(modify(_) > 0).toArray
      val values = new Array[Float](ids.length * dim)
      var i = 0
      while (i < ids.length) {
        System.arraycopy(syn, ids(i) * dim, values, i * dim, dim)
        i += 1
      }
      (ids, values)
    }
    val (r0, v0) = rowsOf(syn0Modify, syn0)
    val (r1, v1) = rowsOf(syn1Modify, syn1)
    Modified(r0, v0, r1, v1)
  }

  /** MLlib's merge of modified rows: sum each row over the partitions
    * that modified it, scale by 1/count, overwrite the global row. */
  private def merge(parts: Iterator[(Array[Int], Array[Float])],
                    global: Array[Float], dim: Int): Unit = {
    val sums = scala.collection.mutable.HashMap.empty[Int, (Array[Float], Int)]
    parts.foreach { case (ids, values) =>
      var i = 0
      while (i < ids.length) {
        val row = java.util.Arrays.copyOfRange(values, i * dim, (i + 1) * dim)
        sums.get(ids(i)) match {
          case None => sums(ids(i)) = (row, 1)
          case Some((acc, n)) =>
            var j = 0
            while (j < dim) { acc(j) += row(j); j += 1 }
            sums(ids(i)) = (acc, n + 1)
        }
        i += 1
      }
    }
    sums.foreach { case (id, (acc, n)) =>
      val scale = 1.0f / n
      var j = 0
      while (j < dim) { global(id * dim + j) = acc(j) * scale; j += 1 }
    }
  }
}
