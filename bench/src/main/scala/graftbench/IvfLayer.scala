package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.IvfStore

/** The `IvfStore` layer, measured once per traced `text_dedup` run on that
  * run's own per-document vectors: a store built with `writeFitted`, then
  * two rounds of one 32-query `servedTop10` block, one `commitBatch` of
  * arrivals and one `compact`. The second round's spans are reported, so
  * the figures are not the cold first calls. Every served block is
  * checked against an exact top-10, computed here, over the vectors filed so
  * far, and the store must end up holding every filed vector once. */
final class IvfLayer(ctx: Ctx, rnd: Random, centers: Array[Array[Double]],
                     corpus: Array[(Long, Array[Double])]) {
  val Block = 32
  val Arrivals = 250
  /** Compaction threshold: every commit pushes the cells it touches past
    * it, so every compaction rewrites them. */
  val MaxFilesPerCell = 1
  /** Lowest acceptable mean recall@10 of a served block: far below what
    * the index reaches on these clusters, far above a broken probe's. */
  val RecallFloor = 0.3

  private val store = ctx.path("ivf-store")
  private val filed = mutable.ArrayBuffer.empty[(Long, Array[Double])] ++= corpus
  private var nextId = corpus.map(_._1).max + 1
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var filesBefore = 0

  def measure(): Map[String, Double] = {
    val t = ctx.tracer
    val spark = ctx.spark
    IO.delete(new java.io.File(store))
    t.newOp()
    t.span("IvfStore", "writeFitted") {
      IvfStore.writeFitted(Gen.vectorFrame(spark, corpus, "vec_id", "v"), store)
    }
    round()
    val first = t.all.last.id + 1
    round()
    val spans = t.all.filter(_.id >= first)
    def named(call: String) = spans.filter(_.call == call)
    def secs(call: String) = named(call).map(_.seconds).sum
    val serve = ctx.exec.total(spark.sparkContext,
      named("serve_build").map(_.id) ++ named("serve_exec").map(_.id))
    ctx.verify("IvfStore recall@10") {
      val worst = recalls.min
      if (worst >= RecallFloor) None else Some(f"IvfStore recall@10 $worst%.3f below $RecallFloor")
    }
    ctx.verify("IvfStore postings") {
      val r = spark.read.parquet(s"${IvfStore.resolveRoot(spark, store)}/lists")
        .agg(count(lit(1)), countDistinct(col("n_id"))).head()
      if (r.getLong(0) == filed.length && r.getLong(1) == filed.length) None
      else Some(s"store holds ${r.getLong(0)} postings (${r.getLong(1)} distinct), filed ${filed.length}")
    }
    Map(
      "IvfStore.serve_build_s" -> secs("serve_build"),
      "IvfStore.serve_exec_s" -> secs("serve_exec"),
      "IvfStore.serve_jobs" -> serve.jobs.toDouble,
      "IvfStore.serve_input_mb" -> serve.inputBytes / 1e6,
      "IvfStore.commitBatch_s" -> secs("commitBatch"),
      "IvfStore.compact_s" -> secs("compact"),
      "IvfStore.files_per_cell_max" -> filesBefore.toDouble,
      "IvfStore.recall_at_10" -> recalls.sum / recalls.length)
  }

  private def round(): Unit = {
    serve()
    commit()
    compact()
  }

  private def serve(): Unit = {
    val qs = Gen.clustered(rnd, centers, Block, nextId)
    nextId += Block
    ctx.op("IvfStore", "serve") {
      val df = ctx.tracer.span("IvfStore", "serve_build") {
        IvfStore.servedTop10(ctx.spark, store, Gen.vectorFrame(ctx.spark, qs, "q_id", "qv"))
      }
      ctx.tracer.span("IvfStore", "serve_exec")(df.select("q_id", "n_id").collect())
    } { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      if (got.size != Block || got.values.exists(_.size != 10))
        Some(s"served ${got.size} queries with row counts ${got.values.map(_.size).toSet}, expected $Block x 10")
      else {
        recalls += qs.map { case (q, v) => (top10(v).toSet intersect got(q)).size / 10.0 }.sum / Block
        None
      }
    }
  }

  /** Exact top-10 ids by squared L2 over every vector filed so far. */
  private def top10(q: Array[Double]): Seq[Long] = {
    val best = mutable.PriorityQueue.empty[(Double, Long)] // max-heap of the 10 nearest
    filed.foreach { case (id, v) =>
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i) - q(i); d += x * x; i += 1 }
      if (best.size < 10) best.enqueue((d, id))
      else if (Ordering[(Double, Long)].lt((d, id), best.head)) { best.dequeue(); best.enqueue((d, id)) }
    }
    best.toSeq.map(_._2)
  }

  private def commit(): Unit = {
    val arrivals = Gen.clustered(rnd, centers, Arrivals, nextId)
    nextId += Arrivals
    ctx.op("IvfStore", "commitBatch") {
      IvfStore.commitBatch(ctx.spark, store, Gen.vectorFrame(ctx.spark, arrivals, "vec_id", "v"),
        "graftbench", arrivals.head._1)
    }(_ => None)
    filed ++= arrivals
  }

  private def filesPerCell(): Seq[Int] = {
    val lists = new Path(IvfStore.resolveRoot(ctx.spark, store), "lists")
    val fs = lists.getFileSystem(ctx.spark.sessionState.newHadoopConf())
    fs.listStatus(lists).filter(_.getPath.getName.startsWith("cell="))
      .map(c => fs.listStatus(c.getPath).count(_.getPath.getName.endsWith(".parquet"))).toSeq
  }

  private def compact(): Unit = {
    filesBefore = filesPerCell().max
    ctx.op("IvfStore", "compact") {
      IvfStore.compact(ctx.spark, store, MaxFilesPerCell)
    } { rewritten =>
      val after = filesPerCell().max
      if (after > MaxFilesPerCell) Some(s"a cell still holds $after files after compact")
      else if (filesBefore > MaxFilesPerCell && rewritten.isEmpty) Some("compact rewrote no cell")
      else None
    }
  }
}
