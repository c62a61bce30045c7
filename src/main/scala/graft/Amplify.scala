package graft

import org.apache.spark.sql.functions._

/** Dev tool: build the amplified corpora behind SCALING.md's "Measured
  * 100× amplification" table, reproducibly.
  *
  * `sbt "runMain graft.Amplify /root/testdata/sf0.1 /tmp/amp 100 10"`
  * writes `documents.parquet` (docCopies copies, each perturbed with a
  * unique suffix word so copies are near- not exact-duplicates) and
  * `embeddings.parquet` (vecCopies copies, dim-0 perturbed per copy so
  * copies are genuine high-cosine near-duplicates). Ids are offset by
  * copy × 1e6 — far above any sf's id range. */
object Amplify {
  def main(args: Array[String]): Unit = {
    val Array(src, dest, docCopiesS, vecCopiesS) = args.take(4)
    val (docCopies, vecCopies) = (docCopiesS.toInt, vecCopiesS.toInt)
    val spark = LocalSession(32)
    val slot = 1000000L
    // repartition before every write: the base sf tables are single
    // small files, so the crossJoin output inherits ONE partition and
    // lands as ONE compressed file — which then feeds every
    // explode-heavy first stage as a single scan task and serializes
    // the very measurements this corpus exists for. One splittable
    // file per core restores honest scan parallelism.
    val splits = spark.sparkContext.defaultParallelism

    Tables.documents(spark, src)
      .crossJoin(spark.range(docCopies).toDF("copy"))
      .select(
        (col("copy") * slot + col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" uniq"), col("copy")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(splits)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")

    Tables.embeddings(spark, src)
      .crossJoin(spark.range(vecCopies).toDF("copy"))
      .select(
        (col("copy") * slot + col("vec_id")).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0" +
          " THEN cast(x + copy * 0.0001 AS float) ELSE x END)").as("embedding"),
        col("label"))
      .repartition(splits)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")

    // events amplify by USER (user_id offset per copy, event ids slotted,
    // timestamps jittered forward one second per copy): per-user history
    // length stays realistic while user cardinality scales — the axis
    // the event operators (q80/q101/q102) actually shuffle on. Reading
    // via Tables.events keeps this tool working across the driver's ts
    // encodings (nanos-long and micros both normalize to TimestampType);
    // the output lands as standard micros parquet, which the adaptive
    // ingest reads back.
    val evCopies = docCopies
    Tables.events(spark, src)
      .crossJoin(spark.range(evCopies).toDF("copy"))
      .select(
        (col("copy") * slot + col("event_id")).as("event_id"),
        expr("ts + make_interval(0, 0, 0, 0, 0, 0, copy)").as("ts"),
        (col("copy") * slot + col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(splits)
      .write.mode("overwrite").parquet(s"$dest/events.parquet")

    // part/lineitem amplify by CATALOG ROW and ORDER respectively:
    // partkeys slot per copy but p_name/p_brand pass through, so the
    // name DICTIONARY and brand vocabulary stay constant while rows
    // scale — exactly the shape q123's distinct-dictionary collapse and
    // q124's bounded pair output are designed around. Lineitem keeps
    // l_partkey unslotted (copy-0 parts exist at the base keys), so
    // basket composition per order is unchanged as order count scales.
    Tables.part(spark, src)
      .crossJoin(spark.range(docCopies).toDF("copy"))
      .select(
        (col("copy") * slot + col("p_partkey")).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
      .repartition(splits)
      .write.mode("overwrite").parquet(s"$dest/part.parquet")

    Tables.lineitem(spark, src)
      .crossJoin(spark.range(docCopies).toDF("copy"))
      .select(
        (col("copy") * slot + col("l_orderkey")).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .repartition(splits)
      .write.mode("overwrite").parquet(s"$dest/lineitem.parquet")

    // orders amplify by ORDER, slotted to match lineitem's l_orderkey
    // slots (copy-N orders own copy-N lines), with o_custkey/o_totalprice
    // passthrough: FK validity, status mix, and per-order reconciliation
    // deltas are unchanged as order count scales — exactly what
    // q179/q181/q183 measure. The small dims (customer/supplier/nation/
    // region) pass through verbatim: dimension cardinality is NOT the
    // scaling axis, and keeping them fixed preserves the broadcast-side
    // shape the join plans are designed around.
    Tables.orders(spark, src)
      .crossJoin(spark.range(docCopies).toDF("copy"))
      .select(
        (col("copy") * slot + col("o_orderkey")).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(splits)
      .write.mode("overwrite").parquet(s"$dest/orders.parquet")

    Seq("customer", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }

    println(s"[amplify] wrote $dest: documents x$docCopies, embeddings x$vecCopies, events x$evCopies, part/lineitem/orders x$docCopies, dims passthrough")
    spark.stop()
  }
}
