package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver regenerates /root/testdata between rounds and has changed
  * physical encodings before (events.ts: nanos → micros, which silently
  * took out nine queries at analysis time). This spec pins every table's
  * SPARK-SIDE schema as the engine's queries assume it, so the next
  * regen surfaces as ONE clear test flip naming the drifted column —
  * not as scattered query failures with no pointer to the cause.
  *
  * Deliberately checks the spark-inferred (logical) types, not parquet
  * physical encodings: a regen that changes physicals without changing
  * what queries see (e.g. int64-nanos vs micros ts, both normalized by
  * the adaptive ingest) should NOT flip this test. */
class TestdataContractSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val expected = Map(
    "region" -> "r_regionkey:int,r_name:string",
    "nation" -> "n_nationkey:int,n_name:string,n_regionkey:int",
    "customer" -> ("c_custkey:bigint,c_name:string,c_nationkey:int," +
      "c_acctbal:double,c_mktsegment:string"),
    "supplier" -> "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
    "part" -> ("p_partkey:bigint,p_name:string,p_brand:string,p_type:string," +
      "p_size:int,p_retailprice:double"),
    "orders" -> ("o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string"),
    "lineitem" -> ("l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string," +
      "l_shipdate:timestamp_ntz"),
    "documents" -> "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
    "embeddings" -> "vec_id:bigint,embedding:array<float>,label:int",
    // through Tables.events — the NORMALIZED contract, any physical encoding
    "events" -> ("event_id:bigint,ts:timestamp,user_id:bigint," +
      "event_type:string,value:double,props:string"))

  private def sig(df: org.apache.spark.sql.DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  test("every testdata table reads with the schema the queries assume") {
    val drifted = expected.toSeq.sortBy(_._1).flatMap { case (t, want) =>
      val df =
        if (t == "events") Tables.events(spark, TestSpark.sf0001)
        else Tables.table(spark, TestSpark.sf0001, t)
      val got = sig(df)
      if (got != want) Some(s"$t:\n  want $want\n  got  $got") else None
    }
    assert(drifted.isEmpty,
      s"testdata schema drift — adapt the ingest or the queries:\n${drifted.mkString("\n")}")
  }

  test("the declared documents schema equals the one Spark infers from every fixture") {
    val fixtures = new java.io.File(TestSpark.sf0001).getParentFile.listFiles()
      .filter(d => new java.io.File(d, "documents.parquet").exists).map(_.getPath).sorted
    assert(fixtures.contains(TestSpark.sf0001), fixtures.mkString(", "))
    for (dir <- fixtures) {
      val (declared, inferred) =
        (Tables.documents(spark, dir).schema, Tables.table(spark, dir, "documents").schema)
      assert(declared == inferred, s"$dir: declared ${declared.toDDL}, inferred ${inferred.toDDL}")
    }
  }
}
