package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, Temporal}

/** PageRank against an independent in-memory reference, plus structural
  * invariants of the temporal event operators (exact values are the
  * DuckDB oracle's job). */
class TemporalGraphSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}

  /** Plain-Scala PageRank — no Spark, no shared code with Graph. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
                          d: Double): Map[String, Double] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val nodes = sym.map(_._1).distinct
    val nV = nodes.size
    val outDeg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var pr = nodes.map(_ -> 1.0 / nV).toMap
    (1 to iters).foreach { _ =>
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => pr(e._1) / outDeg(e._1)).sum
      }
      pr = nodes.map(n => n -> ((1.0 - d) / nV + d * contrib.getOrElse(n, 0.0))).toMap
    }
    pr
  }

  test("pageRank matches the in-memory reference on a hand graph") {
    import spark.implicits._
    // a path (chain) plus a triangle sharing node d — asymmetric degrees
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "e" -> "f",
      "d" -> "g", "g" -> "h", "h" -> "d")
    val got = Graph.pageRank(edges.toDF("id_a", "id_b"), iters = 10, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refPageRank(edges, iters = 10, d = 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (n, r) =>
      assert(math.abs(r - want(n)) < 1e-9, s"node $n: $r vs ${want(n)}")
    }
    // rank is conserved: teleport + redistribution sums to 1 (no dangling
    // nodes after symmetrization)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the triangle hub d must outrank every chain tail
    assert(got("d") > got("a") && got("d") > got("f"))
  }

  test("shortestPaths relaxes exact round6 distances within iters hops on a hand graph") {
    import spark.implicits._
    // s-a-b beats the direct s-b hop; c and d hang off b; e is 4 hops
    // out; x-y never touches the source
    val und = Seq(("s", "a", 0.1), ("a", "b", 0.2), ("s", "b", 0.5),
      ("b", "c", 0.4), ("c", "d", 1.0), ("d", "e", 1.0), ("x", "y", 1.0))
    val wedges = und.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
      .toDF("src", "dst", "w")
    val got = Graph.shortestPaths(wedges, Seq("s").toDF("id"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 0.1 + 0.2 is 0.30000000000000004 in doubles: round6 lands on 0.3.
    // d is 1.9 (s-b-c-d, 3 hops), not the 4-hop 1.7: after r rounds a
    // node holds its best path of at most r hops.
    assert(got == Map("s" -> 0.0, "a" -> 0.1, "b" -> 0.3, "c" -> 0.7,
      "d" -> 1.9), s"$got")
    assert(!got.contains("e"), "e is 4 hops out, beyond iters = 3")
    assert(!got.contains("x") && !got.contains("y"), "x-y is disconnected")
  }

  test("q110 textrank: executes, conserves rank mass, orders desc") {
    val rows = SparkEntry.queries("q110_textrank")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ranks = rows.map(_.getDouble(1))
    assert(ranks.forall(_ > 0))
    assert(ranks.sameElements(ranks.sorted.reverse))
    // rounded to 6 each, so the conserved unit mass survives to ~n·5e-7
    assert(math.abs(ranks.sum - 1.0) < 1e-3, s"rank mass ${ranks.sum}")
  }

  test("triangleCounts matches brute-force enumeration on a hand graph") {
    import spark.implicits._
    // two triangles sharing node c, a pendant edge, and a 4-cycle
    // (adds wedges that must NOT count as triangles)
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "c" -> "d", "d" -> "e", "e" -> "c",
      "f" -> "a",
      "p" -> "q", "q" -> "r", "r" -> "s", "s" -> "p")
    val got = Graph.triangleCounts(edges.toDF("id_a", "id_b")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent brute force over node triples
    val und = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }.toSet
    val nodes = und.map(_._1).toSeq.sorted
    val want = nodes.combinations(3).filter { case Seq(x, y, z) =>
      und(x -> y) && und(y -> z) && und(x -> z)
    }.toSeq.flatten.groupBy(identity).map { case (n, g) => n -> g.size.toLong }
    assert(got == want, s"got $got, want $want")
    assert(got("c") == 2L && !got.contains("f") && !got.contains("p"))
  }

  test("q111 SCD2: versions chain, states alternate, one current row per user") {
    val rows = SparkEntry.queries("q111_scd2")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val totalEvents = Tables.events(spark, sf0001).count()
    assert(rows.map(_._6).sum == totalEvents, "every event lands in exactly one run")
    rows.groupBy(_._1).foreach { case (user, rs) =>
      val byV = rs.sortBy(_._2)
      assert(byV.map(_._2).sameElements(1L to byV.size), s"user $user: version gap")
      byV.sliding(2).foreach {
        case Array((_, _, s1, _, to1, _, _), (_, _, s2, from2, _, _, _)) =>
          assert(s1 != s2, s"user $user: adjacent runs share state $s1")
          assert(to1.contains(from2), s"user $user: interval chain broken")
        case _ =>
      }
      assert(byV.count(_._7 == 1L) == 1, s"user $user: is_current count != 1")
      assert(byV.last._7 == 1L && byV.last._5.isEmpty, s"user $user: open tail run")
    }
  }

  test("q112 markov: row-conditional probabilities sum to 1 per prev_type") {
    val rows = SparkEntry.queries("q112_markov_transitions")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      val s = rs.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-4, s"$prev: prob sum $s")
    }
    val nUsersWithEvents = Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(rows.map(_._3).sum ==
      Tables.events(spark, sf0001).count() - nUsersWithEvents,
      "transition count = events - one per user (first event has no prev)")
  }

  test("q120 JS divergence: full pair matrix, bounded by ln 2, zero for identical slices") {
    val rows = SparkEntry.queries("q120_source_divergence")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val nSrc = Tables.documents(spark, sf0001).select("source").distinct().count()
    assert(rows.length == nSrc * (nSrc - 1) / 2, "one row per unordered source pair")
    rows.foreach { case (a, b, js) =>
      assert(a < b)
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9, s"($a,$b): JS $js out of range")
    }
    // planted: identical distributions diverge by exactly 0; disjoint by ln 2
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-js").toString
    Seq((1L, "alpha beta beta", "en", "sA"), (2L, "beta alpha beta", "en", "sB"),
      (3L, "gamma delta", "en", "sC"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("q120_source_divergence")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(planted(("sA", "sB")) == 0.0, "same distribution, order-independent")
    assert(math.abs(planted(("sA", "sC")) - math.log(2.0)) < 1e-5, "disjoint vocab = ln 2")
  }

  test("q121 sequence match agrees with an independent per-user regex replay") {
    val rows = SparkEntry.queries("q121_sequence_match")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 >= 1))
    // independent replay: collect raw events, rebuild each path in
    // plain Scala, count with java.util.regex directly
    val byUser = Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type")
      .collect()
      .filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val pat = java.util.regex.Pattern.compile("vc*p")
    val want = byUser.flatMap { case (u, es) =>
      val path = es.sortBy(e => (e._2.getTime * 1000 + e._2.getNanos / 1000 % 1000, e._3))
        .map(_._4.head).mkString
      val m = pat.matcher(path)
      var n = 0L
      while (m.find()) n += 1
      if (n > 0) Some((u, path.length.toLong, n)) else None
    }.toSet
    assert(rows.toSet == want)
  }

  test("q122 attribution agrees with an independent per-purchase replay") {
    val rows = SparkEntry.queries("q122_attribution")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // independent replay: order each user's events in plain Scala, walk
    // forward carrying the last non-purchase type, credit each purchase
    val byUser = Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .groupBy(_._1)
    val credits = scala.collection.mutable.Map.empty[String, (Long, Double)]
    byUser.values.foreach { es =>
      var touch: String = null
      es.sortBy(e => (e._2.getTime * 1000 + e._2.getNanos / 1000 % 1000, e._3)).foreach { e =>
        if (e._4 == "purchase") {
          val t = if (touch == null) "direct" else touch
          val (n, v) = credits.getOrElse(t, (0L, 0.0))
          credits(t) = (n + 1, v + e._5)
        } else touch = e._4
      }
    }
    val want = credits.map { case (t, (n, v)) =>
      (t, n, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = rows.map { case (t, n, v) => (t, n, v) }.toSet
    // sums of doubles can associate differently; compare value at 1e-6
    assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)))
    got.foreach { case (t, _, v) =>
      val w = want.find(_._1 == t).get._3
      assert(math.abs(v - w) < 1e-6, s"$t: $v vs $w")
    }
  }

  test("q125 seasonal index: recomputed dow means match, index centers on 1") {
    val rows = SparkEntry.queries("q125_seasonal_index")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, day, dow, _, _, _) =>
      // Spark dayofweek: 1 = Sunday … 7 = Saturday
      val jd = java.time.LocalDate.parse(day).getDayOfWeek.getValue % 7 + 1
      assert(dow == jd, s"$day: dow $dow vs $jd")
    }
    rows.groupBy(r => (r._1, r._3)).foreach { case ((t, dow), rs) =>
      val mean = BigDecimal(rs.map(_._4).sum / rs.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      rs.foreach { r =>
        assert(math.abs(r._5 - mean) < 2e-6, s"$t dow $dow: ${r._5} vs $mean")
        assert(math.abs(r._6 - r._4 / r._5) < 2e-6)
      }
      // the index averages to ~1 within each (type, dow) cell by construction
      val idxMean = rs.map(_._6).sum / rs.size
      assert(math.abs(idxMean - 1.0) < 0.05, s"$t dow $dow index mean $idxMean")
    }
  }

  test("q126 changepoint: means recomputed from the declared series; edges have no score") {
    val rows = SparkEntry.queries("q126_changepoint")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getLong(6)))
    assert(rows.nonEmpty)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // columns: (day, event_type, x, ...) — group by the TYPE, walk days
    rows.groupBy(_._2).foreach { case (_, rsU) =>
      val rs = rsU.sortBy(_._1)
      rs.indices.foreach { i =>
        val left = (i - 7 until i).filter(_ >= 0).map(j => rs(j)._3)
        val right = (i until i + 7).filter(_ < rs.length).map(j => rs(j)._3)
        val wantL = if (left.size == 7) Some(r6(left.sum / 7)) else None
        val wantR = if (right.size == 7) Some(r6(right.sum / 7)) else None
        (rs(i)._4, wantL) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 2e-6)
          case (a, b) => assert(a.isEmpty == b.isEmpty, s"left at $i: $a vs $b")
        }
        (rs(i)._5, wantR) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 2e-6)
          case (a, b) => assert(a.isEmpty == b.isEmpty, s"right at $i: $a vs $b")
        }
        // a score exists exactly when both frames are full
        assert(rs(i)._6.isDefined == (rs(i)._4.isDefined && rs(i)._5.isDefined))
      }
      // the first 7 and last 6 days of every series can never score
      assert(rs.take(7).forall(_._6.isEmpty) && rs.takeRight(6).forall(_._6.isEmpty))
    }
  }

  test("q126 flags a planted level shift and nothing in a flat series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cpd").toString
    // 28 days: flat 10.0 then a persistent jump to 100.0 at day 15
    val rows = (1 to 28).map { d =>
      (d.toLong, f"2024-01-$d%02d 12:00:00", 7L, "view",
        if (d <= 14) 10.0 else 100.0, "{}")
    }
    rows.toDF("event_id", "day", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr("cast(to_timestamp(day) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q126_changepoint")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(6)).toMap
    // the shift window [day 9..15] sees the jump; day 15 itself is the
    // strongest (left all-10, right all-100)
    assert(out("2024-01-15") == 1L, s"planted shift must flag: $out")
    // a pure-flat region scores zero shift → no flag
    assert(out("2024-01-08") == 0L)
    assert(out.values.sum >= 1L)
  }

  test("q127 conversion latency agrees with an independent replay") {
    val row = SparkEntry.queries("q127_conversion_latency")(spark, sf0001).collect().head
    val ev = Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_type").collect()
      .filter(!_.isNullAt(2))
      .map(r => (r.getLong(0),
        Math.floorDiv(r.getTimestamp(1).getTime, 1000L) * 1000000L +
          r.getTimestamp(1).getNanos / 1000L, r.getString(2)))
    val deltas = ev.groupBy(_._1).values.flatMap { es =>
      val fv = es.filter(_._3 == "view").map(_._2).minOption
      fv.flatMap { v =>
        es.filter(e => e._3 == "purchase" && e._2 > v).map(_._2).minOption
          .map(p => BigDecimal((p - v) / 1000000.0)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.toSeq.sorted
    assert(row.getLong(0) == deltas.size.toLong)
    // exact interpolated percentile, the q51 definition
    def pct(p: Double): Double = {
      val pos = p * (deltas.size - 1)
      val lo = pos.toInt
      val frac = pos - lo
      val v = if (lo + 1 < deltas.size)
        deltas(lo) + frac * (deltas(lo + 1) - deltas(lo)) else deltas(lo)
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(math.abs(row.getDouble(1) - pct(0.25)) < 2e-4)
    assert(math.abs(row.getDouble(2) - pct(0.5)) < 2e-4)
    assert(math.abs(row.getDouble(3) - pct(0.9)) < 2e-4)
  }

  test("labelPropagation separates two cliques joined by a bridge; CC merges them") {
    import spark.implicits._
    // two 4-cliques bridged by one edge: frequency voting keeps two
    // communities, min-label CC floods everything to one
    def clique(ns: Seq[String]) =
      for (i <- ns.indices; j <- i + 1 until ns.length) yield (ns(i), ns(j))
    val left = clique(Seq("a1", "a2", "a3", "a4"))
    val right = clique(Seq("b1", "b2", "b3", "b4"))
    val edges = (left ++ right :+ ("a1" -> "b1")).toDF("id_a", "id_b")
    val lp = graft.operators.Graph.labelPropagation(edges, iters = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val aLabels = Seq("a2", "a3", "a4").map(lp).toSet
    val bLabels = Seq("b2", "b3", "b4").map(lp).toSet
    assert(aLabels == Set("a1") && bLabels == Set("b1"),
      s"clique interiors must adopt the clique hub label: $lp")
    // the two communities stay distinct (CC would merge via the bridge)
    assert(lp("a2") != lp("b2"))
    val cc = graft.operators.Graph.connectedComponents(edges.select(
        hash(col("id_a")).cast("long").as("id_a"),
        hash(col("id_b")).cast("long").as("id_b")))
      .collect().map(_.getLong(1)).toSet
    assert(cc.size == 1, "sanity: CC merges the bridged cliques")
  }

  test("q129 interval lookup agrees with a per-purchase state replay") {
    val got = SparkEntry.queries("q129_interval_lookup")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf0001)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(1),
        Math.floorDiv(r.getTimestamp(2).getTime, 1000L) * 1000000L +
          r.getTimestamp(2).getNanos / 1000L, r.getString(3)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val states = es.filter(_._4 != "purchase").sortBy(e => (e._3, e._2))
      // runs of equal type → (state, version, from_us); lookup by scan
      val runs = states.foldLeft(Vector.empty[(String, Long, Long)]) { (acc, e) =>
        if (acc.isEmpty || acc.last._1 != e._4)
          acc :+ ((e._4, acc.size + 1L, e._3))
        else acc
      }
      es.filter(_._4 == "purchase").flatMap { p =>
        val active = runs.zipWithIndex
          .filter { case ((_, _, from), i) =>
            from <= p._3 && runs.lift(i + 1).forall(next => p._3 < next._3)
          }
        active.map { case ((st, ver, _), _) => (p._2, u, st, ver) }
      }
    }.toSet
    assert(got.toSet == want)
  }

  /** Plain-Scala personalized PageRank — no Spark, no shared code. */
  private def refPpr(edges: Seq[(String, String)], seed: String,
                     iters: Int, d: Double): Map[String, Double] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val nodes = sym.map(_._1).distinct
    val outDeg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var pr = nodes.map(n => n -> (if (n == seed) 1.0 else 0.0)).toMap
    (1 to iters).foreach { _ =>
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => pr(e._1) / outDeg(e._1)).sum
      }
      pr = nodes.map(n => n ->
        ((if (n == seed) 1.0 - d else 0.0) + d * contrib.getOrElse(n, 0.0))).toMap
    }
    pr
  }

  test("personalized PageRank matches the in-memory reference and localizes around the seed") {
    import spark.implicits._
    // a path a-b-c-d-e plus a hub f on a: mass must decay with
    // distance from the seed, unlike global PageRank
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e",
      "a" -> "f", "f" -> "g")
    val got = graft.operators.Graph.personalizedPageRank(
        edges.toDF("id_a", "id_b"), Seq("a").toDF("id"), iters = 10, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refPpr(edges, "a", iters = 10, d = 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (n, r) =>
      assert(math.abs(r - want(n)) < 1e-9, s"node $n: $r vs ${want(n)}")
    }
    // teleport + redistribution conserve the unit of mass (symmetric
    // graph, no dangling nodes)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // locality: the seed outranks everything; distance decays the tail
    assert(got("a") == got.values.max)
    assert(got("b") > got("d") && got("b") > got("e"))
    // seeds outside the graph are ignored; empty effective seeds → empty
    val none = graft.operators.Graph.personalizedPageRank(
      edges.toDF("id_a", "id_b"), Seq("zz").toDF("id"), iters = 3, damping = 0.85)
    assert(none.collect().isEmpty)
  }

  test("q133 top paths equals a per-user path replay re-aggregated") {
    val rows = SparkEntry.queries("q133_top_paths")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 20)
    val byUser = Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type")
      .collect()
      .filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val paths = byUser.values.map { es =>
      es.sortBy(e => (e._2.getTime * 1000 + e._2.getNanos / 1000 % 1000, e._3))
        .map(_._4.head).mkString
    }
    val want = paths.groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(rows.toSeq == want)
  }

  test("q134 chi-square replays from raw counts; a uniform table scores ~0") {
    val row = SparkEntry.queries("q134_chi_square")(spark, sf0001).collect().head
    val cells = Tables.documents(spark, sf0001)
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    val t = cells.values.sum
    val rn = cells.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val sn = cells.groupBy(_._1._2).map { case (s, m) => s -> m.values.sum }
    val want = cells.map { case ((l, s), n) =>
      val e = rn(l) * sn(s) / t
      (n - e) * (n - e) / e
    }.sum
    assert(math.abs(row.getDouble(0) - want) < 1e-4, s"${row.getDouble(0)} vs $want")
    assert(row.getLong(1) == cells.size.toLong)
    // planted perfect independence: every (lang, source) cell equal →
    // observed == expected → chi2 exactly 0
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-chi2").toString
    (for (l <- Seq("en", "de"); s <- Seq("a", "b", "c"); i <- 1 to 10)
      yield (l.hashCode.toLong * 100 + s.hashCode + i, s"t $i", l, s))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val indep = SparkEntry.queries("q134_chi_square")(spark, dir).collect().head
    assert(indep.getDouble(0) == 0.0, s"uniform table must score 0: $indep")
  }

  test("q135 correlation matrix replays the Pearson formula per pair") {
    val got = SparkEntry.queries("q135_corr_matrix")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6 && got.values.forall(r => r >= -1.0 && r <= 1.0))
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val data = Tables.lineitem(spark, sf0001).select(cols.map(col): _*)
      .collect().map(r => cols.indices.map(r.getDouble).toArray)
    def pearson(i: Int, j: Int): Double = {
      val n = data.length
      val (mi, mj) = (data.map(_(i)).sum / n, data.map(_(j)).sum / n)
      val cov = data.map(r => (r(i) - mi) * (r(j) - mj)).sum
      val (vi, vj) = (data.map(r => math.pow(r(i) - mi, 2)).sum,
        data.map(r => math.pow(r(j) - mj, 2)).sum)
      cov / math.sqrt(vi * vj)
    }
    for (i <- cols.indices; j <- i + 1 until cols.length)
      assert(math.abs(got((cols(i), cols(j))) - pearson(i, j)) < 2e-4,
        s"${cols(i)}/${cols(j)}")
  }

  test("q136 MAD outliers: replayed statistics; a single spike can't mask itself") {
    val rows = SparkEntry.queries("q136_mad_outliers")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(6)))
    assert(rows.nonEmpty)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def quantile(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 < s.size) s(lo) + (pos - lo) * (s(lo + 1) - s(lo)) else s(lo)
    }
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val med = r6(quantile(rs.map(_._3).toSeq, 0.5))
      val mad = r6(quantile(rs.map(r => math.abs(r._3 - med)).toSeq, 0.5))
      rs.foreach { r =>
        assert(math.abs(r._4 - med) < 2e-6 && math.abs(r._5 - mad) < 2e-6)
        val wantFlag = if (mad > 0 && r6(math.abs(r._3 - med)) > 3.0 * mad) 1L else 0L
        assert(r._6 == wantFlag, s"$r")
      }
    }
    // robustness: 20 quiet days + one 100× spike — the spike CANNOT
    // drag the median/MAD the way it drags a mean/sigma, so it flags
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mad").toString
    ((1 to 20).map(d => (d.toLong, f"2024-02-$d%02d 10:00:00", 1L, "view", 10.0 + (d % 3), "{}"))
      :+ (21L, "2024-02-21 10:00:00", 1L, "view", 1000.0, "{}"))
      .toDF("event_id", "day", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr("cast(to_timestamp(day) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    val planted = SparkEntry.queries("q136_mad_outliers")(spark, dir).collect()
      .map(r => r.getString(1) -> r.getLong(6)).toMap
    assert(planted("2024-02-21") == 1L, s"spike must flag: $planted")
    assert(planted.values.sum == 1L, s"only the spike flags: $planted")
  }

  test("q113 EWMA: baseline recomputed from the declared series matches") {
    val rows = SparkEntry.queries("q113_ewma_anomaly")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, rsUnsorted) =>
      val rs = rsUnsorted.sortBy(_._1)
      // first day of every series has no lags → null baseline, never a spike
      assert(rs.head._4.isEmpty && rs.head._5 == 0L)
      rs.indices.drop(1).foreach { i =>
        val lags = (1 to 8).flatMap(j => if (i - j >= 0) Some(rs(i - j)._3) else None)
        val ws = Temporal.EwmaWeights.take(lags.size)
        val want = BigDecimal(
          lags.zip(ws).map { case (x, w) => w * x }.sum / ws.sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(rs(i)._4.get - want) < 2e-6,
          s"${rs(i)._2} ${rs(i)._1}: baseline ${rs(i)._4.get} vs $want")
      }
    }
  }

  test("q147 distances equal an independent in-memory Bellman-Ford replay") {
    val rows = SparkEntry.queries("q147_shortest_paths")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty)
    // rebuild the weighted graph in plain Scala from the same corpus
    val pairs = Tables.documents(spark, sf0001)
      .select(graft.functions.Portable.tokenize(col("text")).as("ws"))
      .collect().map(_.getSeq[String](0))
      .flatMap(ws => ws.zip(ws.drop(1)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
    val cnt = pairs.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val n = cnt.values.sum
    def rnd6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val adj = cnt.toSeq.flatMap { case ((a, b), c) =>
      val w = rnd6(math.log(1 + n / c)); Seq((a, b, w), (b, a, w))
    }.groupBy(_._1)
    val seed = adj.keys.min
    // 8 synchronous relaxation rounds with the SAME per-step rounding
    var dist = Map(seed -> 0.0)
    (1 to 8).foreach { _ =>
      val relaxed = dist.toSeq.flatMap { case (u, d) =>
        adj.getOrElse(u, Seq.empty).map { case (_, v, w) => v -> rnd6(d + w) }
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).map {
        case (k, vs) => k -> vs.map(_._2).min
      }
    }
    assert(rows.keySet == dist.keySet,
      s"reach sets differ: ${rows.keySet.diff(dist.keySet)} / ${dist.keySet.diff(rows.keySet)}")
    dist.foreach { case (w, d) =>
      assert(math.abs(rows(w) - d) < 1e-9, s"$w: ${rows(w)} vs $d")
    }
    assert(rows(seed) == 0.0, "seed distance is zero")
    assert(rows.values.forall(_ >= 0.0))
  }
}
