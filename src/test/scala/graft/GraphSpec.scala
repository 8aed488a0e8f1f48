package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.Citations

/** Citation edge-list operators (ref: sources/oci.py). */
class GraphSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def edges(rows: (String, String)*) =
    rows.toSeq.toDF("citing", "cited")

  test("fromCsvLines drops header/blank/short lines and cuts fields 2-3") {
    val lines = Seq(
      "oci,citing,cited,creation,timespan", // header anywhere in line
      "prefix oci,citing,cited",            // grep -vF: substring match
      "",                                    // blank
      "oci:1-2",                             // too few fields
      "oci:1-2,10.1/a,10.2/b,2020-01-01,P1Y",
      "oci:3-4,10.3/c,10.4/d"                // trailing fields optional
    ).toDF("line")
    val out = Citations.fromCsvLines(lines, "line")
      .as[(String, String)].collect().toSet
    assert(out == Set("10.1/a" -> "10.2/b", "10.3/c" -> "10.4/d"))
  }

  test("unique lists and union-distinct") {
    val e = edges("a" -> "x", "a" -> "y", "b" -> "x", "b" -> "x")
    assert(Citations.citingUnique(e).as[String].collect().toSet == Set("a", "b"))
    assert(Citations.citedUnique(e).as[String].collect().toSet == Set("x", "y"))
    assert(Citations.allDoisUnique(e).as[String].collect().toSet ==
      Set("a", "b", "x", "y"))
  }

  test("mostCited counts raw edges and tie-breaks on DOI") {
    val e = edges("a" -> "x", "b" -> "x", "a" -> "y", "b" -> "y", "c" -> "z")
    val top = Citations.mostCited(e, 2).as[(String, Long)].collect().toSeq
    assert(top == Seq("x" -> 2L, "y" -> 2L)) // z cut; x before y on tie
  }

  test("coCitedPairs counts shared citers, dedups within a citer") {
    val e = edges(
      "p1" -> "x", "p1" -> "y", "p1" -> "y", // duplicate ref collapses
      "p2" -> "x", "p2" -> "y",
      "p3" -> "x", "p3" -> "z")
    val pairs = Citations.coCitedPairs(e, minShared = 2)
      .as[(String, String, Long)].collect().toSet
    assert(pairs == Set(("x", "y", 2L))) // (x,z) shares only p3
  }

  test("hub cap drops oversized reference lists before pair explosion") {
    val hub = (1 to 10).map(i => "review" -> s"r$i")
    val e = edges(hub ++ Seq("p" -> "r1", "p" -> "r2",
      "q" -> "r1", "q" -> "r2"): _*)
    val pairs = Citations.coCitedPairs(e, minShared = 2, maxReferences = 5)
      .as[(String, String, Long)].collect().toSet
    // The 10-reference hub is excluded; only p,q corroborate (r1,r2).
    assert(pairs == Set(("r1", "r2", 2L)))
  }

  test("collect_set_capped equals the countDistinct-screened collect_set") {
    // The one-pass capped aggregate behind coOccurrencePairs must
    // agree with the two-pass shape it replaced on BOTH sides of the
    // saturation boundary: exactly cap distinct members (kept, sorted,
    // duplicates folded), cap+1 (NULL), merge-across-partitions
    // (members of one key spread over many input partitions), and
    // null members ignored.
    graft.plans.CollectSetCappedAgg.register(spark)
    val cap = 3
    val rows = Seq(
      // key "edge": exactly cap distinct (with dup + null noise)
      "edge" -> "m1", "edge" -> "m2", "edge" -> "m3", "edge" -> "m2",
      // key "hub": cap+1 distinct -> NULL
      "hub" -> "a", "hub" -> "b", "hub" -> "c", "hub" -> "d",
      // key "solo": below any screen, still collected (caller filters)
      "solo" -> "only"
    ).toDF("k", "m")
      .union(Seq(("edge", null.asInstanceOf[String])).toDF("k", "m"))
      .repartition(7) // force partial buffers + merges
    val got = rows.groupBy("k")
      .agg(sort_array(call_function(
        graft.plans.CollectSetCappedAgg.Name, col("m"), lit(cap))).as("ms"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1)))
      .toMap
    assert(got("edge") == Some(Seq("m1", "m2", "m3")))
    assert(got("hub").isEmpty)
    assert(got("solo") == Some(Seq("only")))
    // And the reference equivalence on a randomized table: capped
    // NULL <=> countDistinct > cap, else == sort_array(collect_set).
    val rand = spark.range(3000).select(
      (col("id") % 37).cast("string").as("k"),
      concat(lit("m"), pmod(col("id") * 7919, lit(97))).as("m"))
    val capped = rand.groupBy("k")
      .agg(sort_array(call_function(
        graft.plans.CollectSetCappedAgg.Name, col("m"), lit(50))).as("c"))
    val ref = rand.groupBy("k")
      .agg(sort_array(collect_set(col("m"))).as("s"),
        countDistinct(col("m")).as("n"))
    val joined = capped.join(ref, Seq("k")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val c = Option(r.getSeq[String](1))
      val s = r.getSeq[String](2)
      val n = r.getLong(3)
      if (n > 50) assert(c.isEmpty, s"key ${r.getString(0)}")
      else assert(c.contains(s), s"key ${r.getString(0)}")
    }
  }

  test("couplingPairs is the transpose of coCitedPairs") {
    val e = edges("a" -> "x", "b" -> "x", "a" -> "y", "b" -> "y", "c" -> "y")
    val pairs = Citations.couplingPairs(e, minShared = 2)
      .as[(String, String, Long)].collect().toSet
    assert(pairs == Set(("a", "b", 2L)))
  }

  test("pageRank matches hand-computed two-iteration values") {
    // a -> b, a -> c, b -> c  (c dangles; its mass is ignored)
    val e = edges("a" -> "b", "a" -> "c", "b" -> "c")
    // Normalized (mean-1) ranks, d = 0.85:
    //  r1: a = 0.15, b = 0.15 + 0.85*(1/2) = 0.575,
    //      c = 0.15 + 0.85*(1/2 + 1/1) = 1.425
    //  r2: a = 0.15, b = 0.15 + 0.85*(0.15/2) = 0.21375,
    //      c = 0.15 + 0.85*(0.15/2 + 0.575/1) = 0.7025
    val r = Citations.pageRank(e, iterations = 2)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.15) < 1e-12)
    assert(math.abs(r("b") - 0.21375) < 1e-12)
    assert(math.abs(r("c") - 0.7025) < 1e-12)
  }

  test("pageRank via a real checkpoint dir equals the localCheckpoint path") {
    // Cluster knob: a (durable) spark.graft.checkpoint.dir replaces
    // localCheckpoint — localCheckpoint pins the computing executors, a
    // real dir survives them. Semantics must be identical, including
    // across the every-5-rounds truncation boundary (7 iterations
    // crosses it).
    val dir = java.nio.file.Files.createTempDirectory("pr_ckpt")
    try {
      val e = edges("a" -> "b", "a" -> "c", "b" -> "c")
      val local = Citations.pageRank(e, iterations = 7)
        .as[(String, Double)].collect().toMap
      val localExact = Citations.pageRankExact(e, iterations = 7)
        .as[(String, Long)].collect().toMap
      spark.conf.set(Checkpoints.DirConf, dir.toString)
      val durable = Citations.pageRank(e, iterations = 7)
        .as[(String, Double)].collect().toMap
      assert(durable == local)
      val exact = Citations.pageRankExact(e, iterations = 7)
        .as[(String, Long)].collect().toMap
      assert(exact == localExact)
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      graft.queries.Fixtures.deleteRecursively(dir)
    }
  }

  test("pageRankExact reproduces the float recurrence in integer mass units") {
    val e = edges("a" -> "b", "a" -> "c", "b" -> "c")
    val r = Citations.pageRankExact(e, iterations = 2)
      .as[(String, Long)].collect().toMap
    // Same hand-computation as the float test, ×1e9 (all divisions
    // here are exact, so no truncation shows).
    assert(r == Map("a" -> 150000000L, "b" -> 213750000L,
      "c" -> 702500000L))
  }

  test("pageRank at 10 iterations crosses lineage truncation and converges") {
    // 10 iterations crosses the every-5-rounds localCheckpoint twice;
    // the truncation must be semantically invisible. On the 3-node
    // chain the recurrence converges geometrically, so iteration 10 is
    // within 1e-3 of the closed-form fixpoint:
    //  a = 0.15, b = 0.15 + 0.85·a/2, c = 0.15 + 0.85·(a/2 + b).
    val e = edges("a" -> "b", "a" -> "c", "b" -> "c")
    val a = 0.15
    val b = 0.15 + 0.85 * a / 2
    val c = 0.15 + 0.85 * (a / 2 + b)
    val r = Citations.pageRank(e, iterations = 10)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - a) < 1e-3)
    assert(math.abs(r("b") - b) < 1e-3)
    assert(math.abs(r("c") - c) < 1e-3)
    // Truncation signature: at iterations = 7 and 12 the final plan
    // nests exactly the 2 rounds past the last checkpoint (i=5 resp.
    // i=10), so the optimized plans have the SAME node count — without
    // truncation the 12-iteration plan would be ~5 rounds of joins
    // deeper.
    def planNodes(iters: Int): Int =
      Citations.pageRank(e, iterations = iters)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planNodes(12) == planNodes(7),
      "lineage not truncated: plan keeps growing across checkpoints")
  }

  test("pageRank with zero iterations returns uniform normalized ranks") {
    val e = edges("a" -> "b")
    val r = Citations.pageRank(e, 0).as[(String, Double)].collect().toMap
    assert(r == Map("a" -> 1.0, "b" -> 1.0))
  }

  test("approximate distinct counts stay within 5% of exact") {
    val sfEdges = {
      import org.apache.spark.sql.functions._
      Tables.lineitem(spark, TestSpark.Sf).select(
        concat(lit("O"), col("l_orderkey")).as("citing"),
        concat(lit("P"), col("l_partkey")).as("cited"))
    }
    val exact = Citations.citingUnique(sfEdges).count().toDouble
    val approx = sfEdges
      .agg(approx_count_distinct(col("citing"), 0.02).as("n"))
      .head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("selfCitationByPrefix computes per-prefix share") {
    val e = edges(
      "10.1/a" -> "10.1/b", "10.1/a" -> "10.2/c",
      "10.2/d" -> "10.2/e")
    val out = Citations.selfCitationByPrefix(e)
      .as[(String, Long, Long, Double)].collect().toMap2
    assert(out("10.1") == ((2L, 1L, 0.5)))
    assert(out("10.2") == ((1L, 1L, 1.0)))
  }

  private implicit class MapOps(rows: Array[(String, Long, Long, Double)]) {
    def toMap2: Map[String, (Long, Long, Double)] =
      rows.map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
  }
}
