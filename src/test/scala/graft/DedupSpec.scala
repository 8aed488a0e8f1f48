package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity}

/** LLM-pipeline dedup/similarity: LSH candidate recall against the
  * exact baseline, simhash invariants, ANN recall, and plan-shape
  * guards (no cartesian products on the scale paths). */
class DedupSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}
  import spark.implicits._

  lazy val docs = Tables.documents(spark, Sf).filter(col("doc_id") < 120).cache()

  test("exactGroups: identical-after-reorder texts share a group") {
    val df = Seq(
      (1L, "b a c"), (2L, "a b c"), (3L, "a b c d")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .select("canonical_id", "group_size").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
  }

  // Driver-path bound 0 forces the distributed propagation loop.
  private def distributedGroups(pairs: org.apache.spark.sql.DataFrame) =
    Dedup.duplicateGroups(pairs, "id_a", "id_b", 20, 0)

  test("duplicateGroups: chains collapse to one component, disjoint pairs stay apart") {
    // Path graph 1-2-3-4-5 (diameter 4 — exercises multi-round
    // propagation) plus the disjoint pair (10, 11).
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L)
    assert(distributedGroups(pairs).as[(Long, Long)].collect().toMap == expected)
    assert(Dedup.duplicateGroups(pairs).as[(Long, Long)].collect().toMap == expected)
  }

  test("duplicateGroups: pointer jumping converges a 120-link chain within the round cap") {
    // Without the label(label) jump this needs ~120 rounds and throws;
    // with it, O(log n) rounds suffice under the default cap of 20.
    val pairs = (0L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = distributedGroups(pairs).as[(Long, Long)].collect()
    assert(groups.length == 121 && groups.forall(_._2 == 0L))
  }

  test("duplicateGroups: small graphs are labeled on the driver from one materialized pair list") {
    val pairs = (0L until 120L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs)
    // The labels come back as a local relation: no shuffle, no
    // per-round truncation left in the plan.
    val plan = groups.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Exchange"), plan)
    val got = groups.as[(Long, Long)].collect()
    assert(got.length == 121 && got.forall(_._2 == 0L))
  }

  test("duplicateGroups: a null endpoint takes the distributed path, which groups the null node") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (Some(2L), None)).toDF("id_a", "id_b")
    val got = Dedup.duplicateGroups(pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set((Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (None, Some(1L))))
    assert(distributedGroups(pairs).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet == got)
  }

  test("signature tables evaluate each signature expression once per document") {
    // A null-text filter on the derived signature column would be
    // pushed below the projection as a second evaluation of the whole
    // fallback expression; the null texts are dropped on the input.
    // Parquet-backed, so the projection is not folded into a local
    // relation at optimization time.
    val path = java.nio.file.Files.createTempDirectory("sigplan").toString + "/docs"
    Seq[(Long, Option[String])]((1L, Some("a b c d")), (2L, None),
      (3L, Some("b c d e"))).toDF("doc_id", "text").write.parquet(path)
    val df = spark.read.parquet(path)
    def evals(plan: org.apache.spark.sql.DataFrame, fn: String): Int =
      s"$fn\\(".r.findAllIn(plan.queryExecution.executedPlan.toString).size
    for (n <- Seq(1, 2)) {
      val sig = Dedup.signatureTable(df, "doc_id", "text", n, 16, portable = false)
      assert(evals(sig, "minhash_sig_arr") == 1,
        sig.queryExecution.executedPlan.toString)
      assert(sig.select("doc").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      val oph = Dedup.minhashOphSignature(df, "doc_id", "text", 16, n)
      assert(evals(oph, "minhash_oph_sig") == 1,
        oph.queryExecution.executedPlan.toString)
      assert(oph.select("doc").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    }
    val sim = Dedup.simhashTable(df, "doc_id", "text", 32)
    assert(evals(sim, "simhash_fp") == 1, sim.queryExecution.executedPlan.toString)
    assert(sim.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("OPH minhash LSH: never invents pairs, recall >= 0.9 vs exact") {
    val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oph = Dedup.minhashLshPairsOph(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(oph.subsetOf(exact)) // verification is exact
    val recall = oph.size.toDouble / exact.size
    assert(recall >= 0.9, s"OPH recall $recall (${oph.size}/${exact.size})")
    // determinism: the densified signature has no runtime randomness
    val again = Dedup.minhashLshPairsOph(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(again == oph)
  }

  test("OPH in its regime: long docs (tokens >> bins) match exact recall") {
    // 8 near-dup pairs of 2000-distinct-token docs (J ≈ 0.905) — the
    // long-document regime the operator documents. Bins ≈ 128, so
    // occupancy is ~15 tokens/bin and densification is negligible.
    val rows = (0 until 8).flatMap { k =>
      Seq(0, 1).map { off =>
        ((k * 2 + off).toLong,
          (k * 3000 + off * 100 until k * 3000 + off * 100 + 2000)
            .map(i => s"w$i").mkString(" "))
      }
    }
    val df = rows.toDF("doc_id", "text")
    val exact = Dedup.jaccardPairsExact(df, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oph = Dedup.minhashLshPairsOph(df, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 8)
    assert(oph == exact, s"OPH found ${oph.size}/8 in its own regime")
  }

  test("OPH regime warning: fires on short docs, quiet on long docs") {
    // Pure boundary: the warning threshold is mean distinct shingles
    // < 4× bins (occupancy floor below which densification correlates
    // bands; measured ~13% relative recall on the ~200-token corpus).
    assert(Dedup.ophRegimeWarning(200.0, 128).isDefined)
    assert(Dedup.ophRegimeWarning(511.0, 128).isDefined)
    assert(Dedup.ophRegimeWarning(512.0, 128).isEmpty)
    // Probe over real data: the sf documents are ~200 tokens → warn.
    val short = Dedup.ophRegimeProbe(docs, "doc_id", "text",
      shingleN = 1, bins = 128, sampleDocs = 256)
    assert(short.isDefined, "short-doc corpus must trigger the warning")
    assert(short.get.contains("Use minhashLshPairs"))
    // Long-doc corpus (2000 distinct tokens vs 128 bins) → quiet.
    val longDocs = (0 until 8).map { k =>
      (k.toLong, (k * 3000 until k * 3000 + 2000).map(i => s"w$i")
        .mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.ophRegimeProbe(longDocs, "doc_id", "text",
      shingleN = 1, bins = 128, sampleDocs = 256).isEmpty)
  }

  test("OPH signature: full width, empty bins densified from neighbors") {
    val sigs = Dedup.minhashOphSignature(
      Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
        (3L, "totally different words here")).toDF("doc_id", "text"),
      "doc_id", "text", bins = 32)
      .as[(Long, Seq[Long])].collect().toMap
    // 3 tokens into 32 bins → ~29 empty bins, all densified (no nulls)
    assert(sigs.values.forall(s => s.length == 32 && !s.contains(null)))
    // identical docs → identical signatures; different docs differ
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("nearDupRewrite: one kept per group, quality-max canonical, singletons kept") {
    // Two explicit components (1,2,3 and 10,11), one singleton (20).
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val corpus = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),   // group 1: quality tie 2 vs 3 → id-max 3 wins
      (10L, 7L), (11L, 4L),           // group 10: 10 wins on quality
      (20L, 1L)                       // singleton
    ).toDF("doc_id", "q")
    val out = Dedup.nearDupRewrite(corpus, "doc_id", col("q"), pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1L, false), (2L, 1L, false), (3L, 1L, true),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true)))
  }

  test("nearDupRewrite over LSH pairs: kept set is exact-group-consistent") {
    // Full composition on the corpus fixture: every doc appears exactly
    // once, exactly one kept per group, and kept docs reconstruct a
    // pairwise-non-duplicate corpus under the SAME pair relation.
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)
    val out = Dedup.nearDupRewrite(docs, "doc_id", col("n_chars"), pairs)
    val rows = out.as[(Long, Long, Boolean)].collect()
    assert(rows.length == docs.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    val keptPerGroup = rows.groupBy(_._2).map { case (_, g) => g.count(_._3) }
    assert(keptPerGroup.forall(_ == 1))
    // No surviving pair: both ends of any near-dup pair can't be kept.
    val kept = rows.filter(_._3).map(_._1).toSet
    val pairSet = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairSet.forall { case (a, b) => !(kept(a) && kept(b)) })
  }

  test("minhash LSH pairs recall >= 0.9 vs exact pairs at high threshold") {
    val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near-dups")
    // LSH never invents pairs (verification is exact)…
    assert(lsh.subsetOf(exact))
    // …and banding (16×8) misses at most a sliver above threshold.
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")

    // Sensitivity guard: at the 0.8 threshold the S-curve still must
    // clear 0.9 recall — a degenerate hash family (e.g. hashes that
    // rank shingles identically, behaving like one permutation) passes
    // the 0.9-threshold check but collapses here.
    val exact08 = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh08 = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall08 = lsh08.size.toDouble / exact08.size
    assert(recall08 >= 0.9, s"recall@0.8 $recall08 (${lsh08.size}/${exact08.size})")
  }

  test("minhash LSH plan has no cartesian product") {
    val plan = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("bucket cap bounds candidate work without inventing pairs") {
    val capped = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9,
        maxBucketSize = Some(10))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))

    // Embedding path: 24 copies of vector 0 share every bucket with it,
    // a hub over the cap in each table. Brute force: exact pairs that
    // share some bucket holding 2..cap members.
    val cap = 10
    val base = Tables.embeddings(spark, Sf).filter(col("vec_id") < 300)
      .select("vec_id", "embedding")
    val hub = base.filter(col("vec_id") === 0).crossJoin(spark.range(24))
      .select((col("id") + 100000L).as("vec_id"), col("embedding"))
    val emb = base.unionByName(hub).cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim").as[(Long, Long, Double)].collect().toSet
    val lsh = (c: Option[Int]) => pairs(Dedup.embeddingNearDupPairsLsh(emb,
      "vec_id", "embedding", 0.4, planes = 6, tables = 4, maxBucketSize = c))
    val candidates = emb
      .select(col("vec_id"), posexplode(Similarity.lshBucketsAll(spark,
        col("embedding"), 4, 6, 64)).as(Seq("tbl", "bkt")))
      .as[(Long, Int, Int)].collect()
      .groupBy(r => (r._2, r._3)).values.map(_.map(_._1).sorted)
      .filter(ms => ms.length >= 2 && ms.length <= cap)
      .flatMap(ms => ms.combinations(2).map(p => (p(0), p(1)))).toSet
    val brute = pairs(Dedup.embeddingNearDupPairsExact(emb, "vec_id",
      "embedding", 0.4)).filter(p => candidates((p._1, p._2)))
    val embCapped = lsh(Some(cap))
    assert(embCapped == brute)
    assert(embCapped.nonEmpty, "fixture must keep pairs under the cap")
    val hubPair = (0L, 100000L)
    assert(lsh(None).exists(p => (p._1, p._2) == hubPair))
    assert(!embCapped.exists(p => (p._1, p._2) == hubPair))
    emb.unpersist()
  }

  test("embedding LSH, incremental and SemDeDup caps aggregate with collect_set_capped, never a full-bucket size filter") {
    val emb = Tables.embeddings(spark, Sf).filter(col("vec_id") < 40)
      .select("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 2, iters = 1)
    val assign = Similarity.assignToCentroids(emb, "vec_id", "embedding",
      cents)
    val capped = Seq(
      Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.4,
        maxBucketSize = Some(7)),
      Dedup.embeddingNearDupPairsIncremental(emb.filter(col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30), "vec_id", "embedding", 0.4,
        maxBucketSize = Some(7)),
      Dedup.semDedup(emb, "vec_id", "embedding", assign, cents, 0.4,
        maxClusterSize = Some(7)))
    capped.map(_.queryExecution.optimizedPlan.toString).foreach { plan =>
      assert(plan.contains("collect_set_capped"), plan)
      assert("""size\([^)]*\)\s*<=\s*7""".r.findFirstIn(plan).isEmpty, plan)
    }
  }

  test("simhash block-LSH pairs equal brute-force hamming pairs (pigeonhole recall=1)") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        bits = 32, blocks = 4, maxHamming = 2, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fps = Dedup.simhashTable(docs, "doc_id", "text", 32, portable = true)
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 2
    } yield (a, b)).toSet
    // maxHamming(2) < blocks(4) → every qualifying pair shares a block.
    assert(pairs == brute)
    assert(brute.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("simhash: deterministic, order-insensitive, small hamming for near-dups") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "theta eta zeta epsilon delta gamma beta alpha"), // permutation
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // 1 token swap
      (4L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), Dedup.simhash(col("text"), 32).as("h"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(2L))
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))
  }

  test("repeated passages: shared spans found, window math exact, short docs covered") {
    // B shares A's "c d e f" span (plus its own tail); C is too short
    // for any window; D repeats an intra-doc span that no OTHER doc
    // has — must NOT count as cross-document repeated (n_docs = 1).
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y c d e f q r"),
      (3L, "a b"),
      (4L, "m n o p m n o p m n o p")).toDF("doc_id", "text")

    // Window math: doc 1 has 8 tokens -> 5 windows at w=4/stride=1,
    // 2 windows at stride=4 (exact tiling).
    val w1 = Dedup.passageWindows(df.filter(col("doc_id") === 1),
      "doc_id", "text", w = 4, stride = 1, portable = false)
    assert(w1.count() == 5)
    assert(w1.filter(col("pos") === 0).select("p").as[String].head() == "a b c d")
    val w1s = Dedup.passageWindows(df.filter(col("doc_id") === 1),
      "doc_id", "text", w = 4, stride = 4, portable = false)
    assert(w1s.select("p").as[String].collect().toSet ==
      Set("a b c d", "e f g h"))

    val rep = Dedup.repeatedPassages(df, "doc_id", "text",
      w = 4, stride = 1, minDocs = 2)
      .select("n_docs", "n_occ", "sample")
      .as[(Long, Long, String)].collect().toSet
    assert(rep == Set((2L, 2L, "c d e f")),
      s"expected exactly the shared span, got $rep")

    // Portable core finds the same span set (different hash family).
    val repP = Dedup.repeatedPassages(df, "doc_id", "text",
      w = 4, stride = 1, minDocs = 2, portable = true)
      .select("sample").as[String].collect().toSet
    assert(repP == Set("c d e f"))

    val cov = Dedup.passageCoverage(df, "doc_id", "text",
      w = 4, stride = 1, minDocs = 2, threshold = 0.5)
      .select("doc", "n_windows", "n_repeated", "repeated_frac", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(cov(1L) == ((1L, 5L, 1L, 0.2, true)))
    assert(cov(2L) == ((2L, 5L, 1L, 0.2, true)))
    // Doc 3: no windows, kept with zero coverage.
    assert(cov(3L) == ((3L, 0L, 0L, 0.0, true)))
    // Doc 4: self-repetition only — zero CROSS-document coverage.
    assert(cov(4L) == ((4L, 9L, 0L, 0.0, true)))

    // A doc that is one long shared passage gets dropped: clone doc 1.
    val cloned = df.union(Seq((5L, "a b c d e f g h")).toDF("doc_id", "text"))
    val cov5 = Dedup.passageCoverage(cloned, "doc_id", "text",
      w = 4, stride = 1, minDocs = 2, threshold = 0.5)
      .filter(col("doc").isin(1L, 5L))
      .select("doc", "repeated_frac", "keep")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cov5 == Map(1L -> ((1.0, false)), 5L -> ((1.0, false))))
  }

  test("shingles handles short texts without negative sequence") {
    val df = Seq("one two", "a", "").toDF("text")
    val got = df.select(Dedup.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("one two"))
    assert(got(1) == Seq("a"))
  }

  test("ANN brute-force agrees with driver-side computation") {
    val emb = Tables.embeddings(spark, Sf).filter(col("vec_id") < 50).cache()
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val want = vecs.keys.filter(_ != 0L).toSeq
      .sortBy(k => (-cos(vecs(0L), vecs(k)), k)).take(3)
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == want)
  }

  test("text: bpeish count exceeds whitespace count on punctuated text; rolling fp is order-sensitive") {
    val df = Seq(
      (1L, "hello world, it's 2024!"),
      (2L, "alpha beta gamma"),
      (3L, "gamma beta alpha")).toDF("doc_id", "text")
    val bpe = df.select(col("doc_id"),
      graft.llm.TextAnalysis.bpeishTokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    // hello|world|,|it|'|s|2024|! = 8 pieces vs 4 whitespace tokens.
    assert(bpe(1L) == 8)
    val fp = df.select(col("doc_id"),
      graft.llm.TextAnalysis.rollingFingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(2L) != fp(3L)) // order-sensitive, unlike md5 fingerprint
    assert(fp.values.forall(v => v >= 0 && v < (1L << 40)))
  }

  test("ANN IVF: probes nearest clusters only, good recall with nprobe=3") {
    val emb = Tables.embeddings(spark, Sf).cache()
    val queries = emb.filter(col("vec_id") < 20)
    // The fixture's label column is only weakly geometric, so recall
    // tracks probed-cluster fraction; nprobe=5 of 10 clusters must
    // clear half. (Real IVF uses k-means labels, where recall at low
    // nprobe is far higher.)
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label", 5, nprobe = 5)
    assert(!ivf.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("k-means assignment: deterministic, total, and beats label clusters for IVF recall") {
    val emb = Tables.embeddings(spark, Sf).cache()
    val n = emb.count()
    val a1 = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 3)
      .as[(Long, String)].collect().toMap
    val a2 = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 3)
      .as[(Long, String)].collect().toMap
    assert(a1 == a2, "k-means assignment is not deterministic")
    assert(a1.size == n, "every vector must be assigned exactly once")
    val sizes = a1.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.size >= 2 && sizes.size <= 8, sizes.toMap.toString)
    // Learned clusters are geometric, so IVF recall at nprobe=3 of ≤8
    // clusters must clear what the weakly-geometric label column needs
    // nprobe=5 of 10 for.
    val assign = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 3)
    val withC = emb.join(assign, Seq("vec_id"))
    val queries = emb.filter(col("vec_id") < 20)
    val ivf = Similarity.ivfTopK(withC, queries, "vec_id", "embedding",
      "cluster", 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("PQ: deterministic codes, bounded, ADC recall tracks exact L2") {
    val emb = Tables.embeddings(spark, Sf).cache()
    val n = emb.count()
    val (m, kw) = (8, 16)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = m, k = kw, iters = 3).cache()
    // Codebook: every (subspace, code) pair at most once, subvector
    // length dim/m, codes within the seed-rank range.
    val cbRows = cb.select("subspace", "code").as[(Int, Int)].collect()
    assert(cbRows.distinct.length == cbRows.length)
    assert(cbRows.forall { case (s, c) => s >= 0 && s < m && c >= 0 && c < kw })
    assert(cb.select(size(col("centroid"))).as[Int].collect().forall(_ == 64 / m))

    val codes1 = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toMap
    val codes2 = Similarity.pqEncode(emb, "vec_id", "embedding",
        Similarity.pqTrain(emb, "vec_id", "embedding", m = m, k = kw, iters = 3))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes1 == codes2, "PQ codes are not deterministic across runs")
    assert(codes1.size == n && codes1.values.forall(_.length == m))
    val valid = cbRows.toSet
    assert(codes1.values.forall(_.zipWithIndex.forall {
      case (c, s) => valid((s, c)) }))

    // ADC recall vs exact L2 (the metric PQ approximates), driver-side
    // oracle over the full corpus.
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val queries = vecs.keys.filter(_ < 10).toSeq
    val want = queries.flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .sortBy(c => (l2(vecs(q), vecs(c)), c)).take(5).map(q -> _)
    }.toSet
    val codesDf = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val got = Similarity.pqTopK(codesDf, cb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.size == queries.size * 5)
    val adcRecall = (got & want).size.toDouble / want.size
    // Raw ADC on near-orthogonal random vectors (no cluster structure
    // = PQ's worst case) keeps only weak signal; the production path
    // below re-ranks a 4× shortlist exactly and must do much better.
    assert(adcRecall >= 0.1, s"raw ADC recall vs exact L2: $adcRecall")

    val rr = Similarity.pqTopKRerank(codesDf, cb, emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, overscan = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(rr.size == queries.size * 5)
    val rrRecall = (rr & want).size.toDouble / want.size
    assert(rrRecall > adcRecall, "re-rank must not lose recall")
    assert(rrRecall >= 0.4, s"re-ranked recall vs exact L2: $rrRecall")

    // The codebook contract is enforced, not documented: encoding or
    // searching with a mismatched (m, dim) must fail loudly instead of
    // silently corrupting every code.
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 4)
    }
    assert(e1.getMessage.contains("codebook"))
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(codesDf, cb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 16)
    }
  }

  test("native cosine Expression matches the HOF formulation bit-for-bit and codegens") {
    val emb = Tables.embeddings(spark, Sf).filter(col("vec_id") < 80).cache()
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .join(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")),
        col("ia") < col("ib"))
    val both = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("hof"),
      Similarity.cosineNative(spark, col("va"), col("vb")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).count() == 0)
    // The HOF column is CodegenFallback and poisons any projection it
    // appears in — the native expression alone stays in codegen.
    val nativeOnly = pairs.select(
      Similarity.cosineNative(spark, col("va"), col("vb")).as("native"))
    nativeOnly.collect() // finalize the adaptive plan before inspecting
    val plan = nativeOnly.queryExecution.executedPlan.toString
    // "*(n) Project [cosine_sim(...)" = the projection runs inside a
    // whole-stage-codegen stage (the * prefix is codegen notation).
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[cosine_sim.*"), plan.take(800))
  }

  test("native sign-LSH buckets match the HOF lshBucket bucket-for-bucket") {
    // The native expression precomputes the hyperplane sign matrix
    // driver-side from XXH64 seed-chaining; this pins it to Spark's
    // interpreted xxhash64 so a drift in either path fails loudly
    // (recall tests alone can't see it — both join sides would shift
    // together).
    val (tables, planes, dim) = (6, 8, 64)
    val emb = Tables.embeddings(spark, Sf).filter(col("vec_id") < 60)
    val hof = emb.select(
      array((0 until tables).map(t =>
        Similarity.lshBucket(col("embedding"), t, planes, dim)): _*).as("b"))
    val native = emb.select(
      Similarity.lshBucketsAll(spark, col("embedding"), tables, planes, dim)
        .as("b"))
    assert(emb.count() > 0)
    val a = hof.collect().map(_.getSeq[Int](0))
    val b = native.collect().map(_.getSeq[Int](0))
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("ANN LSH: bucket join plan (no cartesian), decent recall@5") {
    val emb = Tables.embeddings(spark, Sf).cache()
    val queries = emb.filter(col("vec_id") < 20)
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5, planes = 4, tables = 8)
    assert(!lsh.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = lsh.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & brute).size.toDouble / brute.size
    // 4 planes × 8 tables → union-of-buckets recall ≈0.8 for close
    // vectors; assert a safe floor.
    assert(recall >= 0.5, s"recall $recall")
  }

  test("quality/lang semantics: empty text scores 0, unicode text not penalized, null lang propagates") {
    val df = Seq(
      (1L, ""), (2L, "   "),
      (3L, "der Wert über die Größe ist"),         // clean German, accented
      (4L, "a;b;c!d?e:f,g.h(i)j[k]l{m}n")          // punctuation-heavy
    ).toDF("doc_id", "text")
    val q = df.select(col("doc_id"),
      graft.llm.TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) == 0.0 && q(2L) == 0.0)
    // Accented letters are letters, not punctuation: near-full punct score.
    assert(q(3L) > 0.8, q(3L).toString)
    assert(q(4L) < q(3L))
    val lang = Seq((1L, null.asInstanceOf[String]), (2L, "der die das und ist"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.llm.TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(lang(1L) == null && lang(2L) == "de")
  }

  test("language-ID accuracy on labeled fixtures (profile + script paths)") {
    // Natural sentences per language — function-word rich, as real prose
    // is. The expanded profiles must classify ALL of them correctly;
    // this is the documented accuracy gate for profile swaps.
    val labeled: Seq[(String, String)] = Seq(
      "en" -> "the results show that most of the samples were stable",
      "en" -> "we found that it was not possible to measure this effect",
      "en" -> "there are many reasons why these methods could fail",
      "en" -> "each of them should have been tested before the release",
      "en" -> "what happens when the data does not fit into memory",
      "en" -> "this is one of the most important questions for our field",
      "de" -> "die ergebnisse zeigen dass die meisten proben stabil sind",
      "de" -> "wir haben nicht alle daten aus dem ersten versuch",
      "de" -> "es gibt viele gründe warum diese methode nicht immer geht",
      "de" -> "der einfluss von temperatur auf das system ist noch unklar",
      "de" -> "nach dem test wurde die anlage wieder unter druck gesetzt",
      "de" -> "man kann diese frage nur mit einem weiteren versuch klären",
      "fr" -> "les résultats montrent que la plupart des échantillons sont stables",
      "fr" -> "nous avons fait une mesure avec les mêmes instruments",
      "fr" -> "il y a beaucoup de raisons pour ce choix dans cette étude",
      "fr" -> "cette méthode ne peut pas être utilisée sans une validation",
      "fr" -> "le système est plus rapide que la version précédente",
      "fr" -> "après le test nous avons encore des questions sur ce point",
      "es" -> "los resultados muestran que la mayoría de las muestras son estables",
      "es" -> "no es posible medir este efecto sin más datos del sistema",
      "es" -> "hay muchas razones para usar este método en el estudio",
      "es" -> "la temperatura del agua es muy importante para el proceso",
      "es" -> "todos los valores están entre los límites esperados",
      "es" -> "esta pregunta no tiene una respuesta simple para nosotros",
      "zh" -> "这些结果表明大多数样品是稳定的",
      "zh" -> "我们无法在没有更多数据的情况下测量这种效应",
      "zh" -> "mixed latin text 与中文混合的句子",
      "und" -> "zzz qqq xxx vvv kkk 12345")
    val preds = labeled.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("i", "expected", "text")
      .select(col("expected"),
        graft.llm.TextAnalysis.langId(col("text")).as("got"))
      .as[(String, String)].collect()
    val wrong = preds.filter { case (exp, got) => exp != got }
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")
  }

  test("repetition filters: clean text kept, stuffed/looped text dropped") {
    import graft.llm.TextAnalysis
    val rows = Seq(
      // id, text
      (1L, "the quick brown fox jumps over a lazy dog near the river"),
      (2L, "buy now buy now buy now buy now buy now buy now"), // loop
      (3L, "spam spam spam spam spam spam spam spam spam spam"), // one token
      (4L, "ab"), // single token: top frac 1.0 -> dropped, no crash
      (5L, "one two")) // 2 tokens, no 3-grams: dup3 = 0
      .toDF("id", "text")
    val out = rows.select(col("id"),
        TextAnalysis.topTokenFrac(col("text")).as("tf"),
        TextAnalysis.dupNgramFrac(col("text"), 2).as("d2"),
        TextAnalysis.dupNgramFrac(col("text"), 3).as("d3"),
        TextAnalysis.repetitionKeep(col("text")).as("keep"))
      .as[(Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._5) // clean -> kept
    assert(!out(2L)._5 && out(2L)._2 > 0.4) // "buy"/"now" each ~0.5
    // 10×"spam": top frac 1.0; 9 bigrams, 1 distinct -> dup 8/9.
    assert(!out(3L)._5 && out(3L)._2 == 1.0 && out(3L)._3 == 8.0 / 9)
    assert(!out(4L)._5 && out(4L)._3 == 0.0 && out(4L)._4 == 0.0)
    assert(out(5L)._4 == 0.0) // no 3-grams -> 0, not NaN

    // The hot-path dataframe form computes the identical stats.
    val fast = TextAnalysis.repetitionStats(rows, "text")
      .select(col("id"), col("top_token_frac"), col("dup_2gram_frac"),
        col("dup_3gram_frac"), col("keep"))
      .as[(Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(fast == out)
  }

  test("funnelStats: fused scan bit-equals the chained single-purpose stages") {
    import graft.llm.TextAnalysis
    // Real corpus rows + the degenerate shapes (empty, whitespace-only,
    // single-token, newline/bullet-bearing) that exercise every guard.
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text").limit(200)
      .union(Seq(
        (100001L, ""), (100002L, "   "), (100003L, "one"),
        (100004L, "- bullet item\n- another…\nplain line"),
        (100005L, "the a of to and in is on for the a"))
        .toDF("doc_id", "text"))
    val chained = TextAnalysis.gopherStats(
        TextAnalysis.repetitionStats(docs, "text")
          .withColumnRenamed("keep", "rep_keep")
          .drop("top_token_frac", "dup_2gram_frac", "dup_3gram_frac"),
        "text", minWords = 40, minStopHits = 1)
      .withColumnRenamed("keep", "gop_keep")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .select(col("doc_id"), col("rep_keep"), col("gop_keep"),
        col("quality"), col("fp"))
      .as[(Long, Boolean, Boolean, Double, String)].collect().sortBy(_._1)
    val fused = TextAnalysis.funnelStats(docs, "text",
        minWords = 40, minStopHits = 1)
      .select(col("doc_id"), col("rep_keep"), col("gop_keep"),
        col("quality"), col("fp"))
      .as[(Long, Boolean, Boolean, Double, String)].collect().sortBy(_._1)
    assert(fused.length == chained.length)
    // Bit-equality including the quality double: the fused form must
    // build the exact same expressions from the staged token array.
    assert(fused.sameElements(chained))
  }

  test("ngram_hashes native expression bit-equals hashNgrams over staged tokens") {
    import graft.llm.TextAnalysis
    graft.plans.NgramHashesExpr.register(spark)
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text").limit(200)
      .union(Seq(
        (300001L, null.asInstanceOf[String]), (300002L, ""),
        (300003L, "one two"), (300004L, " a  b\tc\nd e f g h i "),
        (300005L, "東京 Δθ 😀 a b c d e f"))
        .toDF("doc_id", "text"))
    for (n <- Seq(2, 3, 5, 8)) {
      val dec = docs
        .withColumn("__t", explode(array(
          graft.functions.Scalars.tokens(col("text")))))
        .select(col("doc_id"),
          TextAnalysis.hashNgrams(col("__t"), n).as("ng"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1)
      // Both input forms: raw text (inline tokenizer) and the staged
      // token array.
      val natText = docs.select(col("doc_id"),
          call_function("ngram_hashes", col("text"), lit(n)).as("ng"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1)
      val natArr = docs.select(col("doc_id"),
          call_function("ngram_hashes",
            graft.functions.Scalars.tokens(col("text")), lit(n)).as("ng"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1)
      assert(natText.sameElements(dec), s"text form, n=$n")
      assert(natArr.sameElements(dec), s"array form, n=$n")
    }
  }

  test("funnelStats native: single-pass expression bit-equals the declarative form") {
    import graft.llm.TextAnalysis
    // Real corpus rows plus every adversarial shape the byte-level
    // replica must get right: null, empty, all-spaces, newline-only,
    // mixed \s separators (leading/trailing), bullets, ellipses (3-dot
    // and U+2026), `#` symbols, non-ASCII letters, an emoji (letterless
    // non-ASCII token), supplementary-plane and high-BMP tokens (the
    // UTF-8-byte vs UTF-16-code-unit sort-order trap), and
    // repetition-gate extremes.
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text").limit(200)
      .union(Seq(
        (200001L, null.asInstanceOf[String]), (200002L, ""),
        (200003L, "   "), (200004L, "\n\n"), (200005L, " a  b\tc\nd "),
        (200006L, "- bullet\n  * two\n• three\nplain"),
        (200007L, "end...\nmore…\n#tag # ...... ..."),
        (200008L, "München Δθ 東京 😀 a1 42 ¾"),
        (200009L, "the the the the of of to to and and"),
        (200010L, "𐀀low ￿-high mix order"),
        (200011L, "x y " + ("w " * 60) + "z"),
        // Java regex $ matches just before a FINAL line terminator
        // (\r, NEL, LS, PS) — "end...\r" IS an ellipsis line under the
        // declarative EllipsisRe; the native check must agree.
        (200012L, "end...\r\nnext line"),
        (200013L, "tail…"), (200014L, "x... "),
        (200015L, "y… "), (200016L, "no... \r match"),
        (200017L, "double...\r\r"))
        .toDF("doc_id", "text"))
    def cols(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("rep_keep"), col("gop_keep"),
        col("quality"), col("fp"))
      .as[(Long, Option[Boolean], Boolean, Option[Double], Option[String])]
      .collect().sortBy(_._1)
    // Both threshold sets the engine runs: the SF defaults and the
    // widened lowdup-fixture set (exercises min/max gating branches).
    for ((mwl, stop) <- Seq((10.0, 1), (20.0, 0))) {
      val dec = cols(TextAnalysis.funnelStats(docs, "text",
        minWords = 40, maxMeanWordLen = mwl, minStopHits = stop))
      val nat = cols(TextAnalysis.funnelStats(docs, "text",
        minWords = 40, maxMeanWordLen = mwl, minStopHits = stop,
        native = true))
      assert(nat.length == dec.length)
      assert(nat.sameElements(dec))
    }
  }

  test("scalar quantization: codes bounded, error within half-step, zero dims exact") {
    val emb = Seq(
      (1L, Seq(1.0f, -2.0f, 0.0f)),
      (2L, Seq(0.5f, 2.0f, 0.0f)),
      (3L, Seq(-1.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantize(emb, "vec_id", "embedding")
      .select("vec_id", "q", "max_err")
      .as[(Long, Seq[Int], Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // dim maxabs = (1.0, 2.0, 0.0): full-scale values hit ±127 exactly.
    assert(out(1L)._1 == Seq(127, -127, 0))
    assert(out(2L)._1 == Seq(64, 127, 0)) // 0.5*127 = 63.5 → half-up 64
    assert(out(3L)._1 == Seq(-127, 64, 0))
    // Worst per-element error is bounded by half a quantization step
    // (scale/2 = maxabs/254) of the widest dimension.
    assert(out.values.forall(_._2 <= 2.0 / 254 + 1e-12))
    assert(out(1L)._2 == 0.0) // all elements of vec 1 are exact multiples
    assert(out.values.forall(_._1.forall(q => q >= -127 && q <= 127)))
  }

  test("PII scrub: redacts all occurrences in order, counts on original, leaves clean text") {
    import graft.llm.TextAnalysis._
    val rows = Seq(
      "Mail a.b+c@x-y.co and d5@z.org from 192.168.0.1, call +1 (341) 555-0199 now",
      "no pii here at all",
      "ips 10.0.0.1 10.0.0.2",
      "dated 2019-04-01 and 2021, revised 2022-12-31",
      "years\n2019 2020\n2021 2022\n2023 2024\ntable done",
      "row 12\nrow 34\nrow 56\nrow 78\nrow 90\nend").toDF("t")
      .select(col("t"),
        piiScrub(col("t")).as("s"),
        piiCount(col("t"), EmailRe).as("ne"),
        piiCount(col("t"), Ipv4Re).as("ni"),
        piiCount(col("t"), PhoneRe).as("np"))
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows(0)._2 ==
      "Mail <EMAIL> and <EMAIL> from <IP>, call <PHONE> now")
    assert((rows(0)._3, rows(0)._4, rows(0)._5) == ((2L, 1L, 1L)))
    assert(rows(1)._2 == rows(1)._1) // untouched
    assert((rows(1)._3, rows(1)._4, rows(1)._5) == ((0L, 0L, 0L)))
    assert(rows(2)._2 == "ips <IP> <IP>") // global replace, ip not phone
    // ISO dates (8 digits) and bare years must NOT redact as phones.
    assert(rows(3)._2 == rows(3)._1, rows(3)._2)
    assert(rows(3)._5 == 0L)
    // Digits scattered across NEWLINES (year tables, numeric columns)
    // must not collapse into one giant <PHONE> — the separator class
    // is bounded and newline-free.
    assert(rows(4)._2 == rows(4)._1, rows(4)._2)
    assert(rows(4)._5 == 0L)
    assert(rows(5)._2 == rows(5)._1, rows(5)._2)
    assert(rows(5)._5 == 0L)
  }

  test("incremental LSH equals the full run restricted to increment-touching pairs") {
    // The exactness contract: incremental(corpus, increment) ==
    // full(corpus ∪ increment) ∩ {pairs with an increment member} —
    // production hash path, WITH a bucket cap (cap parity is the
    // subtle part: incremental buckets must count full membership).
    val corpus = docs.filter(col("doc_id") < 90)
    val increment = docs.filter(col("doc_id") >= 90)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    for (cap <- Seq(None, Some(30))) {
      val full = collect(Dedup.minhashLshPairs(docs, "doc_id", "text",
          threshold = 0.8, bands = 8, rowsPerBand = 4, maxBucketSize = cap))
        .filter { case (a, b, _) => a >= 90 || b >= 90 }
      val inc = collect(Dedup.minhashLshPairsIncremental(corpus, increment,
        "doc_id", "text", threshold = 0.8, bands = 8, rowsPerBand = 4,
        maxBucketSize = cap))
      assert(inc == full, s"cap=$cap")
      assert(inc.nonEmpty, s"vacuous equivalence at cap=$cap")
      // and never a corpus×corpus pair
      assert(inc.forall { case (a, b, _) => a >= 90 || b >= 90 })
      // the production entry point — a precomputed corpus band table —
      // yields the identical result
      val pre = collect(Dedup.minhashLshPairsIncremental(corpus, increment,
        "doc_id", "text", threshold = 0.8, bands = 8, rowsPerBand = 4,
        maxBucketSize = cap,
        corpusBands = Some(Dedup.minhashBandTable(corpus, "doc_id", "text",
          bands = 8, rowsPerBand = 4))))
      assert(pre == full, s"precomputed-bands path diverged at cap=$cap")
    }
  }

  test("native signature expression bit-equals the declarative explode+agg pipeline") {
    // Both hash cores, both shingle widths: the per-doc
    // MinHashShinglesSigExpr loop must reproduce the declarative
    // explode → per-shingle hash → 128-min-aggregates pipeline
    // exactly, or every banded consumer silently drifts.
    // Edge docs pin the inline tokenizer's split(trim, \s+) fidelity:
    // space-only trim, boundary "" tokens from surviving \t/\n runs.
    val withEdges = docs.select("doc_id", "text").union(Seq(
      (100001L, "   "), (100002L, " a  b\ta \n"), (100003L, "solo"),
      (100004L, "a a a"), (100005L, "\tx y\t"))
      .toDF("doc_id", "text"))
    for (portable <- Seq(false, true); n <- Seq(1, 3)) {
      val native = Dedup.signatureTable(withEdges, "doc_id", "text",
          shingleN = n, numHashes = 32, portable = portable)
        .as[(Long, Seq[Long])].collect().toMap
      val declarative = Dedup.signatureAggDeclarative(
          Dedup.hashedShingles(withEdges, "doc_id", "text", n, portable), 32)
        .as[(Long, Seq[Long])].collect().toMap
      assert(native.nonEmpty && native == declarative,
        s"signature drift at portable=$portable shingleN=$n")
    }
  }

  test("native array_intersect_size bit-equals size(array_intersect) on distinct arrays") {
    graft.plans.ArrayIntersectSizeExpr.register(spark)
    val t = Tables.documents(spark, Sf).filter(col("doc_id") < 80)
      .select(col("doc_id"),
        array_distinct(split(trim(col("text")), "\\s+")).as("toks"))
    val a = t.select(col("doc_id").as("ia"), col("toks").as("ta"))
    val b = t.limit(10).select(col("doc_id").as("ib"), col("toks").as("tb"))
    val out = a.crossJoin(b).select(
      size(array_intersect(col("ta"), col("tb"))).as("ref"),
      call_function(graft.plans.ArrayIntersectSizeExpr.Name,
        col("ta"), col("tb")).as("nat"))
    assert(out.count() == 800)
    assert(out.filter(col("ref") =!= col("nat")).count() == 0)
    // null-element contract: a null survives iff present on BOTH sides
    import spark.implicits._
    val edge = Seq((Seq[String]("a", null), Seq[String]("b", null)),
      (Seq[String]("a", null), Seq[String]("a")),
      (Seq[String](), Seq[String]("a"))).toDF("x", "y")
      .select(size(array_intersect(col("x"), col("y"))).as("ref"),
        call_function(graft.plans.ArrayIntersectSizeExpr.Name,
          col("x"), col("y")).as("nat"))
    assert(edge.filter(col("ref") =!= col("nat")).count() == 0)
  }

  test("hashed verify: long-array intersect bit-equals reference; " +
    "production jaccard values equal the exact string form") {
    // Long branch of the native intersect vs size(array_intersect) on
    // the same hashed arrays.
    graft.plans.ArrayIntersectSizeExpr.register(spark)
    val t = Tables.documents(spark, Sf).filter(col("doc_id") < 80)
      .select(col("doc_id"),
        transform(array_distinct(split(trim(col("text")), "\\s+")),
          s => xxhash64(s)).as("toks"))
    val a = t.select(col("doc_id").as("ia"), col("toks").as("ta"))
    val b = t.limit(10).select(col("doc_id").as("ib"), col("toks").as("tb"))
    val out = a.crossJoin(b).select(
      size(array_intersect(col("ta"), col("tb"))).as("ref"),
      call_function(graft.plans.ArrayIntersectSizeExpr.Name,
        col("ta"), col("tb")).as("nat"))
    assert(out.count() == 800)
    assert(out.filter(col("ref") =!= col("nat")).count() == 0)
    // The zero sentinel: values of 0 must still match through the
    // open-address table's explicit zero flag.
    import spark.implicits._
    val edge = Seq((Seq(0L, 7L), Seq(0L, 9L)), (Seq(0L), Seq(1L)),
      (Seq[Long](), Seq(0L))).toDF("x", "y")
      .select(size(array_intersect(col("x"), col("y"))).as("ref"),
        call_function(graft.plans.ArrayIntersectSizeExpr.Name,
          col("x"), col("y")).as("nat"))
    assert(edge.filter(col("ref") =!= col("nat")).count() == 0)
    // End-to-end: the production (hashed-verify) LSH pairs carry the
    // SAME jaccard values as the exact string-set computation — token
    // hashing changes the representation, not the set sizes (no
    // 64-bit collisions on this fixture, as at any plausible scale).
    val prod = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard").as("jp"))
    val exact = Dedup.jaccardPairsExact(docs, "doc_id", "text", 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard").as("je"))
    val joined = prod.join(exact, Seq("id_a", "id_b"), "left")
    assert(joined.filter(col("je").isNull || col("jp") =!= col("je"))
      .count() == 0)
  }

  test("native nearest_centroid bit-equals the min_by cross-join assignment") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, Sf)
    val cents = Similarity.kmeansCentroids(
      emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      k = 8, iters = 2)
    val neo = Similarity.assignToCentroids(emb, "vec_id", "embedding", cents)
      .as[(Long, String)].collect().toMap
    // The replaced declarative form, verbatim.
    val old = emb.select(col("vec_id").as("__id"), col("embedding").as("__v"))
      .join(broadcast(cents), lit(true))
      .withColumn("__csim",
        Similarity.cosineNative(spark, col("__v"), col("centroid")))
      .groupBy("__id")
      .agg(expr("min_by(cluster, struct(-__csim, lpad(cluster, 24, '0')))")
        .as("cluster"))
      .select(col("__id"), col("cluster"))
      .as[(Long, String)].collect().toMap
    assert(neo.size == old.size && neo == old)
    // Null/empty-vector edge: all sims null → both forms pick the
    // smallest lpad-24 cluster id.
    val edge = Seq((1L, Some(Seq.empty[Float])), (2L, None))
      .toDF("vec_id", "embedding")
    val eNeo = Similarity.assignToCentroids(edge, "vec_id", "embedding",
      cents).as[(Long, String)].collect().toMap
    val smallest = cents.select(col("cluster")).as[String].collect()
      .minBy(s => if (s.length >= 24) s.take(24) else "0" * (24 - s.length) + s)
    assert(eNeo == Map(1L -> smallest, 2L -> smallest))
  }

  test("two-level assignment with a total probe bit-equals brute at large k") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, Sf)
    // 150 real vectors as centroids — above TwoLevelAssignThreshold,
    // so assignToCentroids itself routes two-level.
    assert(150 >= Similarity.TwoLevelAssignThreshold)
    val cents = Similarity.kmeansCentroids(
      emb.filter(col("vec_id") < 150), "vec_id", "embedding",
      k = 150, iters = 1)
    val exact = Similarity.assignToCentroidsExact(
        emb, "vec_id", "embedding", cents)
      .as[(Long, String)].collect().toMap
    // nprobe ≥ coarse cell count ⇒ the probe is total and the fine
    // argmax scans everything: bit-identical to brute by construction.
    val total = Similarity.assignToCentroidsTwoLevel(
        emb, "vec_id", "embedding", cents, nprobe = 1000)
      .as[(Long, String)].collect().toMap
    assert(total.size == exact.size && total == exact)
    // Deterministic: the default-nprobe routed path reruns identically.
    val r1 = Similarity.assignToCentroids(emb, "vec_id", "embedding",
      cents).as[(Long, String)].collect().toMap
    val r2 = Similarity.assignToCentroids(emb, "vec_id", "embedding",
      cents).as[(Long, String)].collect().toMap
    assert(r1 == r2 && r1.size == exact.size)
    // The approximate default probe still lands the argmax for most
    // rows even on these UNSTRUCTURED near-random embeddings (IVF's
    // worst case — no cluster structure to exploit; measured ~0.82 at
    // 4 of 13 cells probed). Exactness above is the contract; this
    // line only catches a broken probe (which scores ~1/cells ≈ 0.08)
    // that would still pass the total-probe test.
    val agree = r1.count { case (k2, v) => exact(k2) == v }
    assert(agree.toDouble / exact.size >= 0.75,
      s"default-probe agreement ${agree}/${exact.size}")
  }

  test("driver-local Lloyd bit-equals the distributed trainer, both k regimes") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, Sf)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[Double])].collect().toSet
    // Exact regime (k=8 < threshold): the oracle-pinned shape.
    val d8 = asSet(Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3))
    val l8 = asSet(Similarity.kmeansCentroidsLocal(emb, "vec_id",
      "embedding", k = 8, iters = 3))
    assert(l8 == d8 && l8.size == 8)
    // Routed regime (k=150 ≥ threshold): Lloyd's inner assignment rides
    // the two-level probe on BOTH paths — equality here also pins the
    // canonical centroid order (without it the coarse seeding would be
    // collect-order-dependent and the two could diverge).
    val d150 = asSet(Similarity.kmeansCentroids(emb, "vec_id",
      "embedding", k = 150, iters = 3))
    val l150 = asSet(Similarity.kmeansCentroidsLocal(emb, "vec_id",
      "embedding", k = 150, iters = 3))
    assert(l150 == d150 && l150.nonEmpty)
    // Null-vector rows: assigned like the distributed coalesce-to-empty
    // rows, invisible to the means.
    val withNull = emb.select("vec_id", "embedding").unionByName(Seq(
      (900001L, None: Option[Seq[Float]])).toDF("vec_id", "embedding"))
    val dN = asSet(Similarity.kmeansCentroids(withNull, "vec_id",
      "embedding", k = 8, iters = 2))
    val lN = asSet(Similarity.kmeansCentroidsLocal(withNull, "vec_id",
      "embedding", k = 8, iters = 2))
    assert(lN == dN)
    // The loud guard against unbounded collects.
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroidsLocal(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 10)
    }
    assert(e.getMessage.contains("maxTrainRows"))
  }

  test("driver-local PQ trainers bit-equal the distributed loops") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, Sf)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Seq[Double])].collect().toSet
    // Raw-vector PQ: the e9/e10 trainer shape.
    val dPq = asSet(Similarity.pqTrain(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", m = 8, k = 16, iters = 3))
    val lPq = asSet(Similarity.pqTrainLocal(
      emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", m = 8, k = 16, iters = 3))
    assert(lPq == dPq && lPq.nonEmpty)
    // Residual IVF-PQ: the e12/e13 trainer shape (coarse assignment +
    // residual against the broadcast centroid, then the same loop).
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val assign = Similarity.assignToCentroids(emb, "vec_id", "embedding",
      cents)
    val withC = emb.join(assign, Seq("vec_id"))
    val dIvf = asSet(Similarity.ivfpqTrain(withC, "vec_id", "embedding",
      "cluster", cents, m = 8, k = 16, iters = 3))
    val lIvf = asSet(Similarity.ivfpqTrainLocal(withC, "vec_id",
      "embedding", "cluster", cents, m = 8, k = 16, iters = 3))
    assert(lIvf == dIvf && lIvf.nonEmpty)
    // The loud guard against unbounded collects.
    val e = intercept[IllegalArgumentException] {
      Similarity.pqTrainLocal(emb, "vec_id", "embedding",
        maxTrainRows = 10)
    }
    assert(e.getMessage.contains("maxTrainRows"))
  }

  test("two-level assignment pins the brute comparator's degenerate cases") {
    import graft.llm.Similarity
    // 150 one-hot centroids (dim 150): every point IS a centroid, all
    // pairs orthogonal — its own coarse cell always outranks the rest,
    // so even a 1-cell probe must return the point itself.
    val oneHot = (0 until 150).map { i =>
      (i.toLong, Seq.tabulate(150)(j => if (j == i) 1.0f else 0.0f))
    }
    val cents = oneHot.toDF("vec_id", "embedding")
      .select(col("vec_id").cast("string").as("cluster"),
        transform(col("embedding"), _.cast("double")).as("centroid"))
    val pts = oneHot.toDF("vec_id", "embedding")
    val got = Similarity.assignToCentroidsTwoLevel(
        pts, "vec_id", "embedding", cents, nprobe = 1)
      .as[(Long, String)].collect().toMap
    assert(got == (0 until 150).map(i => i.toLong -> i.toString).toMap)
    // Null/empty vectors: all sims null → the globally smallest
    // lpad-24 id, exactly the brute edge semantics.
    val edge = Seq((900L, Some(Seq.empty[Float])), (901L, None))
      .toDF("vec_id", "embedding")
    val eGot = Similarity.assignToCentroidsTwoLevel(
        edge, "vec_id", "embedding", cents, nprobe = 1)
      .as[(Long, String)].collect().toMap
    assert(eGot == Map(900L -> "0", 901L -> "0"))
    // A zero-norm CENTROID's null similarity sorts before every real
    // one in the pinned min_by order — it wins every assignment, on
    // both paths, regardless of probing.
    val withZero = cents.unionByName(
      Seq(("zz", Seq.fill(150)(0.0))).toDF("cluster", "centroid"))
    val zExact = Similarity.assignToCentroidsExact(
        pts, "vec_id", "embedding", withZero)
      .as[(Long, String)].collect().toMap
    val zTwo = Similarity.assignToCentroidsTwoLevel(
        pts, "vec_id", "embedding", withZero, nprobe = 1)
      .as[(Long, String)].collect().toMap
    assert(zExact.values.toSet == Set("zz") && zTwo == zExact)
  }

  test("native simhash_fp bit-equals the explode+vote aggregation, both cores") {
    val withEdge = docs.select(col("doc_id"), col("text")).unionByName(Seq(
      (100001L, ""), (100002L, "   "), (100003L, " leading and trailing "),
      (100004L, "a\nb\t c")).toDF("doc_id", "text"))
    for (portable <- Seq(false, true); bits <- Seq(16, 32)) {
      val neo = Dedup.simhashTable(withEdge, "doc_id", "text", bits, portable)
        .as[(Long, Long)].collect().toMap
      val old = Dedup.simhashTableDeclarative(withEdge, "doc_id", "text",
        bits, portable).as[(Long, Long)].collect().toMap
      assert(neo.size == old.size && neo == old,
        s"portable=$portable bits=$bits")
    }
    // Null text: no output row in either form.
    val n = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(Dedup.simhashTable(n, "doc_id", "text", 16).count() == 0)
  }

  test("passage scrub cuts exactly the window-covered tokens, total over docs") {
    // w=3: docs 1/2 share the window "a b c" (and only it — their
    // other windows differ), doc 3 is short (<w), doc 4 repeats
    // nothing. Doc 1 "x a b c y": windows {x a b, a b c, b c y};
    // only "a b c" (pos 1) repeats -> covers positions 1..3 -> keeps
    // {x, y}. Doc 2 "a b c z": covers 0..2, keeps {z}.
    val d = Seq(
      (1L, "x a b c y"), (2L, "a b c z"), (3L, "a b"), (4L, "p q r s"))
      .toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val out = Dedup.passageScrub(d, "doc_id", "text", w = 3,
          minDocs = 2, portable = portable)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out.size == 4, s"portable=$portable")
      assert(out(1L) == ((5L, 3L, "x y")))
      assert(out(2L) == ((4L, 3L, "z")))
      assert(out(3L) == ((2L, 0L, "a b"))) // shorter than w: untouched
      assert(out(4L) == ((4L, 0L, "p q r s")))
    }
    // Fully-covered doc: empty rewrite, not null.
    val dup = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val o2 = Dedup.passageScrub(dup, "doc_id", "text", w = 3, minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
    assert(o2.forall(r => r._3 == 3L && r._4 == ""))
    // NULL text: a (0, 0, '') passthrough row — not the unguarded
    // tokens(null) garbage (size -1, descending sequence). Empty text
    // stays its own case: one empty token ([''], oracle-pinned).
    val withNull = Seq((1L, Some("a b c")), (2L, Some("a b c")),
      (3L, None), (4L, Some(""))).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val o3 = Dedup.passageScrub(withNull, "doc_id", "text", w = 3,
          minDocs = 2, portable = portable)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(o3.size == 4, s"portable=$portable")
      assert(o3(3L) == ((0L, 0L, "")), s"portable=$portable: ${o3(3L)}")
      assert(o3(4L) == ((1L, 0L, "")), s"portable=$portable: ${o3(4L)}")
    }
  }

  test("stringless window hashes: coverage and scrub equal the string path") {
    // The fast path hashes token TUPLES (multi-arg xxhash64) instead
    // of joined strings — a different hash family inducing the same
    // window-equality relation, so coverage fractions and scrubbed
    // texts must match the portable string build exactly.
    val d = docs.select(col("doc_id"), col("text"))
    val covA = Dedup.passageCoverage(d, "doc_id", "text", w = 8,
      stride = 4).collect().map(_.toSeq).sortBy(_.head.toString)
    val covB = Dedup.passageCoverage(d, "doc_id", "text", w = 8,
      stride = 4, portable = true).collect().map(_.toSeq)
      .sortBy(_.head.toString)
    assert(covA.toSeq == covB.toSeq)
    val scrA = Dedup.passageScrub(d, "doc_id", "text", w = 8)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val scrB = Dedup.passageScrub(d, "doc_id", "text", w = 8,
      portable = true).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(scrA.toSeq == scrB.toSeq)
  }

  test("native pq_codes bit-equals the subvector-join min_by encode") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, Sf)
    val cb = Similarity.pqTrain(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val neo = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toMap
    // The replaced declarative form, verbatim (subvector explode +
    // broadcast codebook join + min_by + re-assembly).
    val sub = 8
    val old = emb
      .select(col("vec_id").as("__id"),
        explode(array(transform(col("embedding"), _.cast("double")))).as("__v"))
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(7)),
          j => slice(col("__v"), j * sub + 1, lit(sub)))).as(Seq("subspace", "sv")))
      .join(broadcast(cb), Seq("subspace"))
      .withColumn("__d", expr(
        "aggregate(zip_with(sv, centroid, (x, y) -> (x - y) * (x - y)), " +
          "cast(0.0 as double), (a, e) -> a + e)"))
      .groupBy("__id", "subspace")
      .agg(expr("min_by(code, struct(__d, code))").as("code"))
      .groupBy("__id")
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(neo.size == old.size && neo == old)
    // Null-vector edge: the old form's null distances sorted first in
    // min_by → smallest code per subspace; the coalesce-to-empty path
    // must land the same way.
    val nullRow = Seq((99999L, None: Option[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(nullRow, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toMap
    val smallest = cb.groupBy("subspace")
      .agg(min(col("code")).as("c")).orderBy("subspace")
      .select("c").as[Int].collect().toSeq
    assert(codes == Map(99999L -> smallest))
  }

  test("native l2_sq bit-equals the HOF fold on the PQ shapes") {
    // Every PQ call site passes DOUBLE arrays (subvectors/residuals/
    // asDouble casts), so the equality that matters is double × double;
    // exact == on the unrounded doubles.
    graft.plans.GraftFunctions.register(spark)
    val d = Tables.embeddings(spark, Sf).filter(col("vec_id") < 100)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val q = d.limit(3).select(col("vec_id").as("qid"), col("v").as("qv"))
    val out = d.crossJoin(q).select(
      Similarity.l2sqHof(col("v"), col("qv")).as("h"),
      call_function(graft.plans.GraftFunctions.L2Name,
        col("v"), col("qv")).as("n"))
    assert(out.count() == 300)
    assert(out.filter(col("h") =!= col("n")).count() == 0)
  }

  test("native OPH signature bit-equals the declarative bin-min + densify pipeline") {
    val withEdges = docs.select("doc_id", "text").union(Seq(
      (100001L, "   "), (100002L, " a  b\ta \n"), (100003L, "solo"),
      (100004L, "a a a"), (100005L, "\tx y\t"))
      .toDF("doc_id", "text"))
    for (portable <- Seq(false, true); n <- Seq(1, 3)) {
      val native = Dedup.minhashOphSignature(withEdges, "doc_id", "text",
          bins = 32, shingleN = n, portable = portable)
        .as[(Long, Seq[Long])].collect().toMap
      val declarative = Dedup.minhashOphSignatureDeclarative(withEdges,
          "doc_id", "text", bins = 32, shingleN = n, portable = portable)
        .as[(Long, Seq[Long])].collect().toMap
      assert(native.nonEmpty && native == declarative,
        s"OPH signature drift at portable=$portable shingleN=$n")
    }
  }

  test("native tokens_distinct bit-equals array_distinct(split(trim, whitespace))") {
    graft.plans.TokensDistinctExpr.register(spark)
    val edge = Seq((100000L, ""), (100001L, "   "), (100002L, " a  b\ta \n"),
      (100003L, "solo"), (100004L, "a a a"), (100005L, "é 中 a"))
      .toDF("doc_id", "text")
    val both = Tables.documents(spark, Sf).select("doc_id", "text")
      .union(edge)
      .select(col("doc_id"),
        call_function(graft.plans.TokensDistinctExpr.Name, col("text"))
          .as("native"),
        array_distinct(split(trim(col("text")), "\\s+")).as("composed"))
    assert(both.filter(not(col("native") === col("composed"))).count() == 0)
  }

  test("semDedup: no surviving within-cluster near-dup pair; least-central member always kept") {
    val emb = Tables.embeddings(spark, Sf)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    val assign = Similarity.assignToCentroids(emb, "vec_id", "embedding",
      cents)
    val out = Dedup.semDedup(emb, "vec_id", "embedding", assign, cents,
        threshold = 0.3)
      .select("vec_id", "cluster", "centroid_sim", "keep")
      .as[(Long, String, Double, Boolean)].collect()
    assert(out.length == emb.count()) // total: every vector decided
    val dropped = out.filter(!_._4).map(_._1).toSet
    assert(dropped.nonEmpty, "threshold 0.3 should drop something here")
    // Recompute the within-cluster ≥τ pair set exactly and check:
    // (a) every pair lost at least one member (no surviving near-dup
    // pair), (b) a pair's (centroid_sim, id)-smaller member is never
    // the one dropped BY that pair — so each cluster's least-central
    // linked member survives everything.
    val byId = out.map(r => r._1 -> r).toMap
    val withC = emb.join(assign, Seq("vec_id"))
    val pairs = Dedup.embeddingNearDupPairsExact(emb, "vec_id",
        "embedding", 0.3)
      .join(withC.select(col("vec_id").as("id_a"), col("cluster").as("ca")), Seq("id_a"))
      .join(withC.select(col("vec_id").as("id_b"), col("cluster").as("cb")), Seq("id_b"))
      .filter(col("ca") === col("cb"))
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (byId(a), byId(b))
      assert(!(ra._4 && rb._4), s"near-dup pair ($a,$b) both kept")
      // centroid_sim in the output is rounded to 4 decimals; only
      // check the loser when the rounded values are unambiguous.
      if (ra._3 != rb._3) {
        val loser = if (ra._3 > rb._3) a else b
        assert(dropped.contains(loser), s"pair ($a,$b): loser not dropped")
      }
    }
    // determinism
    val again = Dedup.semDedup(emb, "vec_id", "embedding", assign, cents,
        threshold = 0.3)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out.map(r => r._1 -> r._4).toMap == again)
  }

  test("embeddingNearDupPairsIncremental equals the full pair set restricted to increment-touching pairs; persisted buckets serve identically") {
    import graft.llm.{Dedup, Similarity}
    val emb = Tables.embeddings(spark, Sf).filter(col("vec_id") < 2000)
      .select(col("vec_id"), col("embedding")).cache()
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    val inc = emb.filter(col("vec_id") % 4 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim")
        .as[(Long, Long, Double)].collect().toSet
    val full = key(Dedup.embeddingNearDupPairsLsh(emb, "vec_id",
      "embedding", 0.4, planes = 6, tables = 4, dim = 64))
    val incSet = inc.select("vec_id").as[Long].collect().toSet
    val expected = full.filter(p =>
      incSet.contains(p._1) || incSet.contains(p._2))
    assert(expected.nonEmpty, "fixture must yield increment-touching pairs")
    // On-the-fly corpus staging.
    val got = key(Dedup.embeddingNearDupPairsIncremental(corpus, inc,
      "vec_id", "embedding", 0.4, planes = 6, tables = 4, dim = 64))
    assert(got == expected)
    // The production path: the standing corpus bucket table is a
    // persisted artifact, read back from parquet.
    val dir = java.nio.file.Files.createTempDirectory("emb-buckets")
    try {
      corpus.select(col("vec_id").as("doc"), col("embedding").as("v"),
          posexplode(Similarity.lshBucketsAll(spark, col("embedding"),
            4, 6, 64)).as(Seq("tbl", "bkt")))
        .write.parquet(dir.resolve("b").toString)
      val served = key(Dedup.embeddingNearDupPairsIncremental(corpus,
        inc, "vec_id", "embedding", 0.4, planes = 6, tables = 4,
        dim = 64, corpusBuckets =
          Some(spark.read.parquet(dir.resolve("b").toString))))
      assert(served == expected)
    } finally graft.queries.Fixtures.deleteRecursively(dir)
  }

  test("embeddingNearDupPairsIncremental emits no self-pairs when a doc sits in both corpus and increment") {
    import graft.llm.Dedup
    // A stale persisted corpusBuckets artifact can still hold a doc
    // now re-ingested in the increment: the doc then occupies its
    // buckets twice (nw=false and nw=true) and the pair lambda would
    // pair the two copies into (id, id, 1.0) without the id_a=!=id_b
    // survivor filter.
    val emb = Tables.embeddings(spark, Sf).filter(col("vec_id") < 1000)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb // ALL docs standing…
    val inc = emb.filter(col("vec_id") % 4 === 0) // …some re-ingested
    val got = Dedup.embeddingNearDupPairsIncremental(corpus, inc,
        "vec_id", "embedding", 0.4, planes = 6, tables = 4, dim = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(got.forall { case (a, b) => a != b },
      s"self-pairs leaked: ${got.filter(p => p._1 == p._2).take(5).toSeq}")
  }
}
