package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: times every registered query at the given SF dir and
  * prints one JSON line. Each query is fully materialized — the result
  * is reduced through a row-hash aggregate so Catalyst cannot prune the
  * output columns or short-circuit to a metadata count — and failures
  * are reported as failed (time -1), never as fast successes. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.localSession("graft-bench", cpus)
    HeavyBench.sizePartitions(spark)

    // Optional comma-separated name filter for iterating on one query.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))

    // Crash-proof artifact discipline (the r18 rc=124 lesson: the
    // driver killed the run mid-light-pass-1 and the official artifact
    // carried NO numbers). Three layers: (1) partial results flush to
    // SPARK_GRAFT_BENCH_OUT after EVERY light timing and heavy
    // fragment; (2) a JVM shutdown hook prints the current compact
    // summary (tagged "partial":true) so even a SIGTERM'd run ends in
    // a parseable last line; (3) lights run before heavy so the
    // headline total lands early.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    // Accumulated state the flusher renders from.
    val lightSamples = scala.collection.mutable.Map.empty[String, List[Double]]
    val heavyFrags = scala.collection.mutable.ArrayBuffer.empty[String]
    def currentResults(): Seq[(String, Double, Boolean)] =
      selected.flatMap { q =>
        lightSamples.get(q.name).map { ss =>
          val ok = ss.filter(_ >= 0)
          if (ok.isEmpty) (q.name, -1.0, false) else (q.name, ok.min, true)
        }
      }
    def render(heavyJson: String, partial: Boolean): (String, String) = {
      val results = currentResults()
      val qs = results
        .map { case (k, v, _) =>
          "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
            Double.box(v))
        }
        .mkString("{", ",", "}")
      val failed = results.count(!_._3)
      val total = results.filter(_._3).map(_._2).sum
      val sfJson = jsonEscape(sfDir)
      val partJson = if (partial) """"partial":true,""" else ""
      val line =
        s"""{$partJson"metric":"total","value":$total,"unit":"sec","timing":"min$nPasses","queries":$qs,"failed":$failed,"sf":"$sfJson"$heavyJson}"""
      val summary = compactSummary(results, total, nPasses, failed, sfDir,
        heavyJson, outPath, partial)
      (line, summary)
    }
    def interimHeavyJson(): String =
      if (heavyFrags.isEmpty) ""
      else s""","heavy":{"partial":true,"queries":{${heavyFrags.mkString(",")}}}"""
    def writeOut(line: String): Unit =
      try {
        val w = new java.io.PrintWriter(new java.io.File(outPath), "UTF-8")
        try w.println(line) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] cannot write $outPath: ${e.getMessage}")
      }
    def flushPartial(): Unit = {
      val (line, summary) = render(interimHeavyJson(), partial = true)
      writeOut(line)
      Bench.partialSummary = Some(summary)
    }
    // The hook prints the LAST flushed state — no Spark work, just the
    // cached string — so a driver-side `timeout` SIGTERM still leaves a
    // parseable final stdout line and a readable partial artifact.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!Bench.completedNormally) Bench.partialSummary.foreach { s =>
        println(s)
        System.out.flush()
      }
    }))
    // Seed the partial state NOW: a kill during the (minutes-long)
    // warmup phase must still end in a parseable zero-queries line,
    // not empty stdout.
    flushPartial()

    // Warm up before timing: first uses of expression families carry
    // multi-second one-time JVM costs (e.g. `lower` triggers collation/
    // ICU init ~7 s; first window/join/codegen paths similar) that would
    // otherwise be charged to an arbitrary query. Running every selected
    // query once at the smallest SF warms exactly the code paths being
    // timed, so the timed pass measures steady-state throughput — the
    // regime that matters on a long-running 100 TB job.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory) {
      selected.foreach { q =>
        try q.fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
        }
      }
    } else {
      // No small-SF dir: still absorb the generic one-time JVM costs
      // (codegen pipeline, shuffle machinery, collation/ICU init via
      // lower()) so the first timed query isn't charged for them.
      System.err.println(s"[bench] warm dir $warmDir missing — generic warmup only")
      try spark.range(1000)
        .select(org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.concat_ws("-",
            org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.col("id").cast("string")))).as("k"))
        .groupBy("k").count().collect()
      catch { case e: Throwable =>
        System.err.println(s"[bench] generic warmup failed: ${e.getMessage}")
      }
    }
    // Touch the timed tables so the page cache is hot like it would be
    // mid-pipeline, and pre-build the timed SF's archive fixtures
    // (driver-side prep, not engine work — must not land in a timing).
    try {
      Tables.all(spark, sfDir).values.foreach(_.limit(1).collect())
      queries.SourceQueries.ensureFixtures(spark, sfDir)
      queries.PipelineQueries.ensureSnapshotFixture(spark, sfDir)
      queries.CrossrefQueries.ensureMessageFixture(spark, sfDir)
      queries.GraphQueries.ensureCitationFixture(spark, sfDir)
      queries.FeedQueries.ensureUnpaywallFixture(spark, sfDir)
      queries.FeedQueries.ensureBaseFixture(spark, sfDir)
      queries.FeedQueries.ensureDataciteFixture(spark, sfDir)
      queries.PipelineQueries.ensureAiUpdateExport(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] table warmup failed: ${e.getMessage}")
    }

    // Each query is timed once per FULL pass and the per-query MIN over
    // two separated passes reported. Back-to-back min-of-2 (the old
    // scheme) still charged both samples under whatever GC pressure /
    // shuffle-dir churn the predecessor left — the same query read
    // 4.21 s in-run vs 2.59 s isolated in round 6. Separating the
    // samples by a whole pass decorrelates the contention, so the min
    // approximates the isolated steady-state number the 100 TB sizing
    // needs; two full runs should now agree per query without manual
    // re-measurement.
    def timeOne(q: queries.Q): Double = {
      val t0 = System.nanoTime()
      val df = q.fn(spark, sfDir)
      // Force full evaluation of every column of every row. The
      // row hashes fold through bit_xor, which cannot overflow
      // under ANSI mode (sum of longs would).
      df.select(xxhash64(df.columns.map(c => col(s"`$c`").cast("string")): _*)
          .as("h"))
        .agg(expr("bit_xor(h)")).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      // Reap the query's wake BEFORE the next timing, outside the
      // timed window.
      Bench.reap(spark)
      sec
    }
    // Three passes, min per query: with two, a query unlucky in both
    // permutations keeps the inflated number (r9: untouched queries
    // read 2-3× their isolated cost; the GC hook above removes the
    // systematic part, a third sample tightens what remains).
    (1 to nPasses).foreach { pass =>
      // Permute the execution order per pass (deterministic seed): with
      // a FIXED order, a query sitting directly after a heavyweight
      // neighbor inherits its GC/shuffle-churn wake in BOTH passes, and
      // the min cannot decorrelate a deterministic neighbor effect
      // (round 7: g9 always ran right after g8_pagerank in both passes
      // and read 5× its isolated cost). Distinct per-pass permutations
      // give every query two different predecessors, so the min over
      // passes approximates the isolated steady-state number.
      val order = new scala.util.Random(1000003L * pass).shuffle(selected)
      order.foreach { q =>
        val sec =
          try {
            val t = timeOne(q)
            // Per-sample line (the JSON carries only the min): makes
            // pass-position contention visible when passes disagree.
            System.err.println(
              f"[bench] pass $pass ${q.name} ${t}%.3f s")
            t
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
              -1.0
          }
        lightSamples(q.name) = sec :: lightSamples.getOrElse(q.name, Nil)
        flushPartial()
      }
    }

    // Heavy runs LAST: every entry runs in its own fresh JVM, immune
    // to this session's wake, so the light headline total lands early
    // (the r18 rc=124 artifact died with zero numbers because heavy
    // ran first and used up the bench's time limit).
    val heavyJson = HeavyBench.run(spark, sfDir, only, frag => {
      heavyFrags += frag
      flushPartial()
    })

    val (line, summary) = render(heavyJson, partial = false)
    println(line)
    // Persist the COMPLETE per-query JSON next to the repo's round
    // reports: the driver keeps only a truncated tail of stdout, which
    // has hidden heavy-entry failures before (r13: e14's crash was
    // invisible). A committed file is the measurement of record.
    writeOut(line)
    System.err.println(s"[bench] full JSON written to $outPath")
    // LAST stdout line: a compact summary guaranteed to fit a
    // truncated tail capture. The full line above runs ~15 KB (166
    // queries + the heavy block's samples/meta) and a harness that
    // keeps only the last ~2 KB of stdout sees its tail — unparseable
    // (r13-r16: the driver artifact carried "parsed": null every
    // round). This line carries the totals plus as many per-query
    // seconds as fit a 1900-char budget, slowest first (the ones a
    // reader triages), and names the committed full record.
    // Built before stop, printed after: session shutdown can emit
    // stderr of its own, and under a `2>&1` capture that would land
    // AFTER the summary — the line must be genuinely last.
    try spark.stop() catch { case _: Throwable => () }
    Bench.completedNormally = true
    println(summary)
    System.out.flush()
  }

  /** Shutdown-hook state: the last flushed compact summary (tagged
    * partial), printed on abnormal exit so a killed run's stdout still
    * ends in a parseable line. */
  @volatile private[graft] var partialSummary: Option[String] = None
  @volatile private[graft] var completedNormally: Boolean = false

  /** Minimal JSON string escaping for interpolated values (paths, SF
    * dirs): quotes, backslashes, and control chars — the three ways an
    * interpolated string can break the line's parseability. */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** One JSON line ≤ ~1900 chars: totals, then per-query seconds
    * slowest-first until the budget is spent. `dropped` counts the
    * fast tail omitted; the full per-query record is always in
    * `full` (the committed BENCH_full.json). */
  private[graft] def compactSummary(
      results: Seq[(String, Double, Boolean)], total: Double,
      nPasses: Int, failed: Int, sfJson: String, heavyJson: String,
      fullPath: String, partial: Boolean = false): String = {
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // `sfJson`/`fullPath` arrive RAW (an env-supplied path can carry
    // quotes or backslashes); escape here so a hostile path cannot
    // produce the unparseable line this summary exists to prevent.
    val sfEsc = jsonEscape(sfJson)
    val fullEsc = jsonEscape(fullPath)
    // Heavy block total from its own JSON (sum of "sec" fields) so the
    // compact line carries both blocks' headline numbers.
    val heavySecs = """"sec":(-?[0-9.]+)""".r
      .findAllMatchIn(heavyJson).map(_.group(1).toDouble).filter(_ >= 0)
    val heavyTotal = heavySecs.sum
    val partJson = if (partial) """"partial":true,""" else ""
    val head = s"""{$partJson"metric":"total","value":${fmt(total)},""" +
      s""""unit":"sec","timing":"min$nPasses",""" +
      s""""n_queries":${results.size},"failed":$failed,""" +
      s""""heavy_total_sec":${fmt(heavyTotal)},""" +
      s""""sf":"$sfEsc","full":"$fullEsc","queries":{"""
    val budget = 1900
    val entries = results.filter(_._3).sortBy(-_._2)
      .map { case (k, v, _) => s""""$k":${fmt(v)}""" }
    val sb = new StringBuilder(head)
    var taken = 0
    // Reserve ~40 chars for the closing brace + dropped count.
    while (taken < entries.size &&
      sb.length + entries(taken).length + 40 < budget) {
      if (taken > 0) sb.append(',')
      sb.append(entries(taken))
      taken += 1
    }
    sb.append(s"""},"queries_dropped":${entries.size - taken}}""")
    sb.toString
  }

  /** Synchronously drop every block a finished query left behind.
    * System.gc() alone is NOT enough: operators that materialize
    * intermediates (pageRank/IVF/PQ localCheckpoints, d12's internal
    * cache) leave RDD blocks pinned in the block manager until driver
    * GC collects the reference AND the async ContextCleaner processes
    * it — and under a steady bench load that never quite happens, so
    * storage memory fills and later queries' own checkpoints go to
    * disk and evict pages. Measured: heavy g8_pagerank reads 14.7 s in
    * a session with zero prior timed queries and 46.9 s after a single
    * light pass; blocking unpersist + cache clear restores the
    * isolated number inside a full run. */
  private[graft] def reap(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

/** Second bench block at a throughput-VISIBLE scale: sf0.1 inputs are
  * sub-MB on disk, so its per-query seconds are scheduling-bound and
  * say nothing about MB/s. This block replicates the three heavy
  * tables once (documents ×64 ≈ 320 K docs, embeddings ×16 ≈ 80 K
  * vectors, lineitem edges ×16 ≈ 9.6 M edges) into a fingerprinted
  * parquet dir — same write-once-read-back discipline as ScaleCheck's
  * materialized sweep — and runs the heaviest queries ONCE each
  * against it, reporting secs, input bytes/rows, and the derived
  * MB/s / rows/s that the baseline comparison actually needs.
  * Disable with SPARK_GRAFT_HEAVY=0. */
object HeavyBench {
  import org.apache.spark.sql.DataFrame
  import graft.Checkpoints.TruncateOps
  import graft.llm.Dedup

  private val Factors = Map("documents" -> 64, "embeddings" -> 16,
    "lineitem" -> 16)
  // The serving-entry index model: k-means clusters ∝ corpus (32 K
  // vectors / 64 lists ≈ 500/list), 8×16 product codebook over the
  // 64-dim embeddings — the store is built once with the fixture.
  private val HeavyIndexParams =
    graft.llm.IndexStore.Params(dim = 64, clusters = 64, m = 8, k = 16)
  // The serving-entry LM: per-language hashed-key models over the src0
  // reference slice, persisted with the fixture.
  private val HeavyLmParams =
    graft.llm.LmStore.Params(langCol = Some("lang"), hashed = true)
  // The serving-entry tokenizer: a production-scale 1000-merge
  // vocabulary over the ~100 K floored lowdup words, persisted with
  // the fixture; the timed entry only tokenizes.
  private val HeavyTokParams =
    graft.llm.TokenizerStore.Params(merges = 1000, minCount = 8L)
  // The longdoc corpus replicates harder: at ×64 (12.8 K docs) both
  // LSH entries are verify/overhead-bound and the 128×-fewer-hashes
  // OPH signature claim is invisible; ×256 (51.2 K docs × ~1.35 K
  // tokens ≈ 69 M tokens) makes the signature stage the dominant cost
  // so the dense-vs-OPH delta is what the pair of entries measures.
  private val LongdocFactor = 256
  // v4: lowdup suffixes kill cross-original sim; v5: replicas written
  // 32-way — a single posexplode lineage wrote ONE 57 MB file whose one
  // row group is unsplittable, so every scan-rooted pipeline ran on one
  // core no matter the partition-size conf. v6: + the persisted lowdup
  // corpus band table for the incremental-dedup entry. v7: + the
  // longdoc corpus (OPH's intended regime — the base vocabulary
  // saturates at ~31 tokens, so long docs position-suffix their tokens
  // to make distinct-token count actually grow with length); v8:
  // longdoc at ×256 so the signature stage dominates its entries; v9:
  // + the persisted IVF-PQ index for the serving entry; v10: + the
  // persisted per-lang bigram LM for the c11 serving entry; v11: + the
  // persisted 1000-merge BPE tokenizer for the t14 serving entry;
  // v12: deterministic table layout — every table hash-partitioned on
  // its key and sorted within partitions, so rebuilds from the same
  // source values are byte-identical and row order stops being an
  // uncontrolled variable of the bench record (the l2 r15→r16
  // fixture-rebuild sensitivity).
  private val Layout = "v12"
  // Set by ensureHeavyDir: whether this run regenerated the fixture
  // (false = every persisted store artifact predates this run).
  @volatile private var lastBuildWasFresh = false

  /** One heavy entry: a registered query (or a custom fn for variants
    * not in the registry), the tables it reads, an optional subdir of
    * the heavy dir to run against, optional UNTIMED extra counts —
    * for the dedup entries, the candidate-pair counts that make
    * docs/s interpretable (pairs are the actual unit of LSH work;
    * verified pairs come free from the timed run's row count) — and
    * `meta`: the static workload parameters (merges, k, nprobe,
    * thresholds, …) emitted per entry so a reported number is
    * self-describing without reading this file. Values are raw JSON
    * literals. */
  private case class HeavyItem(
      name: String, tables: Seq[String], subdir: Option[String] = None,
      fn: Option[(SparkSession, String) => DataFrame] = None,
      counts: Option[(SparkSession, String) => Seq[(String, Long)]] = None,
      meta: Seq[(String, String)] = Nil,
      // Override for input_mb/input_rows when the entry reads a
      // fixture OUTSIDE the heavy tables (the media entries): the
      // reported MB/s must be over the bytes actually decoded, not a
      // proxy table.
      paths: Option[(SparkSession, String) => Seq[String]] = None,
      // Override for input_rows when `paths` is not parquet (the WARC
      // entry): the default counter reads each path as parquet.
      inputRows: Option[(SparkSession, String) => Long] = None,
      // Per-item minimum sample count (0 = the env/default). The
      // JIT-heaviest plans keep compiling through the first timed
      // samples of a FRESH JVM (fork mode): l2's five samples read
      // 19.0/18.0/16.7/16.1/17.2 s — converging down — so min-of-3
      // after one warm-up visit catches the early-JIT phase and
      // overstates the steady state ~1.5×. Five samples reach it.
      minSamples: Int = 0)

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Citation edges for the mid-hub coupling entry: cited keys split
    * per the h-bucket of the part key — 12/16 of keys stay unsplit
    * (480 citers, screened by the 64-cap), h==12 splits 8-way
    * (~60 citers, the biggest group the cap admits), h>12 splits
    * 32-way (~15). Subkeys come from the ORIGINAL order id
    * (orderkey div 16), so all 16 replicas of an order co-group. */
  private def midHubEdges(s: SparkSession, d: String) = {
    val h = pmod(xxhash64(col("l_partkey")), lit(16))
    val b = when(h < 12, lit(1)).when(h === 12, lit(8)).otherwise(lit(32))
    s.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey").cast("string").as("citing"),
        concat_ws("#", col("l_partkey"),
          pmod(floor(col("l_orderkey") / 16), b)).as("cited"))
  }

  /** Production-shaped licensing workload over the ×16 edge table —
    * the reference's flagship throughput bars (`span-tag` ~20 K recs/s,
    * ref: sources/amsl.py:919-922; `span-oa-filter` 2.5 M recs/min,
    * ref: workflows/ai.py:778) finally measured at scale. 9.6 M pseudo
    * intermediate-schema records: an 8-value source dispatch space,
    * one ISSN per record from a 30 K keyspace, dates across ~7 years. */
  private def licenseRecords(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/lineitem.parquet").select(
      col("l_orderkey").as("rid"),
      (pmod(col("l_partkey"), lit(8)) + 1).cast("string").as("source_id"),
      array(concat(lit("coll-"), pmod(col("l_partkey"), lit(40))))
        .as("collections"),
      array(concat(lit("ISSN-"),
        pmod(xxhash64(col("l_orderkey"), col("l_partkey")), lit(30000))))
        .as("issns"),
      array().cast("array<string>").as("subjects"),
      date_add(lit("1992-01-01").cast("date"),
        pmod(xxhash64(col("l_orderkey")), lit(2400)).cast("int"))
        .as("rdate"))

  private def licenseRecordCols = graft.license.RecordCols(
    id = col("rid"), sourceId = col("source_id"),
    collections = col("collections"), issns = col("issns"),
    subjects = col("subjects"), date = col("rdate"))

  /** 30 KBART holdings tables, 10-50 K rows each (~900 K rows total,
    * ~30 coverage rows per ISSN across the union — multiple ranges per
    * ISSN is normal KBART), with mixed R/P embargo walls carried as
    * raw embargo_info strings so the parser runs in-plan. */
  private def licenseHoldings(s: SparkSession)
      : Map[String, DataFrame] =
    (0 until 30).map { t =>
      val rows = 10000 + (t % 5) * 10000
      val emb = element_at(
        typedLit(Seq("R1Y", "P6M", "", "R90D", "R2Y")),
        (pmod(col("id"), lit(5)) + 1).cast("int"))
      s"hf$t" -> s.range(0, rows).select(
        concat(lit("ISSN-"),
          pmod(col("id") * (2 * t + 3) + t * 97, lit(30000))).as("issn"),
        date_add(lit("1990-01-01").cast("date"),
          pmod(col("id"), lit(1500)).cast("int")).as("date_first"),
        when(col("id") % 3 === 0,
          date_add(lit("1996-01-01").cast("date"),
            pmod(col("id"), lit(1200)).cast("int"))).as("date_last"),
        graft.license.Kbart.embargoDays(emb).as("embargo_days"),
        graft.license.Kbart.embargoMethod(emb).as("embargo_method"))
    }.toMap

  /** ~105 AMSL discovery rows → 20 ISILs with mixed predicate trees
    * through the 8-case dispatch: plain source×collection collects,
    * holdings-link buckets, content-file ANDs, the double-holdings
    * case, plus evaluate=no noise rows the dispatch must drop. */
  private def licenseAmslRows: Seq[graft.license.AmslRow] = {
    import graft.license.AmslRow
    (0 until 20).flatMap { i =>
      val isil = f"ISIL-H$i%02d"
      val sid = ((i % 8) + 1).toString
      val sid2 = ((i + 3) % 8 + 1).toString
      Seq(
        AmslRow(isil, sid, s"coll-$i",
          technicalCollectionID = Some(s"coll-${(i + 20) % 40}")),
        AmslRow(isil, sid, s"coll-${(i + 5) % 40}"),
        AmslRow(isil, sid2, s"coll-${(i * 2) % 40}",
          linkToHoldingsFile = Some(s"hf${i % 30}"),
          evaluateHoldingsFileForLibrary = Some("yes")),
        AmslRow(isil, sid, s"coll-${(i * 3) % 40}",
          linkToContentFile = Some(s"hf${(i + 7) % 30}")),
        // evaluate missing + holdings link = the skip path
        AmslRow(isil, sid2, s"coll-${(i + 9) % 40}",
          linkToHoldingsFile = Some(s"hf${(i + 11) % 30}"))
      ) ++ (if (i % 4 == 0) Seq(
        AmslRow(isil, sid, s"coll-${(i + 13) % 40}",
          linkToHoldingsFile = Some(s"hf${(i + 2) % 30}"),
          linkToContentFile = Some(s"hf${(i + 4) % 30}"),
          evaluateHoldingsFileForLibrary = Some("yes"))) else Nil)
    }
  }

  private[graft] def licenseTagHeavy(s: SparkSession, d: String,
                                     dropUnlabeled: Boolean = false)
      : DataFrame = {
    val configs = graft.license.AmslConfigBuilder.build(licenseAmslRows)
    graft.license.Licensing.tag(licenseRecords(s, d),
        licenseRecordCols, configs, licenseHoldings(s),
        asOf = "1998-06-01", dropUnlabeled = dropUnlabeled)
      .select(col("rid"), col("x_labels"))
  }

  /** The pipe26 entry's standing pack state: the per-shard watermark
    * of last night's 300 K-doc corpus build, persisted next to the
    * lowdup tables. Completion-gated on the parquet _SUCCESS marker
    * (a killed priming run regenerates instead of serving a torn
    * watermark, whose missing shards would resume at sequence 0 and
    * overlap the standing corpus). Built during fixture generation
    * (untimed, like every other fixture store) and self-healing here
    * for fixtures that predate the entry. */
  private[graft] def ensurePipe26Watermark(s: SparkSession,
                                           d: String): String = {
    val wmPath = s"$d/pipe26_watermark.parquet"
    val f = graft.llm.ArtifactStore.fs(s, wmPath)
    val p = new org.apache.hadoop.fs.Path(wmPath)
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
      f.delete(p, true)
      val dd = docs(s, d)
      val base = dd.filter(col("doc_id") % 16 =!= 1)
      val basePacked = queries.PipelineQueries.corpusBuild(base,
        queries.PipelineQueries.curationFunnelOf(
          base.select("doc_id", "lang", "text"), portableCov = false,
          maxMeanWordLen = 20.0, minStopHits = 0, quota = 5000),
        s"$d/bpe_tokenizer", HeavyTokParams, numShards = 32,
        budgetTokens = 2048)
      graft.llm.Corpus.packWatermark(basePacked,
          col("n_bpe_tokens"), budgetTokens = 2048)
        .write.mode("overwrite").parquet(wmPath)
    }
    wmPath
  }

  private val Items: Seq[HeavyItem] = Seq(
    // span-tag at production shape: 20 ISIL filter trees from the AMSL
    // dispatch, 30 KBART tables with embargo walls, every record of
    // the 9.6 M corpus tagged in one pass (one issn explode, one
    // broadcast holdings join, one flag aggregation, 20 predicate
    // columns). The reference bar is ~20 K recs/s single-node.
    HeavyItem("l2_amsl_tag_heavy", Seq("lineitem"),
      fn = Some((s, d) => licenseTagHeavy(s, d)),
      counts = Some { (s, d) =>
        Seq("labeled_records" ->
            licenseTagHeavy(s, d, dropUnlabeled = true).count(),
          "holdings_rows" ->
            licenseHoldings(s).values.map(_.count()).sum)
      },
      meta = Seq("isils" -> "20", "holdings_tables" -> "30",
        "amsl_rows" -> "105", "as_of" -> "\"1998-06-01\""),
      minSamples = 5),
    // span-oa-filter at production shape: whitelist ∪ rule minus
    // blacklist over the same 9.6 M records — scan + two broadcast
    // semi-probes, zero shuffles. The reference bar is 2.5 M recs/min.
    HeavyItem("j4_oa_flag_heavy", Seq("lineitem"),
      fn = Some { (s, d) =>
        val wl = s.range(0, 30000, 3)
          .select(concat(lit("ISSN-"), col("id")).as("__issn"),
            lit(true).as("__w"))
        val bl = s.range(0, 30000, 15)
          .select(concat(lit("ISSN-"), col("id")).as("__issn"),
            lit(true).as("__b"))
        licenseRecords(s, d)
          .withColumn("__issn", try_element_at(col("issns"), lit(1)))
          .join(broadcast(wl), Seq("__issn"), "left")
          .join(broadcast(bl), Seq("__issn"), "left")
          .select(col("rid"),
            ((coalesce(col("__w"), lit(false)) ||
              col("source_id").isin("1", "2")) &&
              !coalesce(col("__b"), lit(false))).as("oa_flag"))
      },
      meta = Seq("whitelist_issns" -> "10000",
        "blacklist_issns" -> "2000")),
    HeavyItem("d3_minhash_lsh_pairs", Seq("documents"),
      counts = Some((s, d) => Seq("candidate_pairs" ->
        Dedup.minhashLshCandidates(docs(s, d), "doc_id", "text",
          maxBucketSize = Some(100)).count())),
      meta = Seq("threshold" -> "0.8", "max_bucket" -> "100")),
    // Production-density variant: same operator/params, corpus where
    // only 1 replica in 16 stays a near-dup (the rest are token-mangled
    // past any threshold) — real corpora run 1-10% dup density, and
    // docs/s on the ~25%-dense default fixture is adversarial by
    // construction (quadratic true-pair volume).
    HeavyItem("d3_minhash_lsh_pairs_lowdup", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some((s, d) => Dedup.minhashLshPairs(docs(s, d), "doc_id",
        "text", threshold = 0.8, maxBucketSize = Some(100))),
      counts = Some((s, d) => Seq("candidate_pairs" ->
        Dedup.minhashLshCandidates(docs(s, d), "doc_id", "text",
          maxBucketSize = Some(100)).count())),
      meta = Seq("threshold" -> "0.8", "max_bucket" -> "100",
        "dup_density" -> "\"1/16\"")),
    HeavyItem("d8_dup_groups", Seq("documents")),
    HeavyItem("d10_simhash_neardup", Seq("documents"),
      counts = Some((s, d) => Seq("candidate_pairs" ->
        Dedup.simhashCandidates(docs(s, d), "doc_id", "text", bits = 32,
          blocks = 4, maxHamming = 2, portable = true,
          maxBucketSize = Some(200)).count())),
      meta = Seq("bits" -> "32", "blocks" -> "4", "max_hamming" -> "2",
        "max_bucket" -> "200")),
    HeavyItem("d16_passage_coverage", Seq("documents"),
      counts = Some((s, d) => Seq(
        "windows" -> Dedup.passageWindows(docs(s, d), "doc_id", "text",
          w = 8, stride = 4, portable = true).count())),
      meta = Seq("w" -> "8", "stride" -> "4")),
    // The hashed production form (multi-arg xxhash64 n-grams, no
    // n-gram string ever built — the pipe17 hashNgrams discipline);
    // the registered query keeps portable strings for its oracle and
    // TwinConsistencySpec pins the two forms' outputs equal.
    HeavyItem("t8_contamination", Seq("documents"),
      fn = Some { (s, d) =>
        val dd = docs(s, d)
        graft.llm.TextAnalysis.contaminationStats(dd, "doc_id", "text",
            dd.filter(col("doc_id") % 37 === 0), "text",
            n = 5, threshold = 0.2, hashed = true)
          .select(col("doc_id"), col("n_ngrams"), col("n_matched"),
            col("contamination"), col("contaminated"))
      },
      meta = Seq("ngram_n" -> "5", "threshold" -> "0.2",
        "hashed" -> "true")),
    // The production funnel: same fused scoring scan, coverage stage
    // on stringless window hashes (registered query keeps portable
    // strings for its oracle; DedupSpec pins the coverage forms equal).
    // Over the lowdup corpus, NOT the ×64 replicated one: on the
    // replicated fixture the coverage gate annihilates every doc
    // (replicas are near-copies by construction), so the funnel's
    // quota/stratified tail executed trivially and out_rows was 0 —
    // lowdup keeps survivors > 0, so the whole funnel incl. the quota
    // cut is exercised at scale. Gopher gates fit to the corpus like
    // pipe24's: the lowdup replicas average 11.8 chars/word with zero
    // stopwords (every word re-suffixed by construction), so the
    // DEFAULT maxMeanWordLen=10/minStopHits=1 would annihilate
    // everything row-locally before the coverage join ever ran.
    HeavyItem("pipe17_llm_curation", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some((s, d) =>
        queries.PipelineQueries.curationFunnel(s, d, portableCov = false,
          maxMeanWordLen = 20.0, minStopHits = 0, quota = 5000)),
      meta = Seq("quota" -> "5000")),
    // HTML→text extraction throughput (the crawl front door): the
    // registered native single-pass expression over 320 K synthesized
    // pages (~1.5 KB html each). The table's parquet MB understates
    // the work — the untimed html_bytes count carries the actual page
    // bytes the extractor scanned, the honest MB/s denominator.
    HeavyItem("t16_html_extract", Seq("documents"),
      counts = Some((s, d) => Seq("html_bytes" ->
        Tables.documents(s, d)
          .select(queries.LlmQueries.t16Html.as("h"))
          .agg(sum(length(col("h")))).collect()(0).getLong(0)))),
    // Crawl-native end-to-end: extraction fused into the production
    // (native-expression) curation funnel on the same scan — pages in,
    // curated corpus out. Runs on the lowdup corpus with the pipe17
    // heavy entry's funnel settings (the ×64 replicated main corpus
    // trips the cross-doc coverage gate corpus-wide by construction —
    // every doc would gate out and the quota stage would run on
    // nothing).
    HeavyItem("pipe30_html_curation", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some((s, d) => {
        val pages = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            queries.LlmQueries.t16Html.as("html"))
        val extracted = graft.llm.TextAnalysis
          .htmlExtractStats(pages, "html", native = true)
          .select(col("doc_id"), col("lang"),
            replace(col("text"), lit("\n"), lit(" ")).as("text"))
          // Materialize extraction once (the registered query's shape:
          // each funnel branch otherwise re-runs the page scan
          // including the extraction expression chain).
          .truncateLineage()
        queries.PipelineQueries.curationFunnelOf(extracted,
          portableCov = false, maxMeanWordLen = 20.0, minStopHits = 0,
          quota = 5000)
      }),
      counts = Some((s, d) => Seq("html_bytes" ->
        Tables.documents(s, d)
          .select(queries.LlmQueries.t16Html.as("h"))
          .agg(sum(length(col("h")))).collect()(0).getLong(0))),
      meta = Seq("quota" -> "5000")),
    // PDF text-extraction throughput (the documents-modality decode:
    // inflate + content-stream operator parse over 320 K genuine
    // multi-page Flate PDFs). The m3/m7 discipline: fixture untimed,
    // the timed window is the decode.
    HeavyItem("m15_pdf_text", Seq("documents"),
      fn = Some { (s, d) =>
        graft.plans.PdfTextExpr.register(s)
        val media = s.read.parquet(queries.LlmQueries.ensurePdfFixture(s, d))
        media.withColumn("__p", explode(array(
            call_function(graft.plans.PdfTextExpr.Name, col("content")))))
          .select(col("media_id"), col("__p.text").as("text"),
            col("__p.n_pages").as("n_pages"))
      },
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensurePdfFixture(s, d)))),
    // WARC container scan throughput: 32 .warc.gz files (one scan
    // task each — crawl-delivery layout) holding 320 K page captures;
    // the timed plan splits records, parses the HTTP messages, and
    // hashes every field including the payload, so the number is
    // container+gzip+HTTP parse MB/s over the compressed input.
    HeavyItem("s14_warc_scan", Seq("documents"),
      fn = Some((s, d) => {
        val w = queries.SourceQueries.ensureWarcPagesDir(s, d)
        graft.sources.Warc.records(s, w + "/*.warc.gz")
          .select(col("warc_type"), col("target_uri"),
            col("http_status"), col("content_type"),
            xxhash64(col("payload")).as("payload_hash"))
      }),
      paths = Some((s, d) =>
        Seq(queries.SourceQueries.ensureWarcPagesDir(s, d))),
      inputRows = Some((s, d) => graft.sources.Warc.records(s,
        queries.SourceQueries.ensureWarcPagesDir(s, d) + "/*.warc.gz")
        .count())),
    // Per-domain caps at corpus scale: URL → registered domain → the
    // stratified window cut over 320 K rows (7 strata — the window's
    // per-stratum single-task shape is the thing to watch; at 100 TB
    // the domain key has millions of strata and spreads instead).
    HeavyItem("pipe31_domain_quota", Seq("documents")),
    // THE crawl pipeline end-to-end at scale: 320 K captured pages in
    // 32 .warc.gz files → record split → HTTP-200 filter → charset
    // repair → HTML extraction → registered domain from the capture
    // URI → the native curation funnel with the DOMAIN as the quota
    // stratum — container bytes in, curated corpus out, ONE timed
    // window. Runs on the lowdup corpus (pipe30's rationale: the ×64
    // replicated main corpus trips the coverage gate corpus-wide).
    HeavyItem("pipe32_warc_curation", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        import graft.functions.Urls
        graft.plans.TextDecodeExpr.register(s)
        val pages = graft.sources.Warc.records(s,
            queries.SourceQueries.ensureWarcPagesDir(s, d) + "/*.warc.gz")
          .filter(col("warc_type") === "response" &&
            col("http_status") === 200)
          .select(
            regexp_extract(col("target_uri"), "/p/([0-9]+)", 1)
              .cast("long").as("doc_id"),
            coalesce(Urls.urlRegisteredDomain(col("target_uri")),
              lit("__none__")).as("lang"),
            call_function(graft.plans.TextDecodeExpr.Name, col("payload"))
              .getField("text").as("html"))
        val extracted = graft.llm.TextAnalysis
          .htmlExtractStats(pages, "html", native = true)
          .select(col("doc_id"), col("lang"),
            replace(col("text"), lit("\n"), lit(" ")).as("text"))
          // Materialize extraction once (the registered query's shape:
          // each funnel branch otherwise re-runs the page scan
          // including the extraction expression chain).
          .truncateLineage()
        queries.PipelineQueries.curationFunnelOf(extracted,
          portableCov = false, maxMeanWordLen = 20.0, minStopHits = 0,
          quota = 5000)
      },
      paths = Some((s, d) =>
        Seq(queries.SourceQueries.ensureWarcPagesDir(s, d))),
      inputRows = Some((s, d) => graft.sources.Warc.records(s,
        queries.SourceQueries.ensureWarcPagesDir(s, d) + "/*.warc.gz")
        .count()),
      meta = Seq("quota" -> "5000")),
    // CCNet bucketing end-to-end: per-language bigram LMs trained on
    // the src0 reference slice (~1/20 of the corpus), all 320 K docs
    // scored by quantized log-likelihood and percentile-bucketed from
    // the (lang, score) histogram. The untimed count is the model
    // size — the distinct (lang, bigram) rows the scoring join
    // carries — which is what bounds the entry's shuffle volume.
    HeavyItem("pipe21_ccnet", Seq("documents"),
      // The hashed production form (multi-arg xxhash64 bigram keys,
      // no bigram string ever built); the registered query keeps
      // portable string keys for its oracle and CorpusSpec pins the
      // two forms' scores equal.
      fn = Some { (s, d) =>
        val scored = graft.llm.Corpus.lmScore(docs(s, d), "doc_id",
          "text", refPred = col("source") === "src0",
          langCol = Some("lang"), hashed = true)
        graft.llm.Corpus.ccnetBuckets(scored, "doc_id", "lang")
      },
      counts = Some { (s, d) =>
        val base = docs(s, d).filter(col("source") === "src0")
          .select(col("lang"),
            graft.functions.Scalars.tokens(col("text")).as("tk"))
        val bgs = base.select(col("lang"),
          explode(when(size(col("tk")) >= 2,
            transform(sequence(lit(0), size(col("tk")) - 2),
              i => array_join(slice(col("tk"), i + 1, lit(2)), " ")))
            .otherwise(array().cast("array<string>"))).as("bg"))
        Seq("model_bigrams" -> bgs.distinct().count())
      },
      meta = Seq("hashed" -> "true", "ref_slice" -> "\"src0\"")),
    HeavyItem("e9_ann_pq", Seq("embeddings")),
    HeavyItem("e7_ann_ivf_kmeans", Seq("embeddings")),
    HeavyItem("e12_ann_ivfpq", Seq("embeddings")),
    // REAL image decode at corpus scale: 320 K genuine PNGs (pre-built
    // untimed into a stamped fixture via the distributed png_synth
    // expression) → javax.imageio decode + 4×4 channel-mean pooling in
    // the scan projection. Times the decode-throughput a multimodal
    // curation pass pays per image; correctness of the same decode is
    // oracle-gated by m1/pipe23 at sf0.01.
    HeavyItem("m3_image_decode", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(queries.LlmQueries.ensurePngFixture(s, d))
        graft.llm.Multimodal.extractFeaturesImage(media, grid = 4)
          .select(col("media_id"), col("features"))
      },
      // input_mb over the PNG fixture itself, not the documents proxy
      // table — the MB/s must be over the bytes actually decoded.
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensurePngFixture(s, d))),
      meta = Seq("grid" -> "4", "dims" -> "\"16+id%9 x 16+id%7 RGB\"")),
    // REAL image decode at CRAWL-REALISTIC sizes: 40 K images of
    // 128-512 px per side (50/50 genuine PNG / JPEG q0.8, avalanche-
    // noise content, ~7.7 GB encoded at ~190 KB/image) — the regime
    // where per-image cost is pixel-bound. m3's 16-23 px fixture
    // measures the per-row-overhead end (imgs/s); THIS entry's
    // mb_per_s is the number that decides whether 100 TB image
    // curation is decode-bound or scan-bound (compare mb_per_s / 32
    // cores against the 300-800 MB/s/core parquet scan envelope).
    // Sized to run ~10 s (r16's 10 K / ~3 s entry oscillated ±25-80%
    // across runs on cross-run page-cache state the reaper cannot
    // see; at ~10 s that noise is sub-dominant).
    HeavyItem("m7_image_decode_realistic", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureRealisticMediaFixture(s, d))
        graft.llm.Multimodal.extractFeaturesImage(media, grid = 4)
          .select(col("media_id"), col("features"))
      },
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensureRealisticMediaFixture(s, d))),
      counts = Some { (s, d) =>
        val m = s.read.parquet(
          queries.LlmQueries.ensureRealisticMediaFixture(s, d))
        // Decoded (raw RGB) volume: what the decoder actually produces
        // — together with input_mb this splits encoded-MB/s from
        // output-pixel throughput. Dims replay the fixture formula
        // (v3: dims derive from the pair SEED = id − id%2).
        val seed = col("media_id") - pmod(col("media_id"), lit(2))
        val px = m.select(sum((lit(128) + pmod(seed * 97, lit(385))) *
            (lit(128) + pmod(seed * 53, lit(385)))))
          .collect()(0).getLong(0)
        Seq("png_images" -> m.filter(col("fmt") === "png").count(),
          "jpeg_images" -> m.filter(col("fmt") === "jpeg").count(),
          "decoded_mb_rgb" -> px * 3 / 1000000)
      },
      meta = Seq("grid" -> "4", "dims" -> "\"128-512 px RGB\"",
        "mix" -> "\"png/jpeg 50/50\"", "jpeg_quality" -> "0.8"),
      minSamples = 5),
    // The media-curation composite END-TO-END at realistic scale: the
    // number a 100 TB image dedup actually pays — decode (the m7
    // workload) + pooled features + centered sign-LSH near-dup pairs
    // in ONE timed window, decode and shuffle together. The fixture's
    // odd ids are JPEG re-encodes of their even neighbor's pixels
    // (cross-codec near-dups, cosine ≈ 0.99 centered), so pairs out
    // is a known quantity: ~20 K true pairs at ≥ 0.8, LSH recall
    // ~99.9% at 12 planes × 6 tables. The untimed decode-only
    // re-measure attributes the composite's cost: the delta over it
    // is the entire LSH term (ScaleCheck `mediacomposite` sweeps the
    // same split across corpus sizes — decode dominates throughout).
    HeavyItem("m11_image_neardup_composite", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureRealisticMediaFixture(s, d))
        // NO isNotNull pre-filter on the decoded column: the filter
        // collapses onto the projection as a second decode(content)
        // evaluation (CodegenFallback expressions get no
        // subexpression reuse there — measured 1.6× the decode term),
        // and it buys nothing: a corrupt payload's null features
        // yield null LSH buckets, whose posexplode drops the row for
        // free inside embeddingNearDupPairsLsh.
        val feats = graft.llm.Multimodal.extractFeaturesImage(media, grid = 4)
          .select(col("media_id"),
            transform(col("features"), f => f - lit(0.5))
              .cast("array<float>").as("features"))
        graft.llm.Dedup.embeddingNearDupPairsLsh(feats, "media_id",
          "features", threshold = 0.8, planes = 12, tables = 6,
          dim = 48, maxBucketSize = Some(200))
      },
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensureRealisticMediaFixture(s, d))),
      counts = Some { (s, d) =>
        // Decode-only re-measure (untimed): the composite minus this
        // is the LSH/shuffle term — the attribution that shows the
        // composite is decode-bound, consistent with the README's
        // budget guidance. Same discipline as a timed sample (reaped
        // state, min-of-2): a single unreaped reading right after the
        // timed samples measured the predecessors' wake, not the
        // decode (r17: 27.5 s for a stage the timed entry bounds at
        // ≤ 13.4 s).
        val media = s.read.parquet(
          queries.LlmQueries.ensureRealisticMediaFixture(s, d))
        val decodeMs = Seq.fill(2) {
          Bench.reap(s)
          val t0 = System.nanoTime()
          graft.llm.Multimodal.extractFeaturesImage(media, grid = 4)
            // Project features only, like the composite's own feats
            // stage — keeping `content` would push 7.6 GB of blobs
            // through the sink and time serialization, not decode;
            // and no isNotNull filter (see the composite fn).
            .select(col("media_id"), col("features"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1000000
        }.min
        Seq("decode_only_ms" -> decodeMs,
          "true_pairs" -> media.count() / 2)
      },
      meta = Seq("grid" -> "4", "threshold" -> "0.8", "planes" -> "12",
        "tables" -> "6", "max_bucket" -> "200",
        "pair_shape" -> "\"png vs jpeg re-encode of same pixels\""),
      minSamples = 5),
    // REAL video pixel decode at scale: 6 K genuine MJPEG videos (8
    // frames each at 128-256 px, JPEG q0.8/q0.7 noise — 48 K frames,
    // ~2 GB encoded) in a 50/50 RIFF/AVI + photo-JPEG MOV container
    // mix, each walked by its real parser (chunk chain vs sample
    // table) + per-frame javax.imageio decode + pooling, in the scan
    // projection. The video sibling of m7: its mb_per_s vs the scan
    // envelope says whether video curation is decode-bound (it is,
    // like images — the per-frame cost IS the JPEG path m7 measures,
    // plus the negligible container walk; the AVI/MOV split is
    // reported so a container-walk asymmetry would be visible).
    HeavyItem("m8_video_decode", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureVideoFixture(s, d))
        graft.llm.Multimodal.extractFrameFeaturesVideo(media, grid = 4)
      },
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensureVideoFixture(s, d))),
      counts = Some { (s, d) =>
        val m = s.read.parquet(
          queries.LlmQueries.ensureVideoFixture(s, d))
        Seq("avi_videos" -> m.filter(col("fmt") === "avi").count(),
          "mov_videos" -> m.filter(col("fmt") === "mov").count())
      },
      meta = Seq("grid" -> "4", "dims" -> "\"128-256 px RGB\"",
        "frames_per_video" -> "8", "jpeg_quality" -> "\"0.8/0.7\"",
        "containers" -> "\"avi/mov 50/50\"")),
    // The NIGHTLY INCREMENTAL image dedup (the d12 pattern for media):
    // yesterday's 20 K-image corpus is STANDING state — its decoded,
    // centered, LSH-staged bucket table persisted with the fixture —
    // and the timed window covers only what tonight pays: decode the
    // 20 K-image increment (the JPEG re-encodes, ~2 GB), stage its
    // buckets, prune the standing table to touched buckets, pair,
    // verify inline. Every true pair spans corpus×increment by
    // construction, so pairs out is the same ~20 K known quantity as
    // the full composite — found WITHOUT re-decoding the standing
    // corpus.
    HeavyItem("m14_image_dedup_incremental", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureRealisticMediaFixture(s, d))
        val inc = media.filter(col("media_id") % 2 === 1)
        val feats = graft.llm.Multimodal.extractFeaturesImage(inc, grid = 4)
          .select(col("media_id"),
            transform(col("features"), f => f - lit(0.5))
              .cast("array<float>").as("features"))
        // The standing corpus is served ENTIRELY from the persisted
        // bucket table (vectors ride in it); the corpus argument is
        // unused on that path — pass the empty frame to make any
        // accidental fallback re-decode loudly visible as zero pairs.
        graft.llm.Dedup.embeddingNearDupPairsIncremental(
          feats.limit(0), feats, "media_id", "features",
          threshold = 0.8, planes = 12, tables = 6, dim = 48,
          maxBucketSize = Some(200),
          corpusBuckets = Some(s.read.parquet(
            queries.LlmQueries.ensureImageBucketFixture(s, d))))
      },
      paths = Some { (s, d) =>
        // Input = the increment's encoded bytes + the standing bucket
        // artifact actually read (the decode term dominates).
        Seq(queries.LlmQueries.ensureRealisticMediaFixture(s, d),
          queries.LlmQueries.ensureImageBucketFixture(s, d))
      },
      counts = Some { (s, d) =>
        val m = s.read.parquet(
          queries.LlmQueries.ensureRealisticMediaFixture(s, d))
        val inc = m.filter(col("media_id") % 2 === 1)
        // Decode-only re-measure of the INCREMENT (the m11
        // discipline): the entry minus this is the stage/join/pair
        // tail a nightly run pays on top of decoding the new data.
        val decodeMs = Seq.fill(2) {
          Bench.reap(s)
          val t0 = System.nanoTime()
          graft.llm.Multimodal.extractFeaturesImage(inc, grid = 4)
            .select(col("media_id"), col("features"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1000000
        }.min
        Seq("decode_only_ms" -> decodeMs,
          "increment_images" -> inc.count())
      },
      meta = Seq("grid" -> "4", "threshold" -> "0.8", "planes" -> "12",
        "tables" -> "6", "max_bucket" -> "200",
        "increment_fraction" -> "\"1/2 (the jpeg re-encodes)\"")),
    // The VIDEO media-curation composite END-TO-END: decode every
    // frame of the 6 K-video corpus (the m8 workload), mean-pool the
    // per-frame features into one embedding per video, centered
    // sign-LSH near-dup pairs — the cost a real video dedup pays,
    // decode and shuffle together. The fixture's odd ids are q0.7
    // re-encodes of their even neighbor's frames IN THE OTHER
    // container (genuine re-encoded AND re-containered near-dups,
    // per-video cosine ≈ 0.98 centered), so pairs out is a known
    // quantity: 3 K true pairs, LSH recall ~98.7% at
    // 10 planes × 6 tables. (pipe28 oracle-gates content-level video
    // dedup at toy scale; this is its at-scale NEAR-dup form — the
    // d7/d13 composition over decoded video pixels.)
    HeavyItem("m12_video_neardup_composite", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureVideoFixture(s, d))
        val frames = graft.llm.Multimodal.extractFrameFeaturesVideo(
          media, grid = 4)
        // One embedding per video: element-wise mean over its frames
        // (explode positions → two cheap aggregations on 48·|videos|
        // rows; no isNotNull filter on the decoded column — see m11).
        val vid = frames
          .select(col("media_id"),
            posexplode(col("features")).as(Seq("pos", "v")))
          .groupBy("media_id", "pos").agg(avg(col("v")).as("v"))
          .groupBy("media_id")
          .agg(array_sort(collect_list(struct(col("pos"), col("v"))))
            .as("pv"))
          .select(col("media_id"),
            transform(col("pv"), p => p.getField("v") - lit(0.5))
              .cast("array<float>").as("features"))
        graft.llm.Dedup.embeddingNearDupPairsLsh(vid, "media_id",
          "features", threshold = 0.8, planes = 10, tables = 6,
          dim = 48, maxBucketSize = Some(200))
      },
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensureVideoFixture(s, d))),
      counts = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureVideoFixture(s, d))
        // Decode-only re-measure (reaped min-of-2, features-only
        // projection — the m11 discipline): the composite minus this
        // is the pooling/LSH term.
        val decodeMs = Seq.fill(2) {
          Bench.reap(s)
          val t0 = System.nanoTime()
          graft.llm.Multimodal.extractFrameFeaturesVideo(media, grid = 4)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1000000
        }.min
        Seq("decode_only_ms" -> decodeMs,
          "true_pairs" -> media.count() / 2)
      },
      meta = Seq("grid" -> "4", "threshold" -> "0.8", "planes" -> "10",
        "tables" -> "6", "max_bucket" -> "200",
        "pair_shape" ->
          "\"q0.7 re-encode of same frames, cross-container avi/mov\"")),
    // REAL audio decode at scale: 20 K genuine PCM WAVs (2-6 s at
    // 8 kHz, ~1.3 GB) through javax.sound.sampled + time-bucket
    // pooling. The contrast to m7/m8 is the point: PCM is
    // uncompressed, so audio "decode" is RIFF parse + sample widening
    // — expected at or near the scan envelope, i.e. audio curation is
    // SCAN-bound where image/video are decode-bound. (Compressed audio
    // — mp3/aac — would sit with the images; the JDK ships no decoder
    // for those, the decodeStub seam covers them.)
    HeavyItem("m9_audio_decode", Seq("documents"),
      fn = Some { (s, d) =>
        val media = s.read.parquet(
          queries.LlmQueries.ensureAudioFixture(s, d))
        graft.llm.Multimodal.extractFeaturesAudio(media, dim = 16)
          .select(col("media_id"), col("features"))
      },
      paths = Some((s, d) =>
        Seq(queries.LlmQueries.ensureAudioFixture(s, d))),
      meta = Seq("dim" -> "16", "sample_rate" -> "8000",
        "clip_seconds" -> "\"2-6\"")),
    // ANN SERVING from the persisted IVF-PQ artifact: e12 times
    // train+encode+search in one window (what a rebuild pays); this
    // entry times what a deployment pays PER QUERY BATCH — read the
    // store (params-checked), ADC shortlist, exact re-rank — with the
    // index built untimed in the fixture, exactly as production
    // serves. 100 queries against 32 K vectors.
    HeavyItem("e14_store_serve", Seq("embeddings"),
      fn = Some { (s, d) =>
        val emb = Tables.embeddings(s, d)
        graft.llm.IndexStore.searchTopKRerank(s, s"$d/ivfpq_index",
          HeavyIndexParams, emb, emb.filter(col("vec_id") < 100),
          "vec_id", "embedding", k = 10, nprobe = 4, overscan = 4)
      },
      meta = Seq("k" -> "10", "nprobe" -> "4", "overscan" -> "4",
        "query_batch" -> "100", "ivf_clusters" -> "64", "pq_m" -> "8",
        "pq_k" -> "16")),
    // SemDeDup at heavy scale: k grows ∝ corpus (the paper's regime —
    // within-cluster pairwise work stays bounded only if members/cluster
    // does). 80 K vectors / k=256 ≈ 310 per cluster; the registered
    // sf0.01 query uses k=8 for the same ~60-member clusters.
    HeavyItem("d17_semdedup", Seq("embeddings"),
      fn = Some { (s, d) =>
        import graft.llm.{Corpus, Similarity}
        val emb = Tables.embeddings(s, d)
        // The trainPct discipline end-to-end: Lloyd runs DRIVER-LOCAL
        // over the collected 25% train sample (bit-identical to the
        // distributed loop, spec-pinned) — the distributed iterations
        // paid ~3 scheduled jobs each for millisecond work.
        val cents = Similarity.kmeansCentroidsLocal(
          Corpus.hashSample(emb, "vec_id", 25, "semdedup"),
          "vec_id", "embedding", k = 256, iters = 3)
        val assign = Similarity.assignToCentroids(emb, "vec_id",
          "embedding", cents)
        Dedup.semDedup(emb, "vec_id", "embedding", assign, cents,
          threshold = 0.35, maxClusterSize = Some(2000))
      },
      // Untimed stage profile: the local-vs-distributed Lloyd split
      // and one full-corpus assignment pass on each path (k=256 ≥ the
      // two-level threshold, so the timed entry rides the coarse
      // probe) — the evidence for where the entry's time actually
      // goes (the within-cluster pair stage) and what the r12 routing
      // changes bought.
      counts = Some { (s, d) =>
        import graft.llm.{Corpus, Similarity}
        val emb = Tables.embeddings(s, d)
        def ms(f: => Any): Long = {
          val t0 = System.nanoTime(); f
          (System.nanoTime() - t0) / 1000000
        }
        var cents: org.apache.spark.sql.DataFrame = null
        val lloydLocal = ms {
          cents = Similarity.kmeansCentroidsLocal(
            Corpus.hashSample(emb, "vec_id", 25, "semdedup"),
            "vec_id", "embedding", k = 256, iters = 3)
        }
        val lloydDist = ms(Similarity.kmeansCentroids(
          Corpus.hashSample(emb, "vec_id", 25, "semdedup"),
          "vec_id", "embedding", k = 256, iters = 3))
        val two = ms(Similarity.assignToCentroidsTwoLevel(
          emb, "vec_id", "embedding", cents).count())
        val brute = ms(Similarity.assignToCentroidsExact(
          emb, "vec_id", "embedding", cents).count())
        Seq("lloyd_local_ms" -> lloydLocal, "lloyd_dist_ms" -> lloydDist,
          "assign_twolevel_ms" -> two, "assign_brute_ms" -> brute)
      },
      meta = Seq("kmeans_k" -> "256", "threshold" -> "0.35",
        "max_cluster" -> "2000", "train_pct" -> "25")),
    HeavyItem("g6_coupling", Seq("lineitem")),
    // Mid-hub coupling: on the plain ×16 fixture EVERY cited key is a
    // >64-citer hub, so the ≤64 cap screens them all and g6_coupling
    // measures scan+count+screen only (the candidate stage emits 0
    // pairs — correct, but the pair explosion itself goes unmeasured).
    // This variant splits a slice of the cited keyspace into mid-size
    // groups (h==12 of 16 → 60 citers/group, h>12 → 15/group; the
    // other 12/16 of keys stay full hubs) so the screen still eats 75%
    // of the edge mass while the survivors generate ~15 M candidate
    // pairs — the workload the cap exists to bound, now actually
    // timed. Subkeys derive from the ORIGINAL order id (all 16
    // replicas of an order land in the same group), so out_rows > 0 at
    // minShared=2 by construction.
    HeavyItem("g6_coupling_midhub", Seq("lineitem"),
      fn = Some((s, d) => graph.Citations.couplingPairs(
        midHubEdges(s, d), minShared = 2, maxCiters = 64)),
      counts = Some { (s, d) =>
        val r = midHubEdges(s, d).groupBy("cited")
          .agg(countDistinct(col("citing")).as("n"))
          .agg(coalesce(sum(when(col("n").between(2, 64),
              expr("n * (n - 1) div 2"))), lit(0L)),
            count(when(col("n") > 64, 1)),
            count(when(col("n").between(2, 64), 1))).collect()(0)
        Seq("candidate_pairs" -> r.getLong(0),
          "screened_groups" -> r.getLong(1),
          "surviving_groups" -> r.getLong(2))
      },
      meta = Seq("min_shared" -> "2", "max_citers" -> "64")),
    HeavyItem("g8_pagerank", Seq("lineitem")),
    // OPH in its intended regime: the short-doc corpus sits far below
    // the 4×bins distinct-token floor (the ophRegimeProbe warning
    // regime), so every prior OPH number showed the signature saving
    // at collapsed recall. The longdoc corpus (~1.3 K distinct
    // tokens/doc ≥ 4×128) is where the one-hash-per-token claim is
    // supposed to hold — this entry times OPH there, and the untimed
    // counts re-run both families for the recall line (true pairs per
    // 64-replica group: the 4 shared-suffix replicas, C(4,2)×200).
    HeavyItem("d11_oph_longdoc", Seq("documents"),
      subdir = Some("longdoc"),
      fn = Some((s, d) => Dedup.minhashLshPairsOph(docs(s, d), "doc_id",
        "text", threshold = 0.8, maxBucketSize = Some(100))),
      counts = Some { (s, d) =>
        val full = Dedup.minhashLshPairs(docs(s, d), "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100)).count()
        val oph = Dedup.minhashLshPairsOph(docs(s, d), "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100),
          regimeSampleDocs = 0).count()
        Seq("full_lsh_pairs" -> full, "oph_pairs" -> oph,
          "recall_pct" -> (if (full == 0) -1L else oph * 100 / full))
      },
      meta = Seq("threshold" -> "0.8", "max_bucket" -> "100",
        "longdoc_factor" -> "256")),
    // The dense 128-permutation path on the SAME longdoc corpus — the
    // baseline the OPH entry's signature saving is measured against.
    HeavyItem("d3_lsh_longdoc", Seq("documents"),
      subdir = Some("longdoc"),
      fn = Some((s, d) => Dedup.minhashLshPairs(docs(s, d), "doc_id",
        "text", threshold = 0.8, maxBucketSize = Some(100))),
      meta = Seq("threshold" -> "0.8", "max_bucket" -> "100",
        "longdoc_factor" -> "256", "permutations" -> "128")),
    // The nightly end-to-end composition (pipe19's production form:
    // xxhash signatures, hashed buckets) at production density: LSH
    // pairs → connected components → canonical keep → one row per doc.
    HeavyItem("pipe19_neardup_rewrite", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        val dd = docs(s, d)
        val pairs = Dedup.minhashLshPairs(dd, "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100))
        Dedup.nearDupRewrite(dd, "doc_id", col("n_chars"), pairs)
      },
      meta = Seq("threshold" -> "0.8", "max_bucket" -> "100",
        "dup_density" -> "\"1/16\"")),
    // BPE tokenizer training at PRODUCTION vocabulary scale: one
    // corpus-scale Spark pass for floored word counts, the collected
    // ~100 K-word vocabulary, then 1000 driver-local merge rounds with
    // incrementally-maintained pair counts — the shape that makes a
    // 30-50 K-merge vocabulary trainable at all (the old per-round
    // distributed jobs paid ~1 s of scheduling per round).
    HeavyItem("t13_bpe_train", Seq("documents"),
      subdir = Some("lowdup"),
      // min-frequency floor 8: the raw lowdup token space is 7.1 M
      // near-unique mangled words (every replica re-suffixes — noise
      // tail by construction); the floor trains on the ~100 K words a
      // real crawl vocabulary would present. Both totals reported.
      fn = Some((s, d) => graft.llm.TextAnalysis.bpeTrain(docs(s, d),
        "doc_id", "text", merges = 1000, minCount = 8L)),
      counts = Some { (s, d) =>
        val w = docs(s, d).select(explode(
            graft.functions.Scalars.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("c"))
        Seq("vocab_words" -> w.count(),
          "vocab_kept" -> w.filter(col("c") >= 8).count())
      },
      meta = Seq("merges" -> "1000", "min_count" -> "8"),
      minSamples = 5),
    // TOKENIZING from the persisted artifact: t13 times what a
    // vocabulary rebuild pays; this times what every nightly batch
    // pays — read the store (params-checked, structure-verified), one
    // broadcast join of the 320 K-doc word stream against the trained
    // segmentation. The e14/c11 serving discipline applied to the
    // tokenizer family.
    HeavyItem("t14_store_serve", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        graft.llm.TokenizerStore.tokenCounts(s, s"$d/bpe_tokenizer",
          HeavyTokParams, docs(s, d), "doc_id", "text")
      },
      meta = Seq("merges" -> "1000", "min_count" -> "8")),
    // ENCODING the corpus: the per-symbol token-id stream from the
    // persisted 1000-merge artifact — by output volume the biggest
    // single step of a pretraining pipeline (every word of every doc
    // explodes to its subword ids). Two broadcast joins on the scan;
    // out_rows is the total token count of the encoded corpus.
    HeavyItem("t15_store_encode", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        graft.llm.TokenizerStore.tokenIds(s, s"$d/bpe_tokenizer",
          HeavyTokParams, docs(s, d), "doc_id", "text")
      },
      meta = Seq("merges" -> "1000", "min_count" -> "8"),
      minSamples = 5),
    // MATERIALIZING the training batches: every token id placed at its
    // (shard, sequence, offset) under 2048-token concat-and-chunk —
    // pipe25's production shape. On top of the encode this pays ONE
    // hash shuffle of the token stream (the per-doc index window) and
    // the doc→slot merge join that reuses the window's sort.
    HeavyItem("pipe25_token_batches", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        queries.PipelineQueries.tokenBatchLayout(s, s"$d/bpe_tokenizer",
          HeavyTokParams, docs(s, d), numShards = 32,
          budgetTokens = 2048)
      },
      meta = Seq("merges" -> "1000", "shards" -> "32",
        "budget_tokens" -> "2048"),
      minSamples = 5),
    // The END-TO-END corpus build at production shape: pipe17's funnel
    // (stringless coverage, Gopher thresholds FIT to this corpus —
    // measured 11.8 chars/word and zero English stopwords, so
    // maxMeanWordLen 20 / stop floor 0; the registered query keeps the
    // SF-corpus defaults for its oracle), per-lang quota 5000, BPE
    // budgets served from the prebuilt 1000-merge store, GPT-style
    // 2048-token sequence packing across 32 shards. Untimed count =
    // curated survivors (the packed set's size).
    HeavyItem("pipe24_corpus_build", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        queries.PipelineQueries.corpusBuild(docs(s, d),
          queries.PipelineQueries.curationFunnel(s, d,
            portableCov = false, maxMeanWordLen = 20.0, minStopHits = 0,
            quota = 5000),
          s"$d/bpe_tokenizer", HeavyTokParams,
          numShards = 32, budgetTokens = 2048)
      },
      counts = Some { (s, d) =>
        Seq("curated_docs" -> queries.PipelineQueries.curationFunnel(
          s, d, portableCov = false, maxMeanWordLen = 20.0,
          minStopHits = 0, quota = 5000).count())
      },
      meta = Seq("merges" -> "1000", "shards" -> "32",
        "budget_tokens" -> "2048", "quota" -> "5000")),
    // The NIGHTLY INCREMENTAL corpus build (pipe26) at production
    // shape: 1/16 of the lowdup corpus arrives as tonight's increment
    // — funneled within itself, tokenized from the FIXED persisted
    // tokenizer, append-packed from the standing corpus' per-shard
    // watermark (standing shards never re-read). The watermark is the
    // tiny persisted pack state a nightly job carries — primed with
    // the fixture (untimed, completion-gated; see
    // ensurePipe26Watermark), so every sample times the pure
    // increment cost, the number a nightly run sizes against. docs/s
    // is per INCREMENT doc.
    HeavyItem("pipe26_incremental_build", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        val store = s"$d/bpe_tokenizer"
        val dd = docs(s, d)
        // Increment = the replica-1 slice: every doc uniquely mangled
        // (funnel-survivable). The replica-0 slice is the fixture's
        // NEAR-DUP subset by construction — within itself it is ~100%
        // repeated windows, so the coverage gate correctly kills all
        // of it and the entry would time an empty increment.
        val inc = dd.filter(col("doc_id") % 16 === 1)
        val wmPath = ensurePipe26Watermark(s, d)
        queries.PipelineQueries.corpusBuildAppend(inc,
          queries.PipelineQueries.curationFunnelOf(
            inc.select("doc_id", "lang", "text"), portableCov = false,
            maxMeanWordLen = 20.0, minStopHits = 0, quota = 5000),
          store, HeavyTokParams, numShards = 32, budgetTokens = 2048,
          s.read.parquet(wmPath))
      },
      counts = Some { (s, d) =>
        Seq("increment_docs" ->
          docs(s, d).filter(col("doc_id") % 16 === 1).count())
      },
      meta = Seq("merges" -> "1000", "shards" -> "32",
        "budget_tokens" -> "2048", "quota" -> "5000",
        "increment_fraction" -> "\"1/16\"")),
    // LM SERVING from the persisted artifact: pipe21's heavy entry
    // times what a model rebuild pays (train+score+bucket in one
    // window); this times what the nightly batch pays — read the
    // store (params-checked), score 320 K docs against the broadcast
    // model. The e14 discipline applied to the LM family.
    HeavyItem("c11_store_serve", Seq("documents"),
      fn = Some { (s, d) =>
        graft.llm.LmStore.score(s, s"$d/lm_store", HeavyLmParams,
          docs(s, d), "doc_id", "text")
      },
      meta = Seq("hashed" -> "true", "per_lang" -> "true")),
    // The passage-family rewrite at production density: repeated
    // windows found (one hash-keyed aggregate), covered positions cut,
    // every doc rewritten. On the lowdup corpus ~15/16 of replicas are
    // token-mangled, so repeated windows are the shared prefixes — a
    // realistic boilerplate fraction rather than the 100%-duplicated
    // default fixture.
    HeavyItem("pipe22_passage_scrub", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some((s, d) => Dedup.passageScrub(docs(s, d), "doc_id",
        "text", w = 8, stride = 1, minDocs = 2)),
      meta = Seq("w" -> "8", "stride" -> "1", "min_docs" -> "2"),
      counts = Some((s, d) => Seq("repeated_windows" ->
        Dedup.repeatedPassages(docs(s, d), "doc_id", "text", w = 8,
          stride = 1, minDocs = 2).count()))),
    // THE scale-critical reference operator (SURVEY W3: the 6 TB
    // latest-per-DOI snapshot, baseline 28 K docs/s): map-side-
    // combinable max_by compaction of the 9.6 M-row edge table down to
    // its ~200 K distinct part keys.
    HeavyItem("w3_snapshot_compaction", Seq("lineitem"),
      fn = Some { (s, d) =>
        operators.Ops.latestPerKeyAgg(Seq("l_partkey"),
          col("l_orderkey"))(Tables.lineitem(s, d))
      }),
    // The nightly incremental shape on the production-density corpus:
    // 1/16 of the docs arrive as the increment, the standing corpus'
    // band table is the persisted artifact, pairs touch the increment
    // only. docs/s here is per INCREMENT doc — the number a nightly
    // run sizes against.
    HeavyItem("d12_incremental_heavy", Seq("documents"),
      subdir = Some("lowdup"),
      fn = Some { (s, d) =>
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 16 =!= 0)
        val inc = docs.filter(col("doc_id") % 16 === 0)
        // The corpus band table is the PERSISTED artifact (built with
        // the fixture, read back here) — the timed window covers what
        // a nightly run actually pays: sign the increment, prune the
        // corpus bands to touched buckets, pair, verify.
        Dedup.minhashLshPairsIncremental(corpus, inc, "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100),
          corpusBands = Some(s.read.parquet(s"$d/corpus_bands.parquet")))
      },
      counts = Some((s, d) => Seq("increment_docs" ->
        Tables.documents(s, d).filter(col("doc_id") % 16 === 0).count())),
      meta = Seq("threshold" -> "0.8", "max_bucket" -> "100",
        "increment_fraction" -> "\"1/16\"")))

  /** Every heavy entry runs in a FRESH forked JVM — fresh codegen
    * cache, fresh allocator, fresh block manager — so in-pass
    * inflation from a prior entry's JVM wake is structurally
    * impossible, not just reaped away (r17: the combined light+heavy
    * pass read l2 at 3× its sole-workload record on identical code and
    * fixture; forking makes the combined pass AND the sole-workload
    * record the same measurement by construction). Fixtures are built
    * once here in the parent (all stamped); children run sequentially
    * and only read. */
  def run(spark: SparkSession, sfDir: String, only: Option[Set[String]],
          onFragment: String => Unit = _ => ()): String = {
    if (sys.env.get("SPARK_GRAFT_HEAVY").contains("0")) return ""
    val selected = Items.filter(i => only.forall(_.contains(i.name)))
    if (selected.isEmpty) return ""
    try {
      val dir = prepare(spark, sfDir, selected)
      val items = selected.flatMap { i =>
        val frag = spawnEntry(sfDir, i.name)
        frag.foreach(onFragment) // flush the partial artifact per entry
        frag
      }
      assemble(spark, dir, items)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] heavy block failed: ${e.getMessage}")
        ""
    }
  }

  /** Bench partition sizing, set once for the whole session by every
    * main that reads the heavy fixtures (Bench sets it for its light
    * passes too).
    *
    * Scans: the heavy tables are ~8-57 MB compressed but ≈500 MB of
    * text, and at the defaults (128 MB target, 4 MB open cost) a whole
    * table packs into ONE scan partition — every scan-rooted heavy
    * pipeline ran on one core (measured: the minhash band table 12 s
    * single-threaded vs 1.0 s spread). The light passes gain too
    * (measured: the 75-query r8 common tail at 58.4 s vs 63.6 s on
    * defaults).
    *
    * Shuffles: one partition per core, not `Tables.localSession`'s
    * two. The bench's shuffles are small, so a second wave of tasks is
    * pure overhead (measured, 4 cores, 10-query light subset at sf0.1,
    * sum of per-query min-of-3: median 40.9 s at 2× vs 36.5 s at 1×).
    *
    * A real 100 TB deployment keeps the scan defaults — its scans have
    * thousands of row groups regardless. */
  def sizePartitions(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "512k")
  }

  /** Build the heavy dir and every per-entry fixture the selection
    * needs (all stamped/idempotent — a second caller just reads).
    * Untimed by construction: runs before any timed window. */
  private def prepare(spark: SparkSession, sfDir: String,
                      selected: Seq[HeavyItem]): String = {
    val dir = ensureHeavyDir(spark, sfDir)
    // Graph fixtures derive from the heavy dir's lineitem — prebuilt
    // here so the first graph query isn't charged for fixture prep.
    if (selected.exists(_.tables.contains("lineitem")))
      queries.GraphQueries.ensureCitationFixture(spark, dir)
    // The media fixtures likewise: synthesized once, untimed, so the
    // decode entries time decoding, not fixture generation.
    if (selected.exists(_.name == "m3_image_decode"))
      queries.LlmQueries.ensurePngFixture(spark, dir)
    if (selected.exists(i => i.name == "m7_image_decode_realistic" ||
        i.name == "m11_image_neardup_composite" ||
        i.name == "m14_image_dedup_incremental"))
      queries.LlmQueries.ensureRealisticMediaFixture(spark, dir)
    if (selected.exists(_.name == "m14_image_dedup_incremental"))
      queries.LlmQueries.ensureImageBucketFixture(spark, dir)
    if (selected.exists(i => i.name == "m8_video_decode" ||
        i.name == "m12_video_neardup_composite"))
      queries.LlmQueries.ensureVideoFixture(spark, dir)
    if (selected.exists(_.name == "m9_audio_decode"))
      queries.LlmQueries.ensureAudioFixture(spark, dir)
    if (selected.exists(_.name == "s14_warc_scan"))
      queries.SourceQueries.ensureWarcPagesDir(spark, dir)
    if (selected.exists(_.name == "pipe32_warc_curation"))
      queries.SourceQueries.ensureWarcPagesDir(spark, s"$dir/lowdup")
    if (selected.exists(_.name == "m15_pdf_text"))
      queries.LlmQueries.ensurePdfFixture(spark, dir)
    dir
  }

  /** Run one entry in a child JVM with this JVM's own arguments
    * (module opens, heap, system properties) and classpath, and
    * collect its JSON fragment from the marker line; child stderr
    * streams through for progress. Bounded by a generous per-entry
    * ceiling (SPARK_GRAFT_HEAVY_TIMEOUT_SEC, default 900 s — the
    * slowest record-mode entry finishes in ~3 min): a wedged child
    * (e.g. a Spark deadlock) is force-killed and the entry degrades
    * like the empty-fragment path instead of stalling the whole bench
    * indefinitely. */
  private def spawnEntry(sfDir: String, name: String): Option[String] = {
    val javaBin = sys.props("java.home") + "/bin/java"
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.HeavyEntryMain", sfDir, name)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    // Stdout drains on a daemon thread so waitFor can carry the
    // timeout (a blocked pipe would otherwise wedge the child too).
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      try scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
        .getLines().foreach(lines.add)
      catch { case _: Throwable => () }
    }, s"heavy-stdout-$name")
    reader.setDaemon(true)
    reader.start()
    val limitSec =
      sys.env.getOrElse("SPARK_GRAFT_HEAVY_TIMEOUT_SEC", "900").toLong
    val finished =
      p.waitFor(limitSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) {
      System.err.println(
        s"[bench] forked heavy $name exceeded $limitSec s — killing")
      p.destroyForcibly()
      p.waitFor()
    }
    reader.join(5000)
    val code = p.exitValue()
    val frag = lines.asScala.toList.reverseIterator.collectFirst {
      case l if l.startsWith(FragmentMarker) =>
        l.stripPrefix(FragmentMarker)
    }.filter(_.nonEmpty)
    if (code != 0 || frag.isEmpty)
      System.err.println(s"[bench] forked heavy $name yielded nothing (exit $code)")
    frag
  }

  private[graft] val FragmentMarker = "GRAFT_HEAVY_FRAGMENT:"

  /** The child side: prepare (a stamped no-op after the parent's) +
    * measure exactly one entry. */
  private[graft] def runSingle(spark: SparkSession, sfDir: String,
                               name: String): Option[String] = {
    val selected = Items.filter(_.name == name)
    val dir = prepare(spark, sfDir, selected)
    selected.headOption.flatMap(measureItem(spark, dir, _))
  }

  /** Warm, sample, and report one heavy entry; returns its
    * `"name":{…}` JSON fragment. */
  private def measureItem(spark: SparkSession, dir: String,
                          item: HeavyItem): Option[String] = {
        val byName = SparkEntry.registry.map(q => q.name -> q.fn).toMap
        val fn = item.fn.orElse(byName.get(item.name))
        fn.map { f =>
          System.err.println(s"[bench] heavy ${item.name}")
          val d = item.subdir.map(s => s"$dir/$s").getOrElse(dir)
          val srcPaths = item.paths.map(_(spark, d))
            .getOrElse(item.tables.map(t => s"$d/$t.parquet"))
          val bytes = srcPaths.map(p => duBytes(spark, p)).sum
          val rows = item.inputRows.map(_(spark, d)).getOrElse(
            srcPaths.map(p => spark.read.parquet(p).count()).sum)
          // Sample count: the DEFAULT (env unset) is ONE timed sample
          // after the untimed warm-up — fork isolation already kills
          // cross-entry contention, and the r18 driver run proved that
          // 44 entries × min-of-3/5 no longer fits the driver's bench
          // window (rc=124, zero numbers). The committed record
          // (BENCH_full.json) is refreshed with
          // SPARK_GRAFT_HEAVY_PASSES=3 (5 for the JIT-heaviest entries
          // via minSamples — l2's fresh-JVM samples read
          // 19.0/18.0/16.7/16.1/17.2 s, converging down, so min-of-3
          // after one warm-up still overstates ~1.2×), where the
          // in-run sample swing evidence (r11: d17 60.0/13.6 s, g8
          // 20.5/10.1 s back to back) says a single sample is not a
          // record-grade number.
          val nSamples = sys.env.get("SPARK_GRAFT_HEAVY_PASSES") match {
            case Some(n) => math.max(item.minSamples, n.toInt)
            case None => 1
          }
          // One UNTIMED warm-up visit before the timed samples: the
          // biggest JIT-heavy plans (l2 licensing, t13 BPE, d3 bands)
          // never reached steady state inside a contended min-of-3 —
          // r14 committed l2 at 58.2 s with samples [122.7, 58.2,
          // 85.6] while its isolated steady state measured 20.8 s.
          // The warm-up compiles the codegen'd stages and settles the
          // allocator so the timed min records the steady-state number
          // the 100 TB sizing uses; its own duration is still reported
          // (warmup_sec) so cold-start cost stays visible. Disable
          // with SPARK_GRAFT_HEAVY_WARMUP=0.
          val warmup =
            if (sys.env.get("SPARK_GRAFT_HEAVY_WARMUP").contains("0")) -1.0
            else {
              val w = timeOne(spark, item.name, f, d)
              System.err.println(
                f"[bench] heavy ${item.name} warm-up ${w._1}%.1f s (untimed)")
              w._1
            }
          val samples = (1 to nSamples).map { i =>
            val s = timeOne(spark, item.name, f, d)
            System.err.println(f"[bench] heavy ${item.name} sample $i ${s._1}%.1f s")
            s
          }
          val ok = samples.filter(_._1 >= 0)
          val (sec, outRows) =
            if (ok.isEmpty) samples.head else (ok.map(_._1).min, ok.head._2)
          val mbps = if (sec > 0) bytes / 1e6 / sec else -1.0
          val rps = if (sec > 0) rows / sec else -1.0
          // Every sample is reported, not just the min: samples that
          // disagree 2×+ flag a contended reading (JVM state the
          // reaper could not return), so a reader can judge the min's
          // trustworthiness without re-measuring. `spread` (max/min)
          // makes that machine-checkable: the committed-bench
          // discipline (README "Bench record policy") refuses a
          // refresh whose heavy entries read spread > 1.5 without an
          // isolated cross-check.
          val samplesJson = samples.map(s =>
            String.format(java.util.Locale.ROOT, "%.3f",
              Double.box(s._1))).mkString("[", ",", "]")
          val spread =
            if (ok.size < 2) 1.0
            else ok.map(_._1).max / math.max(ok.map(_._1).min, 1e-9)
          val warmupJson = if (warmup < 0) ""
            else String.format(java.util.Locale.ROOT,
              ""","warmup_sec":%.3f""", Double.box(warmup))
          // Extra counts are untimed: they re-run the candidate stage
          // on its own, after the timed window. They are part of the
          // committed record (HEAVY_PASSES set, or HEAVY_EXTRAS=1),
          // NOT the driver's window-bounded default run — some re-run
          // whole stages (m11's decode-only min-of-2, d17's four-way
          // assignment profile) and together cost minutes the default
          // artifact does not need: the record already carries them.
          val wantExtras = sys.env.contains("SPARK_GRAFT_HEAVY_PASSES") ||
            sys.env.get("SPARK_GRAFT_HEAVY_EXTRAS").contains("1")
          val extras =
            (if (wantExtras) item.counts.map(_(spark, d)).getOrElse(Nil)
             else Nil) ++
            (if (outRows >= 0) Seq("out_rows" -> outRows) else Nil)
          val extraJson = (item.meta.map { case (k, v) => s""""$k":$v""" } ++
            extras.map { case (k, v) =>
              val perS = if (sec > 0 && k == "candidate_pairs")
                f""","pairs_per_s":${v / sec}%.0f""" else ""
              s""""$k":$v$perS"""
            }).mkString(",", ",", "").stripSuffix(",")
          f""""${item.name}":{"sec":$sec%.3f,"samples":$samplesJson,"spread":$spread%.2f$warmupJson,"input_mb":${bytes / 1e6}%.1f,"input_rows":$rows,"mb_per_s":$mbps%.1f,"rows_per_s":$rps%.0f$extraJson}"""
        }
  }

  /** The combined heavy JSON around the per-entry fragments. */
  private def assemble(spark: SparkSession, dir: String,
                       items: Seq[String]): String = {
      val f = Factors.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      // rebuilt=false is the evidentiary bit for the serving entries:
      // their persisted stores (tokenizer/index/LM/bands) are the
      // STANDING artifacts of a previous run's fixture build, so those
      // numbers prove artifacts survive across code versions.
      // Per-table layout stats make the fixture a CONTROLLED variable
      // of the record: a rebuild that drifts in file count or bytes is
      // visible in the JSON diff, not discovered by a perf swing.
      val tableStats = Seq("documents.parquet", "lineitem.parquet",
          "embeddings.parquet", "lowdup/documents.parquet",
          "longdoc/documents.parquet")
        .map { t =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
          val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
          val parts = hfs.listStatus(p)
            .count(_.getPath.getName.endsWith(".parquet"))
          f""""${t.stripSuffix(".parquet")}":{"files":$parts,"mb":${duBytes(spark, s"$dir/$t") / 1e6}%.1f}"""
        }.mkString(",")
      s""","heavy":{"factors":{$f},"forked":true,"fixture":{"layout":"$Layout","rebuilt":$lastBuildWasFresh,"tables":{$tableStats}},"queries":{${items.mkString(",")}}}"""
  }

  /** Times one full materialization; returns (seconds, result rows).
    * The row count rides the same aggregate as the hash fold, so it is
    * free — no second evaluation. */
  private def timeOne(spark: SparkSession, name: String,
                      f: (SparkSession, String) => DataFrame,
                      dir: String): (Double, Long) = {
    import org.apache.spark.sql.functions._
    try {
      // Start from reaped state (same rationale as the light pass).
      Bench.reap(spark)
      val t0 = System.nanoTime()
      val df = f(spark, dir)
      val row = df
        .select(xxhash64(df.columns.map(c => col(s"`$c`").cast("string")): _*)
          .as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
      ((System.nanoTime() - t0) / 1e9, row.getLong(1))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] heavy $name FAILED: ${e.getMessage}")
        (-1.0, -1L)
    }
  }

  private def duBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.getContentSummary(p).getLength
  }

  /** Replicate the heavy tables into an SF-shaped parquet dir, once:
    * the dir is keyed by the source dir + factors + generator layout,
    * completion-gated on a fingerprint sidecar written AFTER the data
    * (the ScaleCheck/BandStore discipline), so partial dirs from a
    * killed run regenerate and a changed source never reuses stale
    * replicas. */
  private[graft] def ensureHeavyDir(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val src = new java.io.File(s"$sfDir/documents.parquet")
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_heavy_${Layout}_${tag}_${src.length()}_${src.lastModified()}")
    val dir = root.toString
    val fingerprint = s"""{"sf":"$sfDir","layout":"$Layout","factors":"$Factors"}"""
    val sidecar = new org.apache.hadoop.fs.Path(dir, "_inputs.json")
    val fs = sidecar.getFileSystem(spark.sessionState.newHadoopConf())
    val stored: Option[String] =
      if (!fs.exists(sidecar)) None
      else {
        val in = fs.open(sidecar)
        try {
          val b = new Array[Byte](fs.getFileStatus(sidecar).getLen.toInt)
          in.readFully(b); Some(new String(b, "UTF-8"))
        } finally in.close()
      }
    lastBuildWasFresh = !stored.contains(fingerprint)
    if (!stored.contains(fingerprint)) {
      System.err.println(s"[bench] building heavy tables under $dir")
      def rep(n: Int) =
        posexplode(array_repeat(lit(1), n)).as(Seq("i", "__one"))
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), rep(Factors("documents")))
        .select((col("doc_id") * Factors("documents") + col("i")).as("doc_id"),
          // Perturbed per replica: near-dups of the original, not
          // byte-identical copies (keeps the dedup workload honest).
          concat(col("text"), lit(" zrep"), col("i").cast("string")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"), col("label"),
          rep(Factors("embeddings")))
        .select((col("vec_id") * Factors("embeddings") + col("i")).as("vec_id"),
          transform(col("embedding"),
            x => x + col("i").cast("float") * 0.013f).as("embedding"),
          col("label"))
      // Citing keys fresh per replica, cited keys in the ORIGINAL part
      // keyspace: growth makes hubs hotter, not just the table longer.
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"),
          rep(Factors("lineitem")))
        .select((col("l_orderkey") * Factors("lineitem") + col("i"))
          .as("l_orderkey"), col("l_partkey"))
      // Production-density documents variant. The BASE corpus is
      // itself ~9% pair-dense (d2: 429 true pairs in its first 100
      // docs), so any variant that keeps original token text inherits
      // quadratic cross-original pair volume (measured: a
      // replica-id-only mangle still verified 2.4 M pairs). Every
      // replica therefore gets its tokens suffixed with the ORIGINAL
      // doc id — killing all cross-original similarity — and replicas
      // with i % 16 == 0 share exactly that suffix (near-dups of each
      // other: same text + one distinct zrep token, J ≈ 0.98), while
      // the rest also carry the replica id (unique shingle sets, no
      // partner). Result: C(4,2) = 6 true pairs per 64-doc group,
      // ~30 K pairs over 320 K docs — the 1-5% production regime —
      // with per-doc token count, and thus signature cost, unchanged.
      // `orig` stages the pre-replication id under a name the output
      // does NOT reuse: referencing col("doc_id") in the same select
      // that aliases doc_id*64+i AS doc_id resolves the lambda's outer
      // reference to the NEW column (lateral-alias style), which
      // silently gave every replica a unique suffix (measured: 0
      // candidate pairs).
      def mangledReplicas(base: org.apache.spark.sql.DataFrame,
                          factor: Int) = base
        .select(col("doc_id").as("orig"), col("text"), col("lang"),
          col("source"), col("n_chars"), rep(factor))
        .select((col("orig") * factor + col("i")).as("doc_id"),
          concat(
            concat_ws(" ", transform(split(trim(col("text")), " "),
              w => concat(w, lit("~"), col("orig").cast("string"),
                when(col("i") % 16 === 0, lit(""))
                  .otherwise(concat(lit("_"), col("i").cast("string")))))),
            lit(" zrep"), col("i").cast("string")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      val lowdup = mangledReplicas(Tables.documents(spark, sfDir),
        Factors("documents"))
      // Long-document corpus for the OPH-regime entries: 25 docs
      // concatenated (deterministic doc_id order), then every token
      // POSITION-suffixed — the base vocabulary saturates at ~31
      // distinct tokens, so concatenation alone cannot lift the
      // distinct-token count; the position suffix makes it track
      // length (~1.3 K/doc ≥ 4×128 bins, the regime the OPH warning
      // gates on). Same replica mangle as lowdup on top: per 64-doc
      // group the 4 shared-suffix replicas are true near-dups.
      val longdoc = mangledReplicas(
        Tables.documents(spark, sfDir)
          .groupBy(floor(col("doc_id") / 25).cast("long").as("doc_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), " ").as("raw"))
          .select(col("doc_id"),
            concat_ws(" ", transform(split(trim(col("raw")), " "),
              (w, p) => concat(w, lit("."), p.cast("string")))).as("text"),
            lit("en").as("lang"), lit("longdoc").as("source"))
          .withColumn("n_chars", length(col("text"))),
        LongdocFactor)
      // 32-way writes: parquet row groups are the split unit, and the
      // single-lineage form wrote ONE file with ONE row group per
      // table — unsplittable, pinning every downstream scan to a
      // single core.
      //
      // DETERMINISTIC layout (v12): hash-partitioned on the table key
      // and sorted within partitions, so each file's LOGICAL content
      // (row values in row order) is a pure function of the table's
      // VALUES — verified file-by-file against an independent
      // recompute; only physical page/row-group boundary placement
      // wobbles across sessions (parquet-mr's concurrent-writer
      // memory manager), which no scan observes. The previous bare
      // `repartition(32)` was round-robin — each row's file assignment
      // inherited the SOURCE parquet's partition/row order, which the
      // driver regenerates every round; that made row order (and with
      // it sort-run locality in every key-clustered exchange, plus
      // encoding density) an uncontrolled variable of the record of
      // measure — the attributed driver of l2's 15.2 → 26.0 s isolated
      // swing across the r15→r16 fixture rebuild (see README "The l2
      // fixture-rebuild sensitivity, attributed"). With the layout
      // keyed+sorted, l2 read 16.5/16.2 s across two consecutive
      // rebuilds (±4%); per-table file/byte stats are stamped into the
      // heavy JSON's `fixture` block so any future drift is visible.
      def keyed(df: org.apache.spark.sql.DataFrame, key: String,
                rest: String*): org.apache.spark.sql.DataFrame =
        df.repartition(32, col(key))
          .sortWithinPartitions(key, rest: _*)
      keyed(docs, "doc_id")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      keyed(lowdup, "doc_id")
        .write.mode("overwrite").parquet(s"$dir/lowdup/documents.parquet")
      keyed(longdoc, "doc_id")
        .write.mode("overwrite").parquet(s"$dir/longdoc/documents.parquet")
      keyed(emb, "vec_id")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // The serving entry's persisted ANN artifact — built with the
      // fixture (untimed), searched by e14_store_serve.
      graft.llm.IndexStore.build(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
        "embedding", s"$dir/ivfpq_index", HeavyIndexParams,
        iters = 2, trainPct = 25, trainSeed = "heavyix")
      // The c11 serving entry's persisted LM — per-language hashed
      // models trained on the src0 slice, built with the fixture
      // (untimed); the timed entry only scores.
      graft.llm.LmStore.build(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("source") === "src0"),
        "doc_id", "text", s"$dir/lm_store", HeavyLmParams)
      // The t14 serving entry's persisted tokenizer — the 1000-merge
      // production vocabulary, built with the fixture (untimed); the
      // timed entry only tokenizes from it.
      graft.llm.TokenizerStore.build(
        spark.read.parquet(s"$dir/lowdup/documents.parquet"),
        "doc_id", "text", s"$dir/lowdup/bpe_tokenizer", HeavyTokParams)
      // pipe26's standing watermark — stale state from a previous
      // fixture generation must never survive an in-place rebuild.
      val fsDir = new org.apache.hadoop.fs.Path(s"$dir/lowdup/pipe26_watermark.parquet")
      fsDir.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(fsDir, true)
      ensurePipe26Watermark(spark, s"$dir/lowdup")
      keyed(li, "l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // The incremental-dedup entry's persisted artifact: the standing
      // corpus' (doc, band, bucket) table (doc_id % 16 != 0 — the
      // increment is the complement), written like a production
      // BandStore run would leave it.
      keyed(graft.llm.Dedup.minhashBandTable(
          spark.read.parquet(s"$dir/lowdup/documents.parquet")
            .filter(col("doc_id") % 16 =!= 0), "doc_id", "text"),
          "doc", "band")
        .write.mode("overwrite").parquet(s"$dir/lowdup/corpus_bands.parquet")
      val out = fs.create(sidecar, true)
      try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
    }
    dir
  }
}

/** Child main of [[HeavyBench.run]]: measure exactly ONE heavy entry
  * in a fresh JVM and print its JSON fragment behind the marker line.
  * A fresh JVM per entry makes the measurement immune by construction
  * to the previous entries' wake (codegen-class count, old-gen
  * fragmentation, block-manager residue) — the failure mode the
  * reap()/min-of-N/isolated_sec machinery could only mitigate. */
object HeavyEntryMain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.localSession("graft-heavy-entry", cpus)
    HeavyBench.sizePartitions(spark)
    val frag = HeavyBench.runSingle(spark, sfDir, name)
    try spark.stop() catch { case _: Throwable => () }
    println(HeavyBench.FragmentMarker + frag.getOrElse(""))
    System.out.flush()
  }
}
