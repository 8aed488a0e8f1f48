package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** Dev tool (not part of the driver contract): scale-sanity sweep.
  *
  * Replicates the synthetic tables in memory at ×1/×4/×16 with id and
  * content perturbation and times the scale-critical operators, so
  * "would this hold at 100×?" is answered with measured scaling factors
  * instead of plan-reading alone. A healthy operator scales ~linearly
  * in input rows (constant rows/s); candidate-bounded ops (LSH with a
  * bucket cap) may grow faster on this pathologically self-similar
  * corpus but must stay far from quadratic.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleCheck"
  *
  * SPARK_GRAFT_MATERIALIZE=/some/dir routes every replicated input
  * through parquet on disk (written once per table×factor, read back),
  * so the timed operators consume REAL on-disk tables — scan, column
  * pruning, partitioned reads — instead of in-memory generated
  * lineage. This is the "one big pass" mode: the in-memory sweep
  * answers "is the plan shape right?", the materialized sweep answers
  * "does it hold when the input actually comes off storage?".
  */
object ScaleCheck {

  private val materializeDir: Option[String] =
    sys.env.get("SPARK_GRAFT_MATERIALIZE")

  private val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Bump when any replicate*Mem generator changes its output — part
    * of the materialization fingerprint below, so existing
    * materialized dirs are regenerated instead of silently reused
    * with the old layout. */
  private val LayoutVersion = "v1"

  /** Write-once-read-back gate for a replicated input (no-op without
    * SPARK_GRAFT_MATERIALIZE). Reuse requires BOTH a complete write
    * (_SUCCESS — a bare existence check would accept the partial dir
    * a killed run left behind) AND a matching `_inputs.json`
    * fingerprint (source sfDir + generator layout version — the
    * BandStore sidecar discipline): re-running with the same
    * materialize dir but a different SPARK_GRAFT_SF_DIR, or after a
    * generator change, must regenerate, not silently time ops against
    * stale input. mode(overwrite) clobbers any such debris; the
    * sidecar is written after the data, so a crash between the two
    * re-triggers the write. */
  private def viaDisk(name: String, n: Int, df: => DataFrame): DataFrame =
    materializeDir match {
      case None => df
      case Some(root) =>
        val spark = org.apache.spark.sql.SparkSession.active
        val path = new org.apache.hadoop.fs.Path(s"$root/${name}_x$n")
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        val sidecar = new org.apache.hadoop.fs.Path(path, "_inputs.json")
        val fingerprint = s"""{"sfDir":"$sfDir","layout":"$LayoutVersion"}"""
        val stored: Option[String] =
          if (!fs.exists(sidecar)) None
          else {
            val in = fs.open(sidecar)
            try {
              val bytes = new Array[Byte](
                fs.getFileStatus(sidecar).getLen.toInt)
              in.readFully(bytes)
              Some(new String(bytes, "UTF-8"))
            } finally in.close()
          }
        if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")) ||
            !stored.contains(fingerprint)) {
          df.write.mode("overwrite").parquet(path.toString)
          val out = fs.create(sidecar, /* overwrite = */ true)
          try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
        }
        spark.read.parquet(path.toString)
    }

  private def replicateDocs(docs: DataFrame, n: Int): DataFrame =
    viaDisk("docs", n, replicateDocsMem(docs, n))

  private def replicateDocsMem(docs: DataFrame, n: Int): DataFrame =
    if (n == 1) docs
    else docs
      .select(col("doc_id"), col("text"),
        posexplode(array_repeat(lit(1), n)).as(Seq("i", "__one")))
      .select(
        (col("doc_id") * n + col("i")).as("doc_id"),
        // Perturb content per replica so replicas are near-dups of the
        // original, not byte-identical (keeps the dedup workload
        // realistic instead of collapsing to exact groups).
        concat(col("text"), lit(" zrep"), col("i").cast("string")).as("text"))

  private def replicateEvents(ev: DataFrame, n: Int): DataFrame =
    viaDisk("events", n, replicateEventsMem(ev, n))

  private def replicateEventsMem(ev: DataFrame, n: Int): DataFrame =
    if (n == 1) ev
    else ev
      .select(col("user_id"), col("event_id"), col("ts"),
        posexplode(array_repeat(lit(1), n)).as(Seq("i", "__one")))
      .select(
        (col("user_id") * n + col("i")).as("user_id"),
        (col("event_id") * n + col("i")).as("event_id"),
        col("ts"))

  /** Full-column replication for the end-to-end DAG: provenance
    * columns survive, content is perturbed like [[replicateDocs]],
    * replicas keep the original's source (so the groupcover preference
    * ladder sees the same source mix at every factor). */
  private def replicateDocsFull(docs: DataFrame, n: Int): DataFrame =
    viaDisk("docs_full", n, replicateDocsFullMem(docs, n))

  private def replicateDocsFullMem(docs: DataFrame, n: Int): DataFrame =
    if (n == 1) docs
    else docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), posexplode(array_repeat(lit(1), n)).as(Seq("i", "__one")))
      .select(
        (col("doc_id") * n + col("i")).as("doc_id"),
        concat(col("text"), lit(" zrep"), col("i").cast("string")).as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** Edges from lineitem: citing ids are fresh per replica, cited ids
    * stay in the ORIGINAL part keyspace — replication makes hubs
    * hotter, not just the table longer. */
  private def replicateEdges(li: DataFrame, n: Int): DataFrame =
    viaDisk("edges", n, replicateEdgesMem(li, n))

  private def replicateEdgesMem(li: DataFrame, n: Int): DataFrame = {
    val base =
      if (n == 1) li.withColumn("i", lit(0))
      else li.select(col("l_orderkey"), col("l_partkey"),
        posexplode(array_repeat(lit(1), n)).as(Seq("i", "__one")))
    base.select(
      concat(lit("O"), (col("l_orderkey") * n + col("i")).cast("string"))
        .as("citing"),
      concat(lit("P"), col("l_partkey").cast("string")).as("cited"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession("scalecheck", 32)
    // `bpe 1000,4000,16000` → the merge-count sweep instead of the
    // corpus-size sweep (see [[bpeMergeSweep]]).
    if (args.headOption.contains("bpe")) {
      bpeMergeSweep(spark, args.lift(1).getOrElse("1000,4000,16000")
        .split(",").map(_.trim.toInt).toSeq)
      spark.stop()
      return
    }
    // `packstore` → the PackStore serve-vs-tombstone-growth sweep (the
    // compact-trigger evidence; see [[packStoreSweep]]).
    if (args.headOption.contains("packstore")) {
      packStoreSweep(spark)
      spark.stop()
      return
    }
    // `mediacomposite` → the decode-vs-LSH attribution sweep for the
    // media-curation composite (see [[mediaCompositeSweep]]).
    if (args.headOption.contains("mediacomposite")) {
      mediaCompositeSweep(spark)
      spark.stop()
      return
    }
    // `warcsplit [1,4,16]` → the WARC record-split member-count sweep
    // (see [[warcSplitSweep]]).
    if (args.headOption.contains("warcsplit")) {
      warcSplitSweep(spark, args.lift(1).getOrElse("1,4,16")
        .split(",").map(_.trim.toInt).toSeq)
      spark.stop()
      return
    }
    // `l2 <dir> [<dir> …]` → the licensing fixture-sensitivity probe:
    // min-of-3 isolated l2_amsl_tag_heavy against each dir's
    // lineitem.parquet (the same timing harness as the bench — reaped
    // state, full hash-fold materialization). Exists to attribute
    // layout-induced swings: point it at fixture variants (keyed-
    // sorted vs round-robin vs shuffled row order) and read the
    // deltas side by side.
    if (args.headOption.contains("l2")) {
      // The bench's heavy-block partition sizing, for an
      // apples-to-apples number.
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
      spark.conf.set("spark.sql.files.openCostInBytes", "512k")
      l2Probe(spark, args.drop(1).toSeq)
      spark.stop()
      return
    }
    // ×64 on the sf0.1 documents table is ~6.4 M docs / ~2 GB of text —
    // the "one big pass" that anchors the scaling curve beyond the
    // default sweep. Select it with SPARK_GRAFT_FACTORS=1,4,16,64 and
    // narrow to the ops under study with SPARK_GRAFT_OPS=substr,substr.
    val factors = sys.env.getOrElse("SPARK_GRAFT_FACTORS", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val opFilter = sys.env.get("SPARK_GRAFT_OPS")
      .map(_.split(",").map(_.trim).toSeq)

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // `tables` declares which replicated inputs the op touches, so the
    // materialization prewarm writes only what the SELECTED ops read —
    // a narrowed SPARK_GRAFT_OPS run must not pay for the full
    // table × factor cross product.
    case class Op(name: String, run: Int => Long,
                  tables: Seq[String] = Seq("docs"))
    // One cached copy of the (text-dominated) documents table; the
    // narrow view shares it instead of pinning the text column twice.
    val docsFull0 = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars").cache()
    val docs0 = docsFull0.select("doc_id", "text")
    val ev0 = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts").cache()
    val li0 = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").cache()
    docsFull0.count(); ev0.count(); li0.count()

    // Embedding replication for the ANN/k-means ops — perturbed per
    // replica like replicateDocs, or verbatim copies would collapse
    // the k smallest ids to 1-2 distinct seed vectors and the sweep
    // would time a ~2-cluster problem while claiming k=8.
    def replicateEmb(n: Int): DataFrame = viaDisk("embeddings", n, {
      val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      if (n == 1) emb
      else emb
        .select(col("vec_id"), col("embedding"),
          posexplode(array_repeat(lit(1), n)).as(Seq("i", "__one")))
        .select((col("vec_id") * n + col("i")).as("vec_id"),
          transform(col("embedding"),
            x => x + col("i").cast("float") * 0.013f).as("embedding"))
    })


    // One fixed tokenizer artifact for the corpus-build sweep: trained
    // once on the ×1 corpus (serving joins a FIXED merge table — the
    // production shape; the artifact does not grow with the corpus).
    lazy val corpusBuildStore: String = {
      val dir = java.nio.file.Files.createTempDirectory("sc_tok")
        .resolve("tok").toString
      llm.TokenizerStore.build(docs0, "doc_id", "text", dir,
        llm.TokenizerStore.Params(merges = 200, minCount = 8L))
      dir
    }

    // pipe25's composition over a replicated corpus — the SHARED
    // implementation (PipelineQueries.tokenBatchLayout), so the sweep
    // times exactly the shape the registered query oracles and the
    // heavy entry measures.
    def tokenBatches(n: Int, shards: Int): Long =
      queries.PipelineQueries.tokenBatchLayout(spark, corpusBuildStore,
          llm.TokenizerStore.Params(merges = 200, minCount = 8L),
          replicateDocs(docs0, n), shards, budgetTokens = 2048)
        .count()

    // Prebuilt per factor: growing corpus, FIXED ~1250-doc increment,
    // and the corpus band artifact (materialized here so its
    // construction never lands inside a timed incremental run).
    lazy val incrementalFixtures: Map[Int, (DataFrame, DataFrame, DataFrame)] =
      factors.map { n =>
        val corpus = replicateDocs(docs0, n)
          .filter(col("doc_id") % (4L * n) =!= 0)
        val increment = replicateDocs(docs0, n)
          .filter(col("doc_id") % (4L * n) === 0)
        n -> ((corpus, increment,
          llm.Dedup.minhashBandTable(corpus, "doc_id", "text")
            .truncateLineage()))
      }.toMap

    // pipe26's standing pack watermark per factor: the ×n corpus is
    // packed (untimed fixture work — a real nightly inherits this
    // state from last night) and folded to its 32-row watermark, so
    // the timed append below starts from real standing placements.
    lazy val appendWatermarks: Map[Int, DataFrame] =
      factors.map { n =>
        val base = replicateDocsFull(docsFull0, n)
          .select("doc_id", "lang", "text")
        val packed = queries.PipelineQueries.corpusBuild(base,
          queries.PipelineQueries.curationFunnelOf(base,
            portableCov = false, quota = 5000, covThreshold = 1.0),
          corpusBuildStore,
          llm.TokenizerStore.Params(merges = 200, minCount = 8L),
          numShards = 32, budgetTokens = 2048)
        n -> llm.Corpus.packWatermark(packed, col("n_bpe_tokens"),
          budgetTokens = 2048).truncateLineage()
      }.toMap

    val ops = Seq(
      Op("exact_dedup_groups", n =>
        llm.Dedup.exactGroups(replicateDocs(docs0, n), "doc_id", "text").count()),
      Op("minhash_lsh_pairs(cap=100)", n =>
        llm.Dedup.minhashLshPairs(replicateDocs(docs0, n), "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100)).count()),
      Op("minhash_oph_pairs(cap=100)", n =>
        llm.Dedup.minhashLshPairsOph(replicateDocs(docs0, n), "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100)).count()),
      // The nightly end-to-end rewrite (pipe19): capped LSH pairs →
      // connected components → canonical keep → one row per doc. The
      // rewrite tail must stay ~linear in docs: components are bounded
      // by the capped pair graph and the group table broadcasts, so
      // growth shows up only in the pair stage it composes.
      Op("neardup_rewrite_e2e(cap=100)", { n =>
        val d = replicateDocsFull(docsFull0, n)
        val pairs = llm.Dedup.minhashLshPairs(d, "doc_id", "text",
          threshold = 0.8, maxBucketSize = Some(100))
        llm.Dedup.nearDupRewrite(d, "doc_id", col("n_chars"), pairs).count()
      }, tables = Seq("docs_full")),
      // CCNet train+score+bucket (pipe21): model tables bounded by the
      // reference slice (broadcast — growth only widens the scoring
      // stream), one map-side-combinable per-doc sum, histogram-based
      // cutoffs. Time must track the bigram stream ~linearly; any
      // superlinear growth means the model stopped broadcasting.
      Op("ccnet_lm_buckets(hashed)", { n =>
        val d = replicateDocsFull(docsFull0, n)
        val scored = llm.Corpus.lmScore(d, "doc_id", "text",
          refPred = col("source") === "src0", langCol = Some("lang"),
          hashed = true)
        llm.Corpus.ccnetBuckets(scored, "doc_id", "lang").count()
      }, tables = Seq("docs_full")),
      // The multimodal scale path (pipe23's big-corpus form): stub
      // decode to 32-dim features on the scan, then hyperplane-LSH
      // bucketed near-dup — candidate volume is what must stay tame.
      // dim 32 / threshold 0.7, NOT pipe23's oracle-bounded dim 8 /
      // 0.5: at dim 8 a constant ~5% of ALL random pairs clear the
      // threshold, so the TRUE output is Θ(corpus²) and the sweep
      // times pair materialization, not the operator (measured ×16 →
      // 81 M pairs). Production embedding spaces are selective; these
      // settings reproduce that.
      // REAL decode scaling: png_synth → javax.imageio decode + pool,
      // per-row scan work with no shuffle — time must track image
      // count exactly (a superlinear curve would mean per-task setup
      // or codec state is leaking across rows).
      Op("image_decode_pool(real)", { n =>
        graft.plans.PngSynthExpr.register(spark)
        val media = replicateDocs(docs0, n).select(col("doc_id"),
          call_function(graft.plans.PngSynthExpr.Name, col("doc_id"),
            (lit(12) + pmod(col("doc_id"), lit(5))).cast("int"),
            (lit(12) + pmod(col("doc_id"), lit(3))).cast("int"))
            .as("content"))
        llm.Multimodal.extractFeaturesImage(media, grid = 2)
          .filter(col("features").isNotNull).count()
      }),
      // PDF sibling (r18): pdf_synth → inflate + content-stream
      // operator parse — per-row scan work like the other decoders;
      // time must track document count ~linearly.
      Op("pdf_text_extract(real)", { n =>
        graft.plans.PdfSynthExpr.register(spark)
        graft.plans.PdfTextExpr.register(spark)
        replicateDocs(docs0, n).select(col("doc_id"),
            call_function(graft.plans.PdfSynthExpr.Name, col("text"),
              lit(150)).as("content"))
          .select(col("doc_id"), call_function(
            graft.plans.PdfTextExpr.Name, col("content")).as("p"))
          .filter(col("p").isNotNull).count()
      }),
      // Video sibling of the image op: avi_synth → RIFF walk +
      // per-frame javax.imageio decode + pool — per-row scan work, no
      // shuffle; time must track video count exactly.
      Op("video_decode_pool(real)", { n =>
        graft.plans.AviSynthExpr.register(spark)
        val media = replicateDocs(docs0, n).select(col("doc_id"),
          call_function(graft.plans.AviSynthExpr.Name, col("doc_id"),
            lit(16), lit(16),
            (lit(2) + pmod(col("doc_id"), lit(3))).cast("int"))
            .as("content"))
        llm.Multimodal.extractFrameFeaturesVideo(
          media.withColumnRenamed("doc_id", "media_id"), grid = 2)
          .count()
      }),
      Op("media_neardup_lsh(dim=32)", { n =>
        val media = replicateDocs(docs0, n)
          .select(col("doc_id").as("media_id"),
            col("text").cast("binary").as("content"))
        val feats = llm.Multimodal.extractFeatures(media, dim = 32)
        llm.Dedup.embeddingNearDupPairsLsh(
          feats.select(col("media_id"),
            col("features").cast("array<float>").as("features")),
          "media_id", "features", 0.7, planes = 8, tables = 6,
          dim = 32, maxBucketSize = Some(200)).count()
      }),
      // Classifier training under corpus growth: per iteration one
      // broadcast join + two aggs, weight/delta tables bounded by
      // buckets — time must stay ~linear in docs, state flat.
      Op("perceptron_train(3 iter)", n =>
        llm.TextAnalysis.perceptronTrain(replicateDocsFull(docsFull0, n),
          "doc_id", "text",
          when(col("n_chars") >= 300, 1L).otherwise(-1L),
          iters = 3, buckets = 1024).count(),
        tables = Seq("docs_full")),
      Op("simhash_block_neardup", n =>
        llm.Dedup.simhashNearDupPairs(replicateDocs(docs0, n), "doc_id", "text",
          bits = 32, blocks = 4, maxHamming = 2, portable = false,
          maxBucketSize = Some(200)).count()),
      // Repeated-passage coverage is the worst case of the passage
      // family: the window table twice (repeated-set + fold) plus the
      // hash join between them. Replicas share their source doc's
      // windows (the " zrepN" suffix only perturbs the tail window),
      // so the repeated-hash side grows with n — the boilerplate-heavy
      // regime this op exists for.
      Op("passage_coverage(w=8,s=4)", n =>
        llm.Dedup.passageCoverage(replicateDocs(docs0, n), "doc_id", "text",
          w = 8, stride = 4).count()),
      // The rewrite on top of the same window table (stride 1): covered
      // positions per doc are bounded by doc length, the array rewrite
      // is scan work — growth must track the window volume, like
      // coverage above, not the (quadratic-feeling) rewrite intuition.
      Op("passage_scrub(w=8,s=1)", n =>
        llm.Dedup.passageScrub(replicateDocs(docs0, n), "doc_id", "text",
          w = 8, stride = 1, minDocs = 2).count()),
      // The fused per-row scoring scan (pipe17's row-local half): pure
      // map work, so anything above ~linear here is a plan bug, not a
      // data property.
      Op("funnel_scan(rep+gopher+q+fp)", n =>
        llm.TextAnalysis.funnelStats(replicateDocs(docs0, n), "text",
          minWords = 40, minStopHits = 1).count()),
      // The native single-pass form of the same scan (what the heavy
      // funnel entries run): same ~linear bar, lower constant.
      Op("funnel_scan_native", n =>
        llm.TextAnalysis.funnelStats(replicateDocs(docs0, n), "text",
          minWords = 40, minStopHits = 1, native = true).count()),
      // HTML→text extraction (t16's native single-pass expression)
      // over synthesized pages: pure scan work, the bar is strictly
      // linear (constant pages/s) — any curve means the expression
      // fell out of the scan stage.
      Op("html_extract_native", n =>
        llm.TextAnalysis.htmlExtractStats(
          replicateDocs(docs0, n)
            .select(col("doc_id"), queries.LlmQueries.t16Html.as("html")),
          "html", native = true).count()),
      // URL→registered-domain + per-domain quota (pipe31's shape):
      // one scan projection + one window over the domain. Linear with
      // the set-membership probes; the retired per-rule when-chain
      // form was rule-table-dependent and interpreted (r18: 4.4× on
      // the heavy entry from the rewrite alone).
      Op("url_domain_quota", n =>
        llm.Corpus.stratifiedQuota(
          replicateDocs(docs0, n).select(col("doc_id"),
            coalesce(graft.functions.Urls.urlRegisteredDomain(
              queries.LlmQueries.t17Url), lit("__none__")).as("domain")),
          "doc_id", "domain", 20, "dom").count()),
      // The END-TO-END corpus build (pipe24): native funnel scan +
      // coverage gate, per-lang quota cut, BPE token budgets served
      // from a FIXED prebuilt tokenizer artifact, sequence packing.
      // The quota is absolute (production semantics), so the
      // tokenize/pack tail is flat by construction and growth must
      // track the scan+coverage front ~linearly — a superlinear curve
      // means a survivor join stopped broadcasting or the coverage
      // aggregate degenerated.
      Op("corpus_build_e2e(pipe24)", { n =>
        val d = replicateDocsFull(docsFull0, n)
          .select("doc_id", "lang", "text")
        // covThreshold 1.0: a replica corpus is 100% repeated windows
        // by construction, so the production 0.5 gate (correctly)
        // keeps nothing and the tail stages would time empty frames.
        // The coverage AGGREGATE still runs at full volume — only the
        // keep decision is widened, so the sweep exercises every stage
        // at its real cost.
        queries.PipelineQueries.corpusBuild(d,
          queries.PipelineQueries.curationFunnelOf(
            d, portableCov = false, quota = 5000, covThreshold = 1.0),
          corpusBuildStore,
          llm.TokenizerStore.Params(merges = 200, minCount = 8L),
          numShards = 32, budgetTokens = 2048).count()
      }, tables = Seq("docs_full")),
      Op("latest_per_key(window)", n =>
        operators.Ops.latestPerKey(Seq(col("user_id")),
          Seq(col("ts"), col("event_id")))(replicateEvents(ev0, n)).count(),
        tables = Seq("events")),
      Op("latest_per_key(max_by)", n =>
        operators.Ops.latestPerKeyAgg(Seq("user_id"),
          // second-resolution ts in the high bits, event id below —
          // stays inside a signed long (µs × 2^23 would overflow).
          unix_timestamp(col("ts")) * (1L << 23) + col("event_id"))(
          replicateEvents(ev0, n)).count(),
        tables = Seq("events")),
      // Round-4 feed operators: the JSON parse+project chain, the
      // explode→broadcast-dims→one-agg refinement, and the windowed
      // title dedup (group size held constant as input scales).
      Op("crossref_normalize", { n =>
        val js = replicateDocs(docs0, n).select(to_json(struct(
          concat(lit("10.1/x"), col("doc_id").cast("string")).as("DOI"),
          array(substring(col("text"), 1, 60)).as("title"),
          struct(array(array(lit(2000))).as("date-parts")).as("issued")))
          .as("m"))
        normalize.Crossref.toIntermediate(
          normalize.Crossref.parse(js, "m"),
          java.time.LocalDate.of(2026, 1, 1)).count()
      }),
      Op("jstor_refine_collections", { n =>
        val recs = replicateDocs(docs0, n).select(
          col("doc_id").as("rid"),
          array(concat(lit("IS-"), (col("doc_id") % 1000).cast("string")))
            .as("issns"),
          array(concat(lit("https://www.jstor.org/stable/"),
            col("doc_id").cast("string"))).as("urls"),
          array(lit("JSTOR")).as("collections"))
        def dim(rows: Long, f: Long => (String, String),
                c1: String, c2: String) = {
          import spark.implicits._
          (0L until rows).map(f).toDF(c1, c2)
        }
        normalize.Jstor.refineCollections(recs, "rid", "issns", "urls",
          "collections",
          dim(500, i => (s"IS-$i", s"Name${i % 50}"), "issn", "name"),
          dim(50, i => (s"Name$i", s"tcid$i"), "name", "tcid"),
          dim(40, i => (s"tcid$i", s"Mega $i"), "tcid", "mega")).count()
      }),
      Op("doaj_title_dedup", { n =>
        val is = replicateDocs(docs0, n).select(
          concat(lit("r"), col("doc_id").cast("string")).as("record_id"),
          concat(lit("T"), (col("doc_id") % lit(150 * n)).cast("string"))
            .as("title"),
          date_format(date_add(lit("2000-01-01").cast("date"),
            (col("doc_id") % 3650).cast("int")), "yyyy-MM-dd").as("date"))
        normalize.Doaj.dedupByTitle(is).count()
      }),
      // Round-5 additions: the LISSA parse+lang-ID projection (pure
      // map, should scale ~linearly) and the corpus shard assignment
      // (one hash shuffle + in-partition sort — the window must not
      // introduce a global sort as shards grow).
      Op("lissa_normalize", { n =>
        val js = replicateDocs(docs0, n).select(to_json(struct(
          col("doc_id").cast("string").as("id"),
          substring(col("text"), 1, 40).as("title"),
          col("text").as("description"),
          array(concat(lit("http://dx.doi.org/10.1/l"),
            col("doc_id").cast("string"))).as("identifiers"),
          array(lit("a|b"), lit("c")).as("subjects"),
          lit("2023-01-02T03:04:05").as("date_published")))
          .as("j"))
        normalize.Lissa.toIntermediate(normalize.Lissa.parse(js, "j"))
          .count()
      }),
      Op("corpus_shard_assign", n =>
        llm.Corpus.shardAssign(replicateDocs(docs0, n), "doc_id",
          64, "e0").count()),
      Op("corpus_pack_sequences", n =>
        llm.Corpus.packSequences(replicateDocs(docs0, n), "doc_id",
          size(split(trim(col("text")), "\\s+")), 64, 2048, "p")
          .count()),
      // FFD bin packing: the per-shard fold is O(docs × bins) with a
      // copied accumulator, so shard count is the scale knob — held at
      // 64 here, the sweep shows the cost of letting shards grow ×n
      // (the anti-pattern); production raises numShards with the
      // corpus to keep per-shard state bounded.
      Op("corpus_pack_bins_ffd(shards=64)", n =>
        llm.Corpus.packBinsFFD(replicateDocs(docs0, n), "doc_id",
          size(split(trim(col("text")), "\\s+")), 64, 2048, "p")
          .count()),
      // ... and the production discipline: shards GROW with the corpus
      // (64·n), so per-shard fold state stays bounded and the op stays
      // ~linear — the pair of curves is the documented evidence for
      // the numShards sizing rule.
      Op("corpus_pack_bins_ffd(shards=64n)", n =>
        llm.Corpus.packBinsFFD(replicateDocs(docs0, n), "doc_id",
          size(split(trim(col("text")), "\\s+")), 64 * n, 2048, "p")
          .count()),
      // The pipe25 token-batch materialization — by output volume the
      // biggest single step of a pretraining build, and its per-doc
      // token-index window (one hash shuffle of the WHOLE token
      // stream) is the biggest exchange anywhere at 100×. The fixed-
      // shards curve shows the anti-pattern (per-shard pack windows
      // sort ×n more docs as the corpus grows); shards ∝ corpus keeps
      // per-shard state bounded — the documented sizing rule for the
      // word-stream exchange, same pair-of-curves evidence as the FFD
      // ops above. Token budgets and ids both serve from the FIXED
      // prebuilt artifact, so the curve isolates the exchange, not
      // training.
      Op("token_batches_e2e(pipe25, shards=32)", n =>
        tokenBatches(n, 32), tables = Seq("docs")),
      Op("token_batches_e2e(pipe25, shards=32n)", n =>
        tokenBatches(n, 32 * n), tables = Seq("docs")),
      // pipe26's O(increment) claim, empirically pinned: the increment
      // is FIXED (the ×1 corpus) while the standing corpus behind the
      // watermark grows ×n — append cost must stay FLAT, because the
      // append reads only the increment and the 32-row watermark,
      // never the standing shards. A rising curve here means a
      // regression snuck a standing-corpus scan into the append path.
      Op("corpus_build_append(pipe26, fixed increment)", { n =>
        val inc = docsFull0.select("doc_id", "lang", "text")
        queries.PipelineQueries.corpusBuildAppend(inc,
          queries.PipelineQueries.curationFunnelOf(inc,
            portableCov = false, quota = 5000, covThreshold = 1.0),
          corpusBuildStore,
          llm.TokenizerStore.Params(merges = 200, minCount = 8L),
          numShards = 32, budgetTokens = 2048,
          appendWatermarks(n)).count()
      }, tables = Seq("docs_full")),
      // Gopher rule gate: pure per-row Column math behind one
      // generator barrier — must scale linearly like t7's shape.
      Op("gopher_stats", n =>
        llm.TextAnalysis.gopherStats(replicateDocs(docs0, n), "text")
          .count()),
      // Temperature mixing: count agg + broadcast rate join + scan
      // filter — the agg is by stratum (bounded), so this must stay
      // scan-bound.
      Op("corpus_temperature_mix", n =>
        llm.Corpus.temperatureMix(replicateDocs(docs0, n)
            .withColumn("lang",
              concat(lit("l"), pmod(col("doc_id"), lit(5))))
          , "doc_id", "lang", targetRows = 1000L * n, seed = "tm")
          .count()),
      // Citation pair generation under growth. Co-citation: fresh
      // citing ids per replica (group count scales, size constant) —
      // must stay ~linear. Coupling: the cited keyspace is held FIXED,
      // so per-key fan-in grows ×n and the hub cap is what keeps the
      // pair explosion bounded — time must stay ~linear in input even
      // as uncapped pairs would grow ×n².
      // The flagship end-to-end DAG (pipe14's compute shape, without
      // the Task-layer parquet writes): union slices → fingerprint/
      // quality/OA analysis → groupcover label-diff → fullrecord
      // export. One narrow analysis pass + one fp-keyed window shuffle
      // — must scale ~linearly. count(fullrecord) forces the embed
      // (and everything inside it) without letting projection pruning
      // skip the export stage.
      Op("ai_update_e2e", { n =>
        val d = replicateDocsFull(docsFull0, n)
        val slices = Seq(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1).drop("n_chars"))
        val u = operators.Ops.unionSources(slices)
          .withColumn("labels", array(concat(lit("L-"), col("lang")),
            concat(lit("S-"), col("source"))))
          .withColumn("fp", llm.TextAnalysis.fingerprint(col("text")))
          .withColumn("quality", llm.TextAnalysis.qualityScore(col("text")))
          .withColumn("x_oa",
            col("source").isin("src1", "src3", "src5") || col("quality") > 0.8)
        val cov = operators.GroupCover(u, "doc_id", "source", "fp",
          "labels", queries.CoreQueries.DocPrefs)
        val export = cov.select(to_json(struct(col("doc_id"), col("source"),
          col("lang"), col("n_chars"), col("fp"), col("labels"), col("x_oa"),
          pipeline.AiUpdate.canonicalQuality(col("quality")).as("quality")))
          .as("fullrecord"))
        export.agg(count(col("fullrecord"))).first.getLong(0)
      }, tables = Seq("docs_full")),
      // Incremental dedup against a precomputed corpus band table (the
      // nightly production shape): the CORPUS grows ×n while the
      // increment stays fixed. The band artifact is built OUTSIDE the
      // timing (it stands in for the persisted parquet table a nightly
      // job reads); the timed run is increment signatures +
      // touched-bucket pairing + candidate-member verification — time
      // must grow far sublinearly in corpus size (the curve that
      // justifies the incremental operator at 100 TB).
      Op("incremental_lsh(fixed increment)", { n =>
        val (corpus, increment, bandArtifact) = incrementalFixtures(n)
        llm.Dedup.minhashLshPairsIncremental(corpus, increment,
          "doc_id", "text", threshold = 0.8, maxBucketSize = Some(100),
          corpusBands = Some(bandArtifact)).count()
      }),
      Op("cocitation_pairs(cap=64)", n =>
        graph.Citations.coCitedPairs(replicateEdges(li0, n),
          minShared = 2, maxReferences = 64).count(),
        tables = Seq("edges")),
      Op("coupling_pairs(cap=64)", n =>
        graph.Citations.couplingPairs(replicateEdges(li0, n),
          minShared = 2, maxCiters = 64).count(),
        tables = Seq("edges")),
      // Integer-exact PageRank under edge growth (the g8 shape, same 2
      // iterations): replication adds fresh citing vertices but keeps
      // the cited keyspace fixed, so hubs get ×n hotter — the skewed
      // inflow aggregation is what must stay ~linear.
      Op("pagerank_exact(2 iter)", n =>
        graph.Citations.pageRankExact(replicateEdges(li0, n),
          iterations = 2).count(),
        tables = Seq("edges")),
      // k-means assignment under corpus growth: centroid count fixed,
      // every iteration is broadcast + map-side-combinable min_by —
      // must stay ~linear in vectors.
      Op("kmeans_assign(k=8,3 iter)", n =>
        llm.Similarity.kmeansAssign(replicateEmb(n), "vec_id", "embedding",
          k = 8, iters = 3).count(),
        tables = Seq("embeddings")),
      // Centroid assignment under the SemDeDup k ∝ CORPUS regime
      // (fixed ~members/cluster, so cluster count grows with the
      // corpus): brute argmax pays O(rows·k·dim) = quadratic in corpus
      // — the pair of curves is the evidence for routing large-k
      // assignment through the two-level probe (coarse cells ≈ √k,
      // per-row work O((√k + nprobe·k/√k)·dim) → ~n^1.5 total). The
      // centroid table is the corpus' first k rows directly (replica
      // ids are dense), so NO shared Lloyd pass dilutes the contrast —
      // the timed term is assignment alone.
      Op("assign_brute(k∝n)", { n =>
        val rep = replicateEmb(n)
        val cents = rep.filter(col("vec_id") < 1024 * n).select(
          col("vec_id").cast("string").as("cluster"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
        llm.Similarity.assignToCentroidsExact(rep, "vec_id", "embedding",
          cents).agg(coalesce(bit_xor(xxhash64(col("cluster"))), lit(0L))).first.getLong(0)
      }, tables = Seq("embeddings")),
      Op("assign_twolevel(k∝n)", { n =>
        val rep = replicateEmb(n)
        val cents = rep.filter(col("vec_id") < 1024 * n).select(
          col("vec_id").cast("string").as("cluster"),
          transform(col("embedding"), _.cast("double")).as("centroid"))
        llm.Similarity.assignToCentroidsTwoLevel(rep, "vec_id",
          "embedding", cents).agg(coalesce(bit_xor(xxhash64(col("cluster"))), lit(0L))).first.getLong(0)
      }, tables = Seq("embeddings")),
      // The full PQ path under corpus growth: train (m subspaces, one
      // Lloyd loop), encode, ADC shortlist + exact re-rank for a fixed
      // query set. Codebook size is fixed, so train/encode must stay
      // ~linear in vectors and search ~linear in codes; re-rank work is
      // bounded by queries × shortlist regardless of n.
      Op("pq_train_encode_search", { n =>
        val rep = replicateEmb(n)
        val cb = llm.Similarity.pqTrain(rep, "vec_id", "embedding",
          m = 8, k = 16, iters = 2)
        val codes = llm.Similarity.pqEncode(rep, "vec_id", "embedding", cb)
        llm.Similarity.pqTopKRerank(codes, cb, rep,
          rep.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, overscan = 4).count()
      }, tables = Seq("embeddings")),
      // The full IVF-PQ path under corpus growth: coarse Lloyd training
      // + assignment, residual codebook training, encode, per-probe ADC
      // over probed lists only, exact re-rank. Coarse-centroid and
      // codebook sizes are fixed, so everything before search must stay
      // ~linear in vectors; search cost is bounded by probed-list
      // membership (~nprobe/k of the codes) and the re-rank by
      // queries × shortlist regardless of n.
      Op("ivfpq_train_encode_search", { n =>
        val rep = replicateEmb(n)
        val cents = llm.Similarity.kmeansCentroids(rep, "vec_id",
          "embedding", k = 8, iters = 2)
        val withC = rep.join(
          llm.Similarity.assignToCentroids(rep, "vec_id", "embedding",
            cents), Seq("vec_id"))
        val cb = llm.Similarity.ivfpqTrain(withC, "vec_id", "embedding",
          "cluster", cents, m = 8, k = 16, iters = 2)
        val codes = llm.Similarity.ivfpqEncode(withC, "vec_id", "embedding",
          "cluster", cents, cb)
        llm.Similarity.ivfpqTopKRerank(codes, cents, cb, rep,
          rep.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nprobe = 3, overscan = 4).count()
      }, tables = Seq("embeddings")),
      // Stage decomposition of the LSH dedup path: the band-table build
      // is the signature+banding half of minhash_lsh_pairs; full-op
      // time minus this is the candidate-join + verify half. Scaling
      // factors of the halves localize any super-linear growth.
      Op("lsh_stage_band_table", n =>
        llm.Dedup.minhashBandTable(replicateDocs(docs0, n), "doc_id", "text")
          .count()))

    val selectedOps = opFilter match {
      case Some(subs) => ops.filter(op => subs.exists(op.name.contains))
      case None       => ops
    }

    // With materialization on, force the needed table × factor writes
    // BEFORE any timing (viaDisk writes eagerly on call): the one-time
    // parquet writes must never land inside the first timed op that
    // touches a table — the same "construction never inside a timed
    // run" rule as incrementalFixtures. Only tables the SELECTED ops
    // declare are written, so a narrowed SPARK_GRAFT_OPS run never
    // pays for the full table × factor cross product. Re-runs against
    // a completed dir skip the writes entirely.
    if (materializeDir.isDefined) {
      val force: Map[String, Int => DataFrame] = Map(
        "docs" -> (n => replicateDocs(docs0, n)),
        "docs_full" -> (n => replicateDocsFull(docsFull0, n)),
        "events" -> (n => replicateEvents(ev0, n)),
        "edges" -> (n => replicateEdges(li0, n)),
        "embeddings" -> (n => replicateEmb(n)))
      val needed = selectedOps.flatMap(_.tables).distinct
      factors.foreach(n => needed.foreach(t => force(t)(n)))
    }
    println(f"${"operator"}%-28s ${"x"}%3s ${"rows_out"}%10s ${"sec"}%8s ${"sec/x1"}%7s")
    selectedOps.foreach { op =>
      op.run(1) // warm codegen for this op's plan shape
      var base = 0.0
      factors.foreach { n =>
        val (secs, rows) = time(op.run(n))
        if (n == 1) base = secs
        println(f"${op.name}%-28s $n%3d $rows%10d $secs%8.2f ${secs / base}%7.2f")
      }
    }
    spark.stop()
  }

  /** PackStore SERVE cost as tombstones accumulate — the measured
    * curve behind [[graft.llm.PackStore.compact]]'s trigger policy.
    * A fixed 2 M-row placements base is served with tombstone counts
    * swept ×1/×4/×16 (2 K → 32 K ids, each level filed as 8 committed
    * segments — takedown lists arrive in batches), then compacted; the
    * sweep REQUIRES serve-after-compact ≡ serve-before at the largest
    * point (the StoreSpec pin, re-proven at sweep scale) and reports
    * the post-compact serve time as the recovered baseline. serve()
    * anti-joins the broadcast tombstone union, so the expected shape is
    * a flat-ish curve (one broadcast hash probe per placement row
    * regardless of union size) plus the union's own read+broadcast cost
    * growing with segment count — the segment-count term, not the id
    * count, is what the ≤64-segment compact trigger bounds.
    *
    * Run: sbt "runMain graft.ScaleCheck packstore" */
  /** The media-curation composite split across corpus sizes: for n
    * crawl-realistic images (the heavy fixture's shape and pair
    * structure at reduced count), time (a) decode+pool alone and
    * (b) the full composite decode → centered features → sign-LSH
    * near-dup pairs. The decode share is the point: the composite is
    * DECODE-bound at every size (consistent with the README's
    * 20-40×-the-scan-envelope budget), so a 100 TB image dedup is
    * provisioned by decode cores, not shuffle. Pairs out doubles as a
    * recall check (~n/2 cross-codec true pairs by construction). */
  private[graft] def mediaCompositeSweep(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    graft.plans.PngSynthExpr.register(spark)
    graft.plans.JpegSynthExpr.register(spark)
    val root = "file:" + java.nio.file.Files
      .createTempDirectory("sc_mediacomp").toString
    def fixture(n: Int): String = {
      val path = s"$root/media_$n"
      val seed = col("id") - pmod(col("id"), lit(2))
      val w = (lit(128) + pmod(seed * 97, lit(385))).cast("int")
      val h = (lit(128) + pmod(seed * 53, lit(385))).cast("int")
      spark.range(0, n).select(col("id").as("media_id"),
          when(col("id") % 2 === 0,
            call_function(graft.plans.PngSynthExpr.Name, seed, w, h))
          .otherwise(
            call_function(graft.plans.JpegSynthExpr.Name, seed, w, h))
            .as("content"))
        .repartition(32).write.parquet(path)
      path
    }
    // No isNotNull pre-filter: it would collapse onto the projection
    // as a SECOND decode(content) evaluation (no subexpression reuse
    // across a CodegenFallback filter+project — measured 1.6× the
    // decode term on the heavy composite); null features drop for
    // free at the LSH posexplode.
    def feats(path: String) = llm.Multimodal.extractFeaturesImage(
        spark.read.parquet(path), grid = 4)
      .select(col("media_id"),
        transform(col("features"), f => f - lit(0.5))
          .cast("array<float>").as("features"))
    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    println(f"${"images"}%8s ${"decode_sec"}%10s ${"full_sec"}%9s " +
      f"${"decode_pct"}%10s ${"pairs"}%7s")
    for (n <- Seq(1000, 2000, 4000)) {
      val path = fixture(n)
      // Warm one pass (codegen + page cache), then min-of-2 each.
      sec(feats(path).write.format("noop").mode("overwrite").save())
      val dec = Seq.fill(2)(sec(feats(path)
        .write.format("noop").mode("overwrite").save())).min
      var pairs = 0L
      val full = Seq.fill(2)(sec {
        pairs = llm.Dedup.embeddingNearDupPairsLsh(feats(path),
          "media_id", "features", 0.8, planes = 12, tables = 6,
          dim = 48, maxBucketSize = Some(200)).count()
      }).min
      println(f"$n%8d $dec%10.2f $full%9.2f " +
        f"${dec / full * 100}%9.1f%% $pairs%7d")
    }
    graft.queries.Fixtures.deleteRecursively(
      java.nio.file.Paths.get(root.stripPrefix("file:")))
  }

  /** See the `l2` arg in [[main]]. */
  private[graft] def l2Probe(spark: org.apache.spark.sql.SparkSession,
                             dirs: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    for (d <- dirs) {
      def once(): Double = {
        Bench.reap(spark)
        val t0 = System.nanoTime()
        val df = HeavyBench.licenseTagHeavy(spark, d)
        df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
          .as("h")).agg(expr("bit_xor(h)")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm the plan shape
      val samples = Seq.fill(3)(once())
      println(f"$d l2 min ${samples.min}%.1f s samples " +
        samples.map(s => f"$s%.1f").mkString("[", ",", "]"))
    }
  }

  private[graft] def packStoreSweep(spark: org.apache.spark.sql.SparkSession): Unit = {
    import llm.PackStore
    val dir = "file:" + java.nio.file.Files
      .createTempDirectory("sc_packstore").toString
    val params = PackStore.Params(numShards = 32, budgetTokens = 2048)
    // A synthetic 2 M-row placements table in the exact store shape —
    // the sweep measures the serve anti-join, not the packer (whose
    // own scaling has its own ops above).
    val placements = spark.range(0, 2000000).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(32)).cast("int").as("shard"),
      (col("id") / 320).cast("int").as("seq_idx"),
      pmod(col("id") * 37, lit(2048)).cast("int").as("tok_offset"))
    PackStore.write(placements, dir, params)

    // Full-materialization timing (the Bench fold): count() alone
    // would let the anti-join's project prune columns.
    def serveSec(): Double = {
      val t0 = System.nanoTime()
      val df = PackStore.serve(spark, dir, params)
      df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        .as("h")).agg(expr("bit_xor(h)")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def serveChecksum(): Long = {
      val df = PackStore.serve(spark, dir, params)
      df.select(xxhash64(df.columns.map(c => col(c).cast("string")): _*)
        .as("h")).agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    }
    serveSec() // warm codegen for the serve plan shape
    println(f"${"tombstones"}%10s ${"segments"}%8s ${"frac_pct"}%8s " +
      f"${"serve_sec"}%9s ${"needsCompact"}%12s")
    println(f"${0}%10d ${0}%8d ${0.0}%7.3f " +
      f"${Seq(serveSec(), serveSec()).min}%9.2f " +
      f"${PackStore.needsCompact(spark, dir, params)}%12s")
    var filed = 0L
    var segments = 0
    for (level <- Seq(2000L, 8000L, 32000L)) {
      // Cumulative: file the delta up to `level`, 8 batches per level.
      val batch = (level - filed) / 8
      for (b <- 0 until 8) {
        val lo = filed + b * batch
        val hi = if (b == 7) level else lo + batch
        // Spread ids across the keyspace (×61 mod 2M) — takedowns are
        // not contiguous ranges.
        PackStore.tombstone(spark, dir,
          spark.range(lo, hi).select(pmod(col("id") * 61, lit(2000000L))
            .as("doc_id")))
        segments += 1
      }
      filed = level
      val sec = Seq(serveSec(), serveSec()).min
      val frac = PackStore.tombstonedFraction(spark, dir, params) * 100
      println(f"$filed%10d $segments%8d $frac%7.3f $sec%9.2f " +
        f"${PackStore.needsCompact(spark, dir, params)}%12s")
    }
    // Compact at the largest point: serve must be IDENTICAL before and
    // after (the StoreSpec pin at sweep scale), and its cost returns
    // to the zero-tombstone baseline.
    val before = serveChecksum()
    val t0 = System.nanoTime()
    PackStore.compact(spark, dir)
    val compactSec = (System.nanoTime() - t0) / 1e9
    val after = serveChecksum()
    require(after == before,
      s"packStoreSweep: serve checksum changed across compact " +
        s"($before -> $after) — compaction must never alter the view")
    println(f"after compact: serve ≡ before (checksum $after%d), " +
      f"compact $compactSec%.2f s, serve " +
      f"${Seq(serveSec(), serveSec()).min}%.2f s, needsCompact " +
      f"${PackStore.needsCompact(spark, dir, params)}%s")
    graft.queries.Fixtures.deleteRecursively(
      java.nio.file.Paths.get(dir.stripPrefix("file:")))
  }

  /** The BPE MERGE-COUNT scaling curve — the sweep dimension is the
    * merge count, not the corpus size (the cap claims 200 K merges;
    * until this sweep nothing above 1 K had ever been timed). Runs
    * [[graft.llm.TextAnalysis.bpeTrainFull]] over the heavy lowdup
    * corpus at exactly t13's settings (minCount = 8 → ~100 K-word
    * floored vocabulary) for each requested merge count, plus a
    * merges=1 baseline isolating the corpus-scale vocab pass — so
    * `sec - base_sec` is the driver-local merge loop alone, and
    * `loop/merge (ms)` exposes the per-round cost curve. The loop's
    * incremental pair-count maintenance should make per-round cost
    * FALL as merges progress (later merges touch rarer pairs → fewer
    * affected words); a rising curve would mean the 200 K cap is
    * fiction.
    *
    * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    *      sbt "runMain graft.ScaleCheck bpe 1000,4000,16000" */
  private[graft] def bpeMergeSweep(spark: org.apache.spark.sql.SparkSession,
                                   merges: Seq[Int]): Unit = {
    val heavy = HeavyBench.ensureHeavyDir(spark, sfDir)
    val docs = spark.read.parquet(s"$heavy/lowdup/documents.parquet")
      .select("doc_id", "text")
    def run(m: Int): (Double, Long) = {
      val t0 = System.nanoTime()
      val (mergeTable, _) = llm.TextAnalysis.bpeTrainFull(
        docs, "doc_id", "text", merges = m, minCount = 8L)
      val rows = mergeTable.count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    run(1) // warm codegen for the vocab pass
    val (baseSec, _) = run(1)
    println(f"bpe vocab pass (merges=1) baseline: $baseSec%8.2f s")
    println(f"${"merges"}%8s ${"rows"}%8s ${"sec"}%8s ${"loop_sec"}%9s ${"ms/merge"}%9s")
    merges.foreach { m =>
      val (sec, rows) = run(m)
      val loop = sec - baseSec
      println(f"$m%8d $rows%8d $sec%8.2f $loop%9.2f ${loop * 1000 / m}%9.3f")
    }
  }

  /** The WARC record-split scaling sweep: per factor, n×20 K records
    * muxed UNTIMED into 8 per-member .warc.gz files, then the
    * paths-listing scan ([[graft.sources.Warc.records]]) timed over
    * the dir — full materialization (payload hash fold), the bench
    * discipline. The split is one sequential streaming pass per file
    * with O(record) memory, so the bar is strictly LINEAR in member
    * count (flat recs/s and MB/s across factors); a rising per-record
    * cost would mean whole-file buffering crept back into the path.
    *
    * Run: sbt "runMain graft.ScaleCheck warcsplit 1,4,16" */
  private[graft] def warcSplitSweep(spark: org.apache.spark.sql.SparkSession,
                                    factors: Seq[Int]): Unit = {
    import graft.sources.Warc
    def timeDir(n: Int): (Double, Long, Long) = {
      val dir = java.nio.file.Files.createTempDirectory(s"warcsweep$n")
      try {
        val files = 8
        val perFile = 20000L * n / files
        (0 until files).foreach { f =>
          val out = java.nio.file.Files.newOutputStream(
            dir.resolve(f"part-$f%02d.warc.gz"))
          try {
            var i = 0L
            while (i < perFile) {
              val id = f * perFile + i
              out.write(Warc.gzipMember(Warc.encodeRecord("response",
                s"http://example.org/p/$id",
                "application/http;msgtype=response",
                Warc.encodeHttpResponse(200, "OK", "text/html",
                  (s"<html><body>page $id " + ("lorem ipsum dolor " * 20) +
                    "</body></html>").getBytes("UTF-8")),
                s"w-$id")))
              i += 1
            }
          } finally out.close()
        }
        val bytes = java.nio.file.Files.list(dir).toArray.map(p =>
          java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path])).sum
        val t0 = System.nanoTime()
        val row = Warc.records(spark, dir.toString + "/*.warc.gz")
          .select(xxhash64(col("payload")).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
        ((System.nanoTime() - t0) / 1e9, row.getLong(1), bytes)
      } finally queries.Fixtures.deleteRecursively(dir)
    }
    timeDir(1) // warm the scan path
    println(f"${"factor"}%7s ${"records"}%9s ${"gz_mb"}%7s ${"sec"}%7s ${"recs/s"}%9s ${"mb/s"}%7s")
    factors.foreach { n =>
      val (sec, recs, bytes) = timeDir(n)
      println(f"$n%7d $recs%9d ${bytes / 1e6}%7.1f $sec%7.2f ${recs / sec}%9.0f ${bytes / 1e6 / sec}%7.1f")
    }
  }
}
