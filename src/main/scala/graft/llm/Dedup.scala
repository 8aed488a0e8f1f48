package graft.llm

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.functions.Scalars
import graft.Checkpoints.TruncateOps

/** Deduplication ops for training-data pipelines.
  *
  * Scale design: every variant is blocked/bucketed — candidate pairs come
  * from an equi-join on a bucket key (hash groups, LSH bands), never from
  * a cross join, so the shuffle is proportional to data + true-duplicate
  * mass, not N². The expensive exact verification (Jaccard) runs only on
  * bucket-cohabiting pairs.
  */
object Dedup {

  /** Exact duplicate groups by order-insensitive content fingerprint:
    * one hash shuffle on md5(sorted tokens). Emits one row per GROUP
    * (fp, canonical_id = min doc id, group_size, member_ids); the
    * "keep canonical, drop the rest" decision is an explode of
    * member_ids (or a semi-join of docs against canonical_id). */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), TextAnalysis.fingerprint(col(text)).as("fp"))
      .groupBy("fp")
      .agg(min(col(id)).as("canonical_id"),
           count(lit(1)).as("group_size"),
           sort_array(collect_list(col(id))).as("member_ids"))

  /** Word n-gram shingles of a text column; texts shorter than n tokens
    * collapse to a single whole-text shingle (sequence() would otherwise
    * run descending and slice() negatively). n=1 takes the direct
    * distinct-tokens path: the general slice/join machinery allocates a
    * one-element slice plus a joined string per token, which at corpus
    * scale dominates the whole signature stage. */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(Scalars.tokens(text), n)

  /** Same over an already-materialized token-array column. For n > 1
    * the caller should bind `t` to an ATTRIBUTE (e.g. staged behind an
    * `explode(array(tokens))` generator barrier): a non-attribute
    * column referenced inside the transform lambda is re-evaluated per
    * element — an O(tokens²) re-tokenize, measured 30× on the t7 path
    * before the same fix. */
  private[graft] def shinglesOfTokens(t: Column, n: Int): Column =
    if (n == 1) array_distinct(t)
    else
      when(size(t) >= n,
        array_distinct(
          transform(sequence(lit(0), size(t) - n),
            i => array_join(slice(t, i + 1, lit(n)), " "))))
        .otherwise(array(array_join(t, " ")))

  /** Capped bucket members: (keys..., ds) with `ds` the sorted distinct
    * `member` values of each `keys` group that has 2+ of them — the
    * candidate source of every bucketed pair generator (LSH bands and
    * tables, SimHash blocks, k-means clusters, co-citation groups).
    * With a cap the collect and the hub screen are ONE bounded
    * aggregation (`collect_set_capped`): the buffer tops out at `cap`
    * elements, partial aggregation dedupes and caps map-side, and an
    * over-cap group evaluates to NULL (failing the size test) instead
    * of materializing the member array the cap exists to forbid.
    * `capped IS NULL ⇔ countDistinct > cap`, else the array equals
    * `collect_set` (GraphSpec pins the boundary): a capped run equals an
    * uncapped one with the over-cap groups filtered out. */
  private[graft] def bucketMembers(assignments: DataFrame, keys: Seq[String],
                                   member: Column,
                                   cap: Option[Int]): DataFrame = {
    val members = cap match {
      case Some(c) =>
        graft.plans.CollectSetCappedAgg.register(assignments.sparkSession)
        call_function(graft.plans.CollectSetCappedAgg.Name, member, lit(c))
      case None => collect_set(member)
    }
    assignments.groupBy(keys.map(col): _*)
      .agg(sort_array(members).as("ds"))
      .filter(size(col("ds")) >= 2)
  }

  /** Every pair (x, y) of a sorted member array with x before y, as
    * `pair(x, y)` structs (by default fields `a`, `b`) in one exploded
    * column. `keep`, when given,
    * runs inside the lambda, so a rejected pair (below threshold, not
    * touching the increment) is dropped before it is emitted and only
    * survivors reach the explode and any later shuffle. The `i + 2` is
    * 1-based `slice` arithmetic: element i (0-based) pairs with
    * everything strictly after it. */
  private[graft] def memberPairs(ms: Column,
                                 pair: (Column, Column) => Column =
                                   (x, y) => struct(x.as("a"), y.as("b")),
                                 keep: Option[Column => Column] = None): Column =
    explode(flatten(transform(ms, (x, i) => {
      val ps = transform(slice(ms, i + 2, size(ms)), y => pair(x, y))
      keep.fold(ps)(filter(ps, _))
    })))

  /** Candidate pairs from a (key..., doc) bucket assignment table: the
    * [[bucketMembers]] aggregate, pairs emitted over each sorted member
    * array — no per-bucket window and no two-branch self-join. Output
    * columns: (id_a, id_b), distinct, id_a < id_b. */
  private[graft] def bucketPairs(assignments: DataFrame, keyCols: Seq[String],
                                 doc: String,
                                 maxBucketSize: Option[Int]): DataFrame =
    bucketMembers(assignments, keyCols, col(doc), maxBucketSize)
      .select(memberPairs(col("ds")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()

  /** Id-keyed verify of an (id_a, id_b) candidate table: each side
    * fetches its `attr` from the (doc, attr) table (as attr_a/attr_b),
    * `scoreOf` scores the pair into column `score`, and `keep` filters
    * on it. Output: (id_a, id_b, score). */
  private def verifyPairs(candidates: DataFrame, attrs: DataFrame, attr: String,
                          score: String, scoreOf: (Column, Column) => Column,
                          keep: Column => Column): DataFrame =
    candidates
      .join(attrs.withColumnsRenamed(Map("doc" -> "id_a", attr -> s"${attr}_a")), Seq("id_a"))
      .join(attrs.withColumnsRenamed(Map("doc" -> "id_b", attr -> s"${attr}_b")), Seq("id_b"))
      .withColumn(score, scoreOf(col(s"${attr}_a"), col(s"${attr}_b")))
      .filter(keep(col(score)))
      .select(col("id_a"), col("id_b"), col(score))

  /** The members of every bucket an increment touches: the standing
    * corpus' rows semi-joined to the increment's `keys`, flagged
    * `nw = false`, plus the increment's own rows with `nw = true`. Caps
    * then count the FULL bucket membership, as in the full run. */
  private def incrementMembers(corpus: DataFrame, increment: DataFrame,
                               keys: Seq[String]): DataFrame =
    corpus.join(increment.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .withColumn("nw", lit(false))
      .unionByName(increment.withColumn("nw", lit(true)))

  val MinhashPrime = 2147483647L // 2^31 - 1 (Mersenne)

  /** The deterministic universal-hash family (a·h + b) mod p shared by
    * every MinHash variant (and by the portable oracle SQL). */
  def minhashCoeffs(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(
      ((rnd.nextInt(Int.MaxValue - 1) + 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** (doc, sig array<long>) signature table — ONE per-document
    * [[graft.plans.MinHashShinglesSigExpr]] projection over the staged
    * shingle array. No explode, no aggregation, no shuffle: signatures
    * are embarrassingly parallel scan work (the declarative
    * explode-then-128-min-aggregates pipeline it replaces spent 28.6 s
    * of the heavy lowdup run inside the aggregate alone; this form
    * reads the same corpus in ~6 s). Bit-equality against the retained
    * declarative reference is spec-pinned. */
  private[graft] def signatureTable(docs: DataFrame, id: String,
                                    text: String, shingleN: Int,
                                    numHashes: Int,
                                    portable: Boolean): DataFrame = {
    graft.plans.MinHashShinglesSigExpr.register(docs.sparkSession)
    def sigOf(c: Column) = call_function(
      graft.plans.MinHashShinglesSigExpr.Name,
      c, lit(numHashes), lit(portable))
    // n = 1 feeds the RAW text: the expression tokenizes inline over
    // the UTF-8 bytes (regex split + array materialization + distinct
    // all skipped — min is duplicate-idempotent, so the multiset
    // signature equals the set signature). n > 1 keeps the staged
    // shingle-array path. Either way a null text evaluates to a null
    // sig where the replaced explode+aggregate pipeline emitted NO
    // row — drop null texts to preserve that contract for direct
    // consumers (minhashSignaturePortable).
    if (shingleN == 1)
      nonNullText(docs, text)
        .select(col(id).as("doc"), sigOf(col(text)).as("sig"))
    else
      shingleArrays(nonNullText(docs, text), id, text, shingleN)
        .select(col("doc"), sigOf(col("toks")).as("sig"))
  }

  /** Drops null-text rows BEFORE a per-document signature expression.
    * The signature expressions return null only for a null input, so
    * this equals filtering the null signatures out, but a filter on the
    * derived column would be pushed below the projection as a second
    * evaluation of the whole signature (fallback expressions get no
    * subexpression reuse across a Filter/Project pair; the
    * `Multimodal.decodeImage` trap). */
  private def nonNullText(docs: DataFrame, text: String): DataFrame =
    docs.filter(col(text).isNotNull)

  /** The declarative signature pipeline [[signatureTable]] replaced —
    * explode + per-shingle hash + numHashes min(pmod(h·a + b, p))
    * aggregate expressions. Kept (test-visible) as the bit-equality
    * reference for the native expression. */
  private[graft] def signatureAggDeclarative(exploded: DataFrame,
                                             numHashes: Int): DataFrame =
    exploded.groupBy("doc").agg(
      array(minhashCoeffs(numHashes).map { case (a, b) =>
        min(pmod(col("h") * a + b, lit(MinhashPrime)))
      }: _*).as("sig"))

  /** Portable MinHash signature: the same permutation family over an
    * md5-derived 31-bit token core instead of xxhash64, so the whole
    * signature computation is oracle-checkable in any engine with md5
    * (the production path keeps xxhash64 — one cheap hash per token).
    * Output: (id, sig) with the signature joined to a comma string. */
  def minhashSignaturePortable(docs: DataFrame, id: String, text: String,
                               numHashes: Int = 32): DataFrame =
    signatureTable(docs, id, text, shingleN = 1, numHashes, portable = true)
      .select(col("doc").as(id),
        array_join(transform(col("sig"), _.cast("string")), ",").as("sig"))

  /** MinHash + LSH banding: documents sharing any band bucket become
    * candidate pairs; candidates are verified with exact token-set
    * Jaccard and kept at `threshold`.
    *
    * Banding math: with `bands` bands of `rowsPerBand` rows, a pair at
    * true Jaccard j collides w.p. 1-(1-j^r)^b — defaults (16×8) put the
    * S-curve knee near j≈0.71: recall ≈0.95 at the 0.8 default
    * threshold while pairs at j≈0.5 collide <7% of the time, which is
    * what keeps the candidate set sub-quadratic on corpora with high
    * background similarity. The band join key is (band index, hash of
    * the band slice), so the shuffle key space is wide.
    *
    * `maxBucketSize` (optional) drops band buckets larger than the cap
    * before pair generation — the standard LSH skew guard for
    * pathological keys (boilerplate/empty docs) at 100 TB; it trades
    * bounded recall loss inside oversized buckets for a hard bound on
    * candidate fan-out.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, exact and
    * duplicate-free (candidates deduped before verification).
    */
  def minhashLshPairs(docs: DataFrame, id: String, text: String,
                      threshold: Double = 0.8, shingleN: Int = 1,
                      bands: Int = 16, rowsPerBand: Int = 8,
                      maxBucketSize: Option[Int] = None,
                      portable: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Signature and verification MUST use the same unit set (shingleN=1
    // → distinct tokens): LSH over n-grams with token-level verification
    // would miss reordered near-dups entirely.
    //
    // The signature is computed as explode → hash-aggregate (one min()
    // per hash seed over the exploded shingles), NOT as numHashes
    // array_min(transform(...)) expressions over a shingle column:
    // CollapseProject would inline the shingle expression into every
    // hash (and every band), exploding the plan ~bands×numHashes-fold —
    // janino then spends minutes compiling one projection. The
    // Aggregate is also the scale shape: map-side partial min, shuffle
    // only (doc × numHashes) longs.
    // One string hash per shingle; the numHashes family is the
    // universal (a·h + b) mod p permutation over the 31-bit core —
    // 31×31-bit products stay inside a signed long (no ANSI overflow)
    // and hashing the string happens once, not once per seed. The mod
    // by the Mersenne prime is what makes each function an independent
    // permutation: without it a·h+b is monotonic in h and every
    // "hash" would rank shingles identically (one-permutation
    // signatures in disguise).
    val sig = signatureTable(docs, id, text, shingleN, numHashes, portable)
    // portable ⇒ raw band-slice bucket keys, the incremental path's
    // convention: the ENTIRE path is then replayable in SQL (bucket
    // hashing included — the pair set is otherwise identical, but an
    // oracle should not have to assume xxhash64 injectivity).
    lshVerifiedPairs(docs, id, text, sig, threshold, shingleN, bands,
      rowsPerBand, maxBucketSize, rawBuckets = portable)
  }

  /** Shingle array per doc, staged appropriately for `shingleN`: at
    * n == 1 `shinglesOfTokens` references the token array exactly once
    * (a single `array_distinct`), so the expression inlines directly;
    * at n > 1 the token array is staged as an attribute behind an
    * `explode(array(tokens))` generator barrier so the shingle lambda
    * doesn't re-tokenize per element (see shinglesOfTokens) — that
    * barrier costs two extra generator stages, which is why the n=1
    * path must not pay it. */
  private def shingleArrays(docs: DataFrame, id: String, text: String,
                            shingleN: Int,
                            hashed: Boolean = false): DataFrame =
    if (shingleN == 1 && hashed) {
      // Production verify representation: distinct token set as 64-bit
      // hashes straight off the byte scan — no token string is ever
      // built, the pair join shuffles 8 bytes/token instead of string
      // payloads, and the intersection compares longs. Set sizes /
      // intersection counts (⇒ Jaccard) equal the string form's
      // modulo 64-bit collisions (p ≈ n²/2⁶⁵ per doc — the hashed
      // band-bucket tolerance class); the portable paths keep strings.
      graft.plans.TokensDistinctHashedExpr.register(docs.sparkSession)
      docs.select(col(id).as("doc"),
        call_function(graft.plans.TokensDistinctHashedExpr.Name,
          col(text)).as("toks"))
    } else if (shingleN == 1) {
      // Native byte-scan tokenizer (bit-equal to
      // array_distinct(split(trim, "\s+")) — spec-pinned): the verify
      // stage scans the corpus through this twice, and the composed
      // regex + HOF form cost ~5.8 s per heavy scan.
      graft.plans.TokensDistinctExpr.register(docs.sparkSession)
      docs.select(col(id).as("doc"),
        call_function(graft.plans.TokensDistinctExpr.Name,
          col(text)).as("toks"))
    } else {
      val arrs = docs
        .select(col(id).as("doc"),
          explode(array(Scalars.tokens(col(text)))).as("__t"))
        .select(col("doc"), shinglesOfTokens(col("__t"), shingleN).as("toks"))
      if (hashed)
        arrs.select(col("doc"),
          transform(col("toks"), s => xxhash64(s)).as("toks"))
      else arrs
    }

  /** Shared front-half of every MinHash family: (doc, 31-bit shingle
    * hash core) — one string hash per shingle, masked so downstream
    * permutation products stay inside a signed long under ANSI. */
  private[graft] def hashedShingles(docs: DataFrame, id: String, text: String,
                                    shingleN: Int,
                                    portable: Boolean = false): DataFrame = {
    val sh = shingleArrays(docs, id, text, shingleN)
      .select(col("doc"), explode(col("toks")).as("sh"))
    val core =
      if (portable) conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long")
      else xxhash64(col("sh"))
    sh.select(col("doc"), core.bitwiseAND(lit(0x7FFFFFFFL)).as("h"))
  }

  /** (band, bucket, doc) table from a signature table. Carries only the
    * banded hash — token arrays would otherwise be replicated ×bands
    * through the shuffle; tokens rejoin only for the (much smaller)
    * deduped candidate set. `raw` keeps the band-slice string itself as
    * the bucket key (the portable/oracle-replayable form, matching
    * [[minhashBandTable]]); production hashes it to a long so the
    * bucket aggregation groups on cheap fixed-width keys. */
  private def bandTable(sig: DataFrame, bands: Int, rowsPerBand: Int,
                        raw: Boolean = false): DataFrame = {
    graft.plans.MinHashBandsExpr.register(sig.sparkSession)
    sig.select(col("doc"),
      posexplode(call_function(graft.plans.MinHashBandsExpr.Name,
        col("sig"), lit(bands), lit(rowsPerBand), lit(raw)))
        .as(Seq("band", "bucket")))
  }

  /** CANDIDATE pairs of [[minhashLshPairs]] — the banded bucket pairs
    * BEFORE exact verification. Exposed so benchmarks can report the
    * actual unit of LSH work (candidate pairs generated/verified per
    * second); the pair set is what the verify join pays for, so
    * docs/s alone says nothing about dup-density-sensitive cost. */
  def minhashLshCandidates(docs: DataFrame, id: String, text: String,
                           shingleN: Int = 1, bands: Int = 16,
                           rowsPerBand: Int = 8,
                           maxBucketSize: Option[Int] = None,
                           portable: Boolean = false): DataFrame = {
    val sig = signatureTable(docs, id, text, shingleN, bands * rowsPerBand,
      portable)
    bucketPairs(bandTable(sig, bands, rowsPerBand, raw = portable),
      Seq("band", "bucket"), "doc", maxBucketSize)
  }

  /** The LSH back-half of every signature family (classic permutation,
    * OPH): band the (doc, sig) table, bucket-join for candidates, verify
    * with exact Jaccard. */
  private def lshVerifiedPairs(docs: DataFrame, id: String, text: String,
                               sig: DataFrame, threshold: Double,
                               shingleN: Int, bands: Int, rowsPerBand: Int,
                               maxBucketSize: Option[Int],
                               rawBuckets: Boolean = false): DataFrame = {
    val candidates = bucketPairs(bandTable(sig, bands, rowsPerBand, rawBuckets),
      Seq("band", "bucket"), "doc", maxBucketSize)
    // Production (hashed buckets) verifies on hashed token sets; the
    // portable path keeps strings so its oracle replays the verify.
    jaccardVerify(candidates,
      shingleArrays(docs, id, text, shingleN, hashed = !rawBuckets), threshold)
  }

  /** Exact Jaccard verify of candidates against a (doc, toks) table of
    * already-distinct shingle sets. */
  private def jaccardVerify(candidates: DataFrame, toks: DataFrame,
                            threshold: Double): DataFrame =
    verifyPairs(candidates, toks, "toks", "jaccard",
      jaccardDistinct(toks.sparkSession, _, _), _ >= threshold)

  /** The persisted corpus artifact of the incremental path: one
    * (doc, band, bucket) row per document per band. Production keeps
    * this bucketed by (band, bucket) ([[graft.pipeline.Bucketing]])
    * and appends each night's increment rows after pairing, so the
    * corpus is NEVER re-signed; pass it to
    * [[minhashLshPairsIncremental]] via `corpusBands`. */
  def minhashBandTable(docs: DataFrame, id: String, text: String,
                       shingleN: Int = 1, bands: Int = 16,
                       rowsPerBand: Int = 8,
                       portable: Boolean = false): DataFrame = {
    val sig = signatureTable(docs, id, text, shingleN, bands * rowsPerBand,
      portable)
    // The persisted artifact's bucket column is STRING in both modes
    // (portable: the raw band-slice key; production: the decimal form
    // of the xxhash64 bucket, unchanged from the pre-expression
    // schema).
    bandTable(sig, bands, rowsPerBand, raw = portable)
      .select(col("doc"), col("band"), col("bucket").cast("string").as("bucket"))
  }

  /** Incremental MinHash-LSH — near-dup pairs TOUCHING a new increment
    * (increment × corpus and increment × increment) without re-pairing
    * corpus × corpus: the nightly shape at 100 TB, where re-running
    * [[minhashLshPairs]] over the whole corpus for a 0.1% daily delta
    * would re-shuffle a thousand times more data than changed.
    *
    * Scale shape: in production the corpus band table (doc, band,
    * bucket) is a persisted artifact — bucketed by (band, bucket) via
    * [[graft.pipeline.Bucketing]], appended per run — so a nightly run
    * computes signatures for the INCREMENT only; here both sides are
    * derived on the fly. The corpus side is semi-join-pruned to the
    * buckets the increment actually occupies before any pair work, so
    * candidate generation scales with the increment, not the corpus.
    * Bucket caps count the FULL bucket membership (pruned-corpus +
    * increment = everything in a touched bucket), which keeps cap
    * semantics identical to the full run.
    *
    * Exactness contract (spec-pinned): the result equals
    * `minhashLshPairs(corpus ∪ increment, …)` restricted to pairs with
    * at least one increment member — same candidates, same caps, same
    * verification. Ids must be disjoint across the two inputs.
    *
    * `portable = true` swaps the xxhash64 token core for the md5 one
    * and uses the raw band-slice string as the bucket key, making the
    * ENTIRE path — signature, banding, candidate join, Jaccard verify
    * — reproducible in any engine with md5 (d12's DuckDB oracle). */
  def minhashLshPairsIncremental(corpus: DataFrame, increment: DataFrame,
                                 id: String, text: String,
                                 threshold: Double = 0.8, shingleN: Int = 1,
                                 bands: Int = 16, rowsPerBand: Int = 8,
                                 maxBucketSize: Option[Int] = None,
                                 portable: Boolean = false,
                                 corpusBands: Option[DataFrame] = None): DataFrame =
    minhashLshPairsIncrementalReleasable(corpus, increment, id, text,
      threshold, shingleN, bands, rowsPerBand, maxBucketSize, portable,
      corpusBands)._1

  /** [[minhashLshPairsIncremental]] plus a release handle that
    * unpersists the operator's two internal caches (candidate pairs,
    * candidate tokens). Callers that invoke the operator repeatedly
    * over FRESH data — StreamingDedup runs it once per micro-batch —
    * MUST materialize the result and then call the handle, or the
    * session's CacheManager pins two new datasets per invocation
    * forever (unbounded memory/disk growth in a long-running stream).
    * Re-invocations over IDENTICAL inputs (Verify/Bench re-running a
    * registered query) are deduplicated by the CacheManager on the
    * canonicalized plan and do not grow the cache, which is why the
    * plain variant above stays safe for those. */
  def minhashLshPairsIncrementalReleasable(
      corpus: DataFrame, increment: DataFrame,
      id: String, text: String,
      threshold: Double = 0.8, shingleN: Int = 1,
      bands: Int = 16, rowsPerBand: Int = 8,
      maxBucketSize: Option[Int] = None,
      portable: Boolean = false,
      corpusBands: Option[DataFrame] = None): (DataFrame, () => Unit) = {
    // `corpusBands`: the precomputed [[minhashBandTable]] artifact —
    // the production entry point. Without it the corpus is re-signed
    // on the fly (convenient at test scale; at 10⁹ docs the nightly
    // job must pass the persisted table or the signature pass alone
    // re-scans the corpus). CONTRACT: the artifact must have been
    // built with the SAME (shingleN, bands, rowsPerBand, portable) as
    // this call — a mismatched hash family makes the (band, bucket)
    // join match nothing and increment-vs-corpus pairs silently
    // vanish. Persist the parameters next to the artifact and check
    // them at load time (the table itself carries no metadata).
    val bOld = corpusBands.getOrElse(
      minhashBandTable(corpus, id, text, shingleN, bands, rowsPerBand, portable))
    val bNew = minhashBandTable(increment, id, text, shingleN, bands,
      rowsPerBand, portable)
    val keys = Seq("band", "bucket")
    // corpus×corpus pairs inside touched buckets are visited (fan-out
    // stays cap-bounded) but never emitted — only increment-touching
    // pairs verify.
    val pairs = bucketMembers(incrementMembers(bOld, bNew, keys), keys,
        struct(col("doc"), col("nw")), maxBucketSize)
      .select(memberPairs(col("ds"),
        keep = Some(p => p("a")("nw") || p("b")("nw"))).as("p"))
      .select(col("p.a.doc").as("id_a"), col("p.b.doc").as("id_b"))
      .distinct()
      // cache(), not localCheckpoint(): the candidate set (small,
      // increment-bounded) feeds three consumers below (the id
      // semi-join and both verify joins) and must materialize once —
      // but an eager checkpoint would truncate the logical plan and
      // hide the whole signature/banding half from PlanSpec's
      // cartesian/SMJ/UDF gate. cache() keeps the full plan visible
      // (InMemoryRelation prints its child).
      .cache()
    // Populate the cache eagerly: left lazy, the three consumers race
    // the first materialization inside one action and re-run the
    // banding pipeline (measured 1.8 s → 3-5 s at sf0.1).
    pairs.count()
    // Disjoint-ids guard (the contract above), piggybacked on the
    // cached increment-bounded candidate set so it costs one cheap
    // local scan: an id present in BOTH inputs bands into the same
    // buckets twice — once nw=false, once nw=true — and surfaces here
    // as a self-candidate. Fail loudly instead of emitting corrupt
    // self-pairs and double-counted bucket members downstream. (A
    // duplicated id whose two texts never share a bucket escapes this
    // guard; the full check would scan the corpus id column, which the
    // incremental design exists to avoid.)
    if (!pairs.filter(col("id_a") === col("id_b")).isEmpty) {
      // Release the just-populated cache before failing — the caller
      // never receives the release handle on this path, and a session
      // that validates several bad inputs must not pin one orphaned
      // dataset per attempt.
      pairs.unpersist(false)
      throw new IllegalArgumentException(
        "minhashLshPairsIncremental: corpus and increment id sets " +
          "overlap (self-candidate detected) — the inputs must be disjoint")
    }

    // Verification must also scale with the increment: tokenize only
    // docs that actually appear in a candidate pair (bounded by the
    // increment's bucket fan-out), never the whole corpus — without
    // the semi-join this step would re-scan and shuffle token arrays
    // for every corpus document each nightly run.
    val candidateIds = pairs.select(col("id_a").as(id))
      .unionByName(pairs.select(col("id_b").as(id)))
      .distinct()
    // Also candidate-bounded and read twice (once per verify side) —
    // without the cache each side re-runs the semi-join and
    // re-tokenizes.
    val toks = shingleArrays(
      corpus.select(col(id), col(text))
        .unionByName(increment.select(col(id), col(text)))
        .join(candidateIds, Seq(id), "left_semi"), id, text, shingleN,
      hashed = !portable)
      .cache()
    toks.count()
    (jaccardVerify(pairs, toks, threshold),
      () => { pairs.unpersist(false); toks.unpersist(false); () })
  }

  /** One-permutation MinHash signature (OPH): ONE hash per shingle,
    * binned into `bins` ranges, per-bin min — one aggregate-buffer
    * update per (doc, shingle) where the classic family above pays
    * numHashes (128×), which is the difference that matters on a
    * 100 TB signature pass. Empty bins densify by borrowing the next
    * occupied bin's value (circular rotation). Shape: one (doc, bin)
    * hash aggregation, then one per-doc aggregation of the
    * (occupied-bin, min) pairs — both map-side combinable; the
    * densification is a pure array expression over ≤bins entries.
    *
    * REGIME: OPH is for documents whose distinct-shingle count is well
    * above `bins` (web pages, full texts — <1% empty bins). On short
    * documents the occupancy pattern itself differs between near-dups,
    * densified bins mismatch, and banded recall collapses: measured on
    * the ~200-token synthetic corpus, the OPH pair count at threshold
    * 0.8 is ~13% of the classic family's. Use [[minhashLshPairs]]
    * below roughly 10× `bins` distinct tokens; switch to OPH for the
    * long-document corpora where the signature pass dominates cost. */
  def minhashOphSignature(docs: DataFrame, id: String, text: String,
                          bins: Int = 128, shingleN: Int = 1,
                          portable: Boolean = false): DataFrame = {
    // `portable` swaps the xxhash64 shingle core for the md5 one (the
    // d9 convention), putting the binning + densification math itself
    // under the DuckDB hash oracle (d14). Like the classic signature,
    // the whole computation is ONE per-doc native expression — no
    // explode, no aggregation, no shuffle (bit-equality vs the
    // retained declarative pipeline is spec-pinned).
    graft.plans.MinHashOphSigExpr.register(docs.sparkSession)
    def sigOf(c: Column) = call_function(
      graft.plans.MinHashOphSigExpr.Name, c, lit(bins), lit(portable))
    // Null-text docs: no row (the declarative pipeline's contract),
    // same as signatureTable.
    if (shingleN == 1)
      nonNullText(docs, text)
        .select(col(id).as("doc"), sigOf(col(text)).as("sig"))
    else
      shingleArrays(nonNullText(docs, text), id, text, shingleN)
        .select(col("doc"), sigOf(col("toks")).as("sig"))
  }

  /** The declarative OPH pipeline [[minhashOphSignature]] replaced —
    * kept (test-visible) as the bit-equality reference. */
  private[graft] def minhashOphSignatureDeclarative(
      docs: DataFrame, id: String, text: String,
      bins: Int = 128, shingleN: Int = 1,
      portable: Boolean = false): DataFrame = {
    hashedShingles(docs, id, text, shingleN, portable)
      .groupBy(col("doc"), pmod(col("h"), lit(bins.toLong)).as("bin"))
      .agg(min(col("h")).as("mh"))
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("bin"), col("mh")))).as("occ"))
      .select(col("doc"), {
        // Linear densification: occ is sorted by (unique) bin, so each
        // occupied entry k fills the positions (bin_{k-1}, bin_k] with
        // its min, and the tail past the last occupied bin wraps to the
        // first entry — one segment expansion totalling exactly `bins`
        // values, instead of re-filtering occ per output position
        // (which would be O(bins²) struct comparisons per doc on the
        // stage OPH exists to make cheap).
        val occ = col("occ")
        val segs = concat(
          transform(occ, (o, k) => struct(
            when(k === 0, lit(0L))
              // element_at is 1-based: index k = the previous entry
              .otherwise(element_at(occ, k)("bin") + 1L).as("s"),
            o("bin").as("e"),
            o("mh").as("v"))),
          array(struct(
            (element_at(occ, size(occ))("bin") + 1L).as("s"),
            lit(bins - 1L).as("e"),
            element_at(occ, 1)("mh").as("v"))))
        flatten(transform(
          // the wrap segment is empty when the last bin IS bins-1 —
          // and sequence() would run descending on s > e
          filter(segs, s => s("s") <= s("e")),
          s => transform(sequence(s("s"), s("e")), _ => s("v")))).as("sig")
      })
  }

  /** The short-document regime check for OPH: with mean distinct
    * shingles per doc below ~4× the bin count, most bins are EMPTY and
    * the circular densification fills them with copies of the few
    * occupied values — bands stop being independent and banded recall
    * collapses (measured on the sf corpus: ~200 tokens vs 128 bins →
    * OPH finds ~13% of the 128-permutation LSH's pairs at threshold
    * 0.8, LlmQueries d11 note). Pure so the spec can pin the exact
    * boundary; returns the warning text to log. */
  private[graft] def ophRegimeWarning(meanDistinctTokens: Double,
                                      bins: Int): Option[String] =
    if (meanDistinctTokens < 4.0 * bins)
      Some(f"minhashLshPairsOph: mean distinct shingles/doc " +
        f"$meanDistinctTokens%.0f is below 4x bins (${4 * bins}); sparse " +
        "bin occupancy makes densification copy the few occupied values " +
        "across bands, collapsing banded recall (measured ~13% of the " +
        "per-permutation LSH's pairs at 0.8 on a ~200-token corpus with " +
        "128 bins). Use minhashLshPairs for short documents.")
    else None

  /** Samples the first `sampleDocs` docs' distinct-shingle counts and
    * returns [[ophRegimeWarning]]'s verdict for them. Split from the
    * logging call so the spec can assert the probe fires on a
    * short-document corpus and stays quiet on a long-document one. */
  private[graft] def ophRegimeProbe(docs: DataFrame, id: String,
                                    text: String, shingleN: Int, bins: Int,
                                    sampleDocs: Int): Option[String] = {
    // Limit BEFORE tokenizing: with the limit above shingleArrays, the
    // per-partition LocalLimit evaluates the tokenizer for up to
    // sampleDocs rows in EVERY scan partition before the global limit
    // discards all but one — O(sampleDocs × partitions) tokenize work
    // (measured 4-12 s on the 89-partition longdoc fixture, as much as
    // the signature pass itself). Limiting the raw (id, text) rows
    // keeps the scan-side work trivial and tokenizes exactly
    // sampleDocs docs once, post-limit.
    // coalesce(1) BEFORE the limit (r20): a bare limit still plans
    // LocalLimit-per-partition + a single-partition Exchange, so every
    // scan partition READS up to sampleDocs full text rows and ships
    // them — O(sampleDocs × partitions) scan+shuffle bytes (measured
    // 5-8 s of the longdoc profile run at 89 partitions, ~1 s of the
    // heavy entry at 3). Coalesced first, the LocalLimit pulls exactly
    // sampleDocs rows through one lazy scan task and nothing shuffles;
    // the probe only feeds a log warning, so the sample-identity shift
    // (first rows of one split vs a per-split mix) changes no query
    // output.
    val mean = shingleArrays(docs.select(col(id), col(text))
        .coalesce(1).limit(sampleDocs), id, text, shingleN)
      .agg(avg(size(col("toks")))).collect()(0)
    if (mean.isNullAt(0)) None
    else ophRegimeWarning(mean.getDouble(0), bins)
  }

  /** MinHash-LSH near-dup pairs over the OPH signature, with 128×
    * fewer hash-min updates per token in the signature stage.
    * NOTE on what that buys: since both signature families became
    * single-pass native expressions paying ONE string hash per token
    * (the permutation family is register-level mult-adds), the wall-
    * clock saving at 128 hashes is within measurement noise on the
    * longdoc bench (~3-4 s per 69 M tokens for BOTH) — OPH earns its
    * keep when numHashes is much larger, or on engines whose dense
    * signature costs numHashes string hashes per shingle. Subject to
    * [[minhashOphSignature]]'s long-document regime caveat;
    * high-similarity recall is spec-gated, and emitted pairs are
    * always exact-verified regardless.
    *
    * On construction the first `regimeSampleDocs` docs are sampled for
    * mean distinct-shingle count and [[ophRegimeWarning]] is logged if
    * the corpus sits in the collapsed-recall regime — a bounded
    * driver-side probe (one LocalLimit scan), not a full pass; pass
    * `regimeSampleDocs = 0` to skip it. */
  def minhashLshPairsOph(docs: DataFrame, id: String, text: String,
                         threshold: Double = 0.8, shingleN: Int = 1,
                         bands: Int = 16, rowsPerBand: Int = 8,
                         maxBucketSize: Option[Int] = None,
                         portable: Boolean = false,
                         regimeSampleDocs: Int = 2048): DataFrame = {
    if (regimeSampleDocs > 0)
      ophRegimeProbe(docs, id, text, shingleN, bands * rowsPerBand,
        regimeSampleDocs)
        .foreach(org.apache.logging.log4j.LogManager
          .getLogger(getClass).warn(_))
    val sig = minhashOphSignature(docs, id, text, bands * rowsPerBand, shingleN,
      portable)
    lshVerifiedPairs(docs, id, text, sig, threshold, shingleN, bands,
      rowsPerBand, maxBucketSize, rawBuckets = portable)
  }

  /** Exact token-set Jaccard similarity of two token arrays. Left as the
    * raw double: an integer-ratio division is IEEE-exact and therefore
    * engine-portable, while round() tie-breaking is not. Takes the
    * owning session explicitly (the cosineNative pattern) — the native
    * intersection expression registers against it, so off-thread Column
    * construction or a multi-session JVM cannot register on the wrong
    * session. */
  def jaccard(spark: SparkSession, a: Column, b: Column): Column =
    jaccardDistinct(spark, array_distinct(a), array_distinct(b))

  /** Jaccard over arrays the caller guarantees are already duplicate-free.
    * The intersection count runs through the native hash-set expression
    * (bit-identical to size(array_intersect) on distinct arrays,
    * spec-pinned); the division stays in Column space so its semantics
    * — exact integer-ratio double, the oracle-portability contract —
    * are untouched. This is the per-candidate-pair hot op of LSH
    * verification (10.8 M pairs on the heavy fixture). */
  private def jaccardDistinct(spark: SparkSession, da: Column,
                              db: Column): Column = {
    graft.plans.ArrayIntersectSizeExpr.register(spark)
    val inter = call_function(graft.plans.ArrayIntersectSizeExpr.Name, da, db)
    inter.cast("double") / (size(da) + size(db) - inter)
  }

  /** All-pairs exact n-gram Jaccard within an id-bounded subset —
    * the oracle-checkable baseline for the LSH variant (bounded input:
    * the broadcast self-join is only for the verification subset, the
    * scale path is [[minhashLshPairs]]). */
  def jaccardPairsExact(docs: DataFrame, id: String, text: String,
                        threshold: Double): DataFrame = {
    val t = docs.select(col(id).as("doc"), Scalars.tokens(col(text)).as("toks"))
    val a = t.select(col("doc").as("id_a"), col("toks").as("toks_a"))
    val b = t.select(col("doc").as("id_b"), col("toks").as("toks_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("jaccard",
        jaccard(docs.sparkSession, col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** One row per `w`-token window of each document at token stride
    * `stride`: (doc, pos, h, p) where `pos` is the 0-based window index
    * (start token = pos·stride), `p` the space-joined window text and
    * `h` its 31-bit hash core (md5 when `portable`, else xxhash64).
    * Documents shorter than `w` tokens emit no rows. Window volume is
    * ~tokens/stride per doc — `stride` is the scale knob that trades
    * span resolution for output size (stride = w tiles the doc exactly
    * once). Windows are emitted by ONE generator pass over a staged
    * token array (the [[shinglesOfTokens]] attribute-binding rule:
    * tokenizing inside the lambda would re-split per window). */
  private[graft] def passageWindows(docs: DataFrame, id: String,
                                    text: String, w: Int, stride: Int,
                                    portable: Boolean): DataFrame = {
    require(w >= 2, s"passage window must span >= 2 tokens, got $w")
    require(stride >= 1 && stride <= w,
      s"stride must be in [1, w] so windows cover every token, got $stride")
    val staged = docs.select(col(id).as("doc"),
      explode(array(Scalars.tokens(col(text)))).as("__t"))
    val t = col("__t")
    val passages = when(size(t) >= w,
      transform(
        sequence(lit(0L), floor((size(t) - w).cast("double") / stride).cast("long")),
        i => array_join(slice(t, (i * stride).cast("int") + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))
    val win = staged.select(col("doc"), posexplode(passages).as(Seq("pos", "p")))
    val core =
      if (portable) conv(substring(md5(col("p")), 1, 8), 16, 10).cast("long")
      else xxhash64(col("p"))
    win.select(col("doc"), col("pos"),
      core.bitwiseAND(lit(0x7FFFFFFFL)).as("h"), col("p"))
  }

  /** The stringless production window table: (doc, tpos, h) with h a
    * multi-arg xxhash64 over the window's token tuple (the pipe17
    * hashNgrams core) — NO window string is ever allocated. A
    * different hash family than [[passageWindows]]'s xxhash64(string),
    * but window EQUALITY is the same relation (token tuples are equal
    * iff their joined strings are), so every count/coverage/scrub
    * consumer is value-identical up to 64-bit collisions; only
    * [[repeatedPassages]], which exposes the hash and a sample string,
    * keeps the string build. `tpos` is the raw token offset (the
    * string path's `pos` times stride). */
  private[graft] def passageWindowHashesFast(
      docs: DataFrame, id: String, text: String,
      w: Int, stride: Int): DataFrame = {
    require(w >= 2 && stride >= 1 && stride <= w)
    // Native single-pass window keys (tokenize + chained XXH64 straight
    // off the text bytes — no token array, no per-position lambda
    // evals); bit-identical to posexplode(hashNgrams(tokens(text), w)),
    // DedupSpec-pinned.
    graft.plans.NgramHashesExpr.register(docs.sparkSession)
    val raw = docs.select(col(id).as("doc"),
      posexplode(call_function(graft.plans.NgramHashesExpr.Name,
        col(text), lit(w))).as(Seq("tpos", "hraw")))
    val strided =
      if (stride == 1) raw else raw.filter(pmod(col("tpos"), lit(stride)) === 0)
    strided.select(col("doc"), col("tpos"),
      col("hraw").bitwiseAND(lit(0x7FFFFFFFL)).as("h"))
  }

  /** Cross-document repeated passages — the substring-granularity
    * complement of the doc-level families (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * approximated at token-window resolution): window hashes occurring
    * in at least `minDocs` DISTINCT documents, with occurrence stats
    * and the lexicographically-least instance as a sample. ONE
    * hash-keyed aggregation with map-side partials — a boilerplate
    * passage repeated across millions of docs is a count on one key,
    * never a pair explosion, so the output is bounded by the number of
    * distinct repeated windows, not by duplicate mass². */
  def repeatedPassages(docs: DataFrame, id: String, text: String,
                       w: Int = 8, stride: Int = 1, minDocs: Int = 2,
                       portable: Boolean = false): DataFrame =
    passageWindows(docs, id, text, w, stride, portable)
      .groupBy(col("h"))
      .agg(countDistinct(col("doc")).as("n_docs"),
        count(lit(1)).as("n_occ"), min(col("p")).as("sample"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h").as("passage_hash"), col("n_docs"), col("n_occ"),
        col("sample"))

  /** Per-document repeated-passage coverage: the fraction of a doc's
    * windows whose hash also occurs in >= `minDocs` distinct documents,
    * and the RefinedWeb-style removal decision `keep = frac <=
    * threshold`. Docs with fewer than `w` tokens have no windows and
    * keep with frac 0.0 (nothing to judge). The window table is
    * explicitly repartitioned on `h` so BOTH consumers — the
    * repeated-hash aggregate and the join probe — hang off the SAME
    * exchange subtree and Catalyst's ReuseExchange computes the window
    * build (tokenize + window strings + hash) exactly once; with two
    * independent lineages the build ran twice, and on the ×64 heavy
    * corpus the duplicate build was half the operator's cost (62 s →
    * ~35 s). `pos` is projected away before the shuffle — the
    * coverage counts never read it. The raw integer-ratio double is
    * deliberately not rounded (engine-portable as-is; round()
    * tie-breaking is not). */
  def passageCoverage(docs: DataFrame, id: String, text: String,
                      w: Int = 8, stride: Int = 1, minDocs: Int = 2,
                      threshold: Double = 0.5,
                      portable: Boolean = false): DataFrame = {
    val win = (if (portable)
        passageWindows(docs, id, text, w, stride, portable = true)
      else passageWindowHashesFast(docs, id, text, w, stride))
      .select("doc", "h").repartition(col("h"))
    val rep = win.groupBy(col("h"))
      .agg(countDistinct(col("doc")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"), lit(1).as("__rep"))
    val cov = win.join(rep, Seq("h"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_windows"), count(col("__rep")).as("n_repeated"))
    val frac = when(coalesce(col("n_windows"), lit(0L)) > 0,
      col("n_repeated").cast("double") / col("n_windows")).otherwise(lit(0.0))
    docs.select(col(id).as("doc")).join(cov, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        frac.as("repeated_frac"),
        (frac <= threshold).as("keep"))
  }

  /** The passage-family REWRITE: cut every token covered by a
    * cross-document repeated window out of each document (Lee et al.
    * 2021's exact-substring removal, at the same token-window
    * resolution [[repeatedPassages]] detects at — d15/d16 find the
    * boilerplate, this produces the scrubbed corpus).
    *
    * Shape: the window table feeds the repeated-hash aggregate and the
    * join probe off ONE exchange (the [[passageCoverage]] reuse
    * discipline); each surviving window explodes to its covered token
    * positions, collapsed per doc by `collect_set` (bounded by doc
    * length, like every per-doc array here); the rewrite itself is
    * pure array work on the scan — `array_except` over the position
    * sequence is hash-based (linear in tokens + covered), then an
    * `element_at` gather and join. No step is quadratic in doc length
    * and nothing pairs documents — a passage repeated across millions
    * of docs is one aggregate key and |docs| covered-position rows.
    *
    * Output (id, n_tokens, n_removed, text_scrubbed) for EVERY doc;
    * `text_scrubbed` is the single-space token-normalized rewrite
    * (the tokenizer's view — exact byte preservation of inter-token
    * whitespace is out of contract, same as [[Scalars.canonicalText]]).
    * Docs shorter than `w` have no windows and pass through with
    * n_removed 0. With `stride` > 1 only windows at stride offsets are
    * detected (the tiling knob d16 uses) — scrubbing wants stride 1. */
  def passageScrub(docs: DataFrame, id: String, text: String,
                   w: Int = 8, stride: Int = 1, minDocs: Int = 2,
                   portable: Boolean = false): DataFrame = {
    val win = (if (portable)
        passageWindows(docs, id, text, w, stride, portable = true)
          .select(col("doc"), (col("pos") * stride).as("tpos"), col("h"))
      else passageWindowHashesFast(docs, id, text, w, stride))
      .repartition(col("h"))
    val rep = win.groupBy(col("h"))
      .agg(countDistinct(col("doc")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"), lit(1).as("__rep"))
    val cov = win.join(rep, Seq("h"))
      .select(col("doc"), explode(sequence(col("tpos"),
        col("tpos") + (w - 1))).as("cp"))
      .groupBy(col("doc")).agg(collect_set(col("cp")).as("cov"))
    // A null text has no tokens (tokens(null) is null — unguarded,
    // size() = -1 would poison n_tokens and make sequence(0, -2) emit
    // phantom positions): coalesce to the empty array so null-text
    // docs pass through as (0, 0, ''). Empty TEXT is distinct and
    // unchanged: tokens('') = [''] (one empty token, oracle-pinned).
    val staged = docs.select(col(id).as("doc"),
      coalesce(Scalars.tokens(col(text)),
        array().cast("array<string>")).as("tk"))
    // Covered docs are a subset of all docs: pin the attach
    // shuffled-hash (both sides arrive doc-keyed; a sort buys nothing).
    staged.join(cov.hint("shuffle_hash"), Seq("doc"), "left")
      // sequence(0, -1) on a zero-token doc would step DOWNWARD
      // ([0, -1]) — guard the empty case explicitly.
      .withColumn("__kept", when(size(col("tk")) === 0,
          array().cast("array<int>"))
        .otherwise(array_except(
          sequence(lit(0), size(col("tk")) - 1),
          coalesce(col("cov"), array().cast("array<int>")))))
      .select(col("doc").as(id),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(transform(col("__kept"),
          p => element_at(col("tk"), p + 1)), " ").as("text_scrubbed"))
  }

  /** Embedding-cosine near-duplicate pairs, exact, over a bounded
    * subset — the oracle baseline (the query side broadcasts; at full
    * scale use [[embeddingNearDupPairsLsh]]). */
  def embeddingNearDupPairsExact(emb: DataFrame, id: String, vec: String,
                                 threshold: Double): DataFrame = {
    val a = emb.select(col(id).as("id_a"), col(vec).as("va"))
    val b = emb.select(col(id).as("id_b"), col(vec).as("vb"))
    // Native fused cosine — bit-identical to the HOF form (same
    // accumulation order), so the DuckDB oracle is unaffected.
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim",
        Similarity.cosineNative(emb.sparkSession, col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Embedding-cosine near-dup at scale: candidates from multi-table
    * sign-LSH buckets (equi-join on (table, bucket) — never all-pairs),
    * verified with exact cosine. `maxBucketSize` is the hot-bucket
    * screen the MinHash family carries: 2^planes buckets is a
    * CONSTANT, so without a cap the per-bucket pair volume — and the
    * whole operator — goes quadratic as the corpus grows past
    * tables×2^planes·cap (measured on the ScaleCheck media sweep: ×16
    * corpus → ×199 time uncapped). A production run always caps; the
    * bounded oracle twins keep None. */
  def embeddingNearDupPairsLsh(emb: DataFrame, id: String, vec: String,
                               threshold: Double, planes: Int = 8,
                               tables: Int = 6, dim: Int = 64,
                               maxBucketSize: Option[Int] = None)
      : DataFrame =
    cosineBucketPairs(signBuckets(emb, id, vec, planes, tables, dim,
      portable = false).withColumn("nw", lit(true)), threshold, maxBucketSize)

  /** (doc, v, tbl, bkt): each vector with its bucket in every one of
    * `tables` sign-LSH tables — the fused native expression, or with
    * `portable` the md5-derived engine-replayable family. */
  private def signBuckets(emb: DataFrame, id: String, vec: String,
                          planes: Int, tables: Int, dim: Int,
                          portable: Boolean): DataFrame =
    emb.select(col(id).as("doc"), col(vec).as("v"),
      posexplode(
        if (portable) Similarity.portableLshBuckets(col(vec), tables, planes, dim)
        else Similarity.lshBucketsAll(emb.sparkSession, col(vec),
          tables, planes, dim)).as(Seq("tbl", "bkt")))

  /** The verify tail of every embedding-LSH variant, over (doc, v, tbl,
    * bkt, nw) members: members carry their VECTOR through the capped
    * (table, bucket) aggregate and the exact-cosine threshold runs
    * inside the pair lambda, so a below-threshold candidate is never
    * emitted and the cross-table dedup `distinct()` shuffles only
    * survivors. Vectors cross the one bucket exchange `tables`× (linear
    * in the corpus), in exchange for never shuffling the candidate-pair
    * volume (quadratic per hot bucket). A pair must touch an `nw`
    * member — a full run flags every member — and pair two distinct
    * ids: a doc present in both corpus and increment (a stale persisted
    * `corpusBuckets` artifact holding a re-ingested doc) occupies its
    * bucket twice and would otherwise pair with itself at sim 1.0. */
  private def cosineBucketPairs(members: DataFrame, threshold: Double,
                                maxBucketSize: Option[Int]): DataFrame = {
    val spark = members.sparkSession
    bucketMembers(members, Seq("tbl", "bkt"),
        struct(col("doc"), col("nw"), col("v")), maxBucketSize)
      .select(memberPairs(col("ds"),
        (x, y) => struct(x("doc").as("id_a"), y("doc").as("id_b"),
          (x("nw") || y("nw")).as("inc"),
          Similarity.cosineNative(spark, x("v"), y("v")).as("sim")),
        Some(p => p("inc") && p("id_a") =!= p("id_b") &&
          p("sim") >= threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        round(col("p.sim"), 4).as("sim"))
      .distinct()
  }

  /** Incremental embedding near-dup — [[minhashLshPairsIncremental]]'s
    * discipline applied to the sign-LSH family (the nightly MEDIA
    * ingest shape: yesterday's corpus embeddings are standing state,
    * only tonight's increment decodes and pairs): candidates come only
    * from buckets the INCREMENT occupies, the standing corpus'
    * staged (tbl, bkt, doc, v) bucket table is the persisted artifact
    * (`corpusBuckets` — the production entry point; without it the
    * corpus is re-staged on the fly, which re-embeds the whole corpus
    * and is only acceptable at test scale). CONTRACT: the artifact
    * must have been built with the SAME (planes, tables, dim) and the
    * same feature pipeline as this call — a mismatched hash family
    * makes the (tbl, bkt) join match nothing and increment-vs-corpus
    * pairs silently vanish; persist the parameters next to the
    * artifact. corpus×corpus pairs inside touched buckets are
    * visited cap-bounded and never emitted (reported when those docs
    * arrived). `portable` selects the md5-derived bucketing, so
    * the whole path can sit under a DuckDB oracle. */
  def embeddingNearDupPairsIncremental(corpus: DataFrame,
                                       increment: DataFrame,
                                       id: String, vec: String,
                                       threshold: Double,
                                       planes: Int = 8, tables: Int = 6,
                                       dim: Int = 64,
                                       maxBucketSize: Option[Int] = None,
                                       corpusBuckets: Option[DataFrame] = None,
                                       portable: Boolean = false)
      : DataFrame =
    embeddingNearDupPairsIncrementalReleasable(corpus, increment, id,
      vec, threshold, planes, tables, dim, maxBucketSize, corpusBuckets,
      portable)._1

  /** [[embeddingNearDupPairsIncremental]] plus a release handle that
    * unpersists the operator's internal staged-increment cache — the
    * [[minhashLshPairsIncrementalReleasable]] discipline: a caller
    * invoking the operator repeatedly over FRESH data (a streaming
    * loop runs it once per micro-batch) must materialize the result
    * and call the handle, or the CacheManager pins one new dataset per
    * invocation forever. Re-invocations over IDENTICAL inputs
    * (Verify/Bench re-running a registered query) are deduplicated on
    * the canonicalized plan and stay safe through the plain variant. */
  def embeddingNearDupPairsIncrementalReleasable(
      corpus: DataFrame, increment: DataFrame,
      id: String, vec: String, threshold: Double,
      planes: Int = 8, tables: Int = 6, dim: Int = 64,
      maxBucketSize: Option[Int] = None,
      corpusBuckets: Option[DataFrame] = None,
      portable: Boolean = false): (DataFrame, () => Unit) = {
    val bOld = corpusBuckets.getOrElse(
      signBuckets(corpus, id, vec, planes, tables, dim, portable))
    // The increment's staged buckets feed TWO consumers (the touched
    // set and the member union); left lazy, the lineage ABOVE them —
    // which includes the increment's media DECODE when the features
    // are decode-derived — executes once per consumer (measured: the
    // m14 entry read 2× its decode term). cache + eager count
    // materializes it once; the cached set is increment-bounded
    // (rows = docs × tables, vectors included).
    val bNew = signBuckets(increment, id, vec, planes, tables, dim, portable)
      .cache()
    bNew.count()
    (cosineBucketPairs(incrementMembers(bOld, bNew, Seq("tbl", "bkt")),
        threshold, maxBucketSize),
      () => { bNew.unpersist(blocking = false); () })
  }

  /** Portable twin of [[embeddingNearDupPairsLsh]] (the d5/d9 pattern:
    * md5-derived randomness so the ENTIRE path replays in any engine
    * with md5): hyperplane component signs come from an md5 hex digit's
    * parity, and — the part that makes the SIGN TEST itself portable —
    * vector components are quantized to integers
    * (`floor(x·1000 + 0.5)`, the e6 half-up-floor convention) before
    * the plane dot product, so the bucketing decision is
    * order-independent integer arithmetic that cannot flip under a
    * different float summation order. Verification is exact cosine in
    * double, proven engine-portable by d6. Production keeps
    * the fused native [[graft.plans.SignLshBucketsExpr]] path (d7);
    * this twin exists to put the LSH-path math under the hash oracle. */
  def embeddingNearDupPairsLshPortable(emb: DataFrame, id: String,
                                       vec: String, threshold: Double,
                                       planes: Int = 8, tables: Int = 6,
                                       dim: Int = 64,
                                       maxBucketSize: Option[Int] = None)
      : DataFrame =
    cosineBucketPairs(signBuckets(emb, id, vec, planes, tables, dim,
      portable = true).withColumn("nw", lit(true)), threshold, maxBucketSize)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    * semantic dedup over an embedding column. The insight that makes
    * embedding dedup tractable at 100 TB is that near-duplicates land
    * in the same k-means cluster, so pairwise cosine only ever runs
    * WITHIN a cluster — the global pair space is never touched, and
    * cluster count k is the knob that keeps per-cluster membership
    * (and thus the quadratic-within-cluster work) bounded as the
    * corpus grows.
    *
    * Inputs: `assign` = (id, cluster) from [[Similarity.kmeansAssign]]
    * / [[Similarity.assignToCentroids]]; `centroids` = (cluster,
    * centroid) from [[Similarity.kmeansCentroids]] — passed explicitly
    * so a deployment trains on a [[Corpus.hashSample]] and reuses the
    * same centroid table here and in its IVF index.
    *
    * Keep rule (deterministic version of the paper's "keep the example
    * with the LOWEST similarity to the centroid"): for every
    * within-cluster pair with cosine ≥ `threshold`, the member with
    * the HIGHER (centroid_sim, id) is dropped. Applied per pair (the
    * paper's greedy form), so a near-dup chain keeps exactly its
    * (centroid_sim, id)-minimal element per linked neighborhood.
    *
    * Plan shape: one broadcast-centroid projection for centroid_sim,
    * ONE cluster-keyed aggregation whose member structs carry
    * (id, centroid_sim, vector) — capped by `maxClusterSize`, the same
    * skew guard as the LSH buckets — so the exact-cosine verify runs
    * scan-local on the exploded pairs (no pair-table distinct, no
    * vector-fetch joins; fat rows never cross an exchange), then one
    * id-keyed aggregation attaches the drop marks. No global sort, no
    * cartesian.
    *
    * Output: (id, cluster, centroid_sim ROUND 4, keep) for EVERY input
    * row — callers filter `keep` to materialize the deduplicated
    * corpus and keep the complement as the audit trail. */
  def semDedup(emb: DataFrame, id: String, vec: String,
               assign: DataFrame, centroids: DataFrame,
               threshold: Double,
               maxClusterSize: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    val vecs = emb.select(col(id).as("__id"), col(vec).as("__v"))
    val withC = vecs
      .join(assign.select(col(id).as("__id"), col("cluster")), Seq("__id"))
      .join(broadcast(centroids), Seq("cluster"))
      .select(col("__id"), col("cluster"),
        Similarity.cosineNative(spark, col("__v"), col("centroid"))
          .as("__csim"), col("__v"))
    val csim = withC.select("__id", "cluster", "__csim")
    // Members carry their centroid_sim AND VECTOR through the one
    // cluster-keyed aggregate, so the exact-cosine verify runs
    // scan-local inside the pair lambda and fat rows never cross an
    // exchange. No distinct is needed: membership is unique per
    // cluster and clusters are disjoint, so a pair arises exactly once.
    val ranked = bucketMembers(withC, Seq("cluster"),
        struct(col("__id"), col("__csim"), col("__v")), maxClusterSize)
      .select(memberPairs(col("ds"),
        (x, y) => struct(x("__id").as("id_a"), x("__csim").as("ca"),
          y("__id").as("id_b"), y("__csim").as("cb"),
          Similarity.cosineNative(spark, x("__v"), y("__v")).as("sim")),
        Some(_("sim") >= threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.ca").as("ca"),
        col("p.id_b").as("id_b"), col("p.cb").as("cb"))
    val dropped = ranked
      .select(when(struct(col("ca"), col("id_a")) > struct(col("cb"), col("id_b")),
        col("id_a")).otherwise(col("id_b")).as("__id"))
    // Attach the drop marks with a union + ONE id-keyed aggregation
    // rather than a left join: the pair lineage carries inflated join
    // size estimates that would force a sort-merge plan, and at scale
    // a single hash shuffle on the id is strictly cheaper than
    // shuffling both sides of a join anyway. max() skips the loser
    // rows' null cluster/csim; the losers only flip the drop bit.
    csim.select(col("__id"), col("cluster"), col("__csim"),
        lit(0).as("__drop"))
      .unionByName(dropped.select(col("__id"),
        lit(null).cast("string").as("cluster"),
        lit(null).cast("double").as("__csim"), lit(1).as("__drop")))
      .groupBy("__id")
      // + 0.0 collapses IEEE negative zero (round(-1e-9, 4) is -0.0,
      // which hash-compares unequal to the other engine's 0.0).
      .agg(max("cluster").as("cluster"),
        (round(max("__csim"), 4) + 0.0).as("centroid_sim"),
        (max("__drop") === 0).as("keep"))
      .select(col("__id").as(id), col("cluster"), col("centroid_sim"),
        col("keep"))
  }

  /** Pair lists up to this many rows get their components on the
    * driver ([[duplicateGroups]]): 100 K pairs are ~1.6 MB of longs.
    * Near-dup pair graphs sit far below it (the perfbench neardup
    * corpus of 20 K docs yields 4,297 pairs), while each distributed
    * round costs a lineage truncation, a count and two shuffles' worth
    * of Spark jobs. */
  val MaxDriverEdges = 100000

  /** Duplicate-group clustering: connected components over an
    * undirected near-dup pair list (the step that turns `minhashLshPairs`
    * output into "keep one per group" decisions).
    *
    * The pair list is materialized once (a map-only lineage
    * truncation), so the upstream pair plan is never computed twice.
    * Then one of two paths labels the components:
    *
    *  - Driver path: if at most [[MaxDriverEdges]] pairs come back
    *    from a bounded collect, and the ids are int/long with no null
    *    endpoint, union-find runs on the driver and the labels return
    *    as a local relation (cast back to the id type). Exact, because
    *    min-id component labels are unique; it has no round cap, so it
    *    never fails to converge.
    *  - Distributed path (more pairs, other id types, or a null
    *    endpoint, which this path emits as a node of its own): iterative
    *    min-label propagation, each round every node takes the min label
    *    among itself and its neighbors, until fixpoint. One equi-join +
    *    one hash aggregate per round for the neighbor min, plus one
    *    self-join for pointer jumping (label(u) ← label(label(u))),
    *    lineage truncated per round. The jump collapses label chains
    *    geometrically, so rounds = O(log diameter): a 1000-link chain
    *    converges in ~10 rounds, not 1000, while near-dup components
    *    (near-cliques) still finish in 2-3. If it has not converged
    *    after `maxIter` rounds it throws rather than return
    *    split components.
    *
    * Output: (node, group) — group is the component's minimum id; only
    * ids that appear in `pairs` are emitted (singletons are their own
    * group by definition; callers left-join + coalesce). */
  def duplicateGroups(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 20): DataFrame =
    duplicateGroups(pairs, idA, idB, maxIter, MaxDriverEdges)

  /** [[duplicateGroups]] with the driver-path bound as a parameter, so
    * specs can force the distributed loop (bound 0). */
  private[graft] def duplicateGroups(pairs: DataFrame, idA: String,
                                     idB: String, maxIter: Int,
                                     maxDriverEdges: Int): DataFrame = {
    val pairList = pairs.select(col(idA).as("s"), col(idB).as("d"))
      .truncateLineage()
    val idType = pairList.schema("s").dataType
    val driverPath = idType == pairList.schema("d").dataType &&
      (idType == IntegerType || idType == LongType)
    val small =
      if (!driverPath) None
      else Some(pairList.limit(maxDriverEdges + 1).collect())
        .filter(rows => rows.length <= maxDriverEdges &&
          !rows.exists(r => r.isNullAt(0) || r.isNullAt(1)))
    small match {
      case Some(rows) =>
        val labels = componentMinima(
          rows.map(r => (r.getAs[Number](0).longValue(),
            r.getAs[Number](1).longValue())))
        pairs.sparkSession.createDataFrame(
            labels.toSeq.map { case (n, g) => Row(n, g) }.asJava,
            StructType(Seq(StructField("node", LongType),
              StructField("group", LongType))))
          .select(col("node").cast(idType).as("node"),
            col("group").cast(idType).as("group"))
      case None => propagateLabels(pairList, maxIter)
    }
  }

  /** Union-find over an edge list: (node, min id of its component) for
    * every endpoint. Ids are ranked in sorted order and every union
    * hangs the larger root under the smaller, so each root is its
    * component's minimum. */
  private def componentMinima(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val ids = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(java.util.Arrays.binarySearch(ids, a))
      val rb = find(java.util.Arrays.binarySearch(ids, b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.indices.map(i => (ids(i), ids(find(i)))).toArray
  }

  /** The distributed path of [[duplicateGroups]] over a materialized
    * (s, d) pair list. */
  private def propagateLabels(pairList: DataFrame, maxIter: Int): DataFrame = {
    val edges = pairList
      .union(pairList.select(col("d").as("s"), col("s").as("d")))
      .distinct()
      .truncateLineage()
    var labels = edges.select(col("s").as("node")).distinct()
      .withColumn("label", col("node"))
      .truncateLineage()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "s"), Seq("s"))
        .select(col("d").as("node"), col("label"))
      // The node's OWN previous label rides the union as a marker
      // column (`__own` — labels holds exactly one row per node, so
      // max() recovers it beside the min), which makes convergence
      // detection a filter over the materialized result instead of
      // a labels⋈newLabels shuffle join + count job per iteration.
      val reduced = labels.withColumn("__own", col("label"))
        .union(neighborMin.withColumn("__own",
          lit(null).cast(labels.schema("label").dataType)))
        .groupBy("node").agg(min("label").as("label"),
          max("__own").as("__own"))
      // Pointer jump: every label is itself a node id, so label(label)
      // exists; following it halves chain depth each round.
      val newLabels = reduced
        .join(reduced.select(col("node").as("label"), col("label").as("__l2")),
          Seq("label"))
        .select(col("node"), col("__l2").as("label"),
          (col("__l2") =!= col("__own")).as("__chg"))
        .truncateLineage()
      changed = newLabels.filter(col("__chg")).count()
      labels = newLabels.select("node", "label")
      i += 1
    }
    // Never return silently-wrong components: a chain longer than
    // maxIter would leave one component under several labels and a
    // downstream keep-one-per-group step would retain duplicates.
    if (changed > 0)
      throw new IllegalStateException(
        s"duplicateGroups did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter or use a " +
          "star-contraction variant for chain-shaped components")
    labels.select(col("node"), col("label").as("group"))
  }

  /** End-to-end near-dup corpus REWRITE — the nightly production
    * composition: near-dup `pairs` → connected components
    * ([[duplicateGroups]]) → keep ONE member per group → full-corpus
    * marking. The canonical member is the (quality, id)-MAX of its
    * group — the [[graft.operators.GroupCover]] discipline (a ranked
    * deterministic winner per dedup group, ref: workflows/ai.py:283-342)
    * applied to the fuzzy pair graph instead of an exact key.
    *
    * Output: one row per document — (id, group_id, kept). `group_id`
    * is the component's minimum member id (singletons: the doc's own
    * id); exactly one member per group is kept, so `filter(kept)` IS
    * the deduplicated corpus and `!kept` is the drop list.
    *
    * Scale shape: the canonical-selection window runs only over PAIRED
    * docs (the dup mass — bounded by the pair graph, not the corpus);
    * unpaired docs bypass it through a left-anti join on the same
    * id-keyed exchange and are trivially kept. Nothing is proportional
    * to corpus²; `pairs` comes from any banded family
    * ([[minhashLshPairs]], [[simhashNearDupPairs]], the incremental
    * path) so the pair stage keeps that family's scale guarantees. */
  def nearDupRewrite(docs: DataFrame, id: String, quality: Column,
                     pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // The group table is EXPLICITLY broadcast on both joins: it is
    // dup-mass-bounded (16 bytes × paired docs), its checkpointed
    // lineage reports no usable stats (left alone, the inner join
    // broadcasts the CORPUS side at test scale and the anti join
    // degrades to sort-merge), and broadcasting it means the corpus is
    // never shuffled at all — the window pays only the dup mass. A
    // corpus whose pair graph outgrows broadcast needs the incremental
    // path long before this step anyway.
    val groups = broadcast(duplicateGroups(pairs, maxIter = maxIter)
      .withColumnRenamed("node", "__id"))
    val base = docs.select(col(id).as("__id"), quality.as("__q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy(col("__q").desc, col("__id").desc)
    val members = base.join(groups, Seq("__id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("__id"), col("group").as("group_id"), col("kept"))
    val singles = base.join(groups, Seq("__id"), "left_anti")
      .select(col("__id"), col("__id").as("group_id"), lit(true).as("kept"))
    members.unionByName(singles)
      .select(col("__id").as(id), col("group_id"), col("kept"))
  }

  /** Table-level SimHash: explode tokens once, hash each token once,
    * aggregate per-bit votes as `bits` sum() columns (map-side partial
    * aggregation), then assemble the sign fingerprint. Scales like the
    * MinHash signature aggregate and avoids the per-row Column form's
    * repeated token hashing (`bits`× per token inside the lambda). */
  def simhashTable(docs: DataFrame, id: String, text: String,
                   bits: Int = 32, portable: Boolean = false): DataFrame = {
    require(bits <= (if (portable) 40 else 60))
    // One native eval per document (tokenize + hash + vote + sign in a
    // single byte scan) — the declarative form below shuffled one row
    // per TOKEN into a `bits`-column sum aggregate. Bit-equality is
    // spec-pinned; a null text emits no row either way (the explode
    // dropped it; here the null text is filtered).
    graft.plans.SimHashExpr.register(docs.sparkSession)
    nonNullText(docs, text).select(col(id),
      call_function(graft.plans.SimHashExpr.Name, col(text), lit(bits),
        lit(portable)).as("simhash"))
  }

  /** The replaced explode + vote-aggregate SimHash — retained as the
    * native expression's bit-equality pin (the OPH/signature-table
    * discipline). */
  private[graft] def simhashTableDeclarative(
      docs: DataFrame, id: String, text: String,
      bits: Int = 32, portable: Boolean = false): DataFrame = {
    require(bits <= (if (portable) 40 else 60))
    val tok = docs.select(col(id).as("doc"),
      explode(Scalars.tokens(col(text))).as("tok"))
    val h =
      if (portable) conv(substring(md5(col("tok")), 1, 10), 16, 10).cast("long")
      else xxhash64(col("tok"))
    val withHash = tok.select(col("doc"), h.as("h"))
    val votes = withHash.groupBy("doc").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as("v0"),
      (1 until bits).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$i")): _*)
    val fp = (0 until bits).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    votes.select(col("doc").as(id), fp.as("simhash"))
  }

  /** SimHash near-dup pairs via bit-block LSH: fingerprints agreeing on
    * at least one of `blocks` contiguous bit blocks become candidates
    * (a pair within Hamming distance d must agree on ≥1 block when
    * d < blocks — pigeonhole), verified exactly with bit_count(xor).
    * Candidates come from [[bucketPairs]] on (block index, block
    * value), never a cross join. Portable=true uses the md5 fingerprint family so the
    * whole pipeline is oracle-checkable. */
  def simhashNearDupPairs(docs: DataFrame, id: String, text: String,
                          bits: Int = 16, blocks: Int = 4,
                          maxHamming: Int = 2, portable: Boolean = false,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    val fp = simhashTable(docs, id, text, bits, portable)
      .withColumnRenamed(id, "doc")
    verifyPairs(simhashBlockCandidates(fp, bits, blocks, maxHamming,
        maxBucketSize), fp, "simhash", "hamming",
      (a, b) => bit_count(a.bitwiseXOR(b)), _ <= maxHamming)
  }

  /** Block-agreement candidate stage of [[simhashNearDupPairs]], from a
    * (doc, simhash) fingerprint table. */
  private def simhashBlockCandidates(fp: DataFrame, bits: Int, blocks: Int,
                                     maxHamming: Int,
                                     maxBucketSize: Option[Int]): DataFrame = {
    require(bits % blocks == 0, "bits must divide into equal blocks")
    require(maxHamming < blocks,
      "pigeonhole guarantee needs maxHamming < blocks")
    val blockBits = bits / blocks
    val banded = fp.select(col("doc"),
      posexplode(array((0 until blocks).map { j =>
        shiftright(col("simhash"), j * blockBits)
          .bitwiseAND((1L << blockBits) - 1)
      }: _*)).as(Seq("blk_idx", "blk")))
    bucketPairs(banded, Seq("blk_idx", "blk"), "doc", maxBucketSize)
  }

  /** Candidate pairs of [[simhashNearDupPairs]] for external counting. */
  def simhashCandidates(docs: DataFrame, id: String, text: String,
                        bits: Int = 16, blocks: Int = 4,
                        maxHamming: Int = 2, portable: Boolean = false,
                        maxBucketSize: Option[Int] = None): DataFrame =
    simhashBlockCandidates(
      simhashTable(docs, id, text, bits, portable).withColumnRenamed(id, "doc"),
      bits, blocks, maxHamming, maxBucketSize)

  /** Per-row SimHash Column form: per bit position, sum +1/-1 votes
    * from the token hash bits; the sign vector is the fingerprint.
    * Near-dups differ in few bits (Hamming distance), so bucketing by
    * bit-blocks gives the scale path, mirroring the MinHash banding.
    * Prefer [[simhashTable]] on whole tables — it hashes each token
    * once; this form rehashes per bit inside the lambda. */
  def simhash(text: Column, bits: Int = 32): Column = {
    require(bits <= 60, "simhash bits drawn from a 64-bit hash")
    val t = Scalars.tokens(text)
    // Bit positions are unrolled statically (shift amounts must be Scala
    // ints); the vote vector is one array-aggregate over the tokens.
    val votes = aggregate(
      t,
      array_repeat(lit(0L), bits),
      (acc, tok) => {
        val h = xxhash64(tok)
        array((0 until bits).map { i =>
          element_at(acc, i + 1) +
            when(shiftright(h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)
        }: _*)
      })
    (0 until bits).map { i =>
      when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }
}
