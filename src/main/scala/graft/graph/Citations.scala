package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** Citation edge-list operators — the OpenCitations (OCI) feed plus the
  * graph analytics a corpus team runs on top of it.
  *
  * The reference treats OCI as a ~30 GB CSV dump of (oci, citing,
  * cited, …) rows and derives flat lists with Unix tools: drop the
  * header (`grep -vF 'oci,citing'`, ref: sources/oci.py:69-80), cut the
  * citing / cited column (ref: sources/oci.py:88-129), `sort -u` each
  * and their union (ref: sources/oci.py:132-196). Here the edge list is
  * a two-column DataFrame and every derived list is a projection +
  * distinct — the 100 TB shape is one hash shuffle per distinct, no
  * global sort (the reference's `sort -u` is an artifact of the
  * toolchain, not a semantic requirement).
  *
  * Beyond the reference we add the standard citation-graph analytics
  * (in-degree ranking, co-citation, bibliographic coupling,
  * self-citation share). Pair generation reuses the engine's bucketed
  * shape (see [[graft.llm.Dedup]]): members are collected per group in
  * ONE aggregation and pairs are emitted by a lambda over the sorted
  * member array, with a hard fan-out cap — never a two-branch
  * self-join, which would rescan the edge list and explode on hub
  * nodes (a review paper citing 5,000 works, a classic cited by
  * 100,000).
  */
object Citations {

  /** Rounds between lineage truncations inside iterative loops — small
    * enough that plan depth stays bounded, large enough that the
    * materialization cost amortizes over several joins. */
  private val LineageTruncateEvery = 5

  /** Parse raw OCI dump lines into (citing, cited) edges. Mirrors the
    * reference's stream filter: any line containing the header prefix
    * `oci,citing` is dropped wholesale (grep -vF semantics, ref:
    * sources/oci.py:76) and only the 2nd and 3rd comma fields survive
    * (ref: sources/oci.py:98,120). Raw duplicates are kept — dedup is a
    * downstream choice.
    *
    * DELIBERATE DIVERGENCE from the reference on malformed rows: its
    * `cut -d, -f2`/`-f3` passes a line WITHOUT any delimiter through
    * unchanged (cut's no-delimiter rule) and emits an empty field for a
    * short row, so a corrupt dump line becomes a garbage "DOI" in the
    * reference's lists. Here blank and <3-field rows are dropped — an
    * edge list with empty endpoints is never what a downstream graph
    * op wants. Only strict parity on dirty dumps would warrant the cut
    * behavior. */
  def fromCsvLines(lines: DataFrame, lineCol: String): DataFrame = {
    val f = split(col(lineCol), ",")
    lines
      .filter(!col(lineCol).contains("oci,citing"))
      .filter(size(f) >= 3 && f(1) =!= "" && f(2) =!= "")
      .select(f(1).as("citing"), f(2).as("cited"))
  }

  /** Unique citing DOIs (ref: sources/oci.py:132-151). */
  def citingUnique(edges: DataFrame): DataFrame =
    edges.select("citing").distinct()

  /** Unique cited DOIs (ref: sources/oci.py:154-173). */
  def citedUnique(edges: DataFrame): DataFrame =
    edges.select("cited").distinct()

  /** All DOIs appearing on either side (ref: sources/oci.py:176-196).
    * One explode pass over the edge list (a two-branch union would
    * scan — and at 100 TB, decompress — the edges twice), then one
    * hash-distinct. */
  def allDoisUnique(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(col("citing"), col("cited"))).as("doi"))
      .distinct()

  /** Most-cited ranking: in-degree per cited DOI, top k. Counting is a
    * map-side-combinable aggregation; the top-k is a TakeOrdered, never
    * a global sort. Ties break on the DOI so the cut is deterministic. */
  def mostCited(edges: DataFrame, k: Int): DataFrame =
    edges.groupBy("cited")
      .agg(count(lit(1)).as("n_citations"))
      .orderBy(col("n_citations").desc, col("cited"))
      .limit(k)

  /** Pairs of group members co-occurring under the same key, with the
    * number of keys they share. Each key's sorted distinct member set
    * comes from the capped aggregate ([[graft.llm.Dedup.bucketMembers]];
    * groups outside [2, `maxGroupSize`] are dropped — the hub cap: a
    * review paper citing thousands of works would otherwise emit O(n²)
    * pairs), then pairs are exploded from each member array and
    * re-counted. Output: (a, b, n_shared), a < b.
    *
    * Measured and rejected (r10): running the quadratic stage on dense
    * int member ids (order-preserving dict, strings joined back only
    * for the minShared survivors) to thin the pair shuffle. At sf0.1
    * (600 K edges, ~8.7 M pairs) the extra dict lineage — a distinct +
    * id assignment + one more scan-join of the edge list — costs more
    * than the narrower shuffle saves (6.0-6.6 s vs 4.3-4.7 s for this
    * string version, dict localCheckpointed). The pair-count shuffle is
    * ~2.7 s of the total and partial-aggregates poorly (pairs are
    * mostly unique), so the string bytes are not the bottleneck the
    * per-element width suggests. At a scale where the dict join
    * amortizes (hub-capped pair count grows linearly with keys while
    * the dict stays vertex-sized), revisit with a zipWithIndex-style
    * id assignment. */
  private def coOccurrencePairs(assignments: DataFrame, key: String,
                                member: String, minShared: Int,
                                maxGroupSize: Int): DataFrame = {
    // Hub screening and member collection are ONE bounded aggregation,
    // so the raw dump is scanned once (a count-first screen joined back
    // scanned and parsed it twice).
    graft.llm.Dedup.bucketMembers(assignments, Seq(key), col(member),
        Some(maxGroupSize))
      // Explicit fan-out before the pair explosion: the member-array
      // table is tiny in BYTES (one compact array per key), so AQE's
      // byte-targeted coalescing would pack it into a handful of
      // partitions — and the ≤ maxGroupSize²/2-per-row pair explosion
      // plus its partial aggregation would run near-serially. A
      // user-specified repartition is exempt from AQE coalescing and
      // spreads the CPU-bound explosion across the cluster; hashing on
      // the (unique post-aggregation) group key rather than
      // round-robin, because round-robin pays sortBeforeRepartition —
      // a within-partition sort over the member ARRAYS — for retry
      // determinism the hash layout gets for free.
      .repartition(assignments.sparkSession.sessionState.conf
        .numShufflePartitions, col(key))
      .select(graft.llm.Dedup.memberPairs(col("ds")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Co-citation: cited works that appear together in some citing
    * work's reference list, scored by how many citing works share
    * them. The classic "related papers" signal. */
  def coCitedPairs(edges: DataFrame, minShared: Int = 2,
                   maxReferences: Int = 64): DataFrame =
    coOccurrencePairs(edges, "citing", "cited", minShared, maxReferences)

  /** Bibliographic coupling: citing works that share cited references,
    * scored by the size of the shared bibliography. The transpose of
    * co-citation; the cap bounds the fan-out of heavily-cited hubs. */
  def couplingPairs(edges: DataFrame, minShared: Int = 2,
                    maxCiters: Int = 64): DataFrame =
    coOccurrencePairs(edges, "cited", "citing", minShared, maxCiters)

  /** DOI registrant prefix (`10.NNNN`) — the publisher-level grouping
    * key (ref: sources/crossref.py:620 uses the same split). */
  def doiPrefix(doi: Column): Column = substring_index(doi, "/", 1)

  /** Fixed-iteration PageRank over the citation graph, damping `d`,
    * dangling mass ignored (the standard simplification; both the
    * oracle and this implementation state it identically). Returns
    * (doi, rank) with rank NORMALIZED to mean 1 (multiplied by the
    * vertex count) so values are O(1) and a fixed rounding survives
    * cross-engine float-sum ordering.
    *
    * Scale shape: per iteration, one equi-join of the edge list with
    * the rank table on the source vertex and one hash aggregation on
    * the target — both keyed by vertex id, so at 100 TB the edge list
    * is hash-partitioned (or bucketed, [[graft.pipeline.Bucketing]])
    * by `citing` once and every iteration reuses the layout. Iteration
    * count is a parameter, not a convergence loop — the caller bounds
    * work explicitly (the d8 connected-components operator shows the
    * convergence-loop variant with lineage truncation). */
  /** Shared iteration skeleton for both PageRank variants. The value
    * column is named `__v` inside the loop; `contribution` is an
    * expression over (`__v`, `deg`), `update` over (`inflow`). The
    * deduped edge list is read 2 + 2·iterations times (vertices,
    * degrees, per-iteration contributions); [[graft.Checkpoints]]
    * materializes it once instead of re-running the upstream parse
    * lineage on every use (the d8 connected-components pattern). */
  private def pageRankLoop(edges: DataFrame, iterations: Int,
                           init: Column, contribution: Column,
                           update: Column, valueName: String): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    // The edge list is laid out by `citing` BEFORE materialization so
    // every iteration's contribution join reads it in place — the
    // distinct's (citing, cited) partitioning satisfies no
    // single-column join, so without the explicit layout each
    // iteration re-shuffles all edges. checkpoint() preserves the
    // partitioning in the LogicalRDD, so the layout survives the
    // truncation. `verts` is materialized with cache(), NOT the
    // checkpoint persist: each iteration's rank update re-derives the
    // vertex distinct under fresh expression ids, so ReuseExchange
    // cannot dedupe it across the nested lineage (measured: 30 s vs
    // 17 s for the 2-iteration ×16 heavy graph without/with the
    // materialization) — but a checkpointed vertex table is a
    // stats-less RDD scan the small-scale planner can only
    // sort-merge-join (the plan gate forbids SMJ; at size the
    // vertex×vertex rank update hash-joins under AQE), while
    // InMemoryRelation keeps sizeInBytes visible and broadcasts where
    // it should. The cache lives until the session reaps it — the
    // standard end-of-job unpersist discipline applies to callers
    // embedding this in a long-lived session.
    // Measured and rejected (r20, same-window min-of-3 light+heavy):
    // folding the out-degree INTO the materialized edge table (setup
    // agg + SHUFFLE_HASH-hinted attach join, partition-local after the
    // repartition) to drop the per-iteration ⋈outdeg. Light 2.88 →
    // 3.14 s, heavy 8.85 → 9.39 s. The fold widens every iteration's
    // edges⋈ranks exchange payload by a long per edge and pays a setup
    // join, while the broadcast outdeg build it removes was already
    // reused across iterations within each executed plan (the
    // DataFrame is defined once, so its exchange subtree is
    // canonically identical every round). The r19 window-count variant
    // lost the same way plus a per-partition sort.
    val e = edges.select(col("citing"), col("cited")).distinct()
      .repartition(col("citing")).truncateLineage()
    val verts = allDoisUnique(e).cache()
    // Populate eagerly: an UN-materialized InMemoryRelation reports
    // the default (effectively infinite) size, which poisons every
    // downstream join estimate — both update joins then plan as SMJ
    // even at fixture scale. Materialized, the relation reports its
    // real bytes and the planner broadcasts where it should. (The
    // loop is already eager through its periodic checkpoints; this
    // adds one vertex-distinct job at call time.)
    verts.count()
    val outdeg = e.groupBy("citing").agg(count(lit(1)).as("deg"))
    var ranks = verts.withColumn("__v", init)
    for (i <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("doi", "citing"), Seq("citing"))
        .join(outdeg, Seq("citing"))
        .select(col("cited").as("doi"), contribution.as("c"))
        .groupBy("doi").agg(sum(col("c")).as("inflow"))
      // The rank update is vertex × vertex — at size NEITHER side is
      // broadcastable, and the static estimate for `contrib` is the
      // product-of-children garbage simple estimation produces at
      // iteration depth (it flips between broadcast and sort-merge
      // depending on nesting). Pin it to a shuffled hash join: hash on
      // narrow vertex-keyed rows beats sorting both sides, and the
      // partition-local build (|V|/partitions rows) fits executor
      // memory wherever the rank table itself does.
      ranks = verts
        .join(contrib.hint("SHUFFLE_HASH"), Seq("doi"), "left")
        .select(col("doi"), update.as("__v"))
      // Truncate the rank table's lineage periodically: each iteration
      // nests the previous one's joins into the plan, so past ~10
      // rounds analysis/optimization time grows superlinearly even
      // though execution per round is flat (same failure d8's
      // duplicateGroups guards against). Materializing every few
      // rounds bounds plan depth at O(k) while amortizing the
      // checkpoint cost; a cluster deployment points
      // spark.graft.checkpoint.dir at durable storage.
      if (i % LineageTruncateEvery == 0 && i < iterations)
        ranks = ranks.truncateLineage()
    }
    ranks.withColumnRenamed("__v", valueName)
  }

  def pageRank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85): DataFrame =
    pageRankLoop(edges, iterations,
      // Normalized start: every vertex at rank 1 (= N × 1/N).
      init = lit(1.0),
      contribution = col("__v") / col("deg"),
      update = lit(1.0 - damping) +
        lit(damping) * coalesce(col("inflow"), lit(0.0)),
      valueName = "rank")

  /** Fixed-point (integer-mass) PageRank: identical recurrence to
    * [[pageRank]] but in exact integer arithmetic — every vertex
    * starts with `massUnit` units, a vertex sends `mass div deg` along
    * each out-edge, and the damping update is
    * `(15·massUnit) div 100 + (85·inflow) div 100`.
    *
    * Why it exists: float PageRank is order-sensitive in its sums —
    * two engines (or two retries of a speculated task) can disagree in
    * the last bit, and any fixed-point export then flips on exact-tie
    * values (observed: 3/16743 vertices landed exactly on a ppm
    * half-boundary). Integer division and bigint sums are bit-exact
    * everywhere, so this variant is reproducible across engines,
    * retries, and partitionings — the property a 100 TB nightly job
    * actually wants. Truncation error is ≤ deg units per vertex per
    * iteration, i.e. ~1e-9 relative at the default unit.
    *
    * Overflow headroom (ANSI mode throws on long overflow, so this is
    * load-bearing): total system mass = N·massUnit; the damping
    * multiply peaks at 85·(worst single-vertex inflow) ≤ 85·N·massUnit
    * — at massUnit 1e9 that allows N up to ~10⁸ vertices. */
  def pageRankExact(edges: DataFrame, iterations: Int,
                    massUnit: Long = 1000000000L): DataFrame =
    pageRankLoop(edges, iterations,
      init = lit(massUnit),
      contribution = expr("__v div deg"),
      update = lit(15L * massUnit / 100) +
        expr("(85 * coalesce(inflow, 0L)) div 100"),
      valueName = "mass")

  /** Per citing-prefix self-citation share: of the edges a registrant
    * prefix emits, how many stay within the same prefix. One
    * aggregation, counters combined map-side. */
  def selfCitationByPrefix(edges: DataFrame): DataFrame =
    edges
      .groupBy(doiPrefix(col("citing")).as("prefix"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(when(doiPrefix(col("citing")) === doiPrefix(col("cited")), 1L)
          .otherwise(0L)).as("n_self"))
      .withColumn("self_share",
        col("n_self").cast("double") / col("n_edges").cast("double"))
}
