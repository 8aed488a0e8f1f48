package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** Persisted vector-index artifacts for the ANN family — the
  * [[BandStore]] contract applied to IVF-PQ: production ANN serves
  * from a PERSISTED index (FAISS writes its coarse centroids, PQ
  * codebooks and inverted lists to disk once and searches them for
  * months), it does not retrain per query. This store owns that
  * artifact and ENFORCES its model contract instead of documenting it:
  * a search against centroids from one training run and codes from
  * another, or a codebook with a different (m, dim) split, returns
  * plausible-looking garbage — ranks computed from lookup tables that
  * never matched the stored codes. So every write drops a
  * `_params.json` sidecar, every read verifies it (plus the structural
  * facts of the model tables) and refuses loudly on drift, exactly
  * [[BandStore]]'s discipline for the LSH band artifact.
  *
  * Layout under `dir`: `centroids/` (cluster, centroid) — the coarse
  * quantizer; `codebook/` (subspace, code, centroid) — the residual PQ
  * model; `codes/` (id, cluster, codes) — the inverted lists, the only
  * per-document component and therefore the only one [[append]] grows
  * and [[delete]] (takedown) rewrites.
  *
  * `codes/` is SEGMENTED: it holds one `seg_*` parquet directory per
  * committed build or increment, and readers take the union of
  * committed segments (`_SUCCESS` present). [[append]] therefore costs
  * O(increment) I/O — it writes the encoded increment as its own
  * segment to a temp name inside `codes/` and promotes it with one
  * rename — instead of rewriting the whole inverted-list table per
  * nightly increment (which would make cumulative append I/O quadratic
  * in index size). Atomicity is preserved: a reader lists segments at
  * read time and sees the new segment entirely or not at all, never a
  * torn file, and an un-promoted temp is invisible to readers.
  * [[delete]] and [[compact]] rewrite the union into a single fresh
  * segment under the whole-unit crash-safe swap, which also bounds
  * segment-count growth between takedowns. All filesystem access goes
  * through the Hadoop FileSystem API so the artifact can live on
  * HDFS/object storage.
  *
  * Artifacts OUTLIVE the code that wrote them: layout 1 (the previous
  * scheme — `codes/` as ONE flat parquet directory with a top-level
  * `_SUCCESS`) stays readable forever (the flat directory is treated
  * as the implicit base segment), and the first [[append]] migrates it
  * in place — two renames move the flat directory to `codes/seg_base`,
  * crash-recoverable at every step — before the new segment lands
  * next to it. A deploy must never brick a persisted index: at 100 TB
  * nobody re-encodes the corpus because the store code was upgraded.
  */
object IndexStore {

  /** The model fingerprint of a vector-index artifact. */
  case class Params(dim: Int, clusters: Int, m: Int, k: Int) {
    require(m >= 1 && dim % m == 0,
      s"IndexStore.Params: dim ($dim) must divide into m ($m) subspaces")
    def render: String =
      s"""{"dim":$dim,"clusters":$clusters,"m":$m,"k":$k}"""
  }

  /** The verified artifact: coarse centroids, residual codebook, and
    * the encoded corpus (inverted lists, id column named `id`). */
  case class Index(centroids: DataFrame, codebook: DataFrame,
                   codes: DataFrame)

  private val Sidecar = ArtifactStore.Sidecar
  private val CentroidsDir = "centroids"
  private val CodebookDir = "codebook"
  private val CodesDir = "codes"
  // The compacted segment a build/delete/compact writes; appends add
  // monotonically-named siblings next to it.
  private val SegBase = "seg_base"
  private val SegPrefix = "seg_"
  private val SegTmpPrefix = "_tmp_seg_"
  // Mid-migration holding name for a layout-1 flat codes/ dir.
  private val MigrateDir = "_migrate_codes"
  // Present while write() replaces the model tables + codes: the three
  // components cannot promote atomically (they are separate swap
  // units), so a crash mid-rebuild is detected by this marker and
  // refused loudly at read — WITHOUT it, a rebuild under unchanged
  // params that died between the model-table writes and the codes swap
  // would pair new centroids/codebooks with old codes and pass every
  // structural check (the silent franken-model).
  private val RebuildMarker = "_rebuild_in_progress"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    ArtifactStore.fs(spark, dir)

  /** The committed `codes/` segments: children carrying a `_SUCCESS`
    * marker under a `seg_` name. Un-promoted temps (`_tmp_seg_*`) and
    * half-written segments are invisible by construction. A layout-1
    * artifact — `codes/` itself one flat committed parquet directory —
    * reads as its own implicit base segment, so pre-segmentation
    * indexes stay servable without a rebuild (writer paths migrate
    * them on first touch; see [[migrateLegacyCodes]]). */
  private def codeSegments(f: FileSystem, dir: String): Seq[Path] = {
    val root = new Path(dir, CodesDir)
    if (!f.exists(root)) return Seq.empty
    val segs = f.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(SegPrefix) &&
        f.exists(new Path(p, "_SUCCESS")))
      .sortBy(_.getName)
    if (segs.nonEmpty) {
      // seg_* children next to a top-level _SUCCESS means flat
      // layout-1 files share the directory with segments — a state no
      // writer produces (append migrates first). Reading only the
      // segments would silently drop the flat base corpus; refuse.
      require(!f.exists(new Path(root, "_SUCCESS")),
        s"IndexStore: $dir/$CodesDir mixes flat layout-1 files with " +
          "seg_* segments — the artifact was edited out-of-band; " +
          "restore one layout before serving")
      segs
    } else if (f.exists(new Path(root, "_SUCCESS"))) Seq(root)
    else Seq.empty
  }

  private def readCodes(spark: SparkSession, dir: String): DataFrame = {
    val segs = codeSegments(fs(spark, dir), dir)
    require(segs.nonEmpty,
      s"IndexStore: no committed code segments under $dir/$CodesDir " +
        "(neither seg_* children nor a flat layout-1 parquet dir carry " +
        "a _SUCCESS marker) — the artifact is absent, half-written, or " +
        "was edited out-of-band")
    spark.read.parquet(segs.map(_.toString): _*)
  }

  /** Upgrade a layout-1 flat `codes/` in place: two renames move the
    * committed flat directory to `codes/seg_base`, after which segment
    * listing is the ONLY read shape. Writer-path only (single-writer
    * contract), called by [[append]] before its segment lands —
    * without this, flat files and `seg_*` children would share one
    * directory and the flat part could no longer be read as a plain
    * parquet root. Each crash window is recovered by
    * [[finishMigration]]: after step 1 `codes/` is missing and
    * `_migrate_codes` holds the data; after step 2 `codes/` is empty;
    * step 3 completes the move. */
  private def migrateLegacyCodes(f: FileSystem, dir: String): Unit = {
    val root = new Path(dir, CodesDir)
    val legacy = f.exists(new Path(root, "_SUCCESS")) &&
      !f.listStatus(root).exists(_.getPath.getName.startsWith(SegPrefix))
    if (!legacy) return
    val hold = new Path(dir, MigrateDir)
    if (!f.rename(root, hold))
      throw new java.io.IOException(
        s"IndexStore: cannot stage layout-1 codes for migration at $dir")
    finishMigration(f, dir)
  }

  /** Complete an interrupted layout-1 migration (idempotent, called by
    * every entry point): if the holding dir exists, the flat codes are
    * mid-move — put them at `codes/seg_base`. Tolerates losing the
    * completion race (recoverSwap's discipline): a failed rename with
    * the destination present and the holding dir gone means another
    * entry point finished the move first. */
  private def finishMigration(f: FileSystem, dir: String): Unit = {
    val hold = new Path(dir, MigrateDir)
    if (!f.exists(hold)) return
    val root = new Path(dir, CodesDir)
    f.mkdirs(root)
    val dest = new Path(root, SegBase)
    if (!f.rename(hold, dest) && !(f.exists(dest) && !f.exists(hold)))
      throw new java.io.IOException(
        s"IndexStore: cannot complete layout-1 codes migration at $dir")
  }

  /** Train an IVF-PQ index over `emb` and persist it (overwrite) with
    * its parameter sidecar: deterministic-Lloyd coarse centroids,
    * residual PQ codebooks, full-corpus encode. `trainPct < 100`
    * trains both models on a deterministic [[Corpus.hashSample]] — the
    * 100 TB shape (Lloyd scans the training set per iteration; models
    * need thousands of vectors, not billions) — while assignment and
    * encoding always cover the full corpus. */
  def build(emb: DataFrame, id: String, vec: String, dir: String,
            params: Params, iters: Int = 3, trainPct: Int = 100,
            trainSeed: String = "ivfpqtrain"): Unit = {
    val train =
      if (trainPct >= 100) emb
      else Corpus.hashSample(emb, id, trainPct, trainSeed)
    // Both trainers run driver-local over the (sampled, bounded) train
    // set — bit-identical to the distributed loops (DedupSpec-pinned),
    // without paying scheduled jobs per Lloyd iteration at build time.
    val cents = Similarity.kmeansCentroidsLocal(train, id, vec,
      params.clusters, iters)
    // Materialized once: the assignment feeds both the codebook
    // training branch and the encode branch (the e12 discipline).
    val assign = Similarity.assignToCentroids(emb, id, vec, cents)
      .truncateLineage()
    val withC = emb.join(assign, Seq(id))
    val cbTrain =
      if (trainPct >= 100) withC
      else Corpus.hashSample(withC, id, trainPct, trainSeed)
    val cb = Similarity.ivfpqTrainLocal(cbTrain, id, vec, "cluster",
      cents, params.m, params.k, iters, params.dim)
    val codes = Similarity.ivfpqEncode(withC, id, vec, "cluster", cents,
      cb, params.m, params.dim)
    write(cents, cb, codes.withColumnRenamed(id, "id"), dir, params)
  }

  /** Persist already-computed artifacts (overwrite) with the sidecar.
    * The caller asserts all three were produced by ONE training run
    * under `params`; `codes`' id column must be named `id`.
    *
    * Maintenance-window only, like [[delete]]/[[compact]]: the model
    * tables are replaced in place (Spark overwrite = delete-then-write),
    * so a reader that passed the rebuild-marker check just before this
    * starts can scan a half-deleted `centroids/`/`codebook/`. The marker
    * protects readers that ENTER during the rebuild, not ones already
    * past the check — only [[append]] (post-migration) is safe against
    * concurrent readers. */
  def write(centroids: DataFrame, codebook: DataFrame, codes: DataFrame,
            dir: String, params: Params): Unit = {
    val spark = codes.sparkSession
    val f = fs(spark, dir)
    recoverSwap(f, dir)
    // Marker up BEFORE any component is touched, down after the last
    // one commits: a crash anywhere inside leaves the marker, and
    // read() refuses the possibly-mixed-generation artifact loudly
    // instead of serving neighbors ranked against the wrong model.
    ArtifactStore.writeSidecar(f, new Path(dir, RebuildMarker), "{}")
    centroids.write.mode("overwrite").parquet(s"$dir/$CentroidsDir")
    codebook.write.mode("overwrite").parquet(s"$dir/$CodebookDir")
    // A full (re)build replaces ALL segments, not just the base one —
    // via the whole-unit crash-safe swap: the replacement seg_base is
    // fully written to a temp first, so no crash window exists in
    // which the live index has NO codes at all (a bare delete-then-
    // write left exactly that window, destroying appended segments
    // before the replacement existed).
    ArtifactStore.cleanStaleTmps(f, dir, CodesDir)
    val tmp = ArtifactStore.newTmpPath(dir, CodesDir)
    codes.write.mode("overwrite").parquet(s"$tmp/$SegBase")
    ArtifactStore.commitSwap(f, dir, CodesDir, tmp, Seq(SegBase),
      "IndexStore", "write")
    writeSidecar(f, new Path(dir, Sidecar), params)
    f.delete(new Path(dir, RebuildMarker), false)
  }

  /** The artifact, verified against the caller's parameters AND the
    * structural facts of the stored model (the drift guard): centroid
    * and codebook dimensions, subspace count, code range. A model
    * table corrupted or swapped out-of-band fails here, loudly, not as
    * silently wrong neighbor lists. */
  def read(spark: SparkSession, dir: String, params: Params): Index = {
    val f = fs(spark, dir)
    recoverSwap(f, dir)
    // A leftover rebuild marker means write() died mid-replacement:
    // the components may straddle two training runs (and can pass
    // every structural check when params were unchanged), so refuse.
    if (f.exists(new Path(dir, RebuildMarker)))
      throw new IllegalStateException(
        s"IndexStore.read: a rebuild of $dir was interrupted " +
          s"($RebuildMarker present) — the model tables and codes may " +
          "come from different training runs; re-run build() to " +
          "restore a consistent artifact")
    requireParams(spark, dir, params, "read")
    // The code segments are _SUCCESS-gated by construction; the model
    // tables get the same torn-write guard (a truncated codebook with
    // all subspaces present would pass the structural checks and rank
    // by lookup tables that never matched the codes).
    Seq(CentroidsDir, CodebookDir).foreach(c =>
      ArtifactStore.requireCommitted(f, dir, c, Nil, "IndexStore"))
    val cents = spark.read.parquet(s"$dir/$CentroidsDir")
    val cb = spark.read.parquet(s"$dir/$CodebookDir")
    val codes = readCodes(spark, dir)
    // Model tables are clusters×dim and m×k×(dim/m) — tiny by
    // construction (they broadcast in every search), so these checks
    // cost two driver-side aggregates.
    val cRow = cents.agg(count(lit(1)), min(size(col("centroid"))),
      max(size(col("centroid")))).head()
    require(cRow.getLong(0) >= 1 && cRow.getLong(0) <= params.clusters &&
        cRow.getInt(1) == params.dim && cRow.getInt(2) == params.dim,
      s"IndexStore.read: centroids at $dir are structurally inconsistent " +
        s"with ${params.render} (count=${cRow.getLong(0)}, " +
        s"dim=${cRow.getInt(1)}..${cRow.getInt(2)})")
    val bRow = cb.agg(max(col("subspace")), min(size(col("centroid"))),
      max(size(col("centroid"))), max(col("code"))).head()
    require(bRow.getInt(0) + 1 == params.m &&
        bRow.getInt(1) == params.dim / params.m &&
        bRow.getInt(2) == params.dim / params.m &&
        bRow.getInt(3) < params.k,
      s"IndexStore.read: codebook at $dir is structurally inconsistent " +
        s"with ${params.render} (subspaces=${bRow.getInt(0) + 1}, " +
        s"sub-dim=${bRow.getInt(1)}..${bRow.getInt(2)}, " +
        s"maxCode=${bRow.getInt(3)})")
    Index(cents, cb, codes)
  }

  /** Encode `increment` with the STORED model and grow the inverted
    * lists — the nightly ANN-index growth path (the corpus is never
    * re-encoded, the model is never retrained). Refuses on parameter
    * mismatch. Like [[BandStore.append]], ids must be disjoint from
    * the stored corpus — the store cannot check that without scanning
    * the lists.
    *
    * Costs O(increment), not O(index): the encoded increment becomes
    * its OWN committed segment — fully written to a temp name inside
    * `codes/` (invisible to readers), `_SUCCESS`-verified, then
    * promoted with one rename. A crash leaves either no new segment or
    * the whole one, never a torn list, and a concurrent reader (e.g. a
    * [[graft.streaming.StreamingSearch]] batch) sees the old segment
    * set or old+new, never a mix. Exception: the FIRST append over a
    * layout-1 artifact performs the one-time in-place migration
    * (renames the flat `codes/` to `codes/seg_base`), which is NOT
    * reader-atomic — run that one upgrade append in a maintenance
    * window, like [[delete]]; every later append is reader-safe as
    * described. Rewriting the whole table per append (the pre-segment
    * design) made cumulative nightly I/O quadratic in index size. */
  def append(increment: DataFrame, id: String, vec: String, dir: String,
             params: Params): Unit = {
    val spark = increment.sparkSession
    val ix = read(spark, dir, params)
    val assign = Similarity.assignToCentroids(increment, id, vec,
      ix.centroids)
    val withC = increment.join(assign, Seq(id))
    val seg = Similarity.ivfpqEncode(withC, id, vec, "cluster",
        ix.centroids, ix.codebook, params.m, params.dim)
      .withColumnRenamed(id, "id")
    val f = fs(spark, dir)
    // Writer path: a layout-1 artifact is upgraded in place before the
    // new segment lands (flat files and segments never share a dir).
    migrateLegacyCodes(f, dir)
    // Clear crash debris from earlier aborted appends.
    f.listStatus(new Path(dir, CodesDir)).map(_.getPath)
      .filter(_.getName.startsWith(SegTmpPrefix))
      .foreach(t => f.delete(t, true))
    // Monotonic segment token (ArtifactStore's temp-name discipline):
    // names sort in append order, and the promoted name can never
    // collide with an existing segment.
    val token = f"${System.currentTimeMillis}%013d" + "_" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(dir, s"$CodesDir/$SegTmpPrefix$token")
    seg.write.mode("overwrite").parquet(tmp.toString)
    if (!ArtifactStore.verifyComplete(f, tmp, Nil))
      throw new java.io.IOException(
        s"IndexStore.append: increment segment at $tmp is incomplete " +
          "(missing _SUCCESS) — refusing to promote it")
    val dest = new Path(dir, s"$CodesDir/$SegPrefix$token")
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(
        s"IndexStore.append: cannot promote segment $tmp at $dir")
  }

  /** Remove `ids` (first column) from the inverted lists — the
    * takedown path, [[BandStore.delete]]'s write-rename-rename-delete
    * swap on the `codes/` component. The model tables and sidecar are
    * untouched (a takedown never changes the trained model); a deleted
    * vector can never again appear as a neighbor. Rewrites the union
    * of segments into one fresh base segment, so every takedown is
    * also a [[compact]]ion. Not concurrency-safe against a running
    * reader — maintenance-window only. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val key = ids.columns.head
    rewriteCodes(spark, dir, "delete", codes => codes
      .join(broadcast(ids.select(col(key).as("id")).distinct()),
        Seq("id"), "left_anti"))
  }

  /** Fold all appended segments back into one base segment (contents
    * unchanged) — run occasionally so the segment count stays bounded
    * between takedowns. Maintenance-window only, like [[delete]]. */
  def compact(spark: SparkSession, dir: String): Unit =
    rewriteCodes(spark, dir, "compact", identity)

  /** The shared delete/compact shape: read the committed union,
    * transform it, write the result as a single `seg_base` inside a
    * whole-unit temp, and promote with the crash-safe swap. */
  private def rewriteCodes(spark: SparkSession, dir: String, op: String,
                           transform: DataFrame => DataFrame): Unit = {
    val params = readParams(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"IndexStore: no artifact at $dir (missing $Sidecar)"))
    val out = transform(read(spark, dir, params).codes)
    val f = fs(spark, dir)
    ArtifactStore.cleanStaleTmps(f, dir, CodesDir)
    val tmp = ArtifactStore.newTmpPath(dir, CodesDir)
    out.write.mode("overwrite").parquet(s"$tmp/$SegBase")
    ArtifactStore.commitSwap(f, dir, CodesDir, tmp, Seq(SegBase),
      "IndexStore", op)
  }

  /** Production search: ADC shortlist from the persisted index, exact
    * re-rank against the caller's raw-vector `corpus` table (raw
    * vectors live with the corpus, not in the index — the index stores
    * codes precisely so the search never scans floats). */
  def searchTopKRerank(spark: SparkSession, dir: String, params: Params,
                       corpus: DataFrame, queries: DataFrame, qid: String,
                       vec: String, k: Int, nprobe: Int = 2,
                       overscan: Int = 4): DataFrame = {
    val ix = read(spark, dir, params)
    Similarity.ivfpqTopKRerank(ix.codes.withColumnRenamed("id", qid),
      ix.centroids, ix.codebook, corpus, queries, qid, vec, k, nprobe,
      overscan, params.m, params.dim)
  }

  /** Complete a [[delete]] swap interrupted by a crash — the shared
    * [[ArtifactStore.recoverSwap]] discipline on the `codes/`
    * component. Idempotent; called by every entry point. */
  private def recoverSwap(f: FileSystem, dir: String): Unit = {
    ArtifactStore.recoverSwap(f, dir, CodesDir, Seq(SegBase),
      "IndexStore")
    finishMigration(f, dir)
  }

  /** The stored parameters, or None when no artifact exists. */
  def readParams(spark: SparkSession, dir: String): Option[Params] =
    ArtifactStore.readSidecarText(fs(spark, dir), dir).map { text =>
      def intOf(key: String): Int =
        ArtifactStore.intField(text, key, "IndexStore", dir)
      Params(intOf("dim"), intOf("clusters"), intOf("m"), intOf("k"))
    }

  private def writeSidecar(f: FileSystem, p: Path, params: Params): Unit =
    // `layout` stamps the directory scheme (2 = segmented codes/), so
    // the next layout evolution is explicit instead of inferred from
    // file positions; parameter equality ignores it, and a layout-1
    // sidecar (no field) parses identically.
    ArtifactStore.writeSidecar(f, p,
      ArtifactStore.withLayout(params.render, 2))

  private def requireParams(spark: SparkSession, dir: String,
                            expected: Params, op: String): Unit =
    readParams(spark, dir) match {
      case None =>
        throw new IllegalStateException(
          s"IndexStore.$op: no $Sidecar sidecar at $dir — refusing to " +
            "search an index whose model parameters are unknown (a " +
            "mismatch returns silently wrong neighbors)")
      case Some(stored) if stored != expected =>
        throw new IllegalStateException(
          s"IndexStore.$op: parameter mismatch at $dir — artifact built " +
            s"with ${stored.render}, caller expects ${expected.render}; " +
            "searching across models yields silently wrong neighbors")
      case _ => ()
    }
}
