package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k for a *small* query set —
  *    the query side is broadcast, so the big side streams through one
  *    scan (no shuffle of the corpus).
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — corpus and queries
  *    hash to sign-pattern buckets; only bucket-cohabitants are scored.
  *    This is the 100 TB path: bucket join instead of query×corpus.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
                        lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
                            lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
                            lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** The native codegen'd cosine (graft.plans.CosineSimilarityExpr) —
    * bit-identical to [[cosine]] but a fused float loop inside
    * whole-stage codegen instead of interpreted HOF lambdas. Registers
    * the function on first use (idempotent). */
  def cosineNative(spark: org.apache.spark.sql.SparkSession,
                   a: Column, b: Column): Column = {
    graft.plans.GraftFunctions.register(spark)
    call_function(graft.plans.GraftFunctions.Name, a, b)
  }

  /** Exact top-k neighbors for each query vector (queries broadcast;
    * excludes self-matches when ids collide). Ties broken by neighbor id
    * so results are deterministic. `cosineFn` lets callers swap in the
    * native expression. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     id: String, vec: String, k: Int,
                     cosineFn: (Column, Column) => Column = cosine): DataFrame = {
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("qv")))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    topKBySim(c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineFn(col("qv"), col("cv"))), k)
  }

  /** The per-query cut of every search here: ranks each query_id's
    * rows by `order` into `rank` (row_number; the order's last key
    * breaks ties, so ranks are deterministic) and keeps ranks ≤ `k`. */
  private def rankPerQuery(rows: DataFrame, k: Int, order: Column*): DataFrame =
    rows.withColumn("rank",
        row_number().over(Window.partitionBy("query_id").orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** (query_id, neighbor_id, rank, sim ROUND 4): top-k by cosine,
    * ties to the smaller neighbor id. */
  private def topKBySim(scored: DataFrame, k: Int): DataFrame =
    rankPerQuery(scored, k, col("sim").desc, col("neighbor_id").asc)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim"), 4).as("sim"))

  /** (query_id, neighbor_id, rank, dist): top-k by distance, ties to the
    * smaller neighbor id. */
  private def topKByDist(scored: DataFrame, k: Int): DataFrame =
    rankPerQuery(scored, k, col("dist").asc, col("neighbor_id").asc)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("dist"))

  /** Each (query_id, qv, …) row's `nprobe` nearest centroids by
    * cosine, ties to the smaller cluster id: both sides are tiny and
    * broadcast. Rows keep `cluster` and `centroid`. */
  private def probeCentroids(q: DataFrame, centroids: DataFrame,
                             nprobe: Int): DataFrame =
    rankPerQuery(broadcast(q).join(broadcast(centroids), lit(true))
      .withColumn("__csim", cosine(col("qv"), col("centroid"))),
      nprobe, col("__csim").desc, col("cluster"))

  /** Sign-pattern LSH bucket id for one hash table: `planes`
    * pseudo-random hyperplanes with ±1 components derived
    * deterministically from xxhash64(table, plane, dim) — no stored
    * model, identical on every executor. */
  def lshBucket(vec: Column, table: Int, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dotSign = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)),
          (x, i) => x.cast("double") *
            when(xxhash64(lit(table), lit(p), i).bitwiseAND(1) === 1, 1.0)
              .otherwise(-1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(dotSign > 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All tables' bucket ids as one array<int> (index = table), via the
    * native fused expression [[graft.plans.SignLshBucketsExpr]] —
    * bucket-for-bucket identical to [[lshBucket]] but ~tables×planes×dim
    * interpreted hash calls per row cheaper. Pair with `posexplode` to
    * recover (tbl, bkt) rows. */
  def lshBucketsAll(spark: org.apache.spark.sql.SparkSession, vec: Column,
                    tables: Int, planes: Int, dim: Int): Column = {
    graft.plans.GraftFunctions.register(spark)
    call_function(graft.plans.GraftFunctions.LshName,
      vec, lit(tables), lit(planes), lit(dim))
  }

  /** IVF-style ANN: corpus vectors are pre-assigned to clusters
    * (`clusterCol` — here the data's label column; a deployment uses
    * k-means assignments computed the same way); per-cluster centroids
    * are averaged per dimension, queries probe their `nprobe` nearest
    * centroids, and only those clusters' members are scored exactly.
    *
    * Scale shape: centroids are tiny (clusters × dim) and broadcast;
    * the corpus joins on its cluster id (equi-join, no pairwise work
    * outside probed clusters). Recall is tunable via nprobe.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              id: String, vec: String, clusterCol: String,
              k: Int, nprobe: Int = 2): DataFrame = {
    // Per-dimension mean per cluster: posexplode → avg → re-assemble.
    val centroids = corpus
      .select(col(clusterCol).as("cluster"), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

    val probes = probeCentroids(
      queries.select(col(id).as("query_id"), col(vec).as("qv")), centroids, nprobe)
      .select(col("query_id"), col("qv"), col("cluster"))
    // Exact scoring through the fused native cosine; the probe-side
    // centroid cosine stays the HOF form (centroids are array<double>
    // from avg()).
    topKBySim(corpus
      .select(col(id).as("neighbor_id"), col(vec).as("cv"),
              col(clusterCol).as("cluster"))
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineNative(corpus.sparkSession, col("qv"), col("cv"))), k)
  }

  /** Portable sign-LSH bucket ids, one per table (index = table) — the
    * engine-portable twin of [[lshBucketsAll]] (d13/e8 oracles):
    * hyperplane component signs from an md5 hex digit's parity, vector
    * components quantized to integer weights (`floor(x·1000 + 0.5)`)
    * before the plane dot product, so the sign test is
    * order-independent integer arithmetic that cannot flip under a
    * different float summation order. Production uses the fused native
    * expression; this exists to put the LSH bucketing math under the
    * DuckDB hash oracle. */
  def portableLshBuckets(vec: Column, tables: Int, planes: Int,
                         dim: Int): Column = {
    def bucketOf(table: Int): Column = {
      val w = transform(vec,
        x => floor(x.cast("double") * 1000 + 0.5).cast("long"))
      val bits = (0 until planes).map { p =>
        val dot = aggregate(
          zip_with(w, sequence(lit(0), lit(dim - 1)), (x, i) =>
            x * when(conv(substring(md5(concat_ws(",", lit(table), lit(p),
                i.cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 1,
              1L).otherwise(-1L)),
          lit(0L), (acc, v) => acc + v)
        when(dot > 0, shiftleft(lit(1), p)).otherwise(lit(0))
      }
      bits.reduce((a, b) => a.bitwiseOR(b))
    }
    array((0 until tables).map(bucketOf): _*)
  }

  /** [[lshTopK]] over the portable bucket family, DuckDB-oracle-checkable
    * end to end (e8). */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame,
                      id: String, vec: String, k: Int,
                      planes: Int = 4, tables: Int = 6,
                      dim: Int = 64): DataFrame =
    lshTopKBy(corpus, queries, id, vec, k,
      portableLshBuckets(_, tables, planes, dim))

  /** Deterministic Lloyd k-means over the embedding column — the
    * assignment builder [[ivfTopK]]'s Scaladoc promises ("a deployment
    * uses k-means assignments computed the same way"). Seeding is the
    * `k` smallest ids' vectors (no rand(): retries and hash-compares
    * reproduce), each iteration is one broadcast of the k×dim centroid
    * table + one map-side-combinable `max_by` aggregation for the
    * assignment (never a window sort over the N×k scored rows — the
    * partial aggregation collapses per partition, which is what
    * survives N=10⁹) + one posexplode/avg centroid recompute, with
    * lineage truncated per iteration. Ties break to the smallest
    * cluster id, so assignment is deterministic. A cluster that loses
    * all members disappears (standard Lloyd behavior; `k` is an upper
    * bound). Output: (id, cluster STRING) ready to join back as
    * [[ivfTopK]]'s `clusterCol`. */
  def kmeansAssign(emb: DataFrame, id: String, vec: String, k: Int,
                   iters: Int = 5): DataFrame =
    assignToCentroids(emb, id, vec, kmeansCentroids(emb, id, vec, k, iters))

  /** The Lloyd training loop alone: (cluster, centroid) from `train`.
    * Split out so deployments can TRAIN ON A SAMPLE and assign the
    * full corpus (the production shape at 100 TB — Lloyd iterations
    * scan the training set, so a deterministic [[Corpus.hashSample]]
    * bounds that cost while [[assignToCentroids]] stays one broadcast
    * map-side pass over everything). */
  def kmeansCentroids(train: DataFrame, id: String, vec: String, k: Int,
                      iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1, "kmeansCentroids needs k >= 1, iters >= 1")
    val asDouble = transform(col(vec), _.cast("double"))
    var centroids = train.orderBy(col(id)).limit(k)
      .select(col(id).cast("string").as("cluster"), asDouble.as("centroid"))
      .truncateLineage()
    for (_ <- 1 until iters) {
      val a = assignToCentroids(train, id, vec, centroids)
        .select(col(id).as("__id"), col("cluster").as("__c"))
      // Centroid means accumulate INTEGER-quantized components
      // (floor(x·10⁶ + 0.5); headroom: |x|·10⁶ ≲ 10⁷ per element × 10⁹
      // members < 2⁶³) — a float avg() would merge shuffle partials in
      // fetch-completion order and the last centroid bits would differ
      // across runs, flipping near-tie assignments and breaking the
      // determinism promise (the d13/e8 sign-test hazard in aggregate
      // form). The 1e-6 quantization is far below any meaningful
      // centroid separation.
      centroids = train.select(col(id).as("__id"), asDouble.as("__v"))
        .join(a, Seq("__id"))
        .select(col("__c").as("cluster"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg((sum(floor(col("x") * 1e6 + 0.5).cast("long")).cast("double") /
          (count(lit(1)) * 1e6)).as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .truncateLineage()
    }
    // Return the model as a LocalRelation (collect + recreate), not the
    // checkpointed frame: a k×dim centroid table is driver-bounded by
    // definition (it broadcasts everywhere it is used), and a
    // checkpoint's ExistingRDD reports UNKNOWN size stats — which
    // poisons every downstream join containing this lineage into a
    // sort-merge plan (measured on semDedup's keep join). LocalRelation
    // stats are exact, so consumers plan broadcast/hash joins by real
    // sizes.
    val spark = train.sparkSession
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(centroids.collect().toSeq.asJava, centroids.schema)
  }

  /** The Lloyd loop DRIVER-LOCAL over a collected train set —
    * bit-identical to [[kmeansCentroids]] (spec-pinned, including the
    * k ≥ [[TwoLevelAssignThreshold]] routed regime: the per-row
    * assignment calls the SAME expression objects the distributed plan
    * evaluates, and the mean recompute replays the integer-quantized
    * accumulation exactly — integer sums are order-independent, which
    * is what makes the replica possible at all). This is the BPE-
    * trainer discipline applied to k-means: the distributed loop pays
    * ~3-4 scheduled jobs PER ITERATION for work that is milliseconds
    * on collected data, so a trainer that already samples its train
    * set (the [[Corpus.hashSample]]/trainPct discipline — "models need
    * thousands of vectors, not billions") should collect once and
    * iterate locally. `maxTrainRows` is the loud guard against calling
    * this on an unbounded corpus; the distributed loop remains the
    * right shape when the train set genuinely doesn't fit a driver. */
  def kmeansCentroidsLocal(train: DataFrame, id: String, vec: String,
                           k: Int, iters: Int = 5,
                           maxTrainRows: Int = 4000000): DataFrame = {
    require(k >= 1 && iters >= 1,
      "kmeansCentroidsLocal needs k >= 1, iters >= 1")
    val spark = train.sparkSession
    // Seeding exactly as the distributed trainer: the k smallest ids
    // in the id column's OWN type ordering (one tiny job).
    val seeds = train.orderBy(col(id)).limit(k)
      .select(col(id).cast("string"),
        transform(col(vec), _.cast("double")))
      .collect()
    val collected = train
      .select(transform(col(vec), _.cast("double"))).collect()
    require(collected.length <= maxTrainRows,
      s"kmeansCentroidsLocal: train set ${collected.length} rows " +
        s"exceeds maxTrainRows=$maxTrainRows — sample it " +
        "(Corpus.hashSample) or use the distributed kmeansCentroids")
    val emptyVec =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    // Null vectors assign like the distributed coalesce-to-empty rows
    // and are skipped by the mean recompute (posexplode of null emits
    // no rows).
    val vecs = collected.map { r =>
      if (r.isNullAt(0)) emptyVec
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        r.getSeq[Any](0).toArray)
    }
    var centIds: Array[String] = seeds.map(_.getString(0))
    var centVecs: Array[Array[Double]] =
      seeds.map(_.getSeq[Double](1).toArray)
    var it = 1
    while (it < iters && centIds.nonEmpty) {
      val dim = centVecs.head.length
      require(centVecs.forall(_.length == dim),
        "assignToCentroids: ragged centroid matrix")
      val assignFn = localAssignFn(centIds, centVecs.flatten, dim)
      val idxOf = centIds.zipWithIndex.toMap
      val labels = new Array[Int](vecs.length)
      java.util.stream.IntStream.range(0, vecs.length).parallel()
        .forEach(i => labels(i) = idxOf(assignFn(vecs(i))))
      // The distributed mean is per (cluster, pos) with its own count
      // (posexplode semantics): replay it verbatim — integer-quantized
      // sums, per-position counts, positions with no members absent,
      // clusters with no members dropped.
      var maxLen = 0
      vecs.foreach(v => maxLen = math.max(maxLen, v.numElements()))
      val sums = Array.ofDim[Long](centIds.length, maxLen)
      val cnts = Array.ofDim[Long](centIds.length, maxLen)
      var i = 0
      while (i < vecs.length) {
        val v = vecs(i); val n = v.numElements()
        var p = 0
        while (p < n) {
          require(!v.isNullAt(p),
            "kmeansCentroidsLocal: null vector elements are unsupported" +
              " (the distributed trainer fails on them too)")
          sums(labels(i))(p) +=
            math.floor(v.getDouble(p) * 1e6 + 0.5).toLong
          cnts(labels(i))(p) += 1
          p += 1
        }
        i += 1
      }
      val keep = centIds.indices.filter(c => cnts(c).exists(_ > 0))
      centVecs = keep.map { c =>
        (0 until maxLen).filter(p => cnts(c)(p) > 0)
          .map(p => sums(c)(p).toDouble / (cnts(c)(p).toDouble * 1e6))
          .toArray
      }.toArray
      centIds = keep.map(centIds).toArray
      it += 1
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val out = centIds.indices.map(j =>
      org.apache.spark.sql.Row(centIds(j), centVecs(j).toSeq))
    spark.createDataFrame(out.asJava, schema)
  }

  /** One-row evaluator over the SAME routed expression objects the
    * distributed assignment plans use ([[assignToCentroids]]'s k
    * routing, canonical centroid order included) — bit-identity with
    * the cluster path by construction, not by re-implementation. */
  private def localAssignFn(ids: Array[String], flat: Array[Double],
                            dim: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData => String = {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val child = BoundReference(0, ArrayType(DoubleType), nullable = false)
    val expr: org.apache.spark.sql.catalyst.expressions.Expression =
      if (ids.length >= TwoLevelAssignThreshold) {
        val m = canonicalOrder(CentroidMatrix(ids, flat, dim))
        val coarseK = math.max(1,
          math.ceil(math.sqrt(m.ids.length.toDouble)).toInt)
        val (coarseFlat, cellOf) =
          coarseClusterLocal(m.flat, m.ids.length, m.dim, coarseK)
        graft.plans.NearestCentroidTwoLevelExpr(child, m.ids, m.flat,
          m.dim, coarseFlat, cellOf, defaultNprobe(m.ids.length))
      } else graft.plans.NearestCentroidExpr(child, ids, flat, dim)
    ad => {
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](ad))
      val r = expr.eval(row)
      if (r == null) null else r.toString
    }
  }

  /** Above this centroid count, [[assignToCentroids]] routes through
    * the two-level probe ([[assignToCentroidsTwoLevel]]): brute argmax
    * is O(k·dim) per row — the quadratic term under the SemDeDup
    * k ∝ corpus regime, where assignment runs inside every Lloyd
    * iteration AND over the full corpus. Below it, brute is both
    * cheaper (no coarse stage to amortize) and bit-pinned to the
    * min_by form every oracle-backed query relies on. */
  val TwoLevelAssignThreshold = 128

  /** One broadcast-centroid assignment pass: (id, cluster) for every
    * row of `emb` against a (cluster, centroid) table. Routes by k:
    * exact brute argmax below [[TwoLevelAssignThreshold]] (the
    * oracle-pinned path — every registered query's k sits here),
    * two-level coarse-probe assignment above it (the scale path). */
  def assignToCentroids(emb: DataFrame, id: String, vec: String,
                        centroids: DataFrame): DataFrame = {
    val m = collectCentroids(centroids)
    if (m.ids.length >= TwoLevelAssignThreshold)
      assignTwoLevelFromMatrix(emb, id, vec, m, defaultNprobe(m.ids.length))
    else assignExactFromMatrix(emb, id, vec, m)
  }

  /** The brute argmax path unconditionally — for callers that need the
    * min_by-pinned bit-exact assignment at any k (spec twins,
    * equivalence checks). */
  def assignToCentroidsExact(emb: DataFrame, id: String, vec: String,
                             centroids: DataFrame): DataFrame =
    assignExactFromMatrix(emb, id, vec, collectCentroids(centroids))

  /** Two-level assignment unconditionally: cluster the centroid table
    * itself into ~√k coarse cells (driver-local deterministic Lloyd —
    * the model-on-model step), then assign each corpus row by probing
    * its `nprobe` best coarse cells and running the fine argmax over
    * only their members. O((√k + nprobe·√k̄)·dim) per row instead of
    * O(k·dim); with nprobe ≥ the coarse cell count it degenerates to
    * an exact (bit-identical) brute scan — the spec's equivalence
    * handle.
    *
    * Model-size regime: like the brute expression, the centroid matrix
    * rides the plan as literals (k·dim doubles in the task binary) —
    * fine through k·dim ≈ 10⁷ (~80 MB, e.g. a million 10-dim or
    * 100 K 100-dim centroids), which covers the SemDeDup regime at any
    * corpus this engine targets (k ≈ corpus/√corpus-cluster-size). A
    * model beyond executor-literal scale stops being "assignment"
    * and is the ANN problem proper — route those through the
    * join-based [[ivfTopK]] family, whose model is a TABLE. */
  def assignToCentroidsTwoLevel(emb: DataFrame, id: String, vec: String,
                                centroids: DataFrame,
                                nprobe: Int = 0): DataFrame = {
    val m = collectCentroids(centroids)
    val np = if (nprobe >= 1) nprobe else defaultNprobe(m.ids.length)
    assignTwoLevelFromMatrix(emb, id, vec, m, np)
  }

  // nprobe ≈ √coarseK keeps recall high while the probed fraction
  // shrinks as k grows (k=256 → 4 of 16 cells; k=65536 → 16 of 256).
  private def defaultNprobe(k: Int): Int =
    math.max(2, math.ceil(math.pow(k.toDouble, 0.25)).toInt)

  private[graft] case class CentroidMatrix(ids: Array[String],
                                           flat: Array[Double], dim: Int)

  private def collectCentroids(centroids: DataFrame): CentroidMatrix = {
    // The model is collected (k × dim — driver-bounded by definition,
    // it broadcast-joined even in the old shape) and rides into ONE
    // argmax expression per corpus row: the declarative form expanded
    // to corpus × k rows through a broadcast nest-loop join and folded
    // them back with a min_by whose struct key allocated an lpad
    // string PER PAIR (8.2 M rows + a full shuffle on the 32 K-doc ×
    // k=256 heavy config) — all replaced by scan-local work.
    val rows = centroids
      .select(col("cluster").cast("string"),
        transform(col("centroid"), _.cast("double")))
      .collect()
    if (rows.isEmpty) return CentroidMatrix(Array.empty, Array.empty, 0)
    val ids = rows.map(_.getString(0))
    val dim = rows.head.getSeq[Double](1).length
    require(rows.forall(_.getSeq[Double](1).length == dim),
      "assignToCentroids: ragged centroid matrix")
    CentroidMatrix(ids, rows.flatMap(_.getSeq[Double](1)), dim)
  }

  private def assignExactFromMatrix(emb: DataFrame, id: String,
                                    vec: String, m: CentroidMatrix)
      : DataFrame = {
    // NearestCentroidExpr pins bit-identity to the replaced
    // min_by(cluster, struct(-cosine, lpad(cluster, 24, '0'))) form,
    // including null-similarity ordering; the null/empty-VECTOR edge
    // (old: all-null sims → smallest padded id) is preserved by
    // coalescing to an empty vector, which yields all-null sims
    // through the same denominator-zero path.
    val spark = emb.sparkSession
    if (m.ids.isEmpty)
      return emb.select(col(id), lit("").as("cluster")).limit(0)
    graft.plans.NearestCentroidExpr.register(spark)
    emb.select(col(id),
      call_function(graft.plans.NearestCentroidExpr.Name,
        coalesce(col(vec), emptyVecLit(emb, vec)), typedLit(m.ids.toSeq),
        typedLit(m.flat.toSeq), lit(m.dim)).as("cluster"))
  }

  private def assignTwoLevelFromMatrix(emb: DataFrame, id: String,
                                       vec: String, m0: CentroidMatrix,
                                       nprobe: Int): DataFrame = {
    val spark = emb.sparkSession
    if (m0.ids.isEmpty)
      return emb.select(col(id), lit("").as("cluster")).limit(0)
    // Canonicalize centroid order (padded-id UTF-8 bytes) BEFORE the
    // coarse seeding: the coarse model seeds from the first √k rows,
    // and the incoming table order is a groupBy/collect artifact that
    // can differ across runs — without the sort the APPROXIMATE
    // assignment (and through Lloyd, the centroids themselves at
    // k ≥ the threshold) would be run-order-dependent. The exact
    // comparator never needed this (its visit order is computed from
    // the ids, not the row order).
    val m = canonicalOrder(m0)
    val coarseK = math.max(1,
      math.ceil(math.sqrt(m.ids.length.toDouble)).toInt)
    val (coarseFlat, cellOf) =
      coarseClusterLocal(m.flat, m.ids.length, m.dim, coarseK)
    graft.plans.NearestCentroidTwoLevelExpr.register(spark)
    emb.select(col(id),
      call_function(graft.plans.NearestCentroidTwoLevelExpr.Name,
        coalesce(col(vec), emptyVecLit(emb, vec)), typedLit(m.ids.toSeq),
        typedLit(m.flat.toSeq), lit(m.dim),
        typedLit(coarseFlat.toSeq), typedLit(cellOf.toSeq),
        lit(nprobe)).as("cluster"))
  }

  private def canonicalOrder(m: CentroidMatrix): CentroidMatrix = {
    if (m.ids.isEmpty) return m
    val order = graft.plans.NearestCentroidExpr.utf8PaddedOrder(m.ids)
    val ids = order.map(m.ids)
    val flat = new Array[Double](m.flat.length)
    var j = 0
    while (j < order.length) {
      System.arraycopy(m.flat, order(j) * m.dim, flat, j * m.dim, m.dim)
      j += 1
    }
    CentroidMatrix(ids, flat, m.dim)
  }

  /** Driver-local deterministic Lloyd over the FINE CENTROID matrix —
    * the coarse model of the two-level assignment. Seeds are the first
    * `coarseK` centroids in input order (deterministic — the caller's
    * centroid table order is itself deterministic), assignment is
    * argmax cosine with ties to the smaller cell, empty cells keep
    * their previous center. O(k·coarseK·dim·iters) on the driver,
    * parallelized across centroids — at k=10⁶, coarseK=10³ that is the
    * same arithmetic one executor core does for ~10³ corpus rows of
    * brute assignment. */
  private[graft] def coarseClusterLocal(flat: Array[Double], k: Int,
                                        dim: Int, coarseK: Int,
                                        iters: Int = 3)
      : (Array[Double], Array[Int]) = {
    var centers = java.util.Arrays.copyOf(flat, coarseK * dim)
    val cellOf = new Array[Int](k)
    def assignAll(): Unit = {
      val cn = new Array[Double](coarseK)
      var c = 0
      while (c < coarseK) {
        var s = 0.0; var p = 0; val off = c * dim
        while (p < dim) { val y = centers(off + p); s += y * y; p += 1 }
        cn(c) = math.sqrt(s)
        c += 1
      }
      val cs = centers
      java.util.stream.IntStream.range(0, k).parallel().forEach { j =>
        var na = 0.0; var p = 0; val joff = j * dim
        while (p < dim) { val x = flat(joff + p); na += x * x; p += 1 }
        val sqna = math.sqrt(na)
        var best = 0
        var bestSim = -3.0
        var ci = 0
        while (ci < coarseK) {
          var dot = 0.0; var q = 0; val off = ci * dim
          while (q < dim) { dot += flat(joff + q) * cs(off + q); q += 1 }
          val denom = sqna * cn(ci)
          val sim = if (denom == 0.0) -2.0 else dot / denom
          if (sim > bestSim) { best = ci; bestSim = sim }
          ci += 1
        }
        cellOf(j) = best
      }
    }
    for (_ <- 1 to iters) {
      assignAll()
      val next = new Array[Double](coarseK * dim)
      val cnt = new Array[Int](coarseK)
      var j = 0
      while (j < k) {
        val c2 = cellOf(j); val off = c2 * dim; val joff = j * dim
        var p = 0
        while (p < dim) { next(off + p) += flat(joff + p); p += 1 }
        cnt(c2) += 1
        j += 1
      }
      var c = 0
      while (c < coarseK) {
        val off = c * dim
        if (cnt(c) == 0) {
          System.arraycopy(centers, off, next, off, dim)
        } else {
          var p = 0
          while (p < dim) { next(off + p) /= cnt(c); p += 1 }
        }
        c += 1
      }
      centers = next
    }
    // Membership must describe the RETURNED centers (the expression
    // probes cells by distance to them) — one final assignment pass
    // after the last recompute.
    assignAll()
    (centers, cellOf)
  }

  /** Approximate top-k via multi-table sign-LSH: a pair is a candidate
    * if it collides in ANY of the `tables` hash tables (recall at
    * per-plane agreement p is 1-(1-p^planes)^tables — 4 planes × 8
    * tables ≈ 0.84 for 60°-apart vectors); candidates are scored
    * exactly and ranked per query. The corpus is replicated ×tables
    * into the bucket index (classic LSH space/recall trade) but never
    * pairwise-joined: the join key is (table, bucket). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              id: String, vec: String, k: Int,
              planes: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame =
    lshTopKBy(corpus, queries, id, vec, k,
      lshBucketsAll(corpus.sparkSession, _, tables, planes, dim))

  /** LSH top-k over any bucket family (`buckets`: vector → array of
    * per-table bucket ids): corpus and broadcast queries explode to
    * (tbl, bkt) rows and equi-join on them, each colliding pair is
    * scored once by exact cosine, then cut per query. */
  private def lshTopKBy(corpus: DataFrame, queries: DataFrame, id: String,
                        vec: String, k: Int,
                        buckets: Column => Column): DataFrame = {
    def staged(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(id).as(idAs), col(vec).as(vecAs),
        posexplode(buckets(col(vec))).as(Seq("tbl", "bkt")))
    topKBySim(staged(corpus, "neighbor_id", "cv")
      .join(broadcast(staged(queries, "query_id", "qv")), Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "cv")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("sim", cosineNative(corpus.sparkSession, col("qv"), col("cv"))), k)
  }

  /** Symmetric per-dimension int8 scalar quantization — the standard
    * 4× compression for a large embedding store (float32 → int8 with
    * one scale per dimension). Two passes: a per-dimension max-abs
    * aggregate (tiny: one row per dimension), then a pure projection
    * quantizing every vector against the broadcast scale array.
    * `q_d = floor(x_d · 127 / maxabs_d + 0.5)` — floor(+0.5) instead
    * of round() because half-up floor is bit-identical across engines
    * (round() tie-breaking is not), which keeps the whole op
    * oracle-checkable; all-zero dimensions quantize to 0.
    *
    * Output: (id, q array<int>, max_err double) where max_err is the
    * vector's worst per-element dequantization error |q·s − x| — the
    * quality metric a store monitors when deciding int8 is enough.
    * Scale shape at 100 TB: the aggregate shuffles (dims × partial
    * maxes) only; the quantization pass is codegen'd and shuffle-free.
    */
  def scalarQuantize(emb: DataFrame, id: String, vec: String): DataFrame = {
    val dims = emb
      .select(posexplode(col(vec)).as(Seq("i", "e")))
      .groupBy("i").agg(max(abs(col("e"))).as("m"))
    val maxarr = dims
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("s"))
      .select(transform(col("s"), _.getField("m")).as("__ma"))
    emb.crossJoin(broadcast(maxarr))
      .select(col(id), col(vec).as("__v"), col("__ma"))
      // One indexed pass computes the quantized value and its
      // dequantization error together (zip_with has no index).
      .withColumn("__qe", transform(col("__v"), (x, i) => {
        val m = element_at(col("__ma"), i + 1)
        val q = when(m === 0, lit(0.0))
          .otherwise(floor(x.cast("double") * 127.0 / m + 0.5))
        struct(q.cast("int").as("q"),
          abs(q * m / 127.0 - x.cast("double")).as("err"))
      }))
      .withColumn("q", transform(col("__qe"), _.getField("q")))
      .withColumn("max_err", array_max(transform(col("__qe"), _.getField("err"))))
      .drop("__v", "__ma", "__qe")
  }

  /** (subspace, id, subvector) working table for PQ: each vector split
    * into `m` contiguous dim/m-length subvectors by ONE generator pass
    * (no per-subspace scan). */
  private def subvectors(emb: DataFrame, id: String, vec: String,
                         m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    emb
      .select(col(id).as("__id"),
        explode(array(transform(col(vec), _.cast("double")))).as("__v"))
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("__v"), j * sub + 1, lit(sub)))).as(Seq("subspace", "sv")))
  }

  /** Squared L2 — the PQ training/lookup metric, via the native fused
    * expression (graft.plans.L2SquaredExpr): one compiled loop per row
    * instead of interpreted zip_with/aggregate lambdas, bit-identical
    * to [[l2sqHof]] (same left-to-right double fold; spec-pinned).
    * This is the corpus × m × k hot loop of PQ encode/training.
    * Takes the owning session explicitly (the cosineNative pattern) so
    * off-thread Column construction or a multi-session JVM cannot
    * register the function on the wrong session. */
  private def l2sq(spark: org.apache.spark.sql.SparkSession,
                   a: Column, b: Column): Column = {
    graft.plans.GraftFunctions.register(spark)
    call_function(graft.plans.GraftFunctions.L2Name, a, b)
  }

  /** The HOF form [[l2sq]] replaced — kept (test-visible) as the
    * bit-equality reference for the native expression. */
  private[graft] def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** Product-quantization codebooks (Jégou et al. 2011, the FAISS PQ
    * scale path: vectors become `m` one-byte codes, distances become
    * table lookups). Splits each vector into `m` contiguous subvectors
    * and learns `k` codewords per subspace with the same deterministic
    * Lloyd loop as [[kmeansAssign]] — but all subspaces train TOGETHER:
    * the working table is (subspace, id, subvector), the centroid table
    * is m×k rows keyed by (subspace, code) broadcast once per
    * iteration, so adding subspaces adds broadcast rows, not Spark
    * jobs. Determinism mirrors [[kmeansAssign]]: seeds are the `k`
    * smallest ids' subvectors (codes = their dense 0-based rank), means
    * accumulate integer-quantized components, assignment ties break to
    * the smallest code. `k` is an upper bound (Lloyd can empty a
    * cluster). Output: (subspace, code, centroid ARRAY<DOUBLE>).
    *
    * At scale, train on a deterministic sample and encode everything:
    * codebooks need thousands of vectors, not billions — pass e.g.
    * `emb.filter(xxhash64(col(id)) % S === 0)` here and the full frame
    * to [[pqEncode]] (the FAISS recipe; sampling by id hash keeps
    * retries reproducible). */
  def pqTrain(emb: DataFrame, id: String, vec: String,
              m: Int = 8, k: Int = 16, iters: Int = 3,
              dim: Int = 64): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(k >= 1 && iters >= 1, "pqTrain needs k >= 1, iters >= 1")
    // Materialize the training subvectors once: the Lloyd loop refers
    // to `sv` twice per iteration, and without the checkpoint each
    // reference re-executes the whole input lineage — for IVF-PQ that
    // lineage is residuals ← broadcast-assignment ← coarse k-means,
    // re-run ~2·iters times (measured r10: e12-heavy spent most of its
    // 28 s re-deriving assignments inside codebook training). The
    // training set is a sample (thousands of rows × m subvectors), so
    // the materialization is small by design.
    val sv = subvectors(emb, id, vec, m, dim).truncateLineage()
    val seeds = emb.orderBy(col(id)).limit(k)
      .select(col(id).as("__id"),
        (row_number().over(Window.orderBy(col(id))) - 1).as("code"))
    var centroids = sv.join(broadcast(seeds), Seq("__id"))
      .select(col("subspace"), col("code"), col("sv").as("centroid"))
      .truncateLineage()
    for (_ <- 1 until iters) {
      val a = pqAssign(sv, centroids)
      centroids = sv.join(a, Seq("__id", "subspace"))
        .select(col("subspace"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("subspace", "code", "pos")
        // Integer-accumulated means — see kmeansAssign for why float
        // avg() would break run-to-run determinism.
        .agg((sum(floor(col("x") * 1e6 + 0.5).cast("long")).cast("double") /
          (count(lit(1)) * 1e6)).as("mn"))
        .groupBy("subspace", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("centroid"))
        .truncateLineage()
    }
    centroids
  }

  /** [[pqTrain]] DRIVER-LOCAL — bit-identical (spec-pinned) over a
    * collected train set: the [[kmeansCentroidsLocal]] argument
    * verbatim (the distributed loop pays scheduled jobs per iteration
    * for millisecond work on an already-sampled train set; integer-
    * quantized means are order-independent, the L2 fold is replayed
    * left-to-right, min_by ties to the smallest code by ascending
    * visit order). `maxTrainRows` is the loud unbounded-collect
    * guard. */
  def pqTrainLocal(emb: DataFrame, id: String, vec: String,
                   m: Int = 8, k: Int = 16, iters: Int = 3,
                   dim: Int = 64, maxTrainRows: Int = 4000000)
      : DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(k >= 1 && iters >= 1, "pqTrainLocal needs k >= 1, iters >= 1")
    val rows = emb.select(col(id),
      transform(col(vec), _.cast("double"))).collect()
    require(rows.length <= maxTrainRows,
      s"pqTrainLocal: train set ${rows.length} rows exceeds " +
        s"maxTrainRows=$maxTrainRows — sample it or use pqTrain")
    val ids = rows.map(_.get(0).asInstanceOf[AnyRef])
    val vecs = rows.map { r =>
      require(!r.isNullAt(1),
        "pqTrainLocal: null vectors in the train set are unsupported")
      r.getSeq[Double](1).toArray
    }
    pqTrainLocalCore(emb.sparkSession, ids, vecs, m, k, iters, dim)
  }

  /** [[ivfpqTrain]] DRIVER-LOCAL — residuals computed on the driver
    * against the (already driver-bounded) coarse-centroid table, then
    * the shared local PQ core. Rows whose cluster is absent from the
    * centroid table are dropped, mirroring the distributed inner
    * join. */
  def ivfpqTrainLocal(withCluster: DataFrame, id: String, vec: String,
                      clusterCol: String, centroids: DataFrame,
                      m: Int = 8, k: Int = 16, iters: Int = 3,
                      dim: Int = 64, maxTrainRows: Int = 4000000)
      : DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(k >= 1 && iters >= 1, "ivfpqTrainLocal needs k >= 1, iters >= 1")
    val cents = centroids
      .select(col("cluster").cast("string"),
        transform(col("centroid"), _.cast("double")))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val rows = withCluster.select(col(id),
      col(clusterCol).cast("string"),
      transform(col(vec), _.cast("double"))).collect()
    require(rows.length <= maxTrainRows,
      s"ivfpqTrainLocal: train set ${rows.length} rows exceeds " +
        s"maxTrainRows=$maxTrainRows — sample it or use ivfpqTrain")
    val kept = rows.filter(r => !r.isNullAt(1) && cents.contains(r.getString(1)))
    val ids = kept.map(_.get(0).asInstanceOf[AnyRef])
    val vecs = kept.map { r =>
      require(!r.isNullAt(2),
        "ivfpqTrainLocal: null vectors in the train set are unsupported")
      val v = r.getSeq[Double](2).toArray
      val c = cents(r.getString(1))
      // zip_with(x, c, x - c): residual length = max side, but the
      // fixtures guarantee dim on both; mirror the common case.
      val n = math.min(v.length, c.length)
      val rv = new Array[Double](n)
      var p = 0
      while (p < n) { rv(p) = v(p) - c(p); p += 1 }
      rv
    }
    pqTrainLocalCore(withCluster.sparkSession, ids, vecs, m, k, iters,
      dim)
  }

  /** The shared local Lloyd core of [[pqTrainLocal]]/[[ivfpqTrainLocal]]:
    * seeds = the k smallest ids' subvectors with codes their dense id
    * rank (type-aware ordering — numeric natural, strings by UTF-8
    * bytes, matching Spark's orderBy), assignment = argmin of the
    * left-to-right squared-L2 fold with ties to the smallest code,
    * means = the integer-quantized per-(subspace, code, pos)
    * accumulation, emptied codes dropped. */
  private def pqTrainLocalCore(spark: org.apache.spark.sql.SparkSession,
                               ids: Array[AnyRef],
                               vecs: Array[Array[Double]],
                               m: Int, k: Int, iters: Int, dim: Int)
      : DataFrame = {
    val sub = dim / m
    val ord: Ordering[AnyRef] = (a: AnyRef, b: AnyRef) => (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long)       => x.compareTo(y)
      case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
      case (x: java.lang.Double, y: java.lang.Double)   => x.compareTo(y)
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case (x, y) => x.toString.compareTo(y.toString)
    }
    val seedIdx = ids.indices.sortBy(ids)(ord).take(k)
    def sliceOf(v: Array[Double], s: Int): Array[Double] = {
      val from = s * sub
      val until = math.min(v.length, from + sub)
      if (from >= until) Array.empty[Double]
      else java.util.Arrays.copyOfRange(v, from, until)
    }
    // codes(s) = sorted surviving codes; cents(s)(j) = that code's
    // centroid (parallel arrays, ascending code = the tie visit order).
    var codes: Array[Array[Int]] =
      Array.fill(m)(seedIdx.indices.toArray)
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seedIdx.map(i => sliceOf(vecs(i), s)).toArray
    }
    var it = 1
    while (it < iters && codes.exists(_.nonEmpty)) {
      // labels(i)(s) = index INTO codes(s) of vector i's nearest code.
      val labels = Array.ofDim[Int](vecs.length, m)
      java.util.stream.IntStream.range(0, vecs.length).parallel()
        .forEach { i =>
          val v = vecs(i)
          var s = 0
          while (s < m) {
            val sv = sliceOf(v, s)
            val cs = cents(s)
            var best = -1
            var bestD = 0.0
            var j = 0
            while (j < cs.length) {
              val c = cs(j)
              require(sv.length == c.length,
                "pqTrainLocal: ragged subvectors are unsupported")
              var d = 0.0
              var p = 0
              while (p < sv.length) {
                val x = sv(p) - c(p); d += x * x; p += 1
              }
              if (best == -1 || d < bestD) { best = j; bestD = d }
              j += 1
            }
            labels(i)(s) = best
            s += 1
          }
        }
      val nextCodes = new Array[Array[Int]](m)
      val nextCents = new Array[Array[Array[Double]]](m)
      var s = 0
      while (s < m) {
        val nC = codes(s).length
        val sums = Array.ofDim[Long](nC, sub)
        val cnts = Array.ofDim[Long](nC, sub)
        var i = 0
        while (i < vecs.length) {
          val sv = sliceOf(vecs(i), s)
          val j = labels(i)(s)
          if (j >= 0) {
            var p = 0
            while (p < sv.length) {
              sums(j)(p) += math.floor(sv(p) * 1e6 + 0.5).toLong
              cnts(j)(p) += 1
              p += 1
            }
          }
          i += 1
        }
        val keep = (0 until nC).filter(j => cnts(j).exists(_ > 0))
        nextCodes(s) = keep.map(codes(s)).toArray
        nextCents(s) = keep.map { j =>
          (0 until sub).filter(p => cnts(j)(p) > 0)
            .map(p => sums(j)(p).toDouble / (cnts(j)(p).toDouble * 1e6))
            .toArray
        }.toArray
        s += 1
      }
      codes = nextCodes
      cents = nextCents
      it += 1
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("subspace",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val out = for {
      s <- 0 until m
      j <- codes(s).indices
    } yield org.apache.spark.sql.Row(s, codes(s)(j), cents(s)(j).toSeq)
    spark.createDataFrame(out.asJava, schema)
  }

  /** Loud guard for the codebook ↔ caller (m, dim) contract — the
    * BandStore.ensureParams discipline for PQ: a mismatched codebook
    * makes zip_with pad with nulls and min_by pick arbitrary codes, so
    * every code silently corrupts. One tiny aggregate over the m×k
    * codebook rows, far cheaper than the silent failure it prevents. */
  private def requireCodebook(cb: DataFrame, m: Int, dim: Int,
                              op: String): Unit = {
    val row = cb.agg(max(col("subspace")), min(size(col("centroid"))),
      max(size(col("centroid")))).head()
    require(!row.isNullAt(0),
      s"$op: codebook is EMPTY — pqTrain saw no vectors (over-filtered " +
        "training sample?)")
    val (ms, lo, hi) = (row.getInt(0) + 1, row.getInt(1), row.getInt(2))
    require(ms == m && lo == dim / m && hi == dim / m,
      s"$op: codebook was trained with m=$ms, subvector length $lo" +
        (if (lo != hi) s"-$hi" else "") +
        s"; caller uses m=$m, dim=$dim (subvector ${dim / m}) — " +
        "a mismatched codebook silently corrupts every code")
  }

  /** Nearest codeword per (vector, subspace) against a broadcast
    * codebook — one equi-join on subspace (fan-out = codewords per
    * subspace) + one map-side-combinable min_by. */
  private def pqAssign(sv: DataFrame, codebook: DataFrame): DataFrame =
    sv.join(broadcast(codebook), Seq("subspace"))
      .withColumn("__d", l2sq(sv.sparkSession, col("sv"), col("centroid")))
      .groupBy("__id", "subspace")
      .agg(expr("min_by(code, struct(__d, code))").as("code"))

  /** The corpus-encode Column: whole-vector PQ assignment through the
    * native [[graft.plans.PqCodesExpr]] (all m argmin searches in one
    * eval; the codebook — m×k rows, broadcast-sized by definition —
    * rides in as literals in (subspace, code) order). Bit-identity to
    * the declarative subvector-join + min_by form is spec-pinned.
    * Training keeps the declarative join: its input is a bounded
    * sample and the Lloyd loop needs the (id, subspace) frame. */
  private def pqCodesNative(codebook: DataFrame, sub: Int,
                            vec: Column): Column = {
    val spark = codebook.sparkSession
    val rows = codebook
      .select(col("subspace"), col("code"),
        transform(col("centroid"), _.cast("double")))
      .collect()
      .sortBy(r => (r.getInt(0), r.getInt(1)))
    val m = rows.map(_.getInt(0)).max + 1
    val counts = Array.fill(m)(0)
    rows.foreach(r => counts(r.getInt(0)) += 1)
    val codes = rows.map(_.getInt(1)).toSeq
    val flat = rows.flatMap(_.getSeq[Double](2)).toSeq
    graft.plans.PqCodesExpr.register(spark)
    call_function(graft.plans.PqCodesExpr.Name, vec,
      typedLit(counts.toSeq), typedLit(codes), typedLit(flat), lit(sub))
  }

  /** PQ-encode a corpus: (id, codes ARRAY<INT>) with codes[j] the
    * nearest codeword of subvector j. m codes per vector — the 4-byte
    * float64 store becomes m small ints (the whole point at 100 TB:
    * the ADC scan below touches codes only, never raw vectors). One
    * native-expression scan. A null vector coalesces to an empty one:
    * zero-length distance folds tie every codeword at 0.0 and the
    * smallest code wins — the exact outcome of the replaced form's
    * null distances sorting first in min_by. */
  def pqEncode(emb: DataFrame, id: String, vec: String,
               codebook: DataFrame, m: Int = 8, dim: Int = 64): DataFrame = {
    requireCodebook(codebook, m, dim, "pqEncode")
    emb.select(col(id),
      pqCodesNative(codebook, dim / m,
        coalesce(col(vec), emptyVecLit(emb, vec))).as("codes"))
  }

  /** Type-matched empty-array literal for the null-vector coalesce. */
  private def emptyVecLit(df: DataFrame, vec: String): Column =
    df.schema(vec).dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) =>
        typedLit(Seq.empty[Double])
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) =>
        typedLit(Seq.empty[Long])
      case _ => typedLit(Seq.empty[Float])
    }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds a
    * (subspace, code) → squared-L2 lookup table against the codebook
    * (queries × m × k rows — tiny, broadcast), the corpus explodes its
    * m codes once, and the approximate distance is ONE doc-keyed sum of
    * integer-quantized lookups (integer so shuffle merge order cannot
    * flip near-tie ranks; ties break on neighbor id). The corpus side
    * streams codes only — no raw-vector access, no pairwise join. */
  def pqTopK(corpusCodes: DataFrame, codebook: DataFrame,
             queries: DataFrame, id: String, vec: String, k: Int,
             m: Int = 8, dim: Int = 64): DataFrame = {
    requireCodebook(codebook, m, dim, "pqTopK")
    val lut = subvectors(queries, id, vec, m, dim)
      .select(col("__id").as("query_id"), col("subspace"), col("sv"))
      .join(codebook, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        floor(l2sq(queries.sparkSession, col("sv"), col("centroid")) * 1e6 + 0.5)
          .cast("long").as("__dq"))
    adcTopK(corpusCodes, lut, id, Nil, k)
  }

  /** The ADC scan of [[pqTopK]] and [[ivfpqTopK]]: the corpus explodes
    * its m codes once and joins the broadcast query LUT on (`lists`,
    * subspace, code); each (query, neighbor) distance is ONE sum of
    * integer-quantized lookups (so shuffle merge order cannot flip
    * near-tie ranks), then the per-query cut. */
  private def adcTopK(corpusCodes: DataFrame, lut: DataFrame, id: String,
                      lists: Seq[String], k: Int): DataFrame =
    topKByDist(corpusCodes
      .select((col(id).as("neighbor_id") +: lists.map(col)) :+
        posexplode(col("codes")).as(Seq("subspace", "code")): _*)
      .join(broadcast(lut), lists ++ Seq("subspace", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg((sum(col("__dq")).cast("double") / 1e6).as("dist")), k)

  /** Residual vectors for IVF-PQ: rv = v − centroid(cluster), against
    * the BROADCAST coarse-centroid table. `withCluster` carries the
    * coarse assignment already joined back (the e7/e11 caller shape:
    * `emb.join(assignToCentroids(...), id)`), so one assignment pass
    * can feed train, encode, and any later re-encode without being
    * recomputed here. */
  private def residuals(withCluster: DataFrame, id: String, vec: String,
                        clusterCol: String, centroids: DataFrame): DataFrame =
    withCluster
      .select(col(id), col(clusterCol).as("cluster"),
        transform(col(vec), _.cast("double")).as("__v"))
      .join(broadcast(centroids), Seq("cluster"))
      .select(col(id), col("cluster"),
        zip_with(col("__v"), col("centroid"), (x, c) => x - c).as("rv"))

  /** IVF-PQ codebooks (Jégou et al. 2011 §IV / the FAISS IVFPQ index —
    * the canonical billion-scale layout): PQ trains on the RESIDUAL
    * vector − coarse-centroid, which has far lower energy than the raw
    * vector, so the same m×k code budget quantizes much finer. Same
    * deterministic Lloyd loop as [[pqTrain]] (seeds = k smallest ids'
    * residual subvectors, integer-quantized means, smallest-code ties).
    *
    * At scale: train on a deterministic [[Corpus.hashSample]] — the
    * coarse centroids came from a sample too, and codebooks need
    * thousands of residuals, not billions. */
  def ivfpqTrain(withCluster: DataFrame, id: String, vec: String,
                 clusterCol: String, centroids: DataFrame,
                 m: Int = 8, k: Int = 16, iters: Int = 3,
                 dim: Int = 64): DataFrame =
    pqTrain(residuals(withCluster, id, vec, clusterCol, centroids),
      id, "rv", m, k, iters, dim)

  /** IVF-PQ encode: (id, cluster, codes ARRAY<INT>) — the inverted-list
    * layout. Each vector stores its coarse cluster plus m small codes
    * for its residual; the raw vector is never needed again until an
    * optional exact re-rank. One residual pass + one broadcast-codebook
    * min_by assignment, both map-side shapes. */
  def ivfpqEncode(withCluster: DataFrame, id: String, vec: String,
                  clusterCol: String, centroids: DataFrame,
                  codebook: DataFrame, m: Int = 8, dim: Int = 64): DataFrame = {
    requireCodebook(codebook, m, dim, "ivfpqEncode")
    // One residual pass, then the whole m-code assignment as one
    // native-expression projection on the same scan — the previous
    // shape exploded corpus × m subvectors through a broadcast ×k
    // join and folded back with two shuffle aggregations.
    residuals(withCluster, id, vec, clusterCol, centroids)
      .select(col(id), col("cluster"),
        pqCodesNative(codebook, dim / m,
          coalesce(col("rv"), typedLit(Seq.empty[Double]))).as("codes"))
  }

  /** IVF-PQ ADC top-k: each query probes its `nprobe` nearest coarse
    * centroids (cosine, [[ivfTopK]]'s probe rule), computes its residual
    * AGAINST EACH PROBED CENTROID, and builds a per-(cluster, subspace,
    * code) squared-L2 lookup table (queries × nprobe × m × k rows —
    * tiny, broadcast). The corpus side explodes its m codes once and
    * joins on (cluster, subspace, code), so only probed inverted lists
    * are ever touched and they stream codes only — the two pruning
    * levers (nprobe and code-not-vector scan) compose; no raw-vector
    * access, no pairwise join. Lookups are integer-quantized like
    * [[pqTopK]] so shuffle merge order cannot flip near-tie ranks. */
  def ivfpqTopK(corpusCodes: DataFrame, centroids: DataFrame,
                codebook: DataFrame, queries: DataFrame,
                id: String, vec: String, k: Int, nprobe: Int = 2,
                m: Int = 8, dim: Int = 64): DataFrame = {
    requireCodebook(codebook, m, dim, "ivfpqTopK")
    val sub = dim / m
    val q = queries.select(col(id).as("query_id"),
      transform(col(vec), _.cast("double")).as("qv"))
    val probes = probeCentroids(q, centroids, nprobe)
      .select(col("query_id"), col("cluster"),
        zip_with(col("qv"), col("centroid"), (x, c) => x - c).as("qr"))
    val lut = probes
      .select(col("query_id"), col("cluster"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("qr"), j * sub + 1, lit(sub)))).as(Seq("subspace", "sv")))
      .join(broadcast(codebook), Seq("subspace"))
      .select(col("query_id"), col("cluster"), col("subspace"), col("code"),
        floor(l2sq(queries.sparkSession, col("sv"), col("centroid")) * 1e6 + 0.5)
          .cast("long").as("__dq"))
    // A corpus vector lives in exactly one cluster, so each (neighbor,
    // subspace) matches at most one LUT row per query and the sum is
    // over exactly m lookups when the neighbor's list is probed.
    adcTopK(corpusCodes, lut, id, Seq("cluster"), k)
  }

  /** IVF-PQ search as production runs it: an ADC shortlist of
    * k × overscan per query over probed lists only, then the
    * [[pqTopKRerank]] exact re-rank on top of the IVF probe pruning. */
  def ivfpqTopKRerank(corpusCodes: DataFrame, centroids: DataFrame,
                      codebook: DataFrame, corpus: DataFrame,
                      queries: DataFrame, id: String, vec: String,
                      k: Int, nprobe: Int = 2, overscan: Int = 4,
                      m: Int = 8, dim: Int = 64): DataFrame =
    rerankExactL2(ivfpqTopK(corpusCodes, centroids, codebook, queries,
      id, vec, k * overscan, nprobe, m, dim), corpus, queries, id, vec, k)

  /** PQ search as production runs it (FAISS's ADC + re-rank): the code
    * scan shortlists `k × overscan` candidates per query by
    * approximate distance, then ONLY those rows fetch their raw vector
    * (an equi-join bounded by queries × k × overscan — the corpus
    * itself is still never scanned as floats) for an exact squared-L2
    * re-rank. Overscan buys back the quantization error at shortlist
    * cost, not scan cost — the recall/latency knob. */
  def pqTopKRerank(corpusCodes: DataFrame, codebook: DataFrame,
                   corpus: DataFrame, queries: DataFrame,
                   id: String, vec: String, k: Int, overscan: Int = 4,
                   m: Int = 8, dim: Int = 64): DataFrame =
    rerankExactL2(pqTopK(corpusCodes, codebook, queries, id, vec,
      k * overscan, m, dim), corpus, queries, id, vec, k)

  /** Exact squared-L2 top-k over a (query_id, neighbor_id, …) shortlist:
    * only shortlisted neighbors fetch their raw vector. The shortlist is
    * the tiny side (queries × k × overscan rows) and is broadcast
    * explicitly, so the vector fetch can never degrade into shuffling
    * the whole raw-vector table when AQE mis-estimates or is off. */
  private def rerankExactL2(shortlist: DataFrame, corpus: DataFrame,
                            queries: DataFrame, id: String, vec: String,
                            k: Int): DataFrame = {
    val asDouble = (c: Column) => transform(c, _.cast("double"))
    val q = broadcast(queries
      .select(col(id).as("query_id"), asDouble(col(vec)).as("qv")))
    topKByDist(broadcast(shortlist.select(col("query_id"), col("neighbor_id")))
      .join(corpus.select(col(id).as("neighbor_id"),
        asDouble(col(vec)).as("cv")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("dist", l2sq(corpus.sparkSession, col("qv"), col("cv"))), k)
  }
}
