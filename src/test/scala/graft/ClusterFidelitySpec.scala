package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CorpusStore
import graft.llm.{BandStore, Dedup}

/** Cluster-fidelity guard: everything else in the suite proves the
  * engine on local[4] with shuffle.partitions == cores and an
  * implicit local filesystem. A real deployment has neither — the
  * default FS is HDFS/object-store (paths arrive scheme-qualified)
  * and shuffle.partitions ≫ cores. These specs re-run the persisted-
  * artifact machinery (CorpusStore compaction + run expiry, BandStore
  * build/read, checkpointed PageRank) with `file:`-qualified Hadoop
  * paths AND spark.sql.shuffle.partitions = 200, and assert results
  * identical to the defaults — pinning that no code path silently
  * assumes partitions == cores (e.g. an index keyed by partition id)
  * or a bare local path (java.io.File never resolves a `file:` URI).
  */
class ClusterFidelitySpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}
  import spark.implicits._

  private lazy val docs =
    Tables.documents(spark, Sf).filter(col("doc_id") < 120)
      .select("doc_id", "text").cache()

  private def tmpDir(prefix: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(prefix).toString

  private def cleanup(dir: String): Unit =
    graft.queries.Fixtures.deleteRecursively(
      java.nio.file.Paths.get(dir.stripPrefix("file:")))

  /** Run `body` with shuffle.partitions = n, restoring the old value. */
  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  private def seedStore(dir: String): Unit = {
    docs.filter(col("doc_id") < 40)
      .write.parquet(s"$dir/run=aaaa11_batch=0")
    docs.filter(col("doc_id") >= 40 && col("doc_id") < 80)
      .write.parquet(s"$dir/run=aaaa11_batch=1")
    docs.filter(col("doc_id") >= 80)
      .write.parquet(s"$dir/run=bbbb22_batch=0")
  }

  test("CorpusStore compaction + expiry are partition-count independent") {
    def cycle(): (Set[(Long, String)], Set[(Long, String)]) = {
      val dir = tmpDir("graft-cf")
      try {
        seedStore(dir)
        CorpusStore.compact(spark, dir, "doc_id")
        val afterCompact = CorpusStore.readDocs(spark, dir, docs.schema)
          .as[(Long, String)].collect().toSet
        CorpusStore.expireRuns(spark, dir, "doc_id", Seq("bbbb22"))
        val afterExpiry = CorpusStore.readDocs(spark, dir, docs.schema)
          .as[(Long, String)].collect().toSet
        (afterCompact, afterExpiry)
      } finally cleanup(dir)
    }
    val (compactDefault, expiryDefault) = cycle()
    val (compact200, expiry200) = withShufflePartitions(200)(cycle())
    assert(compact200 == compactDefault)
    assert(expiry200 == expiryDefault)
    assert(expiryDefault ==
      docs.filter(col("doc_id") < 80).as[(Long, String)].collect().toSet)
  }

  test("BandStore build/read at 200 shuffle partitions equals the default") {
    val P = BandStore.Params(shingleN = 1, bands = 8, rowsPerBand = 4,
      portable = false)
    def build(): Set[(Long, Int, String)] = {
      val dir = tmpDir("graft-cfb")
      try {
        BandStore.build(docs, "doc_id", "text", dir, P)
        BandStore.read(spark, dir, P)
          .select(col("doc"), col("band"), col("bucket").cast("string"))
          .as[(Long, Int, String)].collect().toSet
      } finally cleanup(dir)
    }
    val default = build()
    val wide = withShufflePartitions(200)(build())
    assert(wide == default && default.nonEmpty)
  }

  test("checkpointed integer PageRank at 200 shuffle partitions is bit-identical") {
    val edges = Tables.lineitem(spark, Sf)
      .select(concat(lit("O"), col("l_orderkey")).as("citing"),
        concat(lit("P"), col("l_partkey")).as("cited"))
    def run(): Map[String, Long] =
      graft.graph.Citations.pageRankExact(edges, iterations = 3)
        .as[(String, Long)].collect().toMap
    val default = run()
    val dir = tmpDir("graft-cfp")
    try {
      spark.conf.set(Checkpoints.DirConf, dir)
      val wide = withShufflePartitions(200)(run())
      // Integer-mass PageRank: sums of longs are associative, so the
      // partitioning (and the durable-checkpoint persistence path)
      // must not move a single unit of mass.
      assert(wide == default && default.nonEmpty)
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      cleanup(dir)
    }
  }

  test("LSH pair generation at 200 shuffle partitions equals the default") {
    def pairs(): Set[(Long, Long)] =
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8,
          bands = 8, rowsPerBand = 4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val default = pairs()
    val wide = withShufflePartitions(200)(pairs())
    assert(wide == default && default.nonEmpty)
  }
}
