package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not part of the driver contract): stage decomposition of
  * the heavy-fixture graph queries (g8 pagerank shape), the
  * FunnelProfile discipline applied to the citation path: each stage
  * materializes its full lineage through the Bench hash-fold, so
  * stage[i+1] − stage[i] is the marginal cost of the added step.
  *
  * Run: sbt "runMain graft.GraphProfile"
  */
object GraphProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.localSession("graft-graph-profile", cpus)
    HeavyBench.sizePartitions(spark)
    val d = HeavyBench.ensureHeavyDir(spark, sfDir)
    queries.GraphQueries.ensureCitationFixture(spark, d)

    def edges = queries.GraphQueries.edgesFromDump(spark, d)
    def dedup = edges.distinct()
    def verts = dedup.select(col("citing").as("doi"))
      .union(dedup.select(col("cited"))).distinct()
    def pr0 = graph.Citations.pageRankExact(edges, iterations = 0)
    def pr1 = graph.Citations.pageRankExact(edges, iterations = 1)
    def pr2 = graph.Citations.pageRankExact(edges, iterations = 2)

    val stages: Seq[(String, () => DataFrame)] = Seq(
      "dump_parse(edges)" -> (() => edges),
      "edges_distinct" -> (() => dedup),
      "verts_distinct" -> (() => verts),
      "pagerank_0iter(setup)" -> (() => pr0),
      "pagerank_1iter" -> (() => pr1),
      "pagerank_2iter(=g8)" -> (() => pr2))

    // Warm code paths at the source SF.
    graph.Citations.pageRankExact(
      queries.GraphQueries.edgesFromDump(spark, sfDir), iterations = 2)
      .limit(1).collect()
    stages.foreach { case (name, f) =>
      System.gc()
      val t0 = System.nanoTime()
      val row = {
        val df = f()
        df.select(xxhash64(df.columns.map(c =>
            col(s"`$c`").cast("string")): _*).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
      }
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ${row.getLong(1)}%9d rows  $name")
    }
    spark.stop()
  }
}
