package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.llm.{Corpus, Dedup, TextAnalysis}

/** Dev tool (not part of the driver contract): per-stage wall times for
  * the pipe17 curation funnel on the SAME heavy fixture HeavyBench
  * times, so the composite's cost decomposes into named stages instead
  * of one opaque number (round-9 ask: pipe17 read 133 s against a
  * ~60 s stage sum — find the other 70).
  *
  * Stages are timed CUMULATIVELY (each materializes its whole lineage
  * from the scan, like the real query does) and independently, so
  * `stage[i+1] - stage[i]` is the marginal cost of the added step and
  * the last line equals the registered query. Every stage materializes
  * through the same xxhash64-fold as Bench so nothing short-circuits.
  *
  * Run: sbt "runMain graft.FunnelProfile" (SPARK_GRAFT_SF_DIR to
  * change the source SF; the heavy fixture replicates it ×64).
  */
object FunnelProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.localSession("graft-funnel-profile", cpus)
    HeavyBench.sizePartitions(spark)
    val d = HeavyBench.ensureHeavyDir(spark, sfDir)

    def docs = Tables.documents(spark, d).select("doc_id", "lang", "text")
    def cov = Dedup.passageCoverage(docs, "doc_id", "text",
        w = 8, stride = 4, minDocs = 2, threshold = 0.5, portable = true)
      .select(col("doc").as("doc_id"), col("keep").as("cov_keep"))
    def scored = TextAnalysis.funnelStats(docs, "text",
        minWords = 40, minStopHits = 1)
      .filter(col("quality") >= 0.6 && col("rep_keep") && col("gop_keep"))
      .select("doc_id", "lang", "quality", "fp")
    def gated = scored.join(cov, Seq("doc_id")).filter(col("cov_keep"))
    def uniq = gated
      .withColumn("__min_id", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("__min_id"))
    def full = Corpus.stratifiedQuota(uniq, "doc_id", "lang", 25, "cur")
      .select("doc_id", "lang", "quality")

    // SPARK_GRAFT_SIGNALS=1 → time each per-row signal family in
    // isolation (same scan, one signal) to locate the scoring cost.
    def staged = docs
      .withColumn("__toks", explode(array(
        graft.functions.Scalars.tokens(col("text")))))
    def sortedStaged = staged
      .withColumn("__s", explode(array(array_sort(col("__toks")))))
    val signals: Seq[(String, () => DataFrame)] = Seq(
      "tokenize_only" -> (() =>
        staged.select(col("doc_id"), size(col("__toks")).as("n"))),
      "tokenize+sort" -> (() =>
        sortedStaged.select(col("doc_id"), size(col("__s")).as("n"))),
      "rep:top_token(longestRunFrac)" -> (() => sortedStaged.select(
        col("doc_id"), TextAnalysis.longestRunFrac(col("__s")).as("v"))),
      "rep:dup_2gram(string)" -> (() => staged.select(col("doc_id"),
        TextAnalysis.dupFracOf(
          TextAnalysis.ngramsOfTokens(col("__toks"), 2)).as("v"))),
      "rep:dup_3gram(string)" -> (() => staged.select(col("doc_id"),
        TextAnalysis.dupFracOf(
          TextAnalysis.ngramsOfTokens(col("__toks"), 3)).as("v"))),
      "rep:dup_2gram(hashed)" -> (() => staged
        .withColumn("__g", explode(array(
          TextAnalysis.hashNgrams(col("__toks"), 2))))
        .select(col("doc_id"), TextAnalysis.dupFracOf(col("__g")).as("v"))),
      "rep:dup_3gram(hashed)" -> (() => staged
        .withColumn("__g", explode(array(
          TextAnalysis.hashNgrams(col("__toks"), 3))))
        .select(col("doc_id"), TextAnalysis.dupFracOf(col("__g")).as("v"))),
      "gopher_only" -> (() => TextAnalysis.gopherStats(docs, "text",
        minWords = 40, minStopHits = 1).select("doc_id", "keep")),
      "quality_only" -> (() => staged.select(col("doc_id"),
        TextAnalysis.qualityScoreOfTokens(col("text"), col("__toks"))
          .as("q"))),
      "fp_only" -> (() => sortedStaged.select(col("doc_id"),
        md5(array_join(col("__s"), " ")).as("fp"))),
      "cov:windows_only" -> (() => Dedup.passageWindows(docs, "doc_id",
        "text", w = 8, stride = 4, portable = true).drop("p")),
      "cov:full" -> (() => cov))
    val stages: Seq[(String, () => DataFrame)] =
      if (sys.env.get("SPARK_GRAFT_SIGNALS").contains("1")) signals
      else Seq(
        "scan_only" -> (() => docs),
        "funnel_scan(rep+gopher+quality+fp)" -> (() => scored),
        "passage_coverage" -> (() => cov),
        "gates+cov_join" -> (() => gated),
        "  +fp_window_min" -> (() => uniq),
        "full_pipe17(+quota)" -> (() => full))

    // Warm every stage's code paths once at the source SF so first-use
    // JVM costs (codegen, ICU) don't land in an arbitrary stage.
    val warmStages: Seq[(String, () => DataFrame)] = Seq(
      "cov" -> (() => Dedup.passageCoverage(
        Tables.documents(spark, sfDir).select("doc_id", "lang", "text"),
        "doc_id", "text", w = 8, stride = 4, minDocs = 2, threshold = 0.5,
        portable = true)),
      "funnel" -> (() => TextAnalysis.funnelStats(
        Tables.documents(spark, sfDir).select("doc_id", "lang", "text"),
        "text", minWords = 40, minStopHits = 1)))
    warmStages.foreach { case (_, f) => materialize(f()) }
    stages.foreach { case (name, f) =>
      System.gc()
      val t0 = System.nanoTime()
      val n = materialize(f())
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f s  $n%9d rows  $name")
    }
    spark.stop()
  }

  private def materialize(df: DataFrame): Long = {
    val row = df
      .select(xxhash64(df.columns.map(c => col(s"`$c`").cast("string")): _*)
        .as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
    row.getLong(1)
  }
}
