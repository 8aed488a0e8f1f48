package graft

/** Measurement tooling (optimization rounds): writes the
  * `.explain("formatted")` physical plan of selected registered
  * queries to `plans/<tag>/<name>_<suffix>.txt`, so plan-shape claims
  * in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: `sbt "runMain graft.PlanDump <suffix> <name>[,<name>...]"`
  * with the same SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS contract as
  * Bench; `<suffix>` is `before` or `after`; the tag defaults to
  * SPARK_GRAFT_PLAN_TAG or `r20`. Pass `all` to dump every query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <names|all>")
    val suffix = args(0)
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r20")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.localSession("graft-plandump", cpus)
    HeavyBench.sizePartitions(spark)
    val wanted: Set[String] =
      if (args(1) == "all") SparkEntry.registry.map(_.name).toSet
      else args(1).split(",").toSet
    val outDir =
      if (tag.startsWith("/")) java.nio.file.Paths.get(tag)
      else java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(outDir)
    // Fixture prep mirrors Bench so fixture-backed queries resolve.
    try {
      queries.SourceQueries.ensureFixtures(spark, sfDir)
      queries.PipelineQueries.ensureSnapshotFixture(spark, sfDir)
      queries.CrossrefQueries.ensureMessageFixture(spark, sfDir)
      queries.GraphQueries.ensureCitationFixture(spark, sfDir)
      queries.FeedQueries.ensureUnpaywallFixture(spark, sfDir)
      queries.FeedQueries.ensureBaseFixture(spark, sfDir)
      queries.FeedQueries.ensureDataciteFixture(spark, sfDir)
      queries.PipelineQueries.ensureAiUpdateExport(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[plandump] fixture prep failed: ${e.getMessage}")
    }
    SparkEntry.registry.filter(q => wanted.contains(q.name)).foreach { q =>
      try {
        val df = q.fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = outDir.resolve(s"${q.name}_$suffix.txt")
        java.nio.file.Files.write(p,
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $p")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
