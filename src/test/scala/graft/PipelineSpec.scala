package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Task, TaskRunner}
import graft.streaming.IncrementalSnapshot

/** Task-graph memoization semantics and the streaming incremental
  * snapshot (latest-per-key parity with the batch compaction). */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}
  import spark.implicits._

  test("task graph: builds once, memoizes by output existence, rebuilds when stale removed") {
    val base = java.nio.file.Files.createTempDirectory("tasks").toString
    var builds = scala.collection.mutable.ArrayBuffer.empty[String]

    class Src extends Task("src", "2026-08-12") {
      def build(s: SparkSession, in: Map[String, DataFrame]) = {
        builds += name
        Tables.nation(s, Sf).select("n_nationkey", "n_name")
      }
    }
    class Agg(src: Task) extends Task("agg", "2026-08-12") {
      override def requires = Seq(src)
      def build(s: SparkSession, in: Map[String, DataFrame]) = {
        builds += name
        in("src").agg(count(lit(1)).as("n"))
      }
    }
    val runner = new TaskRunner(spark, base)
    val out = runner.run(new Agg(new Src))
    assert(out.as[Long].head() == 25L)
    assert(builds.toSeq == Seq("src", "agg"))

    // Second run: everything complete → zero builds.
    builds.clear()
    runner.run(new Agg(new Src))
    assert(builds.isEmpty)

    // Remove the downstream artifact only → upstream stays memoized.
    builds.clear()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/agg"), true)
    runner.run(new Agg(new Src))
    assert(builds.toSeq == Seq("agg"))

    // Luigi subtree pruning: a complete TARGET must not rebuild
    // cleaned-up upstream intermediates (the dependency is never even
    // visited).
    builds.clear()
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/src"), true)
    runner.run(new Agg(new Src))
    assert(builds.isEmpty)
  }

  test("task graph: cycle detection") {
    val base = java.nio.file.Files.createTempDirectory("tasks2").toString
    lazy val a: Task = new Task("a", "d") {
      override def requires = Seq(b)
      def build(s: SparkSession, in: Map[String, DataFrame]) = spark.range(1).toDF()
    }
    lazy val b: Task = new Task("b", "d") {
      override def requires = Seq(a)
      def build(s: SparkSession, in: Map[String, DataFrame]) = spark.range(1).toDF()
    }
    intercept[IllegalArgumentException](new TaskRunner(spark, base).run(a))
  }

  test("task graph: a fresh artifact is re-read with its written schema and no inference job") {
    val base = java.nio.file.Files.createTempDirectory("tasks3").toString
    def frame(s: SparkSession) = s.range(3).select(
      col("id"), // non-nullable
      struct(col("id").as("a"),
        struct(lit("x").as("b"), array(col("id")).as("ids")).as("inner")).as("st"),
      array(col("id"), lit(null).cast("long")).as("arr"),
      array(struct(col("id").as("e"))).as("arr_st"),
      map(lit("k"), struct(col("id").as("v"), lit(null).cast("string").as("w"))).as("m"),
      lit(null).cast("string").as("nul"))
    class Nested extends Task("nested", "2026-10-20") {
      def build(s: SparkSession, in: Map[String, DataFrame]) = frame(s)
    }
    // Spark job ids are sequential: the jobs between two fence jobs
    // are exactly the ones `body` started.
    def jobsOf(body: => Unit): Int = {
      def fence() = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      val before = fence()
      before.get()
      body
      val after = fence()
      after.get()
      after.jobIds.head - before.jobIds.head - 1
    }
    assert(!frame(spark).schema.forall(_.nullable))
    val writeOnly = jobsOf(frame(spark).write.parquet(s"$base/plain"))
    var out: DataFrame = null
    val runJobs = jobsOf { out = new TaskRunner(spark, base).run(new Nested) }
    assert(runJobs == writeOnly, s"run: $runJobs jobs, bare write: $writeOnly")
    val inferred = spark.read.parquet(s"$base/nested/date=2026-10-20")
    assert(out.schema == inferred.schema)
    assert(out.collect().map(_.toString).sorted.toSeq ==
      inferred.collect().map(_.toString).sorted.toSeq)
    // A complete artifact keeps the plain read.
    assert(new TaskRunner(spark, base).run(new Nested).schema == inferred.schema)
  }

  test("AiUpdate DAG: end-to-end artifacts, memoized re-run, labeled export") {
    val base = java.nio.file.Files.createTempDirectory("aiupdate").toString
    val out = graft.pipeline.AiUpdate.run(spark, Sf, base, "2026-08-12")
    assert(out.count() == 500)
    assert(out.columns.toSet ==
      Set("id", "doc_id", "institution", "x_oa", "quality", "fullrecord"))
    // Artifacts for every stage exist with _SUCCESS markers.
    for (t <- Seq("source_union", "analyzed", "deduplicated", "export"))
      assert(new java.io.File(s"$base/$t/date=2026-08-12/_SUCCESS").exists(), t)
    // Re-run touches nothing (memoized) and returns the same artifact.
    val again = graft.pipeline.AiUpdate.run(spark, Sf, base, "2026-08-12")
    assert(again.count() == 500)
    // The embed carries EVERY record field in a canonical text form —
    // including the float score, rendered as fixed-point text (a raw
    // JSON double would make the export engine-specific).
    val sample = out.filter(col("x_oa")).select("fullrecord").as[String].head()
    assert(sample.contains("\"fp\"") && sample.contains("\"labels\""))
    assert("\"quality\":\"[0-9]\\.[0-9]{12}\"".r.findFirstIn(sample).isDefined,
      s"canonical fixed-point quality missing from embed: $sample")
  }

  test("saltedAgg equals plain groupBy aggregation") {
    val ev = Tables.events(spark, Sf)
    val plain = ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      .as[(String, Long, Double)].collect()
      .map { case (k, c, s) => (k, c, math.round(s * 100)) }.toSet
    val salted = graft.operators.Ops.saltedAgg(ev, "event_type", 8, Seq(
      ("cnt", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
      ("sv", sum(col("value")), (c: org.apache.spark.sql.Column) => sum(c))))
      .as[(String, Long, Double)].collect()
      .map { case (k, c, s) => (k, c, math.round(s * 100)) }.toSet
    assert(salted == plain)
  }

  test("partitioned incremental merge: parity + untouched buckets not rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("snapp")
    val landing = dir.resolve("landing").toString
    val snapshot = dir.resolve("snapshot").toString
    val checkpoint = dir.resolve("chk").toString
    new java.io.File(landing).mkdirs()
    def writeSlice(n: String, rows: Seq[(String, Long, String)]): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(landing, n),
        rows.map { case (k, t, v) => s"""{"key": "$k", "ts": $t, "val": "$v"}""" }
          .mkString("\n"))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = IncrementalSnapshot.startPartitioned(spark, schema, landing,
        snapshot, checkpoint, "key", "ts", "val", buckets = 8)
      q.awaitTermination()
    }
    // 40 keys in batch 1 → most of the 8 buckets populated.
    writeSlice("s1.json", (0 until 40).map(i => (s"k$i", 1L, s"v$i")))
    runOnce()
    val before = new java.io.File(snapshot).listFiles()
      .filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().map(f => f.getName).toSet).toMap
    assert(before.size >= 4)

    // Batch 2 touches exactly one key → at most one bucket rewritten.
    writeSlice("s2.json", Seq(("k1", 9L, "v1-new")))
    runOnce()
    val after = new java.io.File(snapshot).listFiles()
      .filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().map(f => f.getName).toSet).toMap
    val changed = before.keySet.filter(b => before(b) != after.getOrElse(b, Set.empty))
    assert(changed.size <= 1, s"rewrote buckets: $changed")

    val got = spark.read.parquet(snapshot)
      .select("key", "val").as[(String, String)].collect().toMap
    assert(got("k1") == "v1-new" && got("k2") == "v2" && got.size == 40)
  }

  test("incremental snapshot merge equals full batch compaction") {
    val dir = java.nio.file.Files.createTempDirectory("snap")
    val landing = dir.resolve("landing").toString
    val snapshot = dir.resolve("snapshot").toString
    val checkpoint = dir.resolve("chk").toString
    new java.io.File(landing).mkdirs()

    // Harvest slice 1: keys a,b; slice 2 arrives later with newer a.
    def writeSlice(n: String, rows: Seq[(String, Long, String)]): Unit = {
      val f = java.nio.file.Paths.get(landing, n)
      java.nio.file.Files.writeString(f, rows.map { case (k, ts, v) =>
        s"""{"key": "$k", "ts": $ts, "val": "$v"}"""
      }.mkString("\n"))
    }
    writeSlice("s1.json", Seq(("a", 1L, "old-a"), ("b", 1L, "b1")))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.StringType)))

    def runOnce(): Unit = {
      val q = IncrementalSnapshot.start(spark, schema, landing, snapshot,
        checkpoint, "key", "ts", "val")
      q.awaitTermination()
    }
    runOnce()
    val after1 = spark.read.parquet(snapshot)
      .select("key", "val").as[(String, String)].collect().toMap
    assert(after1 == Map("a" -> "old-a", "b" -> "b1"))

    writeSlice("s2.json", Seq(("a", 5L, "new-a"), ("c", 2L, "c1")))
    runOnce()
    val after2 = spark.read.parquet(snapshot)
      .select("key", "val").as[(String, String)].collect().toMap
    assert(after2 == Map("a" -> "new-a", "b" -> "b1", "c" -> "c1"))

    // Parity: identical to compacting the full landing dir in batch.
    val full = IncrementalSnapshot.compact(
      spark.read.schema(schema).json(landing), "key", "ts", "val")
      .select("key", "val").as[(String, String)].collect().toMap
    assert(full == after2)
  }

  test("incremental snapshot crash recovery: completed staging restores a destroyed snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("snaprec")
    val landing = dir.resolve("landing").toString
    val snapshot = dir.resolve("snapshot").toString
    val checkpoint = dir.resolve("chk").toString
    new java.io.File(landing).mkdirs()
    def writeSlice(n: String, rows: Seq[(String, Long, String)]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(landing, n),
        rows.map { case (k, ts, v) =>
          s"""{"key": "$k", "ts": $ts, "val": "$v"}"""
        }.mkString("\n"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key STRING, ts BIGINT, val STRING")
    def runOnce(): Unit = {
      val q = IncrementalSnapshot.start(spark, schema, landing, snapshot,
        checkpoint, "key", "ts", "val")
      q.awaitTermination()
    }
    writeSlice("s1.json", Seq(("a", 1L, "a1"), ("b", 1L, "b1")))
    runOnce()

    // Simulate the crash window: the merge completed into staging but
    // the snapshot overwrite died halfway. Rebuild staging from the
    // current snapshot, then destroy the snapshot.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val staging = snapshot.replaceAll("/+$", "") + "__staging"
    spark.read.parquet(snapshot).write.mode("overwrite").parquet(staging)
    fs.delete(new org.apache.hadoop.fs.Path(snapshot), true)

    // Next batch must first restore from staging, then merge the new
    // slice — nothing from batch 1 may be lost.
    writeSlice("s2.json", Seq(("a", 5L, "a2"), ("c", 2L, "c1")))
    runOnce()
    val got = spark.read.parquet(snapshot)
      .select("key", "val").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a2", "b" -> "b1", "c" -> "c1"))
    // Staging is cleaned up after the successful swap.
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging)))
  }
}
