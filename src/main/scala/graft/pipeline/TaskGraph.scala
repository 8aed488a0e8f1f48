package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The Luigi-analog task layer (SURVEY §3.1, §7.1 step 7): dated,
  * memoized, atomic parquet artifacts forming a driver-side DAG.
  *
  * Semantics carried over from the reference (task.py:60-75,
  * docs/ai-etc/README.md:66-97):
  *  - an artifact is immutable and keyed by (name, date);
  *  - completeness = output existence (the memoization layer Catalyst
  *    does not provide, SURVEY §4);
  *  - builds are atomic: Spark's commit protocol plus a _SUCCESS marker
  *    stands in for the reference's tmp+rename.
  *
  * Execution walks `requires` depth-first, building only missing
  * outputs — re-running AIUpdate after a partial failure re-uses every
  * finished artifact, exactly like Luigi.
  */
abstract class Task(val name: String, val date: String) {
  def requires: Seq[Task] = Seq.empty
  /** Build the artifact, given resolved inputs keyed by task name. */
  def build(spark: SparkSession, inputs: Map[String, DataFrame]): DataFrame
}

class TaskRunner(spark: SparkSession, baseDir: String) {

  def outputPath(t: Task): String = s"$baseDir/${t.name}/date=${t.date}"

  def isComplete(t: Task): Boolean = {
    val p = new Path(outputPath(t), "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Run `target` and everything incomplete beneath it; returns the
    * target's artifact. Artifacts are parquet — splittable, columnar,
    * predicate-pushdown-capable, so downstream tasks scan only what
    * they project (unlike the reference's opaque NDJSON chain). */
  def run(target: Task): DataFrame = {
    // Memoize by (name, date) — the artifact key; a DAG may legally
    // contain the same task name at two dates (incremental patterns).
    // build() inputs stay keyed by bare name: duplicate names within
    // ONE task's requires are ambiguous and rejected.
    val done = scala.collection.mutable.Map.empty[(String, String), DataFrame]

    def visit(t: Task, stack: Set[(String, String)]): DataFrame = {
      val k = (t.name, t.date)
      require(!stack.contains(k), s"dependency cycle at ${t.name}@${t.date}")
      done.getOrElseUpdate(k, {
        // Short-circuit on an already-complete target BEFORE resolving
        // dependencies: Luigi prunes the whole subtree in that case, so
        // a complete artifact must never trigger rebuilds of cleaned-up
        // upstream intermediates.
        if (!isComplete(t)) {
          require(t.requires.map(_.name).distinct.size == t.requires.size,
            s"${t.name}: duplicate dependency names in requires")
          val inputs = t.requires
            .map(d => d.name -> visit(d, stack + k)).toMap
          val built = t.build(spark, inputs)
          built.write.mode("overwrite").parquet(outputPath(t))
          // Re-read with the schema just written (parquet stores every
          // column nullable): a schema-less read would run one
          // footer-inference Spark job per artifact.
          spark.read.schema(asNullable(built.schema)).parquet(outputPath(t))
        } else spark.read.parquet(outputPath(t))
      })
    }
    visit(target, Set.empty)
  }

  private def asNullable(s: StructType): StructType =
    StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => asNullable(s)
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }
}
