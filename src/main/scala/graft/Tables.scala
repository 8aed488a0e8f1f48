package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read parquet from
  * it; at 100 TB these would be partitioned tables behind the same names,
  * so nothing here assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** All tables by name — derived from `names` so the list and the
    * loaders cannot drift (ADVICE r01). `events` routes through its
    * ns-timestamp-aware loader. */
  def all(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map { n =>
      n -> (if (n == "events") events(spark, dir) else load(spark, dir, n))
    }.toMap

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts precision has drifted between rounds of driver-generated
    * testdata: earlier rounds wrote TIMESTAMP(NANOS) (which Spark 4
    * rejects at footer inference with PARQUET_TYPE_ILLEGAL), round-9+
    * writes native timestamp[us]. A hard-coded assumption either way is
    * exactly the "upstream schema drift" failure mode the reference
    * documents (ref: siskin docs/ai-update/README.md:14-16), and the
    * forced-BIGINT nanos read silently corrupted µs data (r9 verdict:
    * every ts ÷1000 → January 1970, j3/pipe2 collapsed).
    *
    * So the loader is now self-describing: it reads the parquet footer
    * directly via parquet-hadoop (outside Spark, so NANOS can't throw)
    * and branches on the logical type of `ts`:
    *   - TIMESTAMP(NANOS) → explicit BIGINT user schema (skipping the
    *     footer inference that would throw) + `timestamp_micros(ts div
    *     1000)`; integer division because a double round trip loses
    *     precision at 1.7e18 ns.
    *   - anything else (µs/ms timestamp) → plain native read.
    * The footer probe is one driver-side metadata read per distinct
    * path, memoized; no session-global conf is mutated either way. */
  private val eventsNanosSchema =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"

  private val tsNanosCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** True iff the `ts` column of the parquet file(s) at `path` carries
    * the TIMESTAMP(NANOS) logical type. Reads one footer (first data
    * file when `path` is a directory) with parquet-hadoop, which —
    * unlike Spark's own inference — handles NANOS without throwing. */
  private[graft] def eventsTsIsNanos(s: SparkSession, path: String): Boolean =
    tsNanosCache.computeIfAbsent(path, { _ =>
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
      val hconf = s.sessionState.newHadoopConf()
      val p     = new Path(path)
      val fs    = p.getFileSystem(hconf)
      val file  =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p)
            .map(_.getPath)
            .filter { f =>
              val n = f.getName
              !n.startsWith("_") && !n.startsWith(".")
            }
            .sortBy(_.getName)
            .headOption
            .getOrElse(p)
        else p
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _                                 => false
        })
      } finally reader.close()
    })

  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    if (eventsTsIsNanos(s, path))
      s.read
        .schema(eventsNanosSchema)
        .parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else {
      // The driver writes timestamp[us] without a timezone, which Spark
      // surfaces as TimestampNTZ; every consumer (and the pre-drift
      // loader contract) expects TimestampType. All graft sessions pin
      // spark.sql.session.timeZone=UTC, so the cast is a micros-identity.
      val df = load(s, d, "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The one session factory: tests, perfbench and every main build
    * their session here, so each measures the same confs. */
  def localSession(appName: String = "graft", threads: Int = 4): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads * 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // ONE registration path: the engine's own sessions load the whole
      // native-function surface the same way a deployment does
      // (spark.sql.extensions), so the tested path IS the deployed
      // path. The operators' lazy register() calls remain as a no-op
      // fallback for externally-built sessions (e.g. a host
      // application's own SparkSession without the conf).
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    silenceBoundedWindowWarnings()
    spark
  }

  /** The engine's only unkeyed windows rank BOUNDED model tables (the
    * BPE vocabulary's id assignment, PQ's `limit(k)` seed ranking) —
    * O(vocab)/O(k) rows by construction — but WindowExec warns
    * "Moving all data to a single partition" on every such plan,
    * dozens of times per bench/verify run, drowning driver captures.
    * Silence that one logger; every data-scale window in this engine
    * is keyed, so the warning carries no signal here. */
  def silenceBoundedWindowWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // logging backend absent: cosmetic
}
