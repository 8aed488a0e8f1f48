package perfbench

import java.time.LocalDate
import scala.io.Source
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Schema
import graft.export.SolrExport
import graft.license.{AmslConfigBuilder, AmslRow, FilterExpr, Kbart, Licensing, RecordCols}
import graft.llm.Dedup
import graft.normalize.Crossref
import graft.operators.{GroupCover, Ops}
import graft.pipeline.{Task, TaskRunner}
import graft.sources.Ndjson

/** One batch job of a workload. `work` is an empty scratch directory for
  * the job's task artifacts, `out` the committed output. In a traced job
  * `diagnose` adds the counts behind the per-layer ratios; it runs after
  * the job, outside every span. */
trait BatchJob {
  def run(spark: SparkSession, tr: Tracer, work: String, out: String): Unit
  def diagnose(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = ()
}

/** Input decoding shared by the jobs: AMSL rows and KBART files as the
  * generator writes them. Everything after decoding is engine code. */
object Inputs {
  def tsvRows(path: String): Seq[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }

  def amslRows(path: String): Seq[AmslRow] = tsvRows(path).map { f =>
    def opt(i: Int): Option[String] = Option(f(i)).filter(_.nonEmpty)
    AmslRow(f(0), f(1), f(2), opt(3), opt(4), opt(5), opt(6), opt(7), opt(8))
  }

  val KbartSchema: StructType = StructType(Seq(
    "publication_title", "print_identifier", "online_identifier",
    "date_first_issue_online", "num_first_vol_online", "num_first_issue_online",
    "date_last_issue_online", "num_last_vol_online", "num_last_issue_online",
    "title_url", "first_author", "title_id", "embargo_info", "coverage_depth",
    "notes", "publisher_name").map { n =>
    StructField(n, if (n.startsWith("date_")) DateType else StringType)
  })

  /** A KBART file as the holdings frame `Licensing.tag` takes: one row
    * per (identifier, coverage window), print and online ISSN alike. */
  def holdings(spark: SparkSession, path: String): DataFrame = {
    val e = Kbart.parseEmbargo(col("embargo_info"))
    spark.read.schema(KbartSchema).option("sep", "\t").option("header", "true").csv(path)
      .select(
        explode(filter(array(col("print_identifier"), col("online_identifier")),
          x => x.isNotNull && x =!= "")).as("issn"),
        col("date_first_issue_online").as("date_first"),
        col("date_last_issue_online").as("date_last"),
        e("days").as("embargo_days"),
        e("method").as("embargo_method"))
  }

  def holdingsFor(spark: SparkSession, dir: String,
                  configs: Map[String, FilterExpr]): Map[String, DataFrame] =
    configs.values.flatMap(FilterExpr.holdingsRefs).toSeq.distinct
      .map(n => n -> holdings(spark, s"$dir/$n")).toMap

  /** Record columns of an intermediate-schema frame, as the tagger reads them. */
  val IsRecordCols: RecordCols = RecordCols(
    id = col("`finc.id`"), sourceId = col("`finc.source_id`"),
    collections = coalesce(col("`finc.mega_collection`"), array().cast("array<string>")),
    issns = concat(coalesce(col("`rft.issn`"), array().cast("array<string>")),
      coalesce(col("`rft.eissn`"), array().cast("array<string>"))),
    subjects = coalesce(col("subjects"), array().cast("array<string>")),
    date = col("`rft.date`"))

  def tagIs(spark: SparkSession, tr: Tracer, data: String, records: DataFrame,
            asOf: String): DataFrame = {
    val configs = tr.span("license.config") {
      val c = AmslConfigBuilder.build(amslRows(s"$data/amsl.tsv"))
      tr.count("license.config.rows_out", c.size)
      c
    }
    Licensing.tag(records, IsRecordCols, configs,
      holdingsFor(spark, s"$data/kbart", configs), asOf, labelCol = "__labels")
  }
}

/** Tasks of one job's `TaskRunner` DAG. Each task opens the span it is
  * timed as; the span lasts through the runner's write of the artifact. */
final class Dag(tr: Tracer, date: String) {
  def task(name: String, span: String, deps: Task*)(
      body: Map[String, DataFrame] => DataFrame): Task =
    new Task(name, date) {
      override def requires: Seq[Task] = deps
      def build(s: SparkSession, in: Map[String, DataFrame]): DataFrame = {
        tr.open(span)
        body(in)
      }
    }
}

/** The weekly AI update: Crossref harvest → snapshot → intermediate
  * schema + collections, DOAJ intermediate schema, union → license tag →
  * groupcover → solr5vu3 export. */
final class AiUpdateJob(data: String, asOf: String) extends BatchJob {
  private val prefs = Inputs.tsvRows(s"$data/prefs.tsv").map(_(0))

  private def list(c: Column): Column = filter(split(c, ","), x => x =!= "")

  /** Crossref's flat normalizer output under intermediate-schema names. */
  private def asIs(xr: DataFrame): DataFrame = xr.select(
    col("record_id").as("finc.id"),
    col("doi").as("finc.record_id"),
    col("source_id").as("finc.source_id"),
    col("format").as("finc.format"),
    array(col("mega_collection")).as("finc.mega_collection"),
    col("genre").as("rft.genre"),
    col("title").as("rft.atitle"),
    col("jtitle").as("rft.jtitle"),
    list(col("issns")).as("rft.issn"),
    list(col("eissns")).as("rft.eissn"),
    col("volume").as("rft.volume"),
    col("issue").as("rft.issue"),
    col("pages").as("rft.pages"),
    col("date").as("rft.date"),
    when(col("publisher").isNotNull, array(col("publisher"))).as("rft.pub"),
    transform(split(col("authors"), "; "), a => struct(a.as("rft.au"),
      lit(null).cast("string").as("rft.aufirst"), lit(null).cast("string").as("rft.aulast"),
      lit(null).cast("string").as("rft.aucorp"))).as("authors"),
    col("doi"),
    array(col("url")).as("url"),
    array(col("lang")).as("languages"),
    list(col("subjects")).as("subjects"),
    col("abstract"))

  def run(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = {
    val dag = new Dag(tr, asOf)
    val harvest = dag.task("harvest", "sources.read") { _ =>
      spark.read.text(s"$data/crossref").withColumnRenamed("value", "msg_json")
    }
    val doaj = dag.task("doaj", "sources.read") { _ =>
      Schema.conform(Ndjson.read(spark, Schema.IntermediateSchema, s"$data/doaj"))
    }
    val snapshot = dag.task("snapshot", "operators.snapshot", harvest) { in =>
      Crossref.snapshotLatest(Crossref.parse(in("harvest"), "msg_json")).select("msg_json")
    }
    val crossrefIs = dag.task("crossref_is", "normalize.crossref", snapshot) { in =>
      val members = spark.read.option("sep", "\t").option("header", "true")
        .csv(s"$data/members.tsv")
      val xr = Crossref.toIntermediate(Crossref.parse(in("snapshot"), "msg_json"),
        LocalDate.parse(asOf))
      Schema.conform(asIs(Crossref.withCollections(xr, members)))
    }
    val tagged = dag.task("tagged", "license.tag", crossrefIs, doaj) { in =>
      val union = Ops.unionSources(Seq(in("crossref_is"), in("doaj")))
      Schema.conform(Inputs.tagIs(spark, tr, data, union, asOf)
        .drop(col("`x.labels`")).withColumnRenamed("__labels", "x.labels"))
    }
    val deduped = dag.task("deduped", "operators.groupcover", tagged) { in =>
      val keyed = in("tagged")
        .withColumnsRenamed(Map("finc.id" -> "__id", "finc.source_id" -> "__sid",
          "x.labels" -> "__labels"))
        .withColumn("__key", lower(col("doi")))
      GroupCover(keyed, "__id", "__sid", "__key", "__labels", prefs)
        .drop("__key")
        .withColumnsRenamed(Map("__id" -> "finc.id", "__sid" -> "finc.source_id",
          "__labels" -> "x.labels"))
    }
    val solr = dag.task("solr", "export.solr", deduped) { in =>
      SolrExport.solr5vu3(Schema.conform(in("deduped")))
    }
    val exported = new TaskRunner(spark, s"$work/tasks").run(solr)
    tr.open("export.write")
    Ndjson.write(exported, out, "gzip")
    tr.closeAll()
  }

  override def diagnose(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = {
    def art(n: String) = spark.read.parquet(s"$work/tasks/$n/date=$asOf")
    val tagged = art("tagged")
    tr.count("license.tag.labeled", tagged.filter(size(col("`x.labels`")) > 0).count())
    tr.count("license.tag.records", tagged.count())
    val before = tagged.select(col("`finc.id`").as("__id"), size(col("`x.labels`")).as("__n"))
    tr.count("operators.groupcover.shrunk", art("deduped")
      .join(before, col("`finc.id`") === col("__id"))
      .filter(size(col("`x.labels`")) < col("__n")).count())
  }
}

/** License tagging of normalized records against a production-shaped
  * AMSL config; writes (id, labels). */
final class LicenseTagJob(data: String, asOf: String) extends BatchJob {
  def run(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = {
    tr.open("license.tag")
    val records = spark.read.parquet(s"$data/records")
    Ndjson.write(Inputs.tagIs(spark, tr, data, records, asOf)
      .select(col("`finc.id`").as("id"), col("__labels").as("labels")), out, "gzip")
    tr.closeAll()
  }

  override def diagnose(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = {
    val o = spark.read.json(out)
    tr.count("license.tag.labeled", o.filter(size(col("labels")) > 0).count())
    tr.count("license.tag.records", o.count())
  }
}

/** Near-duplicate rewrite of a text corpus: MinHash-LSH pairs →
  * connected components → keep the (quality, id)-max of each group. */
final class NearDupJob(data: String, date: String) extends BatchJob {
  val Threshold = 0.8

  def run(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = {
    val dag = new Dag(tr, date)
    val corpus = dag.task("corpus", "sources.read") { _ =>
      Ndjson.read(spark, StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("quality", DoubleType))),
        s"$data/corpus")
    }
    val pairs = dag.task("pairs", "llm.lsh_verify", corpus) { in =>
      val docs = in("corpus")
      if (tr.traced) tr.span("llm.minhash") {
        val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text").count()
        val bucket = Dedup.minhashBandTable(docs, "doc_id", "text")
          .groupBy("band", "bucket").count().agg(max("count")).head().getLong(0)
        tr.count("llm.minhash.rows_out", cand)
        tr.count("llm.lsh_verify.max_bucket", bucket)
      }
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = Threshold)
    }
    val rewrite = dag.task("rewrite", "llm.groups", corpus, pairs) { in =>
      val df = Dedup.nearDupRewrite(in("corpus"), "doc_id", col("quality"), in("pairs"))
      tr.open("llm.rewrite")
      df
    }
    val groups = new TaskRunner(spark, s"$work/tasks").run(rewrite)
    tr.open("export.write")
    Ndjson.write(groups, out, "gzip")
    tr.closeAll()
  }

  override def diagnose(spark: SparkSession, tr: Tracer, work: String, out: String): Unit = {
    val grouped = spark.read.parquet(s"$work/tasks/rewrite/date=$date")
      .groupBy("group_id").count().filter(col("count") >= 2)
    tr.count("llm.groups.rows_out",
      Option(grouped.agg(sum("count")).head().get(0)).fold(0L)(_.toString.toLong))
  }
}
