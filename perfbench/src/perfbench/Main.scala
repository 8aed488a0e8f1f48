package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark JVM, as an operator's update runs: a fresh process
  * that builds the session and runs the workload's batch job once, cold.
  * `setup_s` spans JVM launch → session ready (`--t0-ms` is the caller's
  * clock at launch); `job_s` spans the job's first action → output
  * committed. With `--trace 1` the job is traced. The result file, which
  * `run.py` reads, is complete even when the job throws: the error is
  * recorded with the job.
  *
  * {{{
  * java ... perfbench.Main --workload ai_update --data DIR --work DIR \
  *   --out DIR --result FILE --trace 0 --cores 4 --asof 2026-01-01 \
  *   --t0-ms <launch epoch ms>
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = a("t0-ms").toLong
    val spark = graft.Tables.localSession("perfbench", a("cores").toInt)
    val traced = a.getOrElse("trace", "0") == "1"
    val tr = new Tracer(spark, traced, s"${a("workload")}-${ProcessHandle.current().pid()}")
    val out = new Result
    out.num("setup_s", (System.currentTimeMillis() - t0) / 1000.0)
    try runJob(spark, tr, a, traced, out)
    finally {
      out.num("peak_rss_mb", peakRssMb)
      out.num("failed_jobs", tr.listener.failedJobs)
      out.num("retried_tasks", tr.listener.retriedTasks)
      Files.write(Paths.get(a("result")), out.render.getBytes(StandardCharsets.UTF_8))
      if (traced) Files.write(Paths.get(a("result")).resolveSibling("spans.json"),
        spansJson(tr).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  private def job(a: Map[String, String]): BatchJob = a("workload") match {
    case "ai_update"   => new AiUpdateJob(a("data"), a("asof"))
    case "license_tag" => new LicenseTagJob(a("data"), a("asof"))
    case "neardup"     => new NearDupJob(a("data"), a("asof"))
    case w             => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** First action → output committed, with the process CPU it took. */
  private def runJob(spark: SparkSession, tr: Tracer, a: Map[String, String],
                     traced: Boolean, out: Result): Unit = {
    val j = job(a)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    delete(new File(a("work")))
    delete(new File(a("out")))
    tr.startJob(0, traced)
    val c0 = os.getProcessCpuTime
    val w0 = System.nanoTime
    val err =
      try { j.run(spark, tr, a("work"), a("out")); "" }
      catch { case e: Throwable => e.toString }
    val wall = (System.nanoTime - w0) / 1e9
    val cpu = (os.getProcessCpuTime - c0) / 1e9
    val spans = tr.finishJob()
    if (traced && err.isEmpty) j.diagnose(spark, tr, a("work"), a("out"))
    out.raw("job", Result.obj(Seq("traced" -> traced.toString, "job_s" -> Result.num(wall),
      "cpu_s" -> Result.num(cpu), "error" -> Result.str(err)) ++
      (if (traced && err.isEmpty) Seq("layers" -> layersJson(spans, tr.counts)) else Nil)))
  }

  /** Per-span metrics of one traced job, spans of one name summed. */
  private def layersJson(spans: Seq[Span], counts: collection.Map[String, Double]): String = {
    val byName = spans.groupBy(_.name)
    val fields = byName.toSeq.sortBy(_._1).map { case (name, ss) =>
      val wall = ss.map(_.wallS).sum
      val childWall = spans.filter(_.parent == name).map(_.wallS).sum
      val accs = ss.flatMap(s => Option(s.acc))
      val rows = counts.getOrElse(s"$name.rows_out", accs.map(_.recordsWritten).sum.toDouble)
      val m = Seq(
        "wall_s" -> wall,
        "self_s" -> (wall - childWall),
        "cpu_s" -> (accs.map(_.cpuNs).sum + ss.map(_.cpuThreadNs).sum) / 1e9,
        "gc_s" -> ss.map(_.gcMs).sum / 1000.0,
        "shuffle_write_mb" -> accs.map(_.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> accs.map(_.spillBytes).sum / 1e6,
        "task_skew" -> (if (accs.isEmpty) 1.0 else accs.map(_.skew).max),
        "rows_out" -> rows,
        "jobs" -> accs.map(_.jobs).sum.toDouble,
        "checkpoint_jobs" -> accs.map(_.checkpointJobs).sum.toDouble)
      name -> Result.obj(m.map { case (k, v) => k -> Result.num(v) })
    }
    val extra = counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Result.num(v) }
    Result.obj(fields :+ ("counts" -> Result.obj(extra)))
  }

  private def spansJson(tr: Tracer): String =
    tr.spans.map { s =>
      Result.obj(Seq("run" -> Result.str(s.run), "job" -> s.job.toString,
        "name" -> Result.str(s.name), "parent" -> Result.str(s.parent),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }.mkString("[", ",\n", "]")

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** A flat JSON object built by hand (the result file needs no library). */
final class Result {
  private val fields = mutable.ArrayBuffer.empty[(String, String)]
  def num(k: String, v: Double): Unit = fields += k -> Result.num(v)
  def raw(k: String, json: String): Unit = fields += k -> json
  def render: String = Result.obj(fields.toSeq)
}

object Result {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
