package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric sums of one job group (one span of one traced job). */
final class GroupAcc {
  var jobs = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  /** stage id -> task durations (ms), for the skew signal */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** jobs that truncate lineage (a stage named "localCheckpoint at ...") */
  var checkpointJobs = 0

  /** max / median task time of the stage with the most task time. */
  def skew: Double = {
    val busiest = taskMs.values.filter(_.size >= 2).maxByOption(_.sum)
    busiest.fold(1.0) { ds =>
      val s = ds.sorted
      val med = if (s.size % 2 == 1) s(s.size / 2).toDouble
                else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      if (med <= 0) 1.0 else s.last / med
    }
  }
}

/** Counts failed jobs and retried tasks in every run; with `traced`,
  * also sums task metrics per job group of a traced job. Registered through the public
  * `addSparkListener`. */
final class BenchListener(traced: Boolean) extends SparkListener {
  @volatile var failedJobs = 0
  @volatile var retriedTasks = 0
  private val stageGroup = mutable.Map.empty[Int, String]
  val groups = mutable.Map.empty[String, GroupAcc]

  private def acc(g: String): GroupAcc = synchronized(groups.getOrElseUpdate(g, new GroupAcc))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val a = acc(g)
        synchronized {
          a.jobs += 1
          if (e.stageInfos.exists(_.name.startsWith("localCheckpoint at"))) a.checkpointJobs += 1
          e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
        }
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
    case JobSucceeded => ()
    case _            => failedJobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskInfo.attemptNumber > 0) retriedTasks += 1
    if (traced) synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = acc(g)
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.recordsWritten += m.outputMetrics.recordsWritten
        }
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  def take(group: String): GroupAcc = synchronized(groups.remove(group).getOrElse(new GroupAcc))
}

/** SQL-metric probe of the license tag plan: rows out of the ISSN
  * explode (the probes) and rows out of the broadcast holdings join
  * (the matched holdings rows). Reads the executed plan the engine ran;
  * it changes nothing in it. */
final class TagPlanProbe extends QueryExecutionListener {
  @volatile var probes = 0L
  @volatile var matched = 0L

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => q +: nodes(q.plan)
    case r: ReusedExchangeExec    => r +: nodes(r.child)
    case other                    => other +: other.children.flatMap(nodes)
  }

  private def issnKeyed(p: SparkPlan): Boolean =
    p.output.exists(_.name == "__issn")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val all = nodes(qe.executedPlan)
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val gens = all.collect { case g: GenerateExec if issnKeyed(g) => g }
    val joins = all.collect {
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "__issn")) => j
    }
    if (gens.nonEmpty && joins.nonEmpty) synchronized {
      probes += gens.map(rows).sum
      matched += joins.map(rows).sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = synchronized { probes = 0; matched = 0 }
}

/** One finished span: `<layer>.<stage>`, wall interval, parent span and
  * the listener sums of its job group. */
final case class Span(run: String, job: Int, name: String, parent: String,
                      startNs: Long, endNs: Long, cpuThreadNs: Long,
                      gcMs: Long, acc: GroupAcc) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder. In an untraced job it records nothing and the
  * listener only keeps the failure counts; in a traced job every span
  * sets its own job group so the listener can attribute tasks to it.
  * `open` starts a sequential span that lasts until the next `open` or
  * `closeAll`; `span` nests one inside the span currently open. Spans stay in memory until the run writes them. */
final class Tracer(spark: SparkSession, tracing: Boolean, val runId: String) {
  val listener = new BenchListener(tracing)
  val tagProbe = new TagPlanProbe
  spark.sparkContext.addSparkListener(listener)
  if (tracing) spark.listenerManager.register(tagProbe)
  /** whether the job now running is traced */
  var traced = false

  private val threadMx = ManagementFactory.getThreadMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = { var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t }

  private case class Open(name: String, parent: String, start: Long, cpu: Long, gc: Long) {
    def group: String = s"$runId:$job:$name"
  }
  private val stack = mutable.Stack.empty[Open]
  private var job = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  /** counts a span reports besides its listener sums (rows_out of spans
    * that write nothing, ratio numerators and bases) */
  val counts = mutable.Map.empty[String, Double]

  def startJob(i: Int, traceJob: Boolean): Unit = {
    job = i; traced = tracing && traceJob; counts.clear(); tagProbe.reset()
  }

  private def push(name: String): Unit = if (traced) {
    val parent = stack.headOption.map(_.name).getOrElse("")
    val o = Open(name, parent, System.nanoTime, threadMx.getCurrentThreadCpuTime, gcMs)
    stack.push(o)
    spark.sparkContext.setJobGroup(o.group, name)
  }

  private def pop(): Unit = if (traced && stack.nonEmpty) {
    val o = stack.pop()
    val end = System.nanoTime
    spans += Span(runId, job, o.name, o.parent, o.start, end,
      threadMx.getCurrentThreadCpuTime - o.cpu, gcMs - o.gc, null)
    stack.headOption match {
      case Some(p) => spark.sparkContext.setJobGroup(p.group, p.name)
      case None    => spark.sparkContext.clearJobGroup()
    }
  }

  /** Close every open span, then start a top-level span `name`. */
  def open(name: String): Unit = { while (stack.nonEmpty) pop(); push(name) }

  def closeAll(): Unit = while (stack.nonEmpty) pop()

  def span[T](name: String)(body: => T): T = {
    push(name)
    try body finally pop()
  }

  def count(key: String, v: Double): Unit = if (traced) counts(key) = v

  /** After a job: wait for the listener bus, then attach each span's
    * task sums. Returns this job's spans. */
  def finishJob(): Seq[Span] = {
    closeAll()
    if (!traced) return Seq.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val mine = spans.filter(_.job == job).toSeq
    val withAcc = mine.map(s => s.copy(acc = listener.take(s"$runId:${s.job}:${s.name}")))
    if (tagProbe.probes > 0) {
      counts("license.tag.probes") = tagProbe.probes.toDouble
      counts("license.tag.matched") = tagProbe.matched.toDouble
    }
    spans --= mine
    spans ++= withAcc
    withAcc
  }
}
