package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** One timed interval around a call into a layer. `op` is the operation it
  * belongs to, `parent` the span that was open when it started (0 = none). */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      start: Long, end: Long)

/** Spans are recorded only when tracing is on; otherwise `span` just runs its
  * body. The span id rides on the thread's Spark local property, so every job
  * a span's body submits is attributed to that span by [[JobLog]]. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[(Long, Long)] { // (span id, op id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** The open span of this thread, to hand to work started on other threads. */
  def context: (Long, Long) = open.get()

  def span[T](name: String, ctx: (Long, Long) = null)(body: => T): T =
    if (!on) body
    else {
      val (parent, op0) = if (ctx != null) ctx else open.get()
      val id = ids.incrementAndGet()
      val op = if (op0 == 0L) id else op0
      val saved = open.get()
      val savedTag = sc.getLocalProperty(Tracer.Tag)
      open.set((id, op))
      sc.setLocalProperty(Tracer.Tag, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val s = Span(id, name, parent, op, t0, System.nanoTime())
        spans.synchronized(spans += s)
        open.set(saved)
        sc.setLocalProperty(Tracer.Tag, savedTag)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer { val Tag = "perfbench.span" }

/** Per-job Spark counts, keyed by the span that submitted the job. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val span: Long, val site: String,
                  val start: Long, val stageIds: Seq[Int]) {
    var end = -1L
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    /** The module of the call site's source file: "verbs" for the verb
      * layer, "SparkEntry" for its query files, "perfbench" for actions the
      * benchmark itself issues, else the file name without extension. */
    def module: String = JobLog.module(
      site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse(""))
    /** A parquet footer read that only infers a schema: a one-stage job
      * submitted at a `parquet` read site that reads and writes no data. */
    def schemaInference: Boolean =
      site.startsWith("parquet at") && stageIds.size == 1 && input == 0L &&
        output == 0L && shuffleWrite == 0L
  }

  private val jobs = mutable.HashMap.empty[Int, Job]
  private val byStage = mutable.HashMap.empty[Int, Job]
  private val sqlSite = mutable.HashMap.empty[Long, String]

  // A SQL action's jobs (including those adaptive execution submits from its
  // own threads) carry the execution id; the execution is named after the
  // action's call site.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(sqlSite(s.executionId) = s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val span = Option(p).flatMap(q => Option(q.getProperty(Tracer.Tag)))
      .map(_.toLong).getOrElse(0L)
    // other jobs' result stage is named after their call site
    val site = Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val j = new Job(e.jobId, span, site, e.time, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(byStage.get(e.stageInfo.stageId).foreach(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.get(e.jobId).foreach(_.end = e.time))

  def ofSpans(ids: Set[Long]): Seq[Job] =
    synchronized(jobs.values.filter(j => ids(j.span)).toSeq.sortBy(_.id))

  /** Forget finished jobs; called between operations to bound memory. */
  def clear(): Unit = synchronized { jobs.clear(); byStage.clear(); sqlSite.clear() }
}

object JobLog {
  /** Source files of the verb layer: `graft` (Tbl, dsl, select, Across),
    * `reshape`, `cats`, `functions`, `sql` and the expressions they share. */
  val VerbFiles = Set("Tbl", "dsl", "select", "Across", "package", "Reshape",
    "Forcats", "Fns", "Vec", "GraftFunctions", "exprs")

  def module(file: String): String = file.stripSuffix(".scala") match {
    case f if VerbFiles(f) => "verbs"
    case f if f.startsWith("SparkEntry") => "SparkEntry"
    case "Main" | "Workloads" => "perfbench"
    case "" => "other"
    case f => f
  }
}

/** The actions a session ran, with their planning phases and final plans. */
final class Actions extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.execution.QueryExecution
  private val done = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized(done += qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = done.toList; done.clear(); r }
}

/** Operator counts on an operation's final physical plan. */
object PlanShape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Optimizer and planner time of one action (analysis happens while the
    * verbs build the plan). */
  def planMs(qe: org.apache.spark.sql.execution.QueryExecution): Double =
    qe.tracker.phases.collect {
      case (p, s) if p == "optimization" || p == "planning" => s.durationMs
    }.sum.toDouble

  def counts(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Double] = {
    val ns = nodes(qe.executedPlan)
    def n(f: SparkPlan => Boolean) = ns.count(f).toDouble
    Map(
      "plan.exchanges" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "plan.sorts" -> n(_.isInstanceOf[SortExec]),
      "plan.nested_loop_joins" -> n(p =>
        p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
          p.isInstanceOf[CartesianProductExec]),
      "plan.codegen_stages" -> n(_.isInstanceOf[WholeStageCodegenExec]))
  }
}
