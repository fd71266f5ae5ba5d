package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** One operation of a workload. `body` returns the answer that is checked;
  * it can run more than once with the same answer. */
final case class Op(name: String, body: () => Any)

trait Workload {
  /** Opens the inputs and runs one warm-up operation; repeated per run. */
  def setup(r: Run, round: Int): Unit
  /** A warm-up done once per run after the last set-up, counted in set-up time. */
  def warmUp(r: Run): Unit = ()
  /** The SparkEntry.oracleSql entries the answers are checked against. */
  def oracle: Set[String]
  /** The i-th operation. */
  def op(r: Run, i: Int): Op
  /** Operations in one pass of the workload; a run ends on a pass boundary. */
  def pass: Int = 1
  /** A deliberately wrong version of an answer, for the self-test. */
  def corrupt(r: Run, answer: Any): Any
  /** Counts taken after a traced operation, outside its timing. */
  def afterOp(r: Run): Map[String, Double] = Map.empty
}

/** The session and tracing state an operation runs with. */
final class Run(val spark: SparkSession, val tracer: Tracer,
                val log: Option[JobLog], val actions: Option[Actions]) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** The operation's final action. */
  def collect(df: DataFrame): Array[Row] = span("spark.exec")(df.collect())
}

object Main {
  private def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak resident set of this process, from the kernel. */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val inputs = opt("inputs")
    val work = opt("work")
    val inject = opt.get("inject").contains("1")
    // nproc: the JVM sees the cores this process may run on
    val cores = Runtime.getRuntime.availableProcessors()

    val w: Workload = name match {
      case "verbs" => new Verbs(inputs, work, seed)
      case "curate" => new Curate(inputs, work)
    }

    // Set-up is repeated and its median reported: a fresh session, the input
    // opens and one warm-up operation each time. The workload's own warm-up
    // follows once, and its time is added to set-up time.
    var spark: SparkSession = null
    var run: Run = null
    val setups = (0 until 3).map { round =>
      if (spark != null) {
        graft.ml.Dedup.unpersistIntermediates()
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = session(work, cores)
      val log = if (trace) Some(new JobLog) else None
      log.foreach(spark.sparkContext.addSparkListener(_))
      val actions = if (trace) Some(new Actions) else None
      actions.foreach(spark.listenerManager.register)
      run = new Run(spark, new Tracer(spark.sparkContext), log, actions)
      w.setup(run, round)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp(run)
    val warmUp = (System.nanoTime() - w0) / 1e9
    graft.ml.Dedup.unpersistIntermediates()
    spark.catalog.clearCache()
    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter(e => w.oracle(e._1))).getBytes(UTF_8))

    val sc = spark.sparkContext
    val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    heapPools.foreach(_.resetPeakUsage())
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var timedNs = 0L
    val budgetNs = (seconds * 1e9).toLong

    def runOp(op: Op, k: Int, traced: Boolean): Unit = {
      run.tracer.on = traced
      run.actions.foreach(_.take())
      var opSpan = 0L
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val (answer, error) =
        try {
          if (inject && k == 2) throw new RuntimeException("injected failure")
          val a = run.span("op") { opSpan = run.tracer.context._1; op.body() }
          (if (inject && k == 1) w.corrupt(run, a) else a, null)
        } catch { case e: Throwable =>
          (null, Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString)
        }
      val t1 = System.nanoTime()
      timedNs += t1 - t0
      run.tracer.on = false
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.perfbench.Bus.drain(sc)
          val qes = run.actions.get.take()
          Layers.of(run, opSpan, t0, t1, epochNs, cores) ++
            qes.lastOption.map(PlanShape.counts).getOrElse(Map.empty) ++
            Map("catalyst.plan.ms" -> qes.map(PlanShape.planMs).sum) ++
            Map("jvm.gc_ms" -> (gcMs() - gc0).toDouble) ++ w.afterOp(run)
        }
      val sites = if (traced) Layers.sites(run, opSpan) else Nil
      run.log.foreach(_.clear())
      graft.ml.Dedup.unpersistIntermediates()
      spark.catalog.clearCache()
      ops += Map("name" -> op.name, "seq" -> k, "dt_s" -> (t1 - t0) / 1e9,
        "error" -> error, "traced" -> traced, "answer" -> answer,
        "layers" -> layers, "job_sites" -> sites)
    }

    // The run lasts `seconds` of operation time; work between operations
    // (checks, cache release, trace collection) is not counted. With injected
    // faults it reaches the third operation, which throws. In a traced run
    // each operation runs twice, once traced and once not, alternating which
    // goes first, so the tracing overhead is measured on the same work.
    var k = 0
    while (!(timedNs >= budgetNs && (!inject || k > 2) && k % w.pass == 0)) {
      val op = w.op(run, k)
      if (!trace) runOp(op, k, traced = false)
      else Seq(k % 2 == 0, k % 2 == 1).foreach(t => runOp(op, k, traced = t))
      k += 1
    }
    val timed = timedNs / 1e9
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val result = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "shuffle_partitions" -> cores, "setup_s" -> setups, "warm_up_s" -> warmUp,
      "timed_s" -> timed,
      "rss_peak_mb" -> rssPeakMb(), "heap_peak_mb" -> heapPeak,
      "ops" -> ops.toList)
    if (trace) {
      val all = run.tracer.all
      val children = all.groupBy(_.parent)
      // self time: the span's duration minus what its child spans cover
      Files.write(Paths.get(s"$work/spans.jsonl"), all.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_ns" -> (s.end - s.start - Layers.covered(kids, s.start, s.end))))
      }.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(s"$work/result.json"), Json(result).getBytes(UTF_8))
    spark.stop()
  }
}

/** Per-operation layer metrics from its spans and the jobs they submitted. */
object Layers {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter(p => p._2 > p._1).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }._1

  def of(r: Run, opSpan: Long, t0: Long, t1: Long, epochNs: Long,
         cores: Int): Map[String, Double] = {
    val spans = r.tracer.all.filter(_.op == opSpan)
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(id: Long): List[Long] = byId.get(id) match {
      case Some(s) => s.id :: ancestors(s.parent)
      case None => Nil
    }
    val jobs = r.log.get.ofSpans(byId.keySet)
    val jobSpans = jobs.map(j => j -> ancestors(j.span).toSet)
    val wallMs = (t1 - t0) / 1e6
    // wall time covered by at least one running job
    val covered = Layers.covered(jobs.filter(_.end > 0).map(j =>
      (j.start * 1000000L - epochNs, j.end * 1000000L - epochNs)), t0, t1) / 1e6
    def sum(f: JobLog#Job => Long) = jobs.map(f).sum.toDouble
    val spark = Map(
      "spark.exec_ms" -> covered,
      "spark.driver_gap_ms" -> (wallMs - covered),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.schema_infer_jobs" -> jobs.count(_.schemaInference).toDouble,
      "spark.task_run_ms" -> sum(_.runMs),
      "spark.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "spark.task_gc_ms" -> sum(_.gcMs),
      "spark.core_capacity_ms" -> wallMs * cores,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.input_bytes" -> sum(_.input))
    val modules = jobs.groupBy(_.module).flatMap { case (m, js) =>
      Map(s"spark.jobs_by_module.$m" -> js.size.toDouble,
        s"spark.task_run_ms_by_module.$m" -> js.map(_.runMs).sum.toDouble)
    }
    val perSpan = spans.filter(_.id != opSpan).groupBy(_.name).flatMap {
      case (n, ss) =>
        val ids = ss.map(_.id).toSet
        val js = jobSpans.collect { case (j, a) if (a & ids).nonEmpty => j }
        Map(s"$n.ms" -> ss.map(s => (s.end - s.start) / 1e6).sum,
          s"$n.jobs" -> js.size.toDouble,
          s"$n.task_run_ms" -> js.map(_.runMs).sum.toDouble)
    }
    spark ++ modules ++ perSpan
  }

  /** Call sites of the operation's jobs, for the run record. */
  def sites(r: Run, opSpan: Long): Seq[String] = {
    val ids = r.tracer.all.filter(_.op == opSpan).map(_.id).toSet
    r.log.get.ofSpans(ids).map(j => s"${j.site}${if (j.schemaInference) " [schema]" else ""}")
  }
}

/** A small JSON writer for the result file. */
object Json {
  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) q(d.toString) else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(apply).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
