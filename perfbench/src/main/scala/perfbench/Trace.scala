package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark records around each public call it makes, on the
  * main thread. Kept in memory and written out once, when the benchmark
  * ends. A span's parent is the span that was open when it started. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long)
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  def apply[A](name: String)(body: => A): A = {
    next += 1
    val id = next
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val t0 = System.currentTimeMillis()
    try body
    finally {
      open = open.tail
      done += Span(id, parent, name, t0, System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Records a span measured elsewhere (a Spark job), under `parent`. */
  def add(name: String, parent: Int, startMs: Long, endMs: Long): Unit = {
    next += 1
    done += Span(next, parent, name, startMs, endMs)
  }

  /** The innermost recorded span covering [startMs, endMs], or 0. */
  def covering(startMs: Long, endMs: Long): Int =
    all.filter(s => s.startMs <= startMs && s.endMs >= endMs && !s.name.startsWith("job "))
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)

  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[", ",\n", "]")
}

/** Everything the traced run learns from Spark's listener buses: one record
  * per job (interval, call site, task totals) and one per SQL action
  * (planning phases, write-command metrics, scan stats of chosen paths). */
final class EngineTrace(spark: SparkSession, scanPathMarker: String) {
  final case class Job(id: Int, startMs: Long, var endMs: Long, site: String, execId: String,
      var tasks: Long = 0, var taskMs: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0, var input: Long = 0, var output: Long = 0)
  final case class Action(planningMs: Long, files: Long, rows: Long,
      scanFiles: Long, scanBytes: Long, scanned: Boolean)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val actions = new ConcurrentLinkedQueue[Action]()

  /** SQL execution id -> the call site of the action that started it. */
  private val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId.toString, x.description)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the action's call site, e.g. "parquet at Writers.scala:36"; a job
      // a helper thread submits (AQE stage, broadcast) has no program frame
      // on its stack and takes the call site of its SQL execution
      val props = Option(e.properties)
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      val site = Option(execSite.get(execId))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs.put(e.jobId, Job(e.jobId, e.time, e.time, site, execId))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.tasks += 1
            j.taskMs += m.executorRunTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled
            j.input += m.inputMetrics.bytesRead
            j.output += m.outputMetrics.bytesWritten
          }
        }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add(action(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      actions.add(action(qe))
  }

  private def action(qe: QueryExecution): Action = {
    val planningMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    val nodes = EngineTrace.nodes(qe.executedPlan)
    val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def metric(ms: Seq[Map[String, org.apache.spark.sql.execution.metric.SQLMetric]],
        k: String) = ms.flatMap(_.get(k)).map(_.value).sum
    val scans = nodes.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(scanPathMarker)) => s
    }
    val stats = scans.map(s => graft.plans.PlanMetrics.scans(s))
      .foldLeft(graft.plans.PlanMetrics.ScanStats(0, 0))(_ + _)
    Action(planningMs, metric(writes, "numFiles"), metric(writes, "numOutputRows"),
      stats.files, stats.bytes, scans.nonEmpty)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchhook.ListenerBus.drain(spark.sparkContext)

  /** Jobs and actions recorded inside [fromMs, toMs]; clears the records. */
  def take(fromMs: Long, toMs: Long): (Seq[Job], Seq[Action]) = {
    drain()
    val js = jobs.values.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .sortBy(_.id)
    val as = actions.asScala.toSeq
    jobs.clear(); stageJob.clear(); actions.clear(); execSite.clear()
    (js, as)
  }

  def clear(): Unit = { drain(); jobs.clear(); stageJob.clear(); actions.clear(); execSite.clear() }
}

object EngineTrace {
  /** Every node of an executed plan, through AQE wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: ReusedExchangeExec    => Seq.empty
      case _                        => p.children
    }
    (p +: kids.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
  }

  /** Splits the measured interval between jobs. Overlapping jobs share each
    * instant equally, so the shares sum to the union of job intervals and
    * `span - union` is the driver time no job covered. Returns the share
    * of each job (ms) and the union (ms). */
  def shares(jobs: Seq[(Long, Long)], from: Long, to: Long): (Seq[Double], Double) = {
    val clipped = jobs.map { case (s, e) => (math.max(s, from), math.min(math.max(e, s), to)) }
    val cuts = (clipped.flatMap { case (s, e) => Seq(s, e) } ++ Seq(from, to))
      .filter(t => t >= from && t <= to).distinct.sorted
    val share = Array.fill(clipped.size)(0.0)
    var union = 0.0
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = clipped.indices.filter(i => clipped(i)._1 <= a && clipped(i)._2 >= b)
      if (active.nonEmpty) {
        union += b - a
        active.foreach(i => share(i) += (b - a).toDouble / active.size)
      }
    }
    (share.toSeq, union)
  }
}

/** The traced half of a run: listeners on for one measured pass, then the
  * pass's jobs attributed to the program's modules. A job belongs to the
  * module whose source file is its call site (`parquet at Writers.scala:36`
  * belongs to `sinks`); the benchmark's own noop write of a catalog query
  * belongs to `queries`. */
final class Tracer(spark: SparkSession, o: Main.Opts, val spans: Spans) {
  private val engine = new EngineTrace(spark, "player_data")
  private var gc0 = 0L
  private val cores = spark.sparkContext.defaultParallelism

  private val moduleOfFile: Map[String, String] = {
    val root = o.repoRoot.resolve("src/main/scala/graft")
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      val pkg = root.relativize(f.getParent).toString
      f.getFileName.toString -> (if (Tracer.Modules.contains(pkg)) pkg else "other")
    }.toMap
    finally s.close()
  } + ("QueryCatalog.scala" -> "queries")

  def moduleOf(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    moduleOfFile.getOrElse(file, "other")
  }

  def begin(): Unit = {
    engine.clear()
    engine.start()
    gc0 = Main.gcMs()
  }

  /** Per-module metrics of the interval [fromMs, toMs]. */
  def end(fromMs: Long, toMs: Long): Map[String, Double] = {
    val gc = (Main.gcMs() - gc0) / 1000.0
    val (jobs, actions) = engine.take(fromMs, toMs)
    engine.stop()
    val runS = (toMs - fromMs) / 1000.0
    val (share, unionMs) = EngineTrace.shares(jobs.map(j => (j.startMs, j.endMs)), fromMs, toMs)
    def mb(b: Long) = b / 1048576.0
    val taskS = jobs.map(_.taskMs).sum / 1000.0
    val byModule = jobs.zip(share).groupBy { case (j, _) => moduleOf(j.site) }
    jobs.foreach(j => spans.add(s"job ${j.id} ${moduleOf(j.site)}: ${j.site}",
      spans.covering(j.startMs, j.endMs), j.startMs, j.endMs))
    val unmapped = jobs.map(_.site).filter(moduleOf(_) == "other").distinct
    if (unmapped.nonEmpty) System.err.println(s"[perfbench] jobs outside the modules: ${unmapped.mkString("; ")}")
    val scanned = actions.filter(_.scanned)
    val modules = Tracer.Modules.flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      Seq(s"$m.jobs" -> js.size.toDouble, s"$m.job_s" -> js.map(_._2).sum / 1000.0)
    }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.job_s" -> unionMs / 1000.0,
      "spark.task_s" -> taskS,
      "spark.busy_ratio" -> (if (runS > 0) taskS / (runS * cores) else 0.0),
      "spark.gc_s" -> gc,
      "spark.shuffle_write_mb" -> mb(jobs.map(_.shuffleWrite).sum),
      "spark.spill_mb" -> mb(jobs.map(_.spill).sum),
      "spark.input_mb" -> mb(jobs.map(_.input).sum),
      "spark.output_mb" -> mb(jobs.map(_.output).sum),
      "plans.actions" -> actions.size.toDouble,
      "plans.planning_s" -> actions.map(_.planningMs).sum / 1000.0,
      "driver.non_job_s" -> (runS - unionMs / 1000.0),
      "sinks.files_written" -> actions.map(_.files).sum.toDouble,
      "sinks.rows_written" -> actions.map(_.rows).sum.toDouble,
      "driver.readback_files" -> scanned.map(_.scanFiles).sum.toDouble,
      "driver.readback_mb" -> mb(scanned.map(_.scanBytes).sum),
      "driver.readback_files_first" -> scanned.headOption.map(_.scanFiles.toDouble).getOrElse(0.0),
      "driver.readback_files_last" -> scanned.lastOption.map(_.scanFiles.toDouble).getOrElse(0.0)
    ) ++ modules
  }
}

object Tracer {
  /** The program's packages that own jobs; anything else is `other`. */
  val Modules: Seq[String] = Seq("driver", "sources", "operators", "sinks", "queries",
    "streaming", "other")
}
