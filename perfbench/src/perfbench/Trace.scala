package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The library modules a Spark job or a bench-side span is charged to. */
object Layers {
  val modules: Seq[String] =
    Seq("runners", "operators", "sketch", "checks", "core", "repository", "pipeline")

  private val Frame = ("(?:^|[\\s/])graft\\.(" + modules.mkString("|") + ")\\.").r

  /** The module of the first `graft.<module>` frame in a call-site stack
    * (one frame per line, innermost first, as Spark records it).
    */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator)
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption()
}

/** One bench-side span: a timed call into a module's public function. */
final case class Span(name: String, op: Int, parent: String, startNs: Long, endNs: Long)

/** Bench-side spans and counts. Recording is off outside the traced pass,
  * where every call is a plain pass-through.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile var op = 0
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private val allSpans = mutable.ArrayBuffer.empty[Span]
  private var open: List[String] = Nil

  /** Times `body` as span `name`: adds its seconds to `<name>_s` and, when
    * `countAs` is given, one to that counter.
    */
  def span[T](name: String, countAs: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val parent = synchronized { val p = open.headOption.getOrElse(""); open = name :: open; p }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          open = open.drop(1)
          allSpans += Span(name, op, parent, t0, t1)
          add(name + "_s", (t1 - t0) / 1e9)
          if (countAs != null) add(countAs, 1.0)
        }
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) synchronized { totals(name) = totals.getOrElse(name, 0.0) + v }

  def totalsSnapshot(): Map[String, Double] = synchronized { totals.toMap }
  def spans: Seq[Span] = synchronized { allSpans.toSeq }
}

/** Engine-side counters for the traced pass, fed by Spark's own
  * channels: a SparkListener (jobs, stages, tasks) and a
  * QueryExecutionListener (actions and their planning phases).
  *
  * Each job is charged to a module through its SQL execution: the
  * execution's call site (recorded on the calling thread when the action
  * starts) names the first `graft.<module>` frame. Jobs started from
  * Spark's own thread pools (AQE stages, broadcasts) carry the execution
  * id, so they inherit the caller's module. Jobs outside any SQL
  * execution fall back to their result stage's call site.
  */
final class EngineListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private final case class Job(module: String, startMs: Long, var endMs: Long)

  private val execModule = new ConcurrentHashMap[Long, String]()
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  private def add(name: String, v: Double): Unit =
    counters.merge(name, v, (a, b) => a + b)

  private def moduleOfExecution(id: Long): String = {
    val own = execModule.getOrDefault(id, "")
    if (own.nonEmpty) own
    else Option(execRoot.get(id)).map(r => execModule.getOrDefault(r, "")).getOrElse("")
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execModule.put(e.executionId, Layers.moduleOf(e.details).getOrElse(""))
      e.rootExecutionId.foreach(r => execRoot.put(e.executionId, r))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val byExecution = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(id => moduleOfExecution(id.toLong)).getOrElse("")
    val module =
      if (byExecution.nonEmpty) byExecution
      else js.stageInfos.sortBy(-_.stageId).headOption
        .flatMap(s => Layers.moduleOf(s.details)).getOrElse("")
    jobs.put(js.jobId, Job(module, js.time, -1L))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    if (te.reason != org.apache.spark.Success) add("spark.failed_tasks", 1)
    val m = te.taskMetrics
    if (m != null) {
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.task_gc_s", m.jvmGCTime / 1e3)
      add("spark.task_deser_s", m.executorDeserializeTime / 1e3)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    add("spark.actions", 1)
    val phases = qe.tracker.phases
    val planMs = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    add("spark.plan_s", planMs / 1e3)
    // bytes of the files each scan node selected: the task input metric
    // misses parquet column-chunk reads, so storage reads are counted here
    add("spark.scan_file_bytes", collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum.toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Counters since registration, plus job counts and job wall time per
    * module. Job wall time is the union of job intervals, so concurrent
    * jobs are not counted twice.
    */
  def snapshot(): Map[String, Double] = {
    val js = jobs.values.asScala.toSeq
    def union(sel: Seq[Job]): Double = {
      val iv = sel.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      if (curE > curS) total += curE - curS
      total / 1e3
    }
    val perModule = Layers.modules.flatMap { m =>
      val sel = js.filter(_.module == m)
      Seq(s"$m.jobs" -> sel.size.toDouble, s"$m.job_s" -> union(sel))
    }
    counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++ perModule ++ Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.job_wall_s" -> union(js),
      "spark.unattributed_jobs" -> js.count(_.module.isEmpty).toDouble)
  }
}
