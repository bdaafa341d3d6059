package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counters for one traced section, taken only from
  * Spark's public listener callbacks and from timing calls into the
  * engine's public functions; nothing inside the engine is instrumented.
  *
  * Every root operation (request, query execution) has an id that its
  * children share: a thread-local property carries it to the scheduler's
  * job and stage events, and the identity of the DataFrame's plan, which
  * the `noop` write command wraps, links the planner's phases back to it.
  */
object Tracer {
  /** Thread-local Spark property carrying the id of the running operation. */
  val OpKey = "perfbench.op"
}

final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer.OpKey
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val planOp = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[LogicalPlan, String]())
  private val taskDur = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val stageRows = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val queryRows = new ConcurrentLinkedQueue[Map[String, Double]]()
  private var t0 = 0.0
  private var jvm0 = (0.0, 0.0)
  private var cg0 = (0L, 0L)

  /** Ties the planner's phases for `plan`'s execution to `op`. */
  def register(plan: LogicalPlan, op: String): Unit = planOp.put(plan, op)

  def span(op: String, layer: String, name: String, start: Double, end: Double): Unit =
    spans.add(Map("op" -> op, "layer" -> layer, "name" -> name,
      "start" -> start, "end" -> end))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(OpKey))).foreach(jobOp.put(e.jobId, _))
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.get(e.jobId)).foreach { op =>
        span(op, "exec.job", s"job ${e.jobId}",
          Clock.fromEpochMs(jobStart.get(e.jobId)), Clock.fromEpochMs(e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskDur.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val job = Option(stageJob.get(si.stageId))
      for (j <- job; op <- Option(jobOp.get(j)); s <- si.submissionTime; f <- si.completionTime)
        span(op, "exec.stage", s"stage ${si.stageId}", Clock.fromEpochMs(s), Clock.fromEpochMs(f))
      val durs = Option(taskDur.remove(si.stageId)).map(_.asScala.map(_.toDouble).toSeq.sorted)
        .getOrElse(Seq.empty)
      val schedDelay = if (m == null) 0.0 else math.max(0.0,
        durs.sum - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      if (m != null) stageRows.add(Map(
        "tasks" -> si.numTasks.toDouble,
        "task_s" -> m.executorRunTime / 1e3,
        "task_cpu_s" -> m.executorCpuTime / 1e9,
        "sched_delay_s" -> schedDelay / 1e3,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0,
        "peak_mem_mb" -> m.peakExecutionMemory / 1048576.0,
        "skew" -> (if (durs.size >= 2 && durs(durs.size / 2) > 0) durs.last / durs(durs.size / 2)
                   else 1.0)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = qe.logical.find(planOp.containsKey).map(planOp.remove)
      val phases = qe.tracker.phases
      for (o <- op; (phase, layer) <- Seq("analysis" -> "catalyst.analysis",
          "optimization" -> "catalyst.optimize", "planning" -> "catalyst.plan");
          p <- phases.get(phase))
        span(o, layer, phase, Clock.fromEpochMs(p.startTimeMs), Clock.fromEpochMs(p.endTimeMs))
      val nodes = qe.analyzed.collectWithSubqueries { case p => p }.size
      val plan = physical(qe.executedPlan).toSeq
      val wscg = plan.collect { case w: WholeStageCodegenExec => w }
      val inside = wscg.map(w => fused(w.child)).sum
      val capable = plan.count {
        case _: WholeStageCodegenExec | _: InputAdapter => false
        case c: CodegenSupport => c.supportCodegen
        case _ => false
      }
      queryRows.add(Map(
        "plan_nodes" -> nodes.toDouble,
        "pipeline_s" -> wscg.flatMap(_.metrics.get("pipelineTime")).map(_.value).sum / 1e3,
        "wscg_ops" -> inside.toDouble,
        "codegen_capable" -> capable.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Physical operators of an executed plan, looking through adaptive
    * wrappers and query stages; a reused exchange is counted once.
    */
  private def physical(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
    case s: QueryStageExec => physical(s.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => Iterator(other) ++ other.children.iterator.flatMap(physical) ++
      other.subqueries.iterator.flatMap(physical)
  }

  /** Operators fused into one whole-stage-codegen span (its inputs end at
    * the span's input adapters).
    */
  private def fused(p: SparkPlan): Int = p match {
    case _: InputAdapter => 0
    case other => 1 + other.children.map(fused).sum
  }

  private def codegen: (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    t0 = Clock.now
    jvm0 = (Jvm.gcS, Jvm.jitS)
    cg0 = codegen
  }

  /** Detach and summarise: spans plus one row of counters for the section. */
  def detach(): Map[String, Any] = {
    val wall = Clock.now - t0
    val (gc, jit) = (Jvm.gcS - jvm0._1, Jvm.jitS - jvm0._2)
    val (cgT, cgN) = codegen
    // listener events are delivered asynchronously: let the bus drain
    Thread.sleep(500)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
    val st = stageRows.asScala.toSeq
    val qs = queryRows.asScala.toSeq
    def sum(rows: Seq[Map[String, Double]], k: String) = rows.map(_(k)).sum
    val tasks = sum(st, "tasks")
    val multi = st.filter(_("tasks") >= 2)
    Map(
      "spans" -> spans.asScala.toSeq,
      "counters" -> Map(
        "catalyst.plan_nodes" -> sum(qs, "plan_nodes"),
        "catalyst.executions" -> qs.size.toDouble,
        "codegen.compile_s" -> (cgT - cg0._1) / 1e9,
        "codegen.compiles" -> (cgN - cg0._2).toDouble,
        "wscg.pipeline_s" -> sum(qs, "pipeline_s"),
        "wscg.coverage" -> {
          val cap = sum(qs, "codegen_capable")
          if (cap > 0) sum(qs, "wscg_ops") / cap else 1.0
        },
        "exec.jobs" -> jobStart.size.toDouble,
        "exec.stages" -> st.size.toDouble,
        "exec.tasks" -> tasks,
        "exec.tasks_per_stage" -> (if (st.nonEmpty) tasks / st.size else 0.0),
        "exec.task_s" -> sum(st, "task_s"),
        "exec.task_cpu_s" -> sum(st, "task_cpu_s"),
        "exec.core_util" -> sum(st, "task_s") / (cores * wall),
        "exec.sched_delay_s" -> sum(st, "sched_delay_s"),
        "exec.shuffle_write_mb" -> sum(st, "shuffle_write_mb"),
        "exec.shuffle_read_mb" -> sum(st, "shuffle_read_mb"),
        "exec.spill_mb" -> sum(st, "spill_mb"),
        "exec.peak_mem_mb" -> (if (st.nonEmpty) st.map(_("peak_mem_mb")).max else 0.0),
        "exec.stage_skew" -> (if (multi.nonEmpty) sum(multi, "skew") / multi.size else 1.0),
        "jvm.gc_s" -> gc,
        "jvm.jit_s" -> jit))
  }
}
