package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed interval around a call into a program module. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans and per-layer counters for the traced units of a run.
  *
  * Spans are recorded only inside a traced unit; they stay in memory and are
  * written out with the run's result. The Spark listeners are attached only
  * around traced units, so an untraced run executes the program exactly as
  * a user would; comparing it with a traced run gives the tracing overhead.
  */
final class Tracer(warehouseRoots: => Seq[String], queryData: Option[String]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  @volatile private var active = false
  /** Sums over every traced unit, keyed by per-layer metric name. */
  val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def add(key: String, v: Double): Unit = sums.synchronized(sums(key) += v)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime(), -1L)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  // -- module attribution of Spark actions ---------------------------------

  private val layers = Seq("bronze", "silver", "gold", "logs")

  /** The program module an action belongs to, from the paths it writes or
    * reads: `<warehouse>/bronze` → bronze, `silver|gold` → medallion,
    * `logs` → audit, the query data directory → queries.
    */
  def moduleOf(writes: Seq[String], reads: Seq[String]): String = {
    def layer(p: String): Option[String] =
      warehouseRoots.iterator.flatMap { root =>
        layers.iterator.filter(l => p.startsWith(s"$root/$l")).take(1)
      }.take(1).toSeq.headOption
    def module(l: String) = l match {
      case "bronze"          => "bronze"
      case "silver" | "gold" => "medallion"
      case _                 => "audit"
    }
    writes.flatMap(layer).headOption.map(module)
      .orElse {
        val rl = reads.flatMap(layer).distinct
        if (rl.isEmpty) None
        else if (rl.forall(_ == "logs")) Some("audit")
        else Some(module(rl.filterNot(_ == "logs").head))
      }
      .orElse(queryData.filter(d => reads.exists(_.startsWith(d))).map(_ => "queries"))
      .getOrElse("other")
  }

  private def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: physicalNodes(a.executedPlan)
    case s: QueryStageExec        => s +: physicalNodes(s.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(physicalNodes)
  }

  private def stripScheme(p: String): String = p.replaceFirst("^file:", "")

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
    // a failed action fails its operation, which the harness already counts
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val reads = qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(p => stripScheme(p.toString))
        case _                   => Nil
      }
    }.flatten
    val writeCmds = physicalNodes(qe.executedPlan).collect { case d: DataWritingCommandExec => d.cmd }
    val writes = writeCmds.collect { case i: InsertIntoHadoopFsRelationCommand => stripScheme(i.outputPath.toString) }
    val module = moduleOf(writes, reads)
    add(s"$module.actions", 1)
    add(s"$module.s", durationNs / 1e9)
    writeCmds.foreach { c =>
      def metric(n: String) = c.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
      add(s"$module.rows_out", metric("numOutputRows"))
      add(s"$module.files_written", metric("numFiles"))
      add(s"$module.bytes_written", metric("numOutputBytes"))
    }
    qe.tracker.phases.foreach { case (phase, summary) => add(s"spark.${phase}_s", summary.durationMs / 1e3) }
  }

  // -- executor side -------------------------------------------------------

  /** Task intervals (epoch ms) of the traced units, for `spark.idle_s`. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit = add("spark.jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      taskIntervals.synchronized(taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  /** Wall time of [startMs, endMs] during which no task ran. */
  def idleSeconds(startMs: Long, endMs: Long): Double = {
    val iv = taskIntervals.synchronized(taskIntervals.toSeq)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    (endMs - startMs - busy) / 1e3
  }

  // -- traced unit boundaries ----------------------------------------------

  private def jvmCounters(): (Double, Double) = {
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    (jit, gc)
  }

  /** Runs `body` as a traced unit: listeners attached, spans on, and the
    * codegen and JVM counters taken as deltas around it. Returns the body's
    * result and the unit's wall seconds.
    */
  def traced[T](spark: SparkSession)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    PerfbenchAccess.drain(sc)
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    val (jit0, gc0) = jvmCounters()
    val cg0 = CodeGenerator.compileTime
    val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    active = true
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val endMs = System.currentTimeMillis()
      active = false
      PerfbenchAccess.drain(sc)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(sparkListener)
      val (jit1, gc1) = jvmCounters()
      add("spark.codegen_s", (CodeGenerator.compileTime - cg0) / 1e9)
      add("spark.codegen_n", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0).toDouble)
      add("jvm.jit_s", jit1 - jit0)
      add("jvm.gc_s", gc1 - gc0)
      add("spark.idle_s", idleSeconds(startMs, endMs))
      taskIntervals.synchronized(taskIntervals.clear())
    }
  }

  /** Sum of span durations by name, in seconds. */
  def spanSeconds(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.endNs > 0).map(s => (s.endNs - s.startNs) / 1e9).sum
}
