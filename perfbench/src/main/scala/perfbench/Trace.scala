package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the harness around each call into an engine layer,
  * plus the Spark listener records attributed to them.
  *
  * A span's id rides the `perfbench.span` local property, so every job the
  * call submits from the caller's thread carries it; stages inherit the
  * span of the job that first submitted them, and RDD blocks the span of
  * the stage that built their RDD. Final (post-AQE) plans arrive through a
  * query-execution listener that carries no properties, so they are
  * attributed to the innermost span open when the listener bus is drained
  * at that span's end. Everything stays in memory until [[records]].
  *
  * With `enabled = false` no listener is registered and [[span]] only runs
  * its body: the untraced run pays nothing.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val blocks = new ConcurrentLinkedQueue[(Int, Long)]()
  private val plans = mutable.ArrayBuffer.empty[(Int, Map[String, Int])]
  private val pendingPlans = new ConcurrentLinkedQueue[Map[String, Int]]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val rddSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def sc = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(new Collector)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(new PlanCollector)
  }

  /** Spans are kept only while recording (the timed passes): set-up and
    * warm-up calls run untraced even in a traced run. */
  @volatile var recording = false

  /** Run `body` as a span of `layer`; nested calls become child spans. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val id = spans.size
      spans += Span(id, open.headOption.getOrElse(-1), layer, name, nowUs, -1L)
      open = id :: open
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        // plans (and job/stage ends) posted inside the span land before
        // it closes, so they are attributed to it and not to a sibling
        PerfbenchAccess.drainListeners(sc)
        var p = pendingPlans.poll()
        while (p != null) { plans += (id -> p); p = pendingPlans.poll() }
        spans(id).end = nowUs
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Everything recorded so far, as plain maps for the JSON dump. */
  def records: Map[String, Any] = {
    if (enabled) PerfbenchAccess.drainListeners(sc)
    val ends = jobEnds.asScala.toMap
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start,
        "end_us" -> s.end)),
      "jobs" -> jobs.asScala.map(j =>
        j + ("end_us" -> ends.getOrElse(j("id").asInstanceOf[Int], -1L))),
      "stages" -> stages.asScala.toSeq,
      "blocks" -> blocks.asScala.groupBy(_._1).map { case (rdd, bs) =>
        Map("rdd" -> rdd, "span" -> rddSpan.getOrDefault(rdd, -1),
          "bytes" -> bs.map(_._2).sum, "blocks" -> bs.size)
      },
      "plans" -> plans.map { case (sid, f) => f + ("span" -> sid) })
  }

  private final class Collector extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageInfos.foreach { si =>
        stageSpan.putIfAbsent(si.stageId, span)
        si.rddInfos.foreach(r => rddSpan.putIfAbsent(r.id, span))
      }
      jobs.add(Map("id" -> e.jobId, "span" -> span, "start_us" -> e.time * 1000L,
        "stages" -> e.stageIds,
        "call_site" -> props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""),
        "description" -> props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(e.jobId -> e.time * 1000L)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.add(Map(
        "id" -> si.stageId, "attempt" -> si.attemptNumber(),
        "span" -> stageSpan.getOrDefault(si.stageId, -1),
        "tasks" -> si.numTasks,
        "submitted_us" -> si.submissionTime.map(_ * 1000L).getOrElse(-1L),
        "completed_us" -> si.completionTime.map(_ * 1000L).getOrElse(-1L),
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.storageLevel.isValid) info.blockId.asRDDId.foreach { b =>
        blocks.add(b.rddId -> (info.memSize + info.diskSize))
      }
    }
  }

  private final class PlanCollector extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingPlans.add(planFacts(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  private final case class Span(id: Int, parent: Int, layer: String,
      name: String, start: Long, var end: Long)

  private object Walk extends AdaptiveSparkPlanHelper

  /** Counts of the plan nodes the layer metrics name, over the final
    * adaptive plan including its subqueries and query stages. */
  def planFacts(plan: SparkPlan): Map[String, Int] = {
    val nodes = Walk.collectWithSubqueries(plan) { case p => p }
    def count(f: PartialFunction[SparkPlan, Boolean]): Int =
      nodes.count(n => f.applyOrElse(n, (_: SparkPlan) => false))
    Map(
      "exchanges" -> count { case _: Exchange => true },
      "scans" -> count { case _: DataSourceScanExec | _: BatchScanExec => true },
      "smj" -> count { case _: SortMergeJoinExec => true },
      "bhj" -> count { case _: BroadcastHashJoinExec => true },
      "nlj" -> count { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true },
      "single_partition_windows" -> count { case w: WindowExec => w.partitionSpec.isEmpty })
  }
}
