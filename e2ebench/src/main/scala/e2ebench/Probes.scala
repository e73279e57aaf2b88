package e2ebench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one traced pass accumulates. Written by Spark's listener thread,
  * read by the harness after the bus is drained. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs = 0L
  var inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var maxTaskSkew = 0.0
  var analysisMs, optimizationMs, planningMs = 0L
  var scans, exchanges, reusedExchanges, broadcasts = 0L
}

/** Shape counts of one executed plan, final adaptive plan included. */
final case class PlanShape(scans: Int, exchanges: Int, reused: Int, broadcasts: Int)

object PlanShape {
  /** Every node of an executed plan: adaptive plans are entered at their
    * final plan, query stages at the stage's own plan, and subqueries are
    * followed too. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  def of(plan: SparkPlan): PlanShape = {
    val ns = nodes(plan)
    PlanShape(
      scans = ns.count {
        case _: DataSourceScanExec | _: BatchScanExec | _: InMemoryTableScanExec => true
        case _ => false
      },
      exchanges = ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      reused = ns.count(_.isInstanceOf[ReusedExchangeExec]),
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}

/** The traced run's instruments: a SparkListener (jobs, stages, tasks,
  * shuffle), a QueryExecutionListener (driver phases, final plan shape), GC
  * notifications from the JVM MXBeans, and the Janino compile counters.
  * While `on` is false the instruments record nothing, so traced and
  * untraced passes can alternate inside one process. */
final class Probes(spark: SparkSession, spans: SpanRecorder) {
  @volatile var on = false
  @volatile private var counters = new Counters

  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Long]                 // stage -> job span
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) Probes.this.synchronized {
      counters.jobs += 1
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toLongOption).getOrElse(0L)
      val id = spans.newId()
      jobSpan(e.jobId) = (id, parent, spans.fromEpochMs(e.time))
      e.stageIds.foreach(s => stageJob(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) Probes.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        spans.add(Span(id, parent, s"job ${e.jobId}", "exec", start, spans.fromEpochMs(e.time)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) Probes.this.synchronized {
      val c = counters
      c.tasks += 1
      if (e.reason != TaskSuccess) c.failedTasks += 1
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) Probes.this.synchronized {
      val info = e.stageInfo
      counters.stages += 1
      stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ds =>
        if (ds.length >= 2) {
          val med = Stats.median(ds.map(_.toDouble).toSeq).value
          if (med > 0) counters.maxTaskSkew = math.max(counters.maxTaskSkew, ds.max / med)
        }
      }
      for (s <- info.submissionTime; f <- info.completionTime) {
        spans.add(Span(spans.newId(), stageJob.getOrElse(info.stageId, 0L),
          s"stage ${info.stageId}", "exec", spans.fromEpochMs(s), spans.fromEpochMs(f)))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) Probes.this.synchronized {
        val c = counters
        qe.tracker.phases.foreach { case (phase, s) =>
          phase match {
            case "analysis" => c.analysisMs += s.durationMs
            case "optimization" => c.optimizationMs += s.durationMs
            case "planning" => c.planningMs += s.durationMs
            case _ =>
          }
          spans.add(Span(spans.newId(), 0L, phase, "driver",
            spans.fromEpochMs(s.startTimeMs), spans.fromEpochMs(s.endTimeMs)))
        }
        val shape = PlanShape.of(qe.executedPlan)
        c.scans += shape.scans
        c.exchanges += shape.exchanges
        c.reusedExchanges += shape.reused
        c.broadcasts += shape.broadcasts
        val at = qe.tracker.phases.get("planning").map(p => spans.fromEpochMs(p.endTimeMs))
          .getOrElse(spans.now())
        spans.add(Span(spans.newId(), 0L,
          s"plan $funcName scans=${shape.scans} exchanges=${shape.exchanges} " +
            s"reused=${shape.reused} broadcasts=${shape.broadcasts}", "plan", at, at))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val g = info.getGcInfo
        spans.add(Span(spans.newId(), 0L, s"gc ${info.getGcName}", "jvm",
          spans.fromEpochMs(jvmStartMs + g.getStartTime), spans.fromEpochMs(jvmStartMs + g.getEndTime)))
      }
  }
  private val gcEmitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    gcEmitters.foreach(e => scala.util.Try(e.removeNotificationListener(gcListener)))
  }

  /** Waits for the listener bus, then hands over this pass's counters. */
  def take(): Counters = {
    org.apache.spark.e2ebench.ListenerBus.drain(spark.sparkContext)
    synchronized { val c = counters; counters = new Counters; c }
  }
}

/** JVM-wide counters that are cheap enough to read in every pass. */
object JvmCounters {
  final case class Snap(gcMs: Long, gcCount: Long, codegenClasses: Long, codegenNs: Long)

  def snap(): Snap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Snap(gcs.map(g => math.max(0L, g.getCollectionTime)).sum,
      gcs.map(g => math.max(0L, g.getCollectionCount)).sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
}
