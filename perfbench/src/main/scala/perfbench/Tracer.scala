package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-module counters gathered from Spark's public listeners, keyed by
  * the tag the harness puts on each phase of each query execution.
  *
  * Jobs carry their tag as the local property [[Tracer.TagKey]], so stage
  * and task events are attributed through the job that ran them. Query
  * execution and streaming progress events carry no properties; they are
  * charged to the tag open when the listener bus delivers them, which is
  * exact because [[open]] drains the bus before it switches tags.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val tags = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  @volatile private var current: String = ""

  def counters(tag: String): Counters = tags.computeIfAbsent(tag, _ => new Counters)

  /** Deliver every event posted so far, then charge later untagged events
    * to `tag`.
    */
  def open(tag: String): Unit = { drain(); current = tag }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        counters(tag).synchronized { counters(tag).jobs += 1 }
        e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
        val c = counters(tag)
        val wall = for (s <- e.stageInfo.submissionTime; f <- e.stageInfo.completionTime)
          yield f - s
        c.synchronized {
          c.stages += 1
          c.stageWallMs(e.stageInfo.stageId) = wall.getOrElse(0L)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val c = counters(tag)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
          if (m != null) {
            c.taskCpuNs += m.executorCpuTime
            c.taskRunMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.spillBytes += m.diskBytesSpilled
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRows += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = counters(current)
      val phases = qe.tracker.phases
      val planMs = PlanPhases.flatMap(phases.get).map(p => p.durationMs).sum
      val (ex, reused) = exchanges(qe)
      c.synchronized {
        c.planMs += planMs
        c.exchanges += ex
        c.reusedExchanges += reused
        c.actions += 1
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = counters(current)
      c.synchronized { c.progress += e.progress }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  def close(): Unit = {
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}

object Tracer {
  /** Local property naming the harness phase a job belongs to. */
  val TagKey = "perfbench.tag"

  private val PlanPhases = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    Seq(ANALYSIS, OPTIMIZATION, PLANNING)
  }

  private object Walk extends AdaptiveSparkPlanHelper

  /** (exchanges, reused exchanges) in the executed plan, looking through
    * adaptive query stages into the final plan and into subqueries.
    */
  def exchanges(qe: QueryExecution): (Long, Long) = {
    val plan = qe.executedPlan
    val ex = Walk.collectWithSubqueries(plan) { case e: Exchange => e }.size
    val reused = Walk.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size
    (ex.toLong, reused.toLong)
  }

  /** Everything the listeners saw for one tag. Guarded by its own monitor. */
  final class Counters {
    var jobs, stages, tasks = 0L
    var taskCpuNs, taskRunMs, gcMs = 0L
    var spillBytes, shuffleWriteBytes, shuffleReadBytes = 0L
    var inputBytes, inputRows = 0L
    var planMs, exchanges, reusedExchanges, actions = 0L
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageWallMs = mutable.Map.empty[Int, Long]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

    def stateOperators: Seq[org.apache.spark.sql.streaming.StateOperatorProgress] =
      progress.toSeq.flatMap(_.stateOperators.toSeq)

    def triggerSeconds: Seq[Double] =
      progress.toSeq.flatMap(p =>
        Option(p.durationMs.asScala.get("triggerExecution")).flatten.map(_.toDouble / 1e3))
  }
}
