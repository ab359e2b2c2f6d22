package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** A child span of an operation: `build` (constructing the result,
  * including any eager actions), `sink` (writes) or `action` (consuming
  * the result). Times are wall-clock milliseconds, comparable with the
  * event times Spark's listeners report. */
final case class Span(kind: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** One executed operation: its identity, timing and outcome. */
final case class OpRecord(id: Int, name: String, param: String, traced: Boolean,
                          startMs: Long, endMs: Long, latencyNs: Long,
                          gapNs: Long, spans: Seq[Span], resultRows: Long,
                          ok: Boolean, error: String, extra: Map[String, Double]) {
  def span(kind: String): Option[Span] = spans.find(_.kind == kind)
}

/** Listener events, kept in memory and reduced once the run is over. Job,
  * stage and task events are attributed to the operation whose job group
  * (`pb-<op id>-<span kind>`) launched them; jobs launched from threads
  * that do not carry the group (streaming micro-batches) fall back to the
  * operation whose span covers their start time. */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasksByStage = scala.collection.mutable.Map.empty[Int, Tasks]
  val qes = ArrayBuffer.empty[Qe]
  val progress = ArrayBuffer.empty[Progress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs += Job(e.jobId, g, e.time, e.stageIds)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val t = tasksByStage.getOrElseUpdate(e.stageId, Tasks())
        val info = e.taskInfo
        t.n += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        // scheduler delay, as the Spark UI computes it
        t.waitMs += math.max(0L, (info.finishTime - info.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        t.shWrite += m.shuffleWriteMetrics.bytesWritten
        t.shRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.inRows += m.inputMetrics.recordsRead
        t.inBytes += m.inputMetrics.bytesRead
        t.outRows += m.outputMetrics.recordsWritten
        t.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val end = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      val q = Qe(end, d("analysis"), d("optimization"), d("planning"),
        broadcastBytes(qe.executedPlan))
      synchronized { qes += q }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val pr = Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum, d("addBatch"),
        d("commitOffsets"))
      synchronized { progress += pr }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Drains the listener bus so every event of the operations run so far
    * has been recorded. */
  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def broadcastBytes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => broadcastBytes(a.executedPlan)
    case s: QueryStageExec => broadcastBytes(s.plan)
    case _: ReusedExchangeExec => 0L
    case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) + broadcastBytes(b.child)
    case other => (other.children ++ other.subqueries).map(broadcastBytes).sum
  }
}

object Trace {
  final case class Job(id: Int, group: Option[String], startMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long)
  /** Task metrics summed over one stage. */
  final case class Tasks(var n: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                         var gcMs: Long = 0, var waitMs: Long = 0,
                         var shWrite: Long = 0, var shRead: Long = 0,
                         var spill: Long = 0, var inRows: Long = 0,
                         var inBytes: Long = 0, var outRows: Long = 0,
                         var outBytes: Long = 0)
  /** One query execution: when its last Catalyst phase ended, the phase
    * durations and the bytes its broadcast exchanges built. */
  final case class Qe(planEndMs: Long, analysisMs: Long, optimizationMs: Long,
                      planningMs: Long, broadcastBytes: Long)
  final case class Progress(startMs: Long, inputRows: Long, stateRows: Long,
                            stateBytes: Long, addBatchMs: Long, commitMs: Long)
}
