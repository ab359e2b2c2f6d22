package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The engine's one listener module. Everything that counts what Spark
  * ran goes through here:
  *  - [[ledger]]: one `SparkListener` per SparkContext counting job
  *    starts (globally, and per job group for [[jobsDuring]]) and keeping
  *    one row per completed stage. [[Ledger.settle]] drains the listener
  *    bus, so a count read after it is exact.
  *  - [[observe]]: `Dataset.observe` under a unique `<prefix>_<n>` name.
  *    The metric rides the query's own tasks and adds no job.
  *  - [[onObserved]]: one `QueryExecutionListener` per session, sending
  *    each observed row of a successful query to the handler registered
  *    for its prefix. */
object Metrics {

  /** One completed stage. */
  final case class StageRow(jobId: Int, stageId: Int, name: String,
      wallSec: Double, tasks: Int, shufReadRows: Long, shufReadMB: Double,
      shufWriteRows: Long, shufWriteMB: Double, inputMB: Double)

  /** Job and stage accounting for one SparkContext. [[clear]] starts a
    * new count; `jobs` and `stages` cover everything since, so a caller
    * that reads them per unit of work clears per unit of work. */
  final class Ledger private[Metrics] (private[Metrics] val sc: SparkContext)
      extends SparkListener {
    private var jobCount = 0
    private val rows = mutable.ArrayBuffer.empty[StageRow]
    private val stageToJob = mutable.Map.empty[Int, Int]
    private[Metrics] val groups = new ConcurrentHashMap[String, AtomicInteger]

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      Option(js.properties)
        .flatMap(p => Option(p.getProperty(ListenerBusDrain.JobGroupKey)))
        .flatMap(g => Option(groups.get(g))).foreach(_.incrementAndGet())
      synchronized {
        jobCount += 1
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
      }
    }

    override def onStageCompleted(done: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = done.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; e <- si.completionTime}
          yield (e - s) / 1e3).getOrElse(0.0)
        rows += StageRow(
          stageToJob.getOrElse(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          wall, si.numTasks,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.bytesRead / 1048576.0)
      }

    /** Waits until every event posted so far has reached the listeners.
      * Past Spark's 10 s bound it warns on stderr and returns, as a late
      * count is not worth failing the caller's work for. */
    def settle(): Unit =
      try ListenerBusDrain.drain(sc)
      catch {
        case _: java.util.concurrent.TimeoutException => System.err.println(
          "[metrics] WARNING: listener bus did not drain within 10 s; " +
            "counts may miss trailing events")
      }

    /** Settles, then zeroes the count, so no earlier event lands in it. */
    def clear(): Unit = {
      settle()
      synchronized { jobCount = 0; rows.clear(); stageToJob.clear() }
    }

    /** Jobs started since [[clear]], in every job group. */
    def jobs: Int = synchronized(jobCount)
    /** Stages completed since [[clear]], by job then stage id. */
    def stages: Seq[StageRow] =
      synchronized(rows.toList).sortBy(r => (r.jobId, r.stageId))
  }

  private var current: Ledger = _

  /** The ledger of `sc`, registered on first use. */
  def ledger(sc: SparkContext): Ledger = synchronized {
    if (current == null || (current.sc ne sc)) {
      current = new Ledger(sc)
      sc.addSparkListener(current)
    }
    current
  }

  private val groupSeq = new AtomicLong

  /** Runs `body` under a job group of its own and returns how many jobs
    * it started with its result. Jobs other threads run at the same
    * time are not counted. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val l = ledger(sc)
    val group = s"graft-metrics-${groupSeq.incrementAndGet()}"
    val count = new AtomicInteger
    l.groups.put(group, count)
    try {
      sc.setJobGroup(group, "Metrics.jobsDuring")
      val out = try body finally sc.clearJobGroup()
      l.settle()
      (count.get, out)
    } finally l.groups.remove(group)
  }

  private val observeSeqs = new ConcurrentHashMap[String, AtomicLong]

  /** `df.observe` under the name `<prefix>_<n>`, `n` counting the calls
    * per prefix: two observations of different subtrees in one query
    * need different names. Returns the name and the observed frame. */
  def observe(df: DataFrame, prefix: String, metric: Column,
              metrics: Column*): (String, DataFrame) = {
    val n = observeSeqs.computeIfAbsent(prefix, _ => new AtomicLong)
      .incrementAndGet()
    val name = s"${prefix}_$n"
    (name, df.observe(name, metric, metrics: _*))
  }

  /** Routes observed rows named `<prefix>_<n>` to their prefix's handler. */
  private final class ObservedRouter extends QueryExecutionListener {
    val handlers = new ConcurrentHashMap[String, (String, Row) => Unit]
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        val cut = name.lastIndexOf('_')
        if (cut > 0)
          Option(handlers.get(name.substring(0, cut))).foreach(_(name, row))
      }
    override def onFailure(fn: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  private val routers = new java.util.WeakHashMap[SparkSession, ObservedRouter]

  /** Calls `handler(name, row)` for every row observed under `prefix` by
    * a query of `spark` that succeeds. The first handler registered for
    * a prefix in a session stays. */
  def onObserved(spark: SparkSession, prefix: String)(
      handler: (String, Row) => Unit): Unit = {
    val router = routers.synchronized {
      Option(routers.get(spark)).getOrElse {
        val r = new ObservedRouter
        spark.listenerManager.register(r)
        routers.put(spark, r)
        r
      }
    }
    router.handlers.putIfAbsent(prefix, handler)
  }
}
