package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Times a single registered query — the per-query drill-down companion
  * to [[Bench]] — and prints a STAGE LEDGER: one row per completed Spark
  * stage with wall seconds, task count, shuffle read/write rows and
  * bytes, and input bytes, plus the job count. The ledger is how a
  * >2×-of-oracle query gets its seconds attributed: either to a removable
  * plan cost (a stage that shuffles too much / shouldn't exist) or to the
  * ~0.3–0.5 s per-job scheduling floor × job count (irreducible in local
  * mode, vanishes at cluster scale). For the query's formatted physical
  * plan, run [[graft.tools.PlanDump]].
  *
  * Usage: `runMain graft.Profile <query_name> [sfDir]`; env knobs:
  *  - `GRAFT_REPS=n` runs n times (warm-cache timings; ledger printed
  *    for the LAST rep only, the JIT-warm one)
  *  - `GRAFT_CLEARCACHE=1` clears the catalog cache between reps
  *  - `GRAFT_CONF=k=v,k=v` extra runtime SQL confs (A/B a config
  *    hypothesis — e.g. `spark.sql.adaptive.enabled=false` — without
  *    touching the query registration)
  */
object Profile {

  private final case class StageRow(jobId: Int, stageId: Int, name: String,
      wallSec: Double, tasks: Int, shufReadRows: Long, shufReadMB: Double,
      shufWriteRows: Long, shufWriteMB: Double, inputMB: Double)

  /** Listener accumulating the per-stage ledger; reset per rep. */
  private final class Ledger extends SparkListener {
    val rows = mutable.ArrayBuffer.empty[StageRow]
    val stageToJob = mutable.Map.empty[Int, Int]
    var jobs = 0
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = sc.stageInfo
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
    def clear(): Unit = synchronized { rows.clear(); stageToJob.clear(); jobs = 0 }
    def size: Int = synchronized { rows.size }
    def print(): Unit = synchronized {
      println(f"[ledger] ${"job"}%4s ${"stage"}%5s ${"wall_s"}%7s " +
        f"${"tasks"}%5s ${"shR_rows"}%10s ${"shR_MB"}%8s ${"shW_rows"}%10s " +
        f"${"shW_MB"}%8s ${"in_MB"}%8s  name")
      rows.sortBy(r => (r.jobId, r.stageId)).foreach { r =>
        println(f"[ledger] ${r.jobId}%4d ${r.stageId}%5d ${r.wallSec}%7.2f " +
          f"${r.tasks}%5d ${r.shufReadRows}%10d ${r.shufReadMB}%8.1f " +
          f"${r.shufWriteRows}%10d ${r.shufWriteMB}%8.1f " +
          f"${r.inputMB}%8.1f  ${r.name}")
      }
      val stageSum = rows.map(_.wallSec).sum
      println(f"[ledger] jobs=$jobs stages=${rows.size} " +
        f"stage_wall_sum=$stageSum%.2f s (stages overlap; sum > query wall " +
        "is normal, sum ≪ wall means driver/scheduling floor dominates)")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("GRAFT_REPS", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("GRAFT_CONF").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(
            s"GRAFT_CONF entry '$kv' is not key=value (expected " +
              "comma-separated key=value pairs)")
        }
      })
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      if (sys.env.contains("GRAFT_CLEARCACHE")) spark.catalog.clearCache()
      ledger.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name rep $i: $n rows in $dt%.2f s " +
        f"(${ledger.jobs} jobs)")
      if (i == reps) {
        // listener events drain asynchronously — poll until the ledger
        // stops growing (the bus-drain API is private[spark]; a single
        // fixed sleep could truncate the final stages of the profiled
        // rep on a loaded bus — exactly the straggler-diagnosis case
        // this tool exists for), with a bounded total wait
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var last = -1
        var cur = ledger.size
        while ((cur != last || cur == 0) && System.nanoTime() < deadline) {
          Thread.sleep(200)
          last = cur
          cur = ledger.size
        }
        if (System.nanoTime() >= deadline)
          println("[ledger] WARNING: listener bus did not settle within " +
            "10 s — ledger below may be missing trailing stages")
        ledger.print()
      }
    }
    spark.stop()
  }
}
