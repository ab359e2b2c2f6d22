package graft

import org.apache.spark.sql.SparkSession

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
  *  - `GRAFT_REPS=n` runs n times (warm-JVM timings; ledger printed
  *    for the LAST rep only, the JIT-warm one)
  *  - `GRAFT_CONF=k=v,k=v` extra runtime SQL confs (A/B a config
  *    hypothesis — e.g. `spark.sql.adaptive.enabled=false` — without
  *    touching the query registration)
  */
object Profile {

  private def printLedger(ledger: Metrics.Ledger): Unit = {
    val rows = ledger.stages
    println(f"[ledger] ${"job"}%4s ${"stage"}%5s ${"wall_s"}%7s " +
      f"${"tasks"}%5s ${"shR_rows"}%10s ${"shR_MB"}%8s ${"shW_rows"}%10s " +
      f"${"shW_MB"}%8s ${"in_MB"}%8s  name")
    rows.foreach { r =>
      println(f"[ledger] ${r.jobId}%4d ${r.stageId}%5d ${r.wallSec}%7.2f " +
        f"${r.tasks}%5d ${r.shufReadRows}%10d ${r.shufReadMB}%8.1f " +
        f"${r.shufWriteRows}%10d ${r.shufWriteMB}%8.1f " +
        f"${r.inputMB}%8.1f  ${r.name}")
    }
    val stageSum = rows.map(_.wallSec).sum
    println(f"[ledger] jobs=${ledger.jobs} stages=${rows.size} " +
      f"stage_wall_sum=$stageSum%.2f s (stages overlap; sum > query wall " +
      "is normal, sum ≪ wall means driver/scheduling floor dominates)")
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
    val ledger = Metrics.ledger(spark.sparkContext)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      ledger.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      ledger.settle()
      println(f"[profile] $name rep $i: $n rows in $dt%.2f s " +
        f"(${ledger.jobs} jobs)")
      if (i == reps) printLedger(ledger)
    }
    spark.stop()
  }
}
