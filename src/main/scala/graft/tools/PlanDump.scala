package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dumps `.explain("formatted")` for a list of registered queries to
  * files — the plans/rNN/<query>_{before,after}.txt deliverable the
  * optimization rounds commit so plan claims are checkable without
  * running Spark.
  *
  * Usage: `runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  * [sfDir]` — writes `<outDir>/<query>_<suffix>.txt` per query.
  *
  * Plan identity across commits: Spark's multi-distinct rewrite orders
  * the `Expand` projections of q_churn_features and q_data_quality (and
  * of q_monthly_trend and q_churn_model_bands) by expression-id hashes,
  * so in a dump of many queries their plans depend on the queries dumped
  * before them in the same JVM. A plan-identity check must dump those
  * alone, one run each, on both sides, and mask what differs between
  * any two JVMs: `#<n>` expression ids, `plan_id=<n>`, lambda names and
  * MLlib's random `vecAssembler_<uid>` suffixes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
