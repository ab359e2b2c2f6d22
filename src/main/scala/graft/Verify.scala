package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    // all cores by default, matching Bench and Profile (the driver runs
    // this env-free; results are width-independent, only wall time moves)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // GRAFT_ONLY=q_a,q_b restricts the dump (local iteration aid; the
    // driver sets no env and always gets the full run)
    val only = sys.env.get("GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Failures must be LOUD: a query that throws gets (a) an _ERROR.txt
    // marker in its (otherwise empty) output dir and (b) an entry in
    // failed.json beside oracle_sql.json — so a plan-time break surfaces
    // as a red row on the driver's board instead of silently shrinking
    // the denominator (the round-7 streaming regression vanished this way).
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // a query must release every frame it cached: one that leaves a
    // CacheManager entry behind is a failure, cleared so the next query
    // starts clean (the entry count is sql-package-private, hence the
    // reflective read)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic
      .SparkSession].sharedState.cacheManager
    val cachedEntries = cacheManager.getClass.getMethod("numCachedEntries")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg + "\n")
      }
      if (!cacheManager.isEmpty) {
        val leaked = cachedEntries.invoke(cacheManager)
        val msg = s"left $leaked cached frame(s)"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = failed.get(name).fold(msg)(m => s"$m; $msg")
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"}" +
          s" FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
