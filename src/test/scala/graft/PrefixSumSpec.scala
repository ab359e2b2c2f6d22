package graft

import graft.operators.{Mixing, Packing, Rfm, Stats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions._

/** The blocked prefix sum behind packing, token budgets, the scalable
  * rank/CDF tests and the distributed RFM ntile is lazy and leaks
  * nothing: building the frame runs no job, its one input shuffle is
  * read by both consumers through exchange reuse rather than a cache,
  * and running it leaves no cached frame or persistent RDD behind. */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "aaaa bbbb cccc dddd", "web"), (2L, "eeeeeeee ffff", "wiki"),
    (5L, "gg hh ii jj kk ll mm nn", "web"), (9L, "x", "wiki")
  ).toDF("doc_id", "text", "source")

  private def groups = {
    val rnd = new scala.util.Random(3)
    (1 to 200).map(_ => (if (rnd.nextBoolean()) "x" else "y",
      math.floor(rnd.nextDouble() * 30) / 2.0)).toDF("g", "v")
  }

  private def tx = (1 to 23).flatMap { c =>
    (1 to (c / 8 + 1)).map(b =>
      (c.toLong, c * 100L + b, 5.0 * ((c % 3) + 1), 700 - (c % 4) * 10))
  }.toDF("household_key", "basket_id", "sales_value", "day")

  private def rfm = Rfm.scores(tx, "household_key", "basket_id",
    "sales_value", "day")

  private def cacheManager =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager

  private val builders: Seq[(String, () => DataFrame)] = Seq(
    "tokenSpans" -> (() => Packing.tokenSpans(docs, "doc_id", "text", 2L)),
    "takeByTokenBudget" -> (() => Mixing.takeByTokenBudget(docs, "doc_id",
      "text", "source", 6L, 2L)),
    "ks2Scalable" -> (() =>
      Stats.ks2Scalable(groups, col("g"), col("v"), "x", "y")),
    "mannWhitneyUScalable" -> (() =>
      Stats.mannWhitneyUScalable(groups, col("g"), col("v"), "x", "y")),
    "Rfm.scores (distributed ntile)" -> (() =>
      withConf(Rfm.NtileDistributedConf, "true")(rfm)))

  builders.foreach { case (name, build) =>
    test(s"$name: builds with no job, shares its input exchange, and " +
        "leaves no cache or persistent RDD") {
      spark.catalog.clearCache()
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val (jobs, df) = Metrics.jobsDuring(spark)(build())
      // the RFM anchor (withRecency's max day) runs eagerly in every
      // backend, so the window backend's count is the bar
      val allowed =
        if (name.startsWith("Rfm")) Metrics.jobsDuring(spark)(rfm)._1 else 0
      assert(jobs == allowed, s"construction ran $jobs job(s)")
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
      assert(!plan.contains("InMemoryRelation") &&
        !plan.contains("InMemoryTableScan"), plan)
      assert(cacheManager.isEmpty, "a frame was left in the CacheManager")
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    }
  }
}
