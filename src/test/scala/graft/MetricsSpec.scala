package graft

import graft.operators.Collab
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The CF hot-item cap reports a binding cap through [[Metrics]]: one
  * WARN per query that drops rows, none otherwise, and observing a
  * metric runs no job of its own. */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // item 10 is held by 4 users, item 11 by 2 (LlmOpsSpec's cap fixture)
  private def counts = Collab.userItemCounts(
    Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (1L, 11L), (2L, 11L))
      .toDF("u0", "i0"), "u0", "i0")

  /** WARN messages of the `graft.Collab` logger while `body` runs and
    * the listener bus drains after it. */
  private def collabWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("metrics-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.Collab").asInstanceOf[Logger]
    val prev = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try { body; Metrics.ledger(spark.sparkContext).settle() }
    finally { logger.removeAppender(appender); logger.setLevel(prev) }
    seen.asScala.toSeq
  }

  /** The one cap observation name a collected frame reports. */
  private def capName(df: org.apache.spark.sql.DataFrame): String = {
    val names = df.queryExecution.observedMetrics.keys
      .filter(_.startsWith(Collab.CapMetricName + "_"))
    assert(names.size == 1, s"expected one cap observation, got $names")
    names.head
  }

  test("a binding CF cap logs exactly one WARN per query") {
    val capped = Collab.userSimilarities(counts, Some(2))
    (1 to 2).foreach { _ =>
      val warnings = collabWarnings(capped.collect())
      val name = capName(capped)
      val mine = warnings.filter(_.startsWith(s"$name:"))
      assert(mine.size == 1, s"got ${warnings.mkString("; ")}")
      assert(mine.head.contains("4 (user,item) rows dropped"), mine.head)
    }
  }

  test("a non-binding CF cap logs no WARN") {
    val capped = Collab.userSimilarities(counts, Some(4))
    val warnings = collabWarnings(capped.collect())
    val name = capName(capped)
    assert(!warnings.exists(_.startsWith(s"$name:")), warnings)
    assert(capped.queryExecution.observedMetrics(name)
      .getAs[Long]("dropped_rows") == 0L)
  }

  test("Metrics.observe adds no job and names each call uniquely") {
    val df = counts.groupBy("i").agg(sum("c").as("c"))
    val (plainJobs, _) = Metrics.jobsDuring(spark)(df.collect())
    val (name, observed) = Metrics.observe(df, "metrics_spec",
      count(lit(1)).as("n"))
    val (observedJobs, _) = Metrics.jobsDuring(spark)(observed.collect())
    assert(plainJobs > 0)
    assert(observedJobs == plainJobs)
    assert(observed.queryExecution.observedMetrics(name).getLong(0) == 2L)
    val (next, _) = Metrics.observe(df, "metrics_spec", count(lit(1)))
    assert(name.matches("metrics_spec_\\d+") && next != name)
  }
}
