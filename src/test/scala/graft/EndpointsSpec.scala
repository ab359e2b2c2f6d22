package graft

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions._
import org.scalatest.{Failed, Outcome, Succeeded}

/** Smoke of the EP facade (SURVEY §3) on the sf0.001 testdata — the
  * "reference user switches over" surface. Every test also checks that
  * the endpoints it called left no frame in the session's CacheManager. */
class EndpointsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  override def withFixture(test: NoArgTest): Outcome = {
    val cacheManager =
      spark.asInstanceOf[ClassicSession].sharedState.cacheManager
    spark.catalog.clearCache()
    super.withFixture(test) match {
      case Succeeded if !cacheManager.isEmpty =>
        Failed(s"${test.name} left a frame in the CacheManager")
      case outcome => outcome
    }
  }
  private def li = spark.read.parquet(s"$dir/lineitem.parquet")
  private def orders = spark.read.parquet(s"$dir/orders.parquet")

  test("events loader canonicalizes ts to TimestampType on driver data") {
    // regression guard for the round-7 streaming break: a new driver
    // data generation changed the parquet logical type of events.ts
    // (NANOS-long → TIMESTAMP_NTZ) and every type-strict consumer
    // (unix_micros in the stream backlog writer) failed at analysis.
    // The loader seam must present ONE stable type whatever the
    // generation wrote.
    val ev = graft.sources.Tables(spark, dir).events
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the exact consumer that broke must analyze and produce real micros
    val us = ev.select(unix_micros(col("ts")).as("us"))
      .agg(min(col("us")), max(col("us"))).head()
    assert(us.getLong(0) > 0L && us.getLong(1) >= us.getLong(0))
  }

  test("EP-1 association rules with a period window") {
    def ep1(tx: org.apache.spark.sql.DataFrame) = Endpoints.associationRules(
      tx, "l_orderkey", "l_partkey", periodDays = Some(365),
      col("l_shipdate"), 0.0, 0.0, 50).collect()
    val tx = li
    val rows = ep1(tx)
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.forall(_.getAs[Double]("confidence") >= 0.0))
    // a repeated request is answered from the kept response, without a job
    val (jobs, again) = Metrics.jobsDuring(spark)(ep1(tx))
    assert(jobs == 0 && again.sameElements(rows))
    // a new file under the same input path is a new request
    val path = java.nio.file.Files.createTempDirectory("graftep1").toString
    tx.write.mode("overwrite").parquet(path)
    ep1(spark.read.parquet(path))
    tx.limit(100).write.mode("append").parquet(path)
    val grown = spark.read.parquet(path)
    assert(Metrics.jobsDuring(spark)(ep1(grown))._1 > 0)
  }

  test("EP-2 regenerate segments writes and returns the segment table") {
    val path = java.nio.file.Files.createTempDirectory("graftseg").toString
    val seg = Endpoints.regenerateSegments(
      orders.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("day")),
      "o_custkey", "o_orderkey", "o_totalprice", "day", Some(path))
    assert(seg.count() > 0)
    assert(spark.read.parquet(path).count() == seg.count())
  }

  test("EP-9 cached hybrid recommendations: stale households get fresh " +
      "JSON payloads, hits keep theirs, cache upserts at latest version") {
    import spark.implicits._
    val tx = li.join(orders.select(col("o_orderkey").as("l_orderkey"),
      col("o_custkey")), Seq("l_orderkey"))
    val users = tx.select(col("o_custkey")).distinct()
      .orderBy(col("o_custkey")).limit(3)
      .collect().map(_.getLong(0))
    def version(d: String) = Seq(java.sql.Date.valueOf(d))
      .toDF("latest_version")
    val v1 = version("2024-01-01")
    // user 0 cached fresh at v1, user 1 cached STALE, user 2 uncached
    val cache = Seq(
      (users(0), 0.6, java.sql.Date.valueOf("2024-01-01"), "kept"),
      (users(1), 0.6, java.sql.Date.valueOf("2020-01-01"), "stale"))
      .toDF("household", "alpha", "rules_version", "payload")
    val requests = users.toSeq.map(u => (u, 0.6, false))
      .toDF("household", "alpha", "alpha_explicit")
    val refreshed = Endpoints.cachedHybridRecommendations(tx, "o_custkey",
      "l_partkey", "l_orderkey", requests, cache, v1, 0.6, 5)
    val out = refreshed.collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 3)
    assert(out(users(0)).getAs[String]("payload") == "kept")
    assert(out(users(1)).getAs[String]("payload") != "stale")
    assert(out.values.forall(_.getAs[java.sql.Date]("rules_version")
      .toString == "2024-01-01"))
    // recomputed payloads are JSON arrays (possibly empty)
    assert(out(users(2)).getAs[String]("payload").startsWith("["))
    // the same requests against the refreshed cache are all hits: the
    // cache comes back unchanged
    val again = Endpoints.cachedHybridRecommendations(tx, "o_custkey",
      "l_partkey", "l_orderkey", requests, refreshed, v1, 0.6, 5)
    assert(again.collect().toSet == out.values.toSet)
  }

  test("EP-7 matched rules score = confidence x lift per fired rule") {
    import spark.implicits._
    val tx = Seq((1L, "A"), (1L, "B"), (2L, "A")).toDF("u0", "i0")
    val rules = Seq((Array("A", "B"), Array("C"), 0.5, 2.0))
      .toDF("antecedent", "consequent", "confidence", "lift")
    val out = Endpoints.matchedRules(tx, "u0", "i0", rules).collect()
    assert(out.length == 1 && out(0).getAs[Long]("u") == 1L)
    assert(out(0).getAs[Double]("score") == 1.0)
  }

  test("EP-8 threshold sweep runs end-to-end on testdata") {
    val tx = li.select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey"), col("l_extendedprice"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")), Seq("o_orderkey"))
    val sweep = Endpoints.optimizeChurnThreshold(tx, "o_custkey",
      "l_partkey", "l_extendedprice", col("o_orderdate"),
      thresholds = Seq(30, 90), maxIter = 3)
    assert(sweep.points.length == 2)
    assert(Seq(30, 90).contains(sweep.best))
  }

  test("EP-4 differential quarters returns the three tests") {
    val res = Endpoints.differentialQuarters(li,
      col("l_shipdate").cast("date"), col("l_orderkey"),
      col("l_extendedprice"), "Q1", "Q2").collect()
    assert(res.map(_.getAs[String]("test_name")).toSet ==
      Set("ks_2samp", "mann_whitney_u", "welch_t"))
    val p = operators.Differential.pValues(res, welchDof = 100.0)
    assert(p.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("HLL gate query is lazy, passes in-tolerance, throws out-of-tolerance") {
    // The q_table_stats_approx gate is an assert_true FILTER (round-10
    // advice: the old head()+require form executed the double agg as a
    // construction side effect). Three properties: (1) building the
    // frame runs NO job (laziness); (2) the real gate passes at sf0.001
    // and returns the 1-row stats; (3) positive control — the same gate
    // shape with a falsified exact side THROWS at action time, proving
    // the filter is not optimized away.
    val frame = SparkEntry.queries("q_table_stats_approx")(spark, dir)
    assert(frame.count() == 1L)

    val li001 = sources.Tables(spark, dir).lineitem
    val approx = operators.BasketAnalytics.tableStatsApprox(li001,
      "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", rsd = 0.02)
    val falseExact = li001.agg(
      (countDistinct(col("l_orderkey")) * 10).as("x_baskets"))
    val broken = approx.crossJoin(falseExact)
      .where(assert_true(
        abs(col("n_baskets").cast("double") - col("x_baskets").cast("double"))
          / col("x_baskets").cast("double") <= 0.02,
        lit("drifted past the 2% tolerance")).isNull)
      .select(col("n_baskets"))
    // laziness: planning a frame whose gate WOULD fail must not throw —
    // the old head()+require form blew up right here, at construction
    broken.queryExecution.executedPlan
    val e = intercept[Exception](broken.count())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("drifted")),
      s"expected the gate's assert_true to fire, got: ${messages(e)}")
  }
}
