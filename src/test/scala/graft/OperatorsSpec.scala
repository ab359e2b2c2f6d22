package graft

import graft.operators.{Dedup, Joins, TableService, Trends, Windows}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("U1 keepLatest keeps the max-keeper row and is idempotent") {
    val df = Seq((1L, "x", 1L, 10.0), (1L, "x", 3L, 30.0),
      (1L, "x", 2L, 20.0), (2L, "y", 1L, 5.0))
      .toDF("k1", "k2", "id", "v")
    val once = Dedup.keepLatest(df, Seq("k1", "k2"), "id")
    assert(once.count() == 2)
    assert(once.where($"k1" === 1L).head().getAs[Double]("v") == 30.0)
    val twice = Dedup.keepLatest(once, Seq("k1", "k2"), "id")
    assert(twice.collect().toSet == once.collect().toSet)
  }

  test("A19 duplicateGroups reports only multi-row keys") {
    val df = Seq((1L, 1), (1L, 2), (2L, 1)).toDF("k", "v")
    val g = Dedup.duplicateGroups(df, Seq("k")).collect()
    assert(g.length == 1 && g(0).getLong(0) == 1L && g(0).getLong(1) == 2L)
  }

  test("P5 lastNDays works on the integer day axis (round-1 bug)") {
    val df = Seq((1, 700), (2, 690), (3, 600)).toDF("id", "day")
    val out = Trends.lastNDays(df, col("day"), 30).as[(Int, Int)].collect()
    assert(out.map(_._1).toSet == Set(1, 2)) // 700-29=671 <= day
  }

  test("P5 withMaxDay lazy bound equals the eager probe on both axes") {
    // numeric axis
    val ni = Seq((1, 700), (2, 690), (3, 600)).toDF("id", "day")
    val (nm, nLo) = Trends.withMaxDay(ni, col("day"))
    val gotN = nm.where(col("day") >= nLo(30)).select("id")
      .as[Int].collect().toSet
    assert(gotN == Set(1, 2)) // same rows as the eager lastNDays test
    // date axis: max = 2024-03-10, 30-day window starts 2024-02-10
    val di = Seq((1, "2024-03-10"), (2, "2024-02-10"), (3, "2024-01-01"))
      .toDF("id", "d").withColumn("d", col("d").cast("date"))
    val (dm, dLo) = Trends.withMaxDay(di, col("d"))
    val gotD = dm.where(col("d") >= dLo(30)).select("id")
      .as[Int].collect().toSet
    assert(gotD == Set(1, 2))
    // and the plan is broadcast, not a cartesian product
    val plan = nm.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("Tables loader infers the parquet schema once per path") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.sources.Tables(spark, dir).lineitem
    // the second load must run ZERO jobs at construction time: the
    // cached StructType (session-free — a cached DataFrame would pin its
    // SparkSession and leak plans in multi-session JVMs) replaces the
    // schema-inference footer job. Counted in a job group of its own
    // (a global job count would see any concurrent Spark job in the
    // shared session).
    val (ran, b) =
      Metrics.jobsDuring(spark)(graft.sources.Tables(spark, dir).lineitem)
    assert(ran == 0,
      s"constructing a cached-schema table ran $ran job(s)")
    assert(a.schema == b.schema)
    assert(a.count() == b.count())
  }

  test("F3 monthBucket reproduces ((day-352)/30)+1") {
    val out = Seq(352, 381, 382, 412).toDF("day")
      .select(Trends.monthBucket(col("day"), 352).as("m"))
      .as[Long].collect()
    assert(out.toSeq == Seq(1L, 1L, 2L, 3L))
  }

  test("F9 periodComparison on integer axis with zero-guard") {
    val df = Seq((700, 100.0), (695, 50.0), (650, 30.0), (640, 20.0))
      .toDF("day", "sales")
    // recent = [671, 700]: 150.0; prev = [641, 671): only day 650 -> 30.0
    val r = Trends.periodComparison(df, col("day"), col("sales"), 30).head()
    assert(r.getAs[Double]("recent_sales") == 150.0)
    assert(r.getAs[Double]("prev_sales") == 30.0)
    assert(math.abs(r.getAs[Double]("pct_change") - 400.0) < 1e-9)
  }

  test("W2 purchaseGaps averages distinct-day gaps per key") {
    val df = Seq((1L, 10), (1L, 10), (1L, 13), (1L, 19), (2L, 5))
      .toDF("k", "day")
    val g = Windows.purchaseGaps(df, "k", col("day")).collect()
    assert(g.length == 1) // customer 2 has a single day -> no gaps
    assert(g(0).getAs[Double]("avg_gap") == 4.5) // (3 + 6) / 2
    assert(g(0).getAs[Long]("n_gaps") == 2L)
  }

  test("W1 stratifiedSample takes at most k per bucket, deterministically") {
    val df = (1L to 100L).map(i => (i, i % 4)).toDF("id", "b")
    val s1 = Windows.stratifiedSample(df, col("b"), col("id"), 5)
    val s2 = Windows.stratifiedSample(df, col("b"), col("id"), 5)
    assert(s1.groupBy("bucket").count().collect()
      .forall(_.getLong(1) <= 5))
    assert(s1.select("id").as[Long].collect().sorted.toSeq ==
      s2.select("id").as[Long].collect().sorted.toSeq)
  }

  test("U3 absenceLabel marks keys missing from the future set") {
    val keys = Seq(1L, 2L, 3L).toDF("k")
    val future = Seq(2L).toDF("k")
    val out = Joins.absenceLabel(keys, "k", future, "is_churn")
      .orderBy("k").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("J6 futureExistenceLabels one-pass conditional agg") {
    val base = Seq(1L, 2L).toDF("k")
    val future = Seq((1L, 5), (1L, 40), (2L, 70)).toDF("k", "day")
    val out = Joins.futureExistenceLabels(base, future, "k",
        Seq("h30" -> (col("day") <= 30), "h90" -> (col("day") <= 90)))
      .orderBy("k").collect()
    assert(out(0).getAs[Long]("h30") == 1L && out(0).getAs[Long]("h90") == 1L)
    assert(out(1).getAs[Long]("h30") == 0L && out(1).getAs[Long]("h90") == 1L)
  }

  test("P3 search ORs text fields and falls back to numeric equality") {
    val df = Seq((1L, "red apple"), (2L, "green pear"), (3L, "plum"))
      .toDF("id", "name")
    assert(TableService.search(df, "RED", Seq("name")).count() == 1)
    assert(TableService.search(df, "3", Seq("name"), Seq("id")).count() == 1)
  }

  test("T9 page slices after a total order") {
    val df = (1L to 100L).toDF("id")
    val p = TableService.page(df, Seq(col("id").asc), 10, 3)
      .as[Long].collect()
    assert(p.toSeq == (31L to 40L))
  }

  test("P9 clean clamps negative money and drops null requireds") {
    val df = Seq((Some("a"), -5.0), (Some("b"), 7.0), (None, 3.0))
      .toDF("k", "v")
    val c = TableService.clean(df, Seq("v"), Seq("k"))
    assert(c.count() == 2)
    assert(c.agg(sum("v")).head().getDouble(0) == 7.0)
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // 90% of the big side lands on one key — the salting target scenario
    val big = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i =>
      (i.toLong % 7 + 2, i))).toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("k", "label")
    val plain = big.join(dim, Seq("k"))
      .select($"k", $"payload", $"label").collect().toSet
    val salted = graft.operators.Joins.saltedJoin(big, dim, Seq("k"), 8)
      .select($"k", $"payload", $"label").collect().toSet
    assert(salted == plain)
    // and the salt spreads the hot key: >1 distinct salt for k=1
    val nSalts = big.withColumn("__salt",
        pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(8)))
      .where($"k" === 1L).select("__salt").distinct().count()
    assert(nSalts > 1)
  }

  test("zValue2 interleaves bits; z-order buckets bound BOTH dims where " +
      "single-column layout bounds one") {
    import graft.operators.Layout
    // hand-checked Morton values: (x=5 [101], y=3 [011], 3 bits) →
    // bits x0,y0,x1,y1,x2,y2 = 1,1,0,1,1,0 → 0b011011 = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), 3)).as[Long].head()
    assert(z == 27L)
    // clamping: negative → 0, over-range → cap
    val zc = Seq((-7L, 1024L)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), 3)).as[Long].head()
    assert(zc == Seq((0L, 7L)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), 3)).as[Long].head())
    // on a filled 2-dim grid, every z-bucket's bounding box covers at
    // most a quarter of EACH dimension's domain (4 buckets = top 2 z
    // bits = one quadrant split in both dims); a single-column range
    // layout would leave the other dim's box at full width
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val stats = Layout.zOrderStats(grid, col("x"), col("y"), 5, 4)
      .collect()
    assert(stats.length == 4)
    stats.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 15, s"x box too wide: $r")
      assert(r.getLong(5) - r.getLong(4) <= 15, s"y box too wide: $r")
    }
  }

  test("rollupStats emits every grouping level; gid separates natural nulls") {
    val df = Seq(("a", 1, 10.0), ("a", 1, 5.0), ("a", 2, 2.0), ("b", 1, 1.0))
      .toDF("p", "y", "v")
    val got = Trends.rollupStats(df, Seq($"p", $"y"), $"v")
      .collect().map(r => (Option(r.getString(0)).getOrElse("-"),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got === Set(
      ("a", 1, 0L, 2L, 15.0), ("a", 2, 0L, 1L, 2.0),
      ("b", 1, 0L, 1L, 1.0),                          // leaves, gid 0
      ("a", -1, 1L, 3L, 17.0), ("b", -1, 1L, 1L, 1.0), // per-p, gid 1
      ("-", -1, 3L, 4L, 18.0)))                        // grand, gid 3
    // a NATURAL null dim value stays distinguishable from the subtotal
    // marker: same (null) key, different gid
    val withNull = Seq((Option("a"), 1.0), (None: Option[String], 2.0))
      .toDF("p", "v")
    val byGid = Trends.rollupStats(withNull, Seq($"p"), $"v")
      .collect().filter(_.isNullAt(0))
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(byGid === Map(0L -> ((1L, 2.0)), 1L -> ((2L, 3.0))))
  }

  test("rollingStats: trailing range frame includes ties, excludes > window") {
    // key 1 at ts 0, 100, 100 (tie), 150; window 100 → frame (ts-100, ts]
    val df = Seq((1L, 0L, 1.0), (1L, 100L, 2.0), (1L, 100L, 3.0),
        (1L, 150L, 4.0), (2L, 0L, 9.0))
      .toDF("k", "ts", "v")
    val got = Trends.rollingStats(df, Seq("k"), "ts", $"v", 100L)
      .select("k", "ts", "v", "n_window", "sales_window")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got === Set(
      (1L, 0L, 1.0, 1L, 1.0),     // nothing before
      (1L, 100L, 2.0, 2L, 5.0),   // frame (0,100]: ts 0 exactly window-old OUT, tie IN
      (1L, 100L, 3.0, 2L, 5.0),   // tie shares the frame
      (1L, 150L, 4.0, 3L, 9.0),   // frame (50,150]: both 100s + self
      (2L, 0L, 9.0, 1L, 9.0)))    // keys isolated
  }
}
