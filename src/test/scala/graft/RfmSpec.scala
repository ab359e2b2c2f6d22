package graft

import graft.operators.Rfm
import org.apache.spark.sql.functions._

class RfmSpec extends SparkSpec {
  import spark.implicits._

  // 10 customers, integer day axis (the reference's axis), distinct
  // frequencies/monetary so quintiles are unambiguous.
  private def tx = (1 to 10).flatMap { c =>
    (1 to c).map(b => (c.toLong, c * 100L + b, 10.0 * c, 700 - c * 10))
  }.toDF("household_key", "basket_id", "sales_value", "day")

  test("scores are in 1..5 and quintiles are balanced") {
    val s = Rfm.scores(tx, "household_key", "basket_id", "sales_value",
      "day").cache()
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val vals = s.select(col(c)).as[Long].collect()
      assert(vals.forall(v => v >= 1 && v <= 5), s"$c out of range")
      assert(vals.groupBy(identity).values.map(_.size).toSet == Set(2),
        s"$c quintiles unbalanced")
    }
  }

  test("recency works on the integer day axis (round-1 regression)") {
    val s = Rfm.scores(tx, "household_key", "basket_id", "sales_value",
      "day")
    // day = 700 - c*10, so customer 1 (day 690) is the most recent
    val r = s.where($"customer" === 1L).head()
    assert(r.getAs[Long]("recency") == 0L)
    assert(r.getAs[Long]("r_score") == 5L)
    // customer 10 (day 600) trails by 90 days
    assert(s.where($"customer" === 10L).head()
      .getAs[Long]("recency") == 90L)
  }

  test("segment chain preserves reference order incl. shadowed branch") {
    // analytics.py:243-290: r<=2,f>=4,m>=4 is unreachable — "Loyal
    // Customers" (f>=4 && m>=3) catches it first.
    val seg = Rfm.segmentExpr(lit(1), lit(5), lit(5))
    val out = spark.range(1).select(seg.as("s")).as[String].head()
    assert(out == "Loyal Customers")
    assert(spark.range(1)
      .select(Rfm.segmentExpr(lit(5), lit(5), lit(5)).as("s"))
      .as[String].head() == "Champions")
    assert(spark.range(1)
      .select(Rfm.segmentExpr(lit(1), lit(1), lit(1)).as("s"))
      .as[String].head() == "Hibernating")
  }

  test("quantile-edge scoring agrees with ntile on tie-free data") {
    val byNtile = Rfm.scores(tx, "household_key", "basket_id",
      "sales_value", "day")
      .select($"customer", $"f_score", $"m_score")
    val byEdges = Rfm.scoresByQuantileEdges(tx, "household_key",
      "basket_id", "sales_value", "day")
      .select($"customer", $"f_score".as("f2"), $"m_score".as("m2"))
    val joined = byNtile.join(byEdges, "customer").collect()
    joined.foreach { r =>
      assert(r.getAs[Long]("f_score") == r.getAs[Long]("f2"))
      assert(r.getAs[Long]("m_score") == r.getAs[Long]("m2"))
    }
  }

  test("avg_basket_value = monetary/frequency with zero guard") {
    val s = Rfm.segments(tx, "household_key", "basket_id", "sales_value",
      "day")
    val r = s.where($"customer" === 4L).head()
    assert(math.abs(r.getAs[Double]("avg_basket_value")
      - r.getAs[Double]("monetary") / r.getAs[Long]("frequency")) < 1e-9)
  }

  test("distributed exact ntile backend equals the window backend on " +
    "tie-heavy data, incl. boundary-straddling tie groups (r18)") {
    // 23 customers, frequency heavily tied (1,1,1,...,2,2,...) so
    // quintile boundaries FALL INSIDE tie groups — the case where
    // approx-edge scoring diverges but exact ntile must split ties by
    // the customer tiebreak; 23 % 5 != 0 exercises the uneven-bucket
    // arithmetic (first n mod 5 buckets one larger).
    val txTies = (1 to 23).flatMap { c =>
      (1 to (c / 8 + 1)).map(b =>
        (c.toLong, c * 100L + b, 5.0 * ((c % 3) + 1), 700 - (c % 4) * 10))
    }.toDF("household_key", "basket_id", "sales_value", "day")
    def run(distributed: Boolean) =
      withConf(Rfm.NtileDistributedConf, distributed.toString) {
        Rfm.scores(txTies, "household_key", "basket_id", "sales_value",
          "day").orderBy($"customer").collect().toSeq
      }
    assert(run(distributed = true) === run(distributed = false))
    // and on the tiny original fixture (n = 10 < bucket count edge is
    // covered by InvariantsCheck-style small n: 10 rows, 5 buckets)
    def runTx(distributed: Boolean) =
      withConf(Rfm.NtileDistributedConf, distributed.toString) {
        Rfm.scores(tx, "household_key", "basket_id", "sales_value",
          "day").orderBy($"customer").collect().toSeq
      }
    assert(runTx(distributed = true) === runTx(distributed = false))
  }

  test("an invalid ntile backend conf fails loudly instead of silently " +
      "taking the default") {
    Seq("TRUE", "1", "ture").foreach { v =>
      withConf(Rfm.NtileDistributedConf, v) {
        val e = intercept[IllegalArgumentException] {
          Rfm.scores(tx, "household_key", "basket_id", "sales_value", "day")
        }
        assert(e.getMessage.contains(s"${Rfm.NtileDistributedConf} must be"))
        assert(e.getMessage.contains(s"got '$v'"))
      }
    }
  }
}
