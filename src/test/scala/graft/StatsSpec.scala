package graft

import graft.operators.Stats
import org.apache.spark.sql.functions._

/** Golden values computed independently (hand/python arithmetic, matching
  * scipy's definitions) for fixed small samples. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private val x = Seq(12.1, 14.3, 11.8, 15.2, 13.9, 12.5, 16.1, 14.8)
  private val y = Seq(10.2, 11.5, 9.8, 12.1, 10.9, 11.2)
  private def groups = (x.map(("x", _)) ++ y.map(("y", _)))
    .toDF("g", "v")

  test("X2 Welch t: statistic and Welch-Satterthwaite dof") {
    val r = Stats.welchT(groups, col("g"), col("v"), "x", "y").head()
    assert(math.abs(r.getAs[Double]("t_stat") - 4.433688) < 1e-4)
    assert(math.abs(r.getAs[Double]("dof") - 11.154776) < 1e-4)
    val p = Stats.tPValue(r.getAs[Double]("t_stat"),
      r.getAs[Double]("dof"))
    assert(p > 0 && p < 0.01) // strongly significant difference
  }

  test("X3 Mann-Whitney U and rank-biserial") {
    val r = Stats.mannWhitneyU(groups, col("g"), col("v"), "x", "y").head()
    assert(r.getAs[Double]("u_stat") == 46.5)
    assert(math.abs(r.getAs[Double]("rank_biserial") - (-0.9375)) < 1e-6)
    // one cross-group tie (12.1 appears in both samples): t=2 -> 2^3-2
    assert(r.getAs[Long]("tie_term") == 6L)
    val p = Stats.mannWhitneyPValue(46.5, 8, 6)
    assert(p > 0 && p < 0.05)
  }

  test("X3 Mann-Whitney tie correction matches scipy on tied data") {
    // x=[1,2,2,3], y=[2,3,3,4]: ranks 1,3,3,6 | 3,6,6,8 -> R1=13, U1=3;
    // tie groups t={3,3} -> tie_term=48;
    // sigma = sqrt(16/12*(9 - 48/56)) = 3.295018, z=(5-0.5)/sigma
    // scipy.stats.mannwhitneyu(method='asymptotic') two-sided p = 0.17204
    val tied = (Seq(1.0, 2.0, 2.0, 3.0).map(("x", _)) ++
      Seq(2.0, 3.0, 3.0, 4.0).map(("y", _))).toDF("g", "v")
    val r = Stats.mannWhitneyU(tied, col("g"), col("v"), "x", "y").head()
    assert(r.getAs[Double]("u_stat") == 3.0)
    assert(r.getAs[Long]("tie_term") == 48L)
    val p = Stats.mannWhitneyPValue(3.0, 4, 4, 48L)
    assert(math.abs(p - 0.17204) < 2e-3)
    // and the correction matters: the uncorrected value is ~0.194
    assert(p < Stats.mannWhitneyPValue(3.0, 4, 4) - 0.01)
  }

  test("X4 two-sample KS statistic") {
    val r = Stats.ks2(groups, col("g"), col("v"), "x", "y").head()
    assert(math.abs(r.getAs[Double]("ks_stat") - 0.833333) < 1e-5)
    assert(r.getAs[Long]("n1") == 8 && r.getAs[Long]("n2") == 6)
  }

  test("X3/X4 scalable variants are bit-equal to the parity paths on " +
      "random multi-block data") {
    // 400 rows over an 8-partition layout, heavy ties (values on a
    // 0.5 lattice) so tie terms, average ranks, and CDF steps all
    // exercise the block-boundary arithmetic; the values span several
    // value-bucket blocks, so cross-block base offsets are real
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      (if (rnd.nextBoolean()) "x" else "y",
        math.floor(rnd.nextDouble() * 40) / 2.0)
    }
    val df = rows.toDF("g", "v").repartition(8)
    val mw = Stats.mannWhitneyU(df, col("g"), col("v"), "x", "y")
      .head()
    val mws = Stats.mannWhitneyUScalable(df, col("g"), col("v"), "x", "y")
      .head()
    assert(mw == mws, s"MW parity $mw != scalable $mws")
    val ks = Stats.ks2(df, col("g"), col("v"), "x", "y").head()
    val kss = Stats.ks2Scalable(df, col("g"), col("v"), "x", "y").head()
    assert(ks == kss, s"KS parity $ks != scalable $kss")
    // scale shape: the scalable plans' ordered windows are all
    // partitioned (per-block cumsum) — the only unpartitioned ordered
    // window runs over the per-block totals, which the parity mirror
    // equality above already proves numerically
    val plan = Stats.mannWhitneyUScalable(df, col("g"), col("v"),
      "x", "y").queryExecution.executedPlan.toString
    assert(plan.contains("__blk"), plan.take(500))
  }

  test("X1 chi-square on the classic 2x2 [[30,10],[20,40]]") {
    val rows = Seq.fill(30)(("r1", "c1")) ++ Seq.fill(10)(("r1", "c2")) ++
      Seq.fill(20)(("r2", "c1")) ++ Seq.fill(40)(("r2", "c2"))
    val r = Stats.chiSquare(rows.toDF("g", "c"), col("g"), col("c")).head()
    assert(math.abs(r.getAs[Double]("chi2") - 16.666667) < 1e-4)
    assert(r.getAs[Long]("dof") == 1L)
    assert(math.abs(r.getAs[Double]("cramers_v") - 0.408248) < 1e-5)
    val p = Stats.chi2PValue(r.getAs[Double]("chi2"), 1)
    assert(p < 1e-3)
  }

  test("X5 meanDiff reports means and guarded pct difference") {
    val r = Stats.meanDiff(groups, col("g"), col("v"), "x", "y").head()
    val m1 = x.sum / x.size
    val m2 = y.sum / y.size
    assert(math.abs(r.getAs[Double]("mean_diff") - (m1 - m2)) < 1e-6)
  }

  test("p-value helpers match known distribution values") {
    // N(0,1): P(|Z| > 1.96) ~ 0.05
    assert(math.abs(Stats.mannWhitneyPValue(0.5 + 1.96 * math.sqrt(
      8.0 * 6 * (8 + 6 + 1) / 12.0) + 8.0 * 6 / 2.0, 8, 6) - 0.05) < 0.01)
    // chi2(1): P(X > 3.841) ~ 0.05
    assert(math.abs(Stats.chi2PValue(3.841, 1) - 0.05) < 0.001)
  }
}
