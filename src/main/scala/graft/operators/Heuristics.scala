package graft.operators

import graft.functions.ColumnFns.{moneySum, stableRound}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Heuristic recommendation scoring + revenue extrapolation (SURVEY §2.8
  * F15–F16, §2.13; `Website/market/dunnhumby/ml_models.py:757-938`).
  *
  * The reference computes per-product multi-window stats in SQL then loops
  * in Python applying per-model confidence formulas with seeded noise.
  * Here the whole thing is ONE aggregation plus a column-math projection.
  *
  * Noise determinism (SURVEY §7.5#4): the reference seeds numpy with
  * `hash(model+pid) % 10000` — Python's string hash is process-random, so
  * the reference itself is only distributionally reproducible. We use an
  * explicit multiplicative-hash draw from (model salt + product id), which
  * is exactly reproducible everywhere, has the same (-0.03, 0.03) uniform
  * shape, AND preserves the reference's structure of per-model
  * decorrelated noise (one product draws four different noises across the
  * four models).
  */
object Heuristics {

  /** Per-product stats with trailing-window conditional aggregates
    * (`ml_models.py:795-820`: A7 + T6 top-by-households).
    *
    * Two-level aggregation instead of five DISTINCT aggregates in one
    * GROUP BY: Spark plans multi-distinct as an Expand that replicates
    * every input row once per distinct clause (5× the shuffle volume
    * here — measured as the whole family's cost at toy scale, and a 5×
    * shuffle tax at 100 TB). Level 1 reduces to the (item, customer)
    * grain keeping each customer's latest day (a customer is distinct
    * in window w iff their LATEST purchase day reaches w's start) and
    * exact decimal partials for the money sums; level 2 is a plain
    * single-pass aggregation at the item grain. Same results, two
    * narrow hash shuffles, no Expand. */
  def productWindowStats(tx: DataFrame, customer: String, item: String,
                         sales: String, qty: String, day: Column,
                         windows: Seq[(String, Int)], limit: Int): DataFrame = {
    val d = day.cast("date")
    // lazy max-day ([[Trends.withMaxDay]]): windows live only inside
    // conditional aggregates — nothing to push down, so the probe rides
    // the plan as a concurrent broadcast future instead of a serial
    // full-scan job before plan build
    val (txm, loOf) = Trends.withMaxDay(tx, day)
    val starts = windows.map { case (nm, n) => nm -> loOf(n) }
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val lvl1WindowAggs = starts.map { case (nm, lo) =>
      sum(when(d >= lo, col(sales)).otherwise(lit(0.0)).cast(dec))
        .as(s"__sv_$nm")
    }
    val lvl1Aggs = Seq(
      max(d).as("__last_d"),
      max(col("__md")).as("__md"),
      count(lit(1)).as("__n"),
      sum(col(sales).cast(dec)).as("__sv"),
      sum(col(qty)).as("__q")) ++ lvl1WindowAggs
    // Pinned-width exchange riding in place of the aggregate's own
    // (ClusteredDistribution on a (item, customer) superset key — same
    // shuffle, same bytes): the single-row-group tx scan is a ≤3-task
    // stage, and without the pin the CPU-heavy level-1 hash aggregate
    // (4 conditional decimal window sums over ~600 K near-distinct
    // pairs) ran inside it 3-wide on a 32-core box — the r11 ledger
    // showed it as a lone 1.13 s stage. Explicit numPartitions keeps
    // AQE's input-size coalescing (a ~12 MB exchange) from undoing the
    // width; at cluster scale defaultParallelism scales with executors.
    val lvl1 = txm
      .repartition(
        math.max(tx.sparkSession.sparkContext.defaultParallelism, 2),
        col(item), col(customer))
      .groupBy(col(item), col(customer))
      .agg(lvl1Aggs.head, lvl1Aggs.tail: _*)
    // isNotNull guards: COUNT(DISTINCT customer) never counts NULL, so
    // the null-customer group (one level-1 row) must not either — while
    // the money/quantity/row totals DO include null-customer rows in
    // both formulations
    val lvl2WindowAggs = starts.flatMap { case (nm, lo) =>
      Seq(
        sum(col(s"__sv_$nm")).cast("double").as(s"sales_$nm"),
        sum(when(col("__last_d") >= lo && col(customer).isNotNull, 1L)
          .otherwise(0L)).as(s"households_$nm"))
    }
    val aggs = Seq(
      sum(when(col(customer).isNotNull, 1L).otherwise(0L))
        .as("households"), // one level-1 row per (item, customer)
      (sum(col("__sv")).cast("double") / sum(col("__n"))).as("avg_value"),
      sum(col("__sv")).cast("double").as("total_value"),
      sum(col("__q")).as("total_quantity")) ++ lvl2WindowAggs
    lvl1.groupBy(col(item))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("households").desc, col(item).asc)
      .limit(limit)
  }

  /** Deterministic per-model additive salt for [[seededNoise]]: a tiny
    * 31-polynomial string hash of the model name reduced mod 10000. The
    * reference seeds numpy with `hash(model_name + str(product_id))`
    * (`ml_models.py:881-883`), so for one product the four models draw
    * four DIFFERENT noises; mixing this salt into the draw gives the
    * same per-product property — the four models disagree — though not
    * the reference's full independence: an additive salt makes each
    * model's noise series a deterministic circular shift (mod 10⁴) of
    * the others' across products, where the reference's per-(model,
    * product) hash seeds are pairwise unrelated. (Value parity is
    * impossible either way — Python's `hash` is process-salted.)
    * Computed at plan-build time, so SQL oracles embed it as a
    * literal. */
  def modelSalt(modelName: String): Long =
    modelName.foldLeft(7L)((h, c) => (h * 31 + c) % 10000L)

  /** Deterministic uniform(-amp, amp) noise keyed on the item id plus an
    * additive salt (see [[modelSalt]]). Both operands are reduced below
    * 10⁴ before the multiplicative mix so the product (< 2·10⁴ ×
    * 2.7·10⁹ ≈ 5.3·10¹³) cannot overflow Long (ANSI) at large ids. */
  def seededNoise(itemId: Column, amp: Double, salt: Long = 0L): Column =
    (pmod((pmod(itemId, lit(10000L)) + lit(salt)) * lit(2654435761L),
      lit(10000L)).cast("double") / 10000.0 * (2 * amp)) - amp

  /** Per-model confidence formulas (`ml_models.py:857-879`): each model
    * name selects distinct popularity/value weighting; anything not named
    * falls to the `gradient_boost` else-branch, exactly like the
    * reference's if/elif chain. (The reference also assigns a per-model
    * `multiplier` constant on the same lines — dead code there, never
    * read — so it has no counterpart here.) */
  private def confidenceFormula(modelName: String,
                                baseAccuracy: Double): Column =
    modelName match {
      case "neural_network" => // ml_models.py:858-862
        val popularity = log1p(col("households")) / math.log(200.0)
        val valueW =
          least(greatest(col("avg_value") / 50.0, lit(0.0)), lit(1.0))
        lit(baseAccuracy) * (lit(0.75) + lit(0.25) * (popularity + valueW))
      case "random_forest" => // ml_models.py:863-867
        val popularity = col("households") / 250.0 * 0.6
        lit(baseAccuracy) *
          (lit(0.7) + lit(0.3) * (popularity - lit(0.2)))
      case "svm" => // ml_models.py:868-873
        val popularity = sqrt(col("households") / 150.0)
        val valueW =
          least(greatest(col("avg_value") / 60.0, lit(0.0)), lit(1.0))
        lit(baseAccuracy) *
          (lit(0.7) + lit(0.3) * (popularity + valueW + lit(0.1)))
      case _ => // gradient_boost & default, ml_models.py:874-879
        val popularity = col("households") / 1500.0
        val valueW = pow(col("avg_value"), 0.4) / 8.0
        lit(baseAccuracy) *
          (lit(0.6) + lit(0.4) * (popularity + valueW + lit(0.2)))
    }

  /** Heuristic recommendation scores for one model: the per-model
    * confidence formula (`ml_models.py:857-879`) plus the shared
    * noise + clamp + revenue extrapolation (`ml_models.py:885-907`, F16).
    * Input: [[productWindowStats]] output. */
  def heuristicScores(stats: DataFrame, item: String, baseAccuracy: Double,
                      horizon: String,
                      modelName: String = "neural_network"): DataFrame = {
    val rawConf = confidenceFormula(modelName, baseAccuracy)
    val conf = greatest(lit(0.5),
      least(lit(baseAccuracy),
        rawConf + seededNoise(col(item), 0.03, modelSalt(modelName))))
    val baseRevenue = when(col(s"sales_$horizon") > 0, col(s"sales_$horizon"))
      .otherwise(col("avg_value") * col(s"households_$horizon"))
    val growth = lit(1.0) + (conf - 0.5) * 0.5
    val projected = greatest(baseRevenue * 0.8,
      least(baseRevenue * 1.5, baseRevenue * growth))
    stats
      .where(col("households") > 0 && col("avg_value") > 0)
      .select(col(item), col("households"),
        stableRound(col("avg_value"), 2).as("avg_value"),
        stableRound(conf, 3).as("confidence"),
        floor(projected + 0.5).cast("long").as("projected_revenue"))
      .orderBy(col("projected_revenue").desc, col("confidence").desc,
        col(item).asc)
  }

  /** Department-level predictions (`ml_models.py:1010-1110`): per-category
    * multi-window stats → confidence (recent-customer + transaction
    * ratios), momentum-based growth, and the clamped revenue forecast for
    * one selected horizon. Expects [[productWindowStats]]-shaped input
    * grouped by category with `customers`/`tx` window columns. */
  def departmentPredictions(tx: DataFrame, customer: String, cat: String,
                            sales: String, day: Column,
                            baseAccuracy: Double,
                            horizon: String = "3m"): DataFrame = {
    val d = day.cast("date")
    val windows = Seq("1m" -> 30, "3m" -> 90, "6m" -> 180, "12m" -> 365)
    // lazy max-day probe — same rationale as [[productWindowStats]]
    val (txm, loOf) = Trends.withMaxDay(tx, day)
    val starts = windows.map { case (nm, n) => nm -> loOf(n) }
    // same two-level shape as [[productWindowStats]]: the five DISTINCT
    // customer counts become plain counts over the (category, customer)
    // grain (distinct-in-window ⟺ latest day reaches the window start),
    // avoiding the 5× Expand replication of the transaction stream
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val lvl1Aggs = Seq(
      max(d).as("__last_d"),
      max(col("__md")).as("__md"),
      count(lit(1)).as("__n"),
      sum(col(sales).cast(dec)).as("__sv")) ++
      starts.flatMap { case (nm, lo) =>
        Seq(
          sum(when(d >= lo, col(sales)).otherwise(lit(0.0)).cast(dec))
            .as(s"__sv_$nm"),
          sum(when(d >= lo, 1L).otherwise(0L)).as(s"__tx_$nm"))
      }
    // same pinned-width exchange as [[productWindowStats]] — the lvl1
    // hash aggregate otherwise runs inside the ≤3-task scan stage
    val lvl1 = txm
      .repartition(
        math.max(tx.sparkSession.sparkContext.defaultParallelism, 2),
        col(cat), col(customer))
      .groupBy(col(cat), col(customer))
      .agg(lvl1Aggs.head, lvl1Aggs.tail: _*)
    val windowAggs = starts.flatMap { case (nm, lo) =>
      Seq(
        // isNotNull: parity with COUNT(DISTINCT ...)'s null exclusion
        sum(when(col("__last_d") >= lo && col(customer).isNotNull, 1L)
          .otherwise(0L)).as(s"customers_$nm"),
        sum(col(s"__sv_$nm")).cast("double").as(s"sales_$nm"),
        sum(col(s"__tx_$nm")).as(s"tx_$nm"))
    }
    val aggs = Seq(
      sum(when(col(customer).isNotNull, 1L).otherwise(0L)).as("customers"),
      (sum(col("__sv")).cast("double") / sum(col("__n"))).as("avg_value"),
      sum(col("__n")).as("total_tx")) ++ windowAggs
    val stats = lvl1.groupBy(col(cat)).agg(aggs.head, aggs.tail: _*)
      .where(col("customers") > 0 && col("avg_value") > 0)

    val recentRatio = col("customers_3m").cast("double") / col("customers")
    val txRatio = col("tx_1m").cast("double") / col("total_tx")
    val conf = greatest(lit(0.6), least(lit(0.98),
      lit(baseAccuracy) * (lit(0.65) + lit(0.25) * recentRatio
        + lit(0.1) * txRatio)))
    val momentum = when(col("sales_12m") > 0,
      col("sales_6m") / col("sales_12m")).otherwise(lit(0.0))
    val growth = greatest(lit(0.7), least(lit(1.5),
      lit(0.8) + lit(0.4) * momentum + lit(0.3) * recentRatio))
    val hProb = col(s"customers_$horizon").cast("double") / col("customers")
    val baseRev = when(col(s"sales_$horizon") > 0, col(s"sales_$horizon"))
      .otherwise(col("avg_value") * col(s"customers_$horizon"))
    val projected = greatest(baseRev * 0.9,
      least(baseRev * 3.0, baseRev * growth * conf))

    stats.select(col(cat), col("customers"),
        stableRound(col("avg_value"), 2).as("avg_value"),
        stableRound(conf, 3).as("confidence"),
        stableRound(growth, 2).as("predicted_growth"),
        stableRound(hProb * conf, 3).as("probability"),
        stableRound(projected, 2).as("revenue_forecast"))
      .orderBy(col(cat))
  }

  /** A13 — per-product repurchase rate and popularity
    * (`ml_models.py:356-384`): fraction of purchasing households that
    * bought the product on more than one distinct day. */
  def repurchaseStats(tx: DataFrame, customer: String, item: String,
                      day: Column): DataFrame =
    tx.select(col(item), col(customer), day.cast("date").as("__d"))
      .distinct()
      .groupBy(col(item), col(customer))
      .agg(count(lit(1)).as("n_days"))
      .groupBy(col(item))
      .agg(
        (sum(when(col("n_days") > 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("repurchase_rate"),
        count(lit(1)).as("popularity"))
}
