package graft.operators

import graft.functions.ColumnFns.moneySum
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-aware churn feature engineering (SURVEY §2.12;
  * `Website/market/dunnhumby/analytics.py:438-512`).
  *
  * Leak-free design copied from the reference: pick a prediction point in
  * the past (`max_day − offset`), build ALL features from history
  * (`day <= prediction_date`) and the label from the future
  * (`day > prediction_date`, U3 set membership).
  *
  * Spark-first: the reference makes three pandas passes over history
  * (RFM agg, gap diff, variety) plus two merges; here recency / frequency /
  * monetary / variety collapse into ONE hash aggregation, gaps are a
  * partitioned lag window, and the label is a broadcast left join on the
  * distinct future key set — three shuffles total on the customer key,
  * each linear in input. */
object Churn {

  /** Feature frame: one row per customer seen in history with
    * recency / frequency / monetary / product_variety / avg_purchase_gap /
    * is_churn, plus optional demographics (inner join, J5). `day` must be
    * a date column. */
  def features(tx: DataFrame, customer: String, item: String, sales: String,
               day: Column, offsetDays: Int,
               demographics: Option[(DataFrame, String, Seq[String])] = None)
      : DataFrame = {
    // Branch on the axis dtype: the reference's axis is an integer day
    // (`analytics.py:456-461`), the testdata's is a date/timestamp.
    val isNumeric = tx.select(day).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val (d, predLit, recencyAgg) =
      if (isNumeric) {
        // parse via double: the axis may be fractional (Double/Decimal day)
        val maxDay = tx.agg(max(day)).head().get(0).toString.toDouble
        val pred = maxDay - offsetDays
        (day, lit(pred), (lit(pred) - max(day)).cast("long"))
      } else {
        val maxDay = tx.agg(max(day.cast("date"))).head().getDate(0)
        val pred = java.sql.Date.valueOf(
          maxDay.toLocalDate.minusDays(offsetDays.toLong))
        (day.cast("date"), lit(pred),
          datediff(lit(pred), max(day.cast("date"))).cast("long"))
      }
    val history = tx.where(d <= predLit)
    val future = tx.where(d > predLit)

    val base = history.groupBy(col(customer)).agg(
      recencyAgg.as("recency"),
      countDistinct(d).as("frequency"),
      moneySum(col(sales)).as("monetary"),
      countDistinct(col(item)).as("product_variety"))

    val gaps = Windows.purchaseGaps(history, customer, d)
      .select(col(customer), col("avg_gap"))

    val labeled = Joins.absenceLabel(
      base.join(gaps, Seq(customer), "left")
        .withColumn("avg_purchase_gap", coalesce(col("avg_gap"), lit(0.0)))
        .drop("avg_gap"),
      customer, future, "is_churn")

    demographics match {
      case Some((dim, dimKey, cols)) =>
        labeled.join(
          broadcast(dim.select((col(dimKey).as(customer) +: cols.map(col)): _*)),
          Seq(customer), "inner")
      case None => labeled
    }
  }

  /** One sweep row: threshold (days), accuracy, churn (class-1) recall. */
  final case class SweepPoint(threshold: Int, accuracy: Double,
                              churnRecall: Double)
  final case class SweepResult(points: Seq[SweepPoint], best: Int)

  /** Churn-threshold optimization
    * (`management/commands/optimize_churn_model.py:16-48`): evaluate each
    * candidate churn-day threshold and pick the one maximizing CHURN
    * recall — the reference's "Key Metric" — with the reference's
    * first-max tie rule (`idxmax`). `evalAt` abstracts "prepare data at
    * this threshold, train, report (accuracy, class-1 recall)" so the
    * selection logic is testable without a model fit per point; the
    * production evaluator is [[churnEval]]. */
  def thresholdSweep(evalAt: Int => (Double, Double),
                     thresholds: Seq[Int] = 10 to 30 by 3): SweepResult = {
    val pts = thresholds.map { t =>
      val (acc, rec) = evalAt(t)
      SweepPoint(t, acc, rec)
    }
    // maxBy keeps the FIRST maximum — pandas idxmax parity
    SweepResult(pts, pts.maxBy(_.churnRecall).threshold)
  }

  /** The sweep's production evaluator: leak-free features at the given
    * offset, stratified 80/20 split, §2.12 churn GBT, held-out accuracy +
    * class-1 recall (the reference's `classification_report['1']
    * ['recall']`). */
  def churnEval(tx: DataFrame, customer: String, item: String,
                sales: String, day: Column,
                demographics: Option[(DataFrame, String, Seq[String])] = None,
                maxIter: Int = 10, trainFrac: Double = 0.8,
                seed: Long = 42L): Int => (Double, Double) = { offset =>
    import graft.ml.Models
    val catCols = demographics.map(_._3).getOrElse(Seq.empty)
    val feats = features(tx, customer, item, sales, day, offset,
      demographics).repartition(8)
    val df = feats.withColumn("label", col("is_churn").cast("double"))
    val (train, test) = Models.stratifiedSplit(df, "label", trainFrac, seed)
    val model = Models.churnPipeline(
      Seq("recency", "frequency", "monetary", "product_variety",
        "avg_purchase_gap"), catCols, seed, maxIter).fit(train)
    val scored = model.transform(test).cache()
    try {
      val acc = Models.evaluate(scored)("accuracy")
      val churnRecall = new org.apache.spark.ml.evaluation
        .MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction")
        .setMetricName("recallByLabel").setMetricLabel(1.0)
        .evaluate(scored)
      (acc, churnRecall)
    } finally scored.unpersist()
  }
}
