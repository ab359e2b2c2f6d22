package graft.operators

import graft.functions.ColumnFns.stableRound
import graft.ml.Models
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the classifier stage of a curation
  * pipeline (GPT-3's wiki-vs-CommonCrawl logistic filter, CCNet's LM
  * filter). Here the teacher is the engine's own Gopher rule cascade
  * ([[TextAnalysis.gopherQuality]]): the classifier DISTILLS the
  * hard-threshold rules into one calibrated probability, which is what a
  * production pipeline deploys when the rule set gets too expensive or
  * too brittle to evaluate everywhere (soft scores also allow
  * threshold sweeps without re-scanning the corpus).
  *
  * 100 TB shape: featurization is the map-only gopher signal pass; the
  * fit reduces ~8 doubles per doc through MLlib's treeAggregate (LBFGS);
  * scoring is map-only with the model broadcast. Nothing pairs
  * documents. No reference counterpart; part of the LLM-training-data
  * surface the brief adds.
  */
object QualityModel {

  /** The gopher signals used as features (everything except the verdict). */
  val FeatureCols: Seq[String] = Seq("n_words", "n_lines", "mean_word_len",
    "symbol_word_ratio", "bullet_line_ratio", "ellipsis_line_ratio",
    "alpha_word_ratio", "n_stop_hits")

  /** Fit a logistic scorer on a deterministic hash-split of the corpus
    * (teacher label = gopher `keep`), score EVERY document, and return
    * (id, label, p_good, predicted, is_test). `p_good` is rounded to 4
    * digits; training is LBFGS on fixed data, so rows are reproducible
    * run-to-run. Throws if the teacher labels are single-class (nothing
    * to learn — caller should widen the corpus). */
  def distillGopher(docs: DataFrame, id: String, text: String,
                    trainFrac: Double = 0.8, seed: Long = 42L): DataFrame = {
    // checkpointed, and materialized by the class check: the regex-heavy
    // signal pass is read by the class check, the two split filters, the
    // fit, and the final scoring — one compute, not five (tiny: 9 numeric
    // cols per doc)
    val sig = TextAnalysis.gopherQuality(docs, id, text)
      .withColumn("label", col("keep").cast("double"))
      .localCheckpoint(eager = false)
    require(sig.select(col("label")).distinct().count() == 2,
      "distillGopher: teacher labels are single-class")
    val (train, test) =
      Models.stratifiedSplit(sig, "label", trainFrac, seed, Some("id"))
    val va = new VectorAssembler().setInputCols(FeatureCols.toArray)
      .setOutputCol("features")
    val lr = new LogisticRegression().setMaxIter(100).setRegParam(0.01)
      .setLabelCol("label").setFeaturesCol("features")
    val model = lr.fit(va.transform(train))
    val testIds = test.select(col("id")).withColumn("is_test", lit(true))
    val p1 = element_at(vector_to_array(col("probability")), 2)
    model.transform(va.transform(sig))
      .join(testIds, Seq("id"), "left_outer")
      .select(col("id"), col("label").cast("long").as("label"),
        stableRound(p1, 4).as("p_good"),
        col("prediction").cast("long").as("predicted"),
        coalesce(col("is_test"), lit(false)).as("is_test"))
  }

  /** Held-out quality of the distilled scorer: (accuracy, AUC) over the
    * `is_test` slice of [[distillGopher]] output. */
  def heldOutQuality(scored: DataFrame): (Double, Double) = {
    val test = scored.where(col("is_test"))
      .select(col("label").cast("double").as("label"),
        col("p_good").as("rawPrediction"),
        col("predicted").cast("double").as("prediction"))
    // guard the slice before dividing/evaluating: an empty or
    // single-class test split (possible on tiny corpora under the hash
    // split) would otherwise surface as acc=NaN / undefined AUC — a
    // confusing downstream gate failure instead of a clear input error
    test.cache()
    try {
      val classCounts = test.groupBy(col("label")).count().collect()
      require(classCounts.nonEmpty,
        "heldOutQuality: held-out test slice is empty — corpus too small " +
          "for the train fraction; lower trainFrac or widen the corpus")
      require(classCounts.length == 2,
        s"heldOutQuality: test slice is single-class (label " +
          s"${classCounts.head.get(0)} only) — accuracy/AUC undefined; " +
          "widen the corpus so both teacher classes reach the test split")
      val n = classCounts.map(_.getLong(1)).sum.toDouble
      val acc = test.where(col("label") === col("prediction")).count() / n
      val auc = new BinaryClassificationEvaluator()
        .setRawPredictionCol("rawPrediction").setLabelCol("label")
        .setMetricName("areaUnderROC").evaluate(test)
      (acc, auc)
    } finally test.unpersist()
  }
}
