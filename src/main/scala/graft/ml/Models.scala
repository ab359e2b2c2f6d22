package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature._
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML pipelines (SURVEY §2.12–2.13;
  * `Website/market/dunnhumby/ml_models.py:231-596`, churn
  * `ml_models.py:1139-1223`).
  *
  * The reference trains a 16-model scikit-learn zoo (4 horizons × 4
  * models) plus an XGBoost churn model. MLlib mapping, with the
  * reference's quirks preserved deliberately (SURVEY §7.5):
  *  - "gradient_boost" is ACTUALLY a second RandomForest in the reference
  *    (`ml_models.py:541`) — reproduced bug-compatibly; a real GBT is also
  *    exposed as "gbt".
  *  - no RBF-kernel SVM in MLlib → LinearSVC on a capped sample
  *    (`ml_models.py:549-553` trains SVC on 5K rows), divergence recorded.
  *  - LabelEncoder-unseen→class-0 ≈ StringIndexer(handleInvalid="keep").
  *  - stratified 80/20 split, seed 42 (`ml_models.py:528-529`) via
  *    per-label sampleBy.
  */
object Models {

  /** Feature preprocessing (`ml_models.py:416-430`, 535-536), reference
    * semantics: label-encode categoricals to their sorted-class code
    * ([[LabelEncoder]] — unseen → class 0), assemble the CODES directly
    * with the numerics (the reference feeds integer codes to its scaler;
    * it does NOT one-hot), then standard-scale. */
  def featureStages(numericCols: Seq[String], categoricalCols: Seq[String])
      : Array[org.apache.spark.ml.PipelineStage] = {
    val encStages = categoricalCols.map(c =>
      new LabelEncoder().setInputCol(c).setOutputCol(s"${c}_code")
        : org.apache.spark.ml.PipelineStage)
    val catFeatureCols = categoricalCols.map(c => s"${c}_code")
    val assembler = new VectorAssembler()
      .setInputCols((catFeatureCols ++ numericCols).toArray)
      .setOutputCol("rawFeatures")
    val scaler = new StandardScaler().setInputCol("rawFeatures")
      .setOutputCol("features").setWithMean(true).setWithStd(true)
    (encStages ++ Seq(assembler, scaler)).toArray
  }

  /** Stratified train/test split (seed 42): exact per-label fractions via
    * sampleBy + anti-join for the complement.
    *
    * With `keyCol` set (a unique row key), the split is a DETERMINISTIC
    * hash split instead: a row trains iff
    * `pmod(hash(key, seed), 10000) < trainFrac·10000`. Like sampleBy this
    * is per-row Bernoulli (stratification holds in expectation), but the
    * assignment depends only on the KEY VALUE — not on partition layout —
    * so the split (and every metric trained from it) is reproducible
    * across file splits, cluster sizes, and AQE decisions, and the two
    * sides are complementary filters with no cache/count materialization
    * barrier. Prefer it whenever a unique key exists; the keyless path
    * remains for frames without one. */
  def stratifiedSplit(df: DataFrame, labelCol: String, trainFrac: Double,
                      seed: Long = 42L, keyCol: Option[String] = None)
      : (DataFrame, DataFrame) = keyCol match {
    case Some(k) =>
      val inTrain =
        pmod(hash(col(k), lit(seed.toInt)), lit(10000)) <
          math.round(trainFrac * 10000).toInt
      (df.where(inTrain), df.where(!inTrain))
    case None =>
      // eager local checkpoint: monotonically_increasing_id and sampleBy
      // depend on partition layout, so the sample and its anti-join
      // complement must read the SAME materialization or rows could land
      // in both/neither
      val keyed = df.withColumn("__row_id", monotonically_increasing_id())
        .localCheckpoint()
      val labels = keyed.select(col(labelCol)).distinct().collect()
        .map(_.get(0))
      val train = keyed.stat.sampleBy(labelCol,
        labels.map(l => l -> trainFrac).toMap, seed)
      val test = keyed.join(train.select("__row_id"), Seq("__row_id"),
        "left_anti")
      (train.drop("__row_id"), test.drop("__row_id"))
  }

  /** The model zoo (`ml_models.py:538-543`), MLlib estimators keyed by the
    * reference's names. Defaults are the REFERENCE's hyperparameters:
    *  - neural_network: hidden (128, 64, 32), max_iter 300;
    *  - random_forest: 150 trees, depth 15, min_samples_split 10 — MLlib
    *    has no parent-size split bound, so the closest mapping is
    *    minInstancesPerNode 5 (forbids any split of a ≤9-sample node,
    *    exactly sklearn's constraint for balanced splits; additionally
    *    forbids very unbalanced splits of larger nodes — divergence noted);
    *  - gradient_boost: bug-compatibly a 2nd RandomForest
    *    (`ml_models.py:541`) WITHOUT min_samples_split (sklearn default 2
    *    → minInstancesPerNode 1);
    *  - svm: no RBF-kernel SVM in MLlib → LinearSVC (divergence recorded);
    *    the reference caps SVC training at 5K rows (`ml_models.py:549-553`).
    *  - gbt: a real GBT, extra to the reference's zoo.
    * `toyScale = true` shrinks iterations/capacity for sandbox-sized
    * frames (the registered queries use it; parity defaults would spend
    * minutes of local[n] scheduling on toy data for identical accuracy). */
  def zoo(featureCount: Int, seed: Long = 42L, toyScale: Boolean = false)
      : Map[String, org.apache.spark.ml.PipelineStage] = {
    val mlpLayers =
      if (toyScale) Array(featureCount, 16, 8, 2)
      else Array(featureCount, 128, 64, 32, 2)
    val mlpIters = if (toyScale) 30 else 300
    val nTrees = if (toyScale) 20 else 150
    val depth = if (toyScale) 8 else 15
    val svcIters = if (toyScale) 20 else 50
    Map(
      "neural_network" -> new MultilayerPerceptronClassifier()
        .setLayers(mlpLayers).setMaxIter(mlpIters)
        .setSeed(seed).setFeaturesCol("features").setLabelCol("label"),
      "random_forest" -> new RandomForestClassifier().setNumTrees(nTrees)
        .setMaxDepth(depth).setMinInstancesPerNode(5).setSeed(seed)
        .setFeaturesCol("features").setLabelCol("label"),
      "gradient_boost" -> new RandomForestClassifier().setNumTrees(nTrees)
        .setMaxDepth(depth).setMinInstancesPerNode(1).setSeed(seed + 1)
        .setFeaturesCol("features").setLabelCol("label"),
      "gbt" -> new GBTClassifier().setMaxIter(if (toyScale) 10 else 50)
        .setSeed(seed).setFeaturesCol("features").setLabelCol("label"),
      "svm" -> new LinearSVC().setMaxIter(svcIters)
        .setFeaturesCol("features").setLabelCol("label"))
  }

  /** The reference zoo's model names (`ml_models.py:538-543`) — the four
    * trained per horizon. */
  val ReferenceZoo: Seq[String] =
    Seq("neural_network", "random_forest", "gradient_boost", "svm")

  /** The reference's SVC training cap (`ml_models.py:549-553`). */
  val SvmTrainCap: Int = 5000

  /** Churn pipeline (§2.12): preprocess + GBT (closest in-box analogue of
    * the reference's XGBoost binary:logistic, 100 estimators). */
  def churnPipeline(numericCols: Seq[String], categoricalCols: Seq[String],
                    seed: Long = 42L, maxIter: Int = 100): Pipeline =
    new Pipeline().setStages(
      featureStages(numericCols, categoricalCols) :+
        (new GBTClassifier().setMaxIter(maxIter).setSeed(seed)
          .setFeaturesCol("features").setLabelCol("label")
          : org.apache.spark.ml.PipelineStage))

  /** Accuracy + weighted precision/recall/F1 on a scored frame
    * (`ml_models.py:559-567`). The evaluator takes one full pass PER
    * metric, so the two columns it reads are pinned for the four passes —
    * without this, `transform` (a model scoring pass) re-runs 4×. */
  def evaluate(scored: DataFrame): Map[String, Double] = {
    val pl = scored.select(col("prediction"), col("label")).cache()
    val ev = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
    try Seq("accuracy", "weightedPrecision", "weightedRecall", "f1")
      .map(mn => mn -> ev.setMetricName(mn).evaluate(pl)).toMap
    finally pl.unpersist()
  }

  /** One (horizon, model) zoo result: the horizon NAME (the reference's
    * string `"horizon"` field in `model_metrics.json`) plus the numeric
    * metrics (accuracy/precision/recall/f1/horizon_days). */
  final case class ZooResult(horizon: String, metrics: Map[String, Double])

  /** §2.13/S8 — train the full zoo end-to-end: for each (horizon name,
    * label column), stratified 80/20 split (seed 42, `ml_models.py:528`),
    * fit the preprocessing on the TRAIN side only (the reference's
    * `scaler.fit_transform(X_train)` / `transform(X_test)` split
    * discipline), train every reference zoo model, and score the held-out
    * test set (`ml_models.py:509-596`). Returns `"h_model" ->
    * ZooResult(h, {accuracy, precision, recall, f1, horizon_days})` — the
    * reference's `model_metrics.json` shape (string `horizon` + weighted
    * averaging, `ml_models.py:559-567`).
    *
    * The SVC is fit on a capped sample ([[SvmTrainCap]] rows; the
    * reference draws them with an unseeded `np.random.choice` — here a
    * deterministic prefix, divergence noted). */
  def trainZoo(features: DataFrame,
               horizons: Seq[(String, String, Int)],
               numericCols: Seq[String], categoricalCols: Seq[String],
               trainFrac: Double = 0.8, seed: Long = 42L,
               toyScale: Boolean = false,
               modelNames: Seq[String] = ReferenceZoo,
               keyCol: Option[String] = None)
      : Map[String, ZooResult] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val featureCount = categoricalCols.size + numericCols.size
    // every fit here is per-iteration JOB-SCHEDULING bound at sandbox row
    // counts (an MLP takes one gradient job per LBFGS step), so the
    // horizons — and the models within one — train CONCURRENTLY: Spark
    // schedules many small jobs at once and the scheduling gaps overlap.
    // Each estimator is independent and seeded, so the metrics are
    // identical to the sequential loop. A DEDICATED bounded pool (not
    // ExecutionContext.global) and flatMap-composed futures (no nested
    // Await) keep the concurrency deadlock-free by construction; each
    // horizon's cached frames are released in an onComplete tied to that
    // horizon's own model futures, so a failed fit cannot leak them.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, horizons.size * modelNames.size))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val perHorizon: Seq[Future[Seq[(String, ZooResult)]]] =
        horizons.map { case (h, labelCol, days) =>
          val prepF: Future[(DataFrame, DataFrame)] = Future {
            val df = features
              .withColumn("label", col(labelCol).cast("double"))
            val (train, test) =
              stratifiedSplit(df, "label", trainFrac, seed, keyCol)
            val prep = new Pipeline()
              .setStages(featureStages(numericCols, categoricalCols))
              .fit(train)
            val trainF = prep.transform(train)
              .select(col("features"), col("label"))
            val testF = prep.transform(test)
              .select(col("features"), col("label"))
            trainF.cache(); testF.cache()
            // a failed materialization fails prepF, which the cleanup
            // below cannot see, so it releases its own caches
            try { trainF.count(); testF.count() }
            catch { case e: Throwable =>
              trainF.unpersist(); testF.unpersist(); throw e }
            (trainF, testF)
          }
          val modelFs = modelNames.map { mn =>
            prepF.map { case (trainF, testF) =>
              val ests = zoo(featureCount, seed, toyScale)
              val fitDf =
                if (mn == "svm") trainF.limit(SvmTrainCap) else trainF
              val model = ests(mn)
                .asInstanceOf[org.apache.spark.ml.Estimator[_]]
                .fit(fitDf).asInstanceOf[org.apache.spark.ml.Transformer]
              val m = evaluate(model.transform(testF))
              s"${h}_$mn" -> ZooResult(h, Map(
                "accuracy" -> m("accuracy"),
                "precision" -> m("weightedPrecision"),
                "recall" -> m("weightedRecall"),
                "f1" -> m("f1"),
                "horizon_days" -> days.toDouble))
            }
          }
          // andThen: the returned future completes only AFTER the cleanup
          // callback has run, so awaiting it below guarantees the caches
          // are released before this method returns — success or failure.
          // prepF is necessarily complete here (every modelF maps over it),
          // so .value reads it synchronously.
          Future.sequence(modelFs).andThen { case _ =>
            prepF.value.foreach(_.foreach { case (trainF, testF) =>
              trainF.unpersist(); testF.unpersist()
            })
          }
        }
      Await.result(Future.sequence(perHorizon), Duration.Inf)
        .flatten.toMap
    } finally pool.shutdown()
  }

  /** S8 — model store: persist / reload a fitted pipeline (the
    * reference's joblib dump/load per (horizon, model),
    * `ml_models.py:101-178`). */
  def saveModel(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadModel(path: String): PipelineModel = PipelineModel.load(path)

  /** S8 — persist per-(horizon, model) metrics as JSON next to the saved
    * models (the reference's `model_metrics.json`, `ml_models.py:101-178`):
    * each entry carries the string `"horizon"` name the reference stores,
    * alongside the numeric fields (including the `horizon_days` extra). */
  def saveMetrics(metrics: Map[String, ZooResult],
                  path: String): Unit = {
    val json = metrics.toSeq.sortBy(_._1).map { case (k, r) =>
      val fields = ("horizon" -> ("\"" + r.horizon + "\"")) +:
        r.metrics.toSeq.sortBy(_._1).map { case (m, v) => m -> v.toString }
      "\"" + k + "\": {" + fields.sortBy(_._1)
        .map { case (m, v) => "\"" + m + "\": " + v }.mkString(", ") + "}"
    }.mkString("{", ", ", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path)
      .getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** Train the churn model and score every row with churn_probability
    * (P(class 1)), the reference's `predict_proba[:,1]`
    * (`update_churn_probabilities.py:36-63`). */
  def churnScores(features: DataFrame, numericCols: Seq[String],
                  categoricalCols: Seq[String], labelCol: String,
                  maxIter: Int = 100)
      : (PipelineModel, DataFrame) = {
    val df = features.withColumn("label", col(labelCol).cast("double"))
      // GBT iterates over this frame maxIter times; the fit's first pass
      // materializes the checkpoint
      .localCheckpoint(eager = false)
    val model = churnPipeline(numericCols, categoricalCols,
      maxIter = maxIter).fit(df)
    val scored = model.transform(df).withColumn("churn_probability",
      vector_to_array(col("probability")).getItem(1))
    (model, scored)
  }
}
