package graft

import graft.operators._
import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Facade mirroring the reference's HTTP endpoint surface (SURVEY §3) so a
  * user of the reference can map each route 1:1 onto an engine call. Each
  * method is a thin composition of the operator modules — no logic of its
  * own beyond EP-1's kept responses — and returns DataFrames
  * (render/serialize at the caller).
  */
object Endpoints {

  /** EP-1 `POST /analysis/association-rules/` (`views.py:1020-1098` →
    * `_generate_association_rules` `views.py:133-348`): period window →
    * pairwise rules at the requested granularity, both directions, sorted
    * by lift, top max_results.
    *
    * The page is re-requested with the same window while its input stays
    * put, so each response is kept (see [[rulesServed]]) and a repeated
    * request is answered from the driver without a job. The key is the
    * input's canonical plan and files plus every parameter: another
    * input, a new file or another window is another request. The response
    * is ≤ `maxResults` collected rows, so nothing is left registered in
    * the session. */
  def associationRules(tx: DataFrame, basket: String, item: String,
                       periodDays: Option[Int], day: Column,
                       minSupport: Double, minConfidence: Double,
                       maxResults: Int): DataFrame = {
    val key = (tx.queryExecution.analyzed.canonicalized, tx.inputFiles.toSeq,
      basket, item, periodDays, day.toString, minSupport, minConfidence,
      maxResults)
    val (rows, schema) = rulesServed.synchronized(Option(rulesServed.get(key)))
      .getOrElse {
        val windowed =
          periodDays.map(Trends.lastNDays(tx, day, _)).getOrElse(tx)
        val raw = AssociationRules.rulesRaw(windowed, basket, item,
          AssociationRules.Params(minSupport, minConfidence,
            maxRules = maxResults))
        val rules = AssociationRules.bothDirections(raw, minConfidence)
          .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
          .limit(maxResults)
        val served = (rules.collect(), rules.schema)
        rulesServed.synchronized(rulesServed.put(key, served))
        served
      }
    tx.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** EP-1's last 16 responses, least recently used evicted first. */
  private val rulesServed =
    new java.util.LinkedHashMap[Any, (Array[Row], StructType)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, (Array[Row], StructType)]): Boolean =
        size > 16
    }

  /** EP-2 `POST /analysis/api/regenerate-segments/` (`views.py:833-865` →
    * `analytics.py:196-313`): RFM scores + segments, overwrite the
    * segments table. Returns the written frame. */
  def regenerateSegments(tx: DataFrame, customer: String, basket: String,
                         sales: String, day: String,
                         sinkPath: Option[String]): DataFrame = {
    val segments = Rfm.segments(tx, customer, basket, sales, day)
    sinkPath.foreach(Sinks.overwrite(segments, _))
    segments
  }

  /** EP-3 `POST /analysis/api/ml/train/` churn variant
    * (`views.py:3209-3339`, `ml_models.py:1139-1223`): leak-free features
    * → GBT → per-customer churn probability + risk band. */
  def trainAndScoreChurn(tx: DataFrame, customer: String, item: String,
                         sales: String, day: Column, offsetDays: Int,
                         demographics: Option[(DataFrame, String, Seq[String])],
                         maxIter: Int = 100): DataFrame = {
    val feats = Churn.features(tx, customer, item, sales, day, offsetDays,
      demographics)
    val catCols = demographics.map(_._3).getOrElse(Nil)
    val (_, scored) = ml.Models.churnScores(feats,
      Seq("recency", "frequency", "monetary", "product_variety",
        "avg_purchase_gap"), catCols, "is_churn", maxIter)
    scored.select(col(customer), col("churn_probability"),
      functions.ColumnFns.riskBand(col("churn_probability"))
        .as("risk_band"))
  }

  /** EP-4 `GET /analysis/differential/` quarter mode
    * (`views.py:1531-2574`): basket-total pyramid → capped sample →
    * Welch/MWU/KS between two quarters. */
  def differentialQuarters(tx: DataFrame, day: Column, basket: Column,
                           sales: Column, q1: String, q2: String): DataFrame =
    Differential.compareQuarters(tx, day, basket, sales, q1, q2)

  /** Customer-detail hybrid recommendations
    * (`customers/views.py:49-183`): CF scores blended with
    * association-rule scores for the `targetUsers` households
    * ([[Collab.hybridRecommendDirect]]). The predicate must be selective
    * — see `Collab.directedSimilarities`' broadcast CONTRACT. */
  def hybridRecommendations(tx: DataFrame, user: String, item: String,
                            basket: String, alpha: Double, topN: Int,
                            targetUsers: Column => Column): DataFrame =
    Collab.hybridRecommendDirect(Collab.userItemCounts(tx, user, item),
      AssociationRules.rulesRaw(tx, basket, item,
        AssociationRules.Params(0.0, 0.0)), targetUsers, alpha, topN)

  /** EP-6 `POST /analysis/api/ml/train/` full zoo
    * (`views.py:3209-3339` → `ml_models.py:509-596`): train every
    * (horizon, model), persist the metrics artifact, return the metrics
    * map. `horizons` are (name, labelCol, days) over an already-labeled
    * feature frame (J6 labels + §2.12 features). */
  def trainZoo(features: DataFrame,
               horizons: Seq[(String, String, Int)],
               numericCols: Seq[String], categoricalCols: Seq[String],
               metricsPath: Option[String], toyScale: Boolean = false)
      : Map[String, ml.Models.ZooResult] = {
    val metrics = ml.Models.trainZoo(features, horizons, numericCols,
      categoricalCols, toyScale = toyScale)
    metricsPath.foreach(ml.Models.saveMetrics(metrics, _))
    metrics
  }

  /** EP-7 customer-detail rule matching (`customers/views.py:84-116`):
    * rules whose full antecedent set the customer has purchased, scored
    * confidence × lift — the J11 surface over FP-Growth-shaped rules. */
  def matchedRules(tx: DataFrame, user: String, item: String,
                   rules: DataFrame): DataFrame = {
    val sets = tx.groupBy(col(user).as("u"))
      .agg(sort_array(collect_set(col(item))).as("items"))
    Collab.matchingRules(sets, rules)
      .select(col("u"), col("antecedent"), col("consequent"),
        col("confidence"), col("lift"),
        (col("confidence") * col("lift")).as("score"))
  }

  /** EP-9 `GET /customers/<pk>/recommendations/`
    * (`customers/views.py:188-236`): the cache-aware recommendation
    * serve, batched. Decides per-request refresh via
    * [[RecCache.refreshDecisions]] ((alpha, rules_version) invalidation
    * + explicit-alpha pin), recomputes hybrid recommendations ONLY for
    * the stale households (their collected ids are the `targetUsers`
    * predicate of the CF + assoc mining; no mining runs when every
    * request is a hit), serializes the fresh top-N per
    * household to a JSON payload, and upserts
    * ([[RecCache.refreshedCacheWith]]). Returns the refreshed cache
    * state — hit households keep their stored payload untouched,
    * exactly the reference's else-branch. `latestVersion`: one row,
    * column `latest_version` (the rules `MAX(created_at)` probe). */
  def cachedHybridRecommendations(tx: DataFrame, user: String,
                                  item: String, basket: String,
                                  requests: DataFrame, cache: DataFrame,
                                  latestVersion: DataFrame, alpha: Double,
                                  topN: Int): DataFrame = {
    // request-batch grain, read by the stale-id collect and the upsert;
    // a lazy local checkpoint (unlike cache()) is released by the
    // ContextCleaner once the returned frame is unreachable
    val decisions = RecCache.refreshDecisions(requests, cache,
      latestVersion).localCheckpoint(eager = false)
    // one small job: the directed CF path needs a SELECTIVE target
    // predicate (Collab.directedSimilarities' CONTRACT), and a literal id
    // list keeps the mining plan free of an isin(Dataset) subquery
    val stale = decisions.where(col("recalculate"))
      .select(col("household")).collect().map(_.get(0))
    if (stale.isEmpty) // all hits: the cache state is unchanged
      cache.select(col("household"), col("alpha"), col("rules_version"),
        col("payload"))
    else {
      // the mining input stays FULL — CF similarities need every user's
      // baskets — while the target predicate restricts which users'
      // similarities, assoc scores and blended lists are computed
      val fresh = hybridRecommendations(tx, user, item, basket, alpha, topN,
          targetUsers = _.isin(stale.toSeq: _*))
        .groupBy(col("u").as("household"))
        .agg(to_json(sort_array(collect_list(struct(
          col("hybrid_score").as("score"), col("i"))), asc = false))
          .as("payload")) // rank-ordered payload
      RecCache.refreshedCacheWith(cache, decisions, fresh)
    }
  }

  /** EP-8 `manage.py optimize_churn_model`
    * (`management/commands/optimize_churn_model.py:16-48`): sweep churn
    * thresholds, return the per-threshold metrics and the
    * churn-recall-maximizing threshold. */
  def optimizeChurnThreshold(tx: DataFrame, customer: String, item: String,
                             sales: String, day: Column,
                             demographics: Option[(DataFrame, String,
                               Seq[String])] = None,
                             thresholds: Seq[Int] = 10 to 30 by 3,
                             maxIter: Int = 10): Churn.SweepResult =
    Churn.thresholdSweep(
      Churn.churnEval(tx, customer, item, sales, day, demographics,
        maxIter), thresholds)
}
