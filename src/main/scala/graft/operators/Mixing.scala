package graft.operators

import graft.operators.TextAnalysis.tokenCountEstimate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus mixing for training-data assembly: per-source down-sampling,
  * epoch-style up-sampling, and token-budget truncation — the knobs a
  * Pile/Dolma-style mixture spec turns.
  *
  * All sampling here is DETERMINISTIC: membership depends only on the
  * document id (an md5-derived bucket, portable digest arithmetic
  * expressible in any SQL engine), never on partitioning, task retries,
  * or a seed stream.
  * That is the property that matters at 100 TB — a retry-safe, resumable
  * sample whose membership can be re-derived by any engine auditing the
  * mix. Everything is map-only except the budget cumsum (one shuffle on
  * the source key).
  *
  * No counterpart exists in the reference; part of the LLM-training-data
  * surface the brief adds.
  */
object Mixing {

  /** Deterministic per-id bucket in [0, 1000): first 15 hex digits of
    * `md5(cast(id as string))` mod 1000 — the same portable digest trick
    * as [[Dsir]]/[[NearDup.minHashPortable]], expressible in any SQL
    * engine (`('0x' || substr(md5(...), 1, 15))::BIGINT % 1000`).
    *
    * Why a digest and not an LCG: a multiplicative step `id·a + c mod m`
    * reaches only `m / gcd(a, m)` buckets — the previous constants
    * (1103515245, mod 1000) shared a factor 5 and hit just 200 of the
    * 1000 buckets, quantizing every sampling rate to 5‰ steps with upward
    * bias. The md5 bucket reaches all 1000 uniformly, has no overflow for
    * any id (the digest input is the decimal string), and is safe for
    * negative ids (no pmod-vs-% sign divergence — the digest value is
    * always non-negative). */
  def bucket1000(idCol: Column): Column =
    pmod(conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long"), lit(1000L))

  /** Per-source Bernoulli down-sampling at `permille(source)`/1000,
    * deterministic in the id. Sources absent from the map keep
    * `defaultPermille`/1000 of their documents. */
  def sampleByRates(docs: DataFrame, id: String, source: String,
                    permille: Map[String, Int],
                    defaultPermille: Int): DataFrame = {
    require((defaultPermille +: permille.values.toSeq)
      .forall(r => r >= 0 && r <= 1000), "rates are permille in [0,1000]")
    val rate = permille.foldLeft(lit(defaultPermille)) {
      case (acc, (src, r)) => when(col(source) === src, lit(r)).otherwise(acc)
    }
    docs.where(bucket1000(col(id)) < rate)
  }

  /** WEIGHTED Bernoulli sampling: each row is kept with probability
    * `ratePermille(row)`/1000 — the per-ROW generalization of
    * [[sampleByRates]]' per-source constants (quality-proportional or
    * length-proportional keep rates, the "sample good documents more"
    * knob of curation recipes). `ratePermille` is any integral column
    * expression; values are clamped to [0, 1000]. Membership is the same
    * deterministic md5 bucket — map-only, retry-safe, re-derivable by
    * any engine, and monotone in the weight: raising a document's weight
    * can only ADD it to the sample (the bucket draw is fixed per id), so
    * re-weighted re-runs reuse prior output as a subset/superset. */
  def sampleByWeight(docs: DataFrame, id: String,
                     ratePermille: Column): DataFrame =
    docs.where(bucket1000(col(id)) <
      least(lit(1000L), greatest(lit(0L), ratePermille.cast("long"))))

  /** Epoch-style up-sampling: each document of source `s` appears
    * `epochs(s)` times (default 1), tagged with an `epoch` ordinal —
    * the "wiki ×3" trick of curated training mixes. Map-only explode;
    * row-count inflation is the caller's explicit choice. */
  def upsampleEpochs(docs: DataFrame, source: String,
                     epochs: Map[String, Int],
                     defaultEpochs: Int = 1): DataFrame = {
    require((defaultEpochs +: epochs.values.toSeq).forall(_ >= 1),
      "epoch counts are >= 1")
    val n = epochs.foldLeft(lit(defaultEpochs)) {
      case (acc, (src, e)) => when(col(source) === src, lit(e)).otherwise(acc)
    }
    docs.withColumn("epoch",
      explode(sequence(lit(1L), n.cast("long"))))
  }

  /** Token-budget truncation: per source, keep documents in ascending-id
    * order while the running token estimate stays within `budgetTokens`.
    * A doc that crosses the budget line is dropped, as are all after it.
    * The token estimate is the BPE-ish
    * [[TextAnalysis.tokenCountEstimate]]; output is the slim
    * `(id, source, est_tokens, cum_tokens)` frame the pipeline consumes.
    *
    * The running sum is the blocked [[PrefixSum]], keyed by source over
    * id-range blocks: docs cumsum inside `(source, blk)` window
    * partitions of at most `blockWidth` ids in parallel, the
    * per-(source, block) totals (a corpus/blockWidth-row frame)
    * prefix-sum per source, and the block base offsets broadcast back.
    * A document with a null id fails the query; a null source is a
    * source of its own. A naive `partitionBy(source)` window
    * would funnel each source through ONE task — fatal when one source is
    * 60–80 % of a 100 TB mix. `blockWidth` only tunes parallelism; any
    * value gives the same output (asserted by `InvariantsCheck`). */
  def takeByTokenBudget(docs: DataFrame, id: String, text: String,
                        source: String, budgetTokens: Long,
                        blockWidth: Long = 1L << 20): DataFrame =
    takeByTokenBudgetFromCounts(
      docs.select(col(id), col(source),
        tokenCountEstimate(col(text)).as("est_tokens")),
      id, "est_tokens", source, budgetTokens, blockWidth)

  /** [[takeByTokenBudget]] over PRE-COMPUTED token counts — the seam for
    * real tokenizer output (swap one column; see [[graft.functions.Bpe]])
    * or for upstream stages that already carry an estimate. Counts must
    * be >= 0. */
  def takeByTokenBudgetFromCounts(docs: DataFrame, id: String,
                                  estTokens: String, source: String,
                                  budgetTokens: Long,
                                  blockWidth: Long = 1L << 20): DataFrame =
    PrefixSum(docs.select(col(id), col(source),
        col(estTokens).cast("long").as("est_tokens")),
      Seq(source), Seq(id), PrefixSum.idBlock(col(id), blockWidth),
      Seq("est_tokens"))
      .where(col("cum_est_tokens") <= budgetTokens)
      .select(col(id), col(source), col("est_tokens"),
        col("cum_est_tokens").as("cum_tokens"))
}
