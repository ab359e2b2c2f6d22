package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.tokenCountEstimate

/** GPT-style sequence packing: conceptually concatenate the corpus token
  * stream in ascending document-id order and cut it into fixed-length
  * training sequences of `seqLen` tokens (Brown et al., "Language Models
  * are Few-Shot Learners", NeurIPS 2020 §2.3 — documents are packed
  * back-to-back so no sequence wastes padding). The engine's job is the
  * EXACT global token offset of every document; the tokenizer itself is
  * the BPE-ish [[TextAnalysis.tokenCountEstimate]] (swap in real token
  * counts by replacing one column). No reference counterpart — part of
  * the LLM-training-data surface the brief adds.
  *
  * 100 TB shape: a naive global running sum is a WINDOW OVER ONE
  * PARTITION — the whole corpus funnels through a single task. Instead
  * [[tokenSpans]] runs the blocked [[PrefixSum]] over id-range blocks:
  * documents cumsum within blocks in parallel, per-block totals
  * (corpus/blockWidth rows — tiny) prefix-sum on a single small
  * partition, and the block base offsets broadcast back. A document
  * with a null id fails the query. Same exact result as the single window —
  * which is precisely what the DuckDB oracle checks, since the mirror IS
  * the single global cumsum.
  */
object Packing {

  /** Exact global token span `[tok_start, tok_end)` of every document in
    * ascending-id concatenation order, via the two-level prefix sum.
    * `blockWidth` is the id-range width per block — any value gives the
    * SAME output (asserted by `InvariantsCheck`); it only tunes
    * parallelism. Output: `(id, est_tokens, tok_start, tok_end)`. */
  def tokenSpans(docs: DataFrame, id: String, text: String,
                 blockWidth: Long = 1L << 20): DataFrame =
    tokenSpansFromCounts(
      docs.select(col(id), tokenCountEstimate(col(text)).as("__est")),
      id, "__est", blockWidth)

  /** [[tokenSpans]] over PRE-COMPUTED token counts — the entry point for
    * composing with upstream stages that already carry an estimate (the
    * curation pipeline's budget stage does) or with real tokenizer
    * output. */
  def tokenSpansFromCounts(docs: DataFrame, id: String, estTokens: String,
                           blockWidth: Long = 1L << 20): DataFrame =
    PrefixSum(docs.select(col(id).as("id"),
        col(estTokens).cast("long").as("est_tokens")),
      Nil, Seq("id"), PrefixSum.idBlock(col("id"), blockWidth),
      Seq("est_tokens"))
      .select(col("id"), col("est_tokens"),
        (col("cum_est_tokens") - col("est_tokens")).as("tok_start"),
        col("cum_est_tokens").as("tok_end"))

  /** Per-document packing summary: which training sequences the document
    * lands in. `seq_first`/`seq_last` are the first/last sequence ids the
    * document's tokens touch, `n_seqs` the span count, `offset_in_seq`
    * the document's start offset inside `seq_first`. Tokens are never
    * materialized — pure integer arithmetic on the spans (the `floor`
    * divisions are exact: token offsets stay far below 2⁵²). */
  def packSequences(docs: DataFrame, id: String, text: String,
                    seqLen: Long, blockWidth: Long = 1L << 20): DataFrame =
    sequenceSummary(tokenSpans(docs, id, text, blockWidth), seqLen)

  /** [[packSequences]] over pre-computed token counts (see
    * [[tokenSpansFromCounts]]). */
  def packSequencesFromCounts(docs: DataFrame, id: String,
                              estTokens: String, seqLen: Long,
                              blockWidth: Long = 1L << 20): DataFrame =
    sequenceSummary(
      tokenSpansFromCounts(docs, id, estTokens, blockWidth), seqLen)

  private def sequenceSummary(spans: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    spans
      .select(col("id"), col("est_tokens"), col("tok_start"), col("tok_end"),
        floor(col("tok_start") / seqLen).cast("long").as("seq_first"),
        floor((col("tok_end") - 1) / seqLen).cast("long").as("seq_last"),
        pmod(col("tok_start"), lit(seqLen)).as("offset_in_seq"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  /** One row per (document, sequence) pair — the materialized packing
    * manifest a data loader consumes: `seq_off` where the document's
    * slice starts inside sequence `seq_id`, `n_tok` how many of its
    * tokens land there. Map-only explode of the per-doc span (a document
    * spans `⌈est_tokens/seqLen⌉ + 1` sequences at most); row count is
    * `Σ n_seqs`, linear in the corpus. */
  def packedChunks(docs: DataFrame, id: String, text: String,
                   seqLen: Long, blockWidth: Long = 1L << 20): DataFrame = {
    packSequences(docs, id, text, seqLen, blockWidth)
      .select(col("id"), col("tok_start"), col("tok_end"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(col("id"), col("seq_id"),
        pmod(greatest(col("tok_start"), col("seq_id") * seqLen),
          lit(seqLen)).as("seq_off"),
        (least(col("tok_end"), (col("seq_id") + 1) * seqLen) -
          greatest(col("tok_start"), col("seq_id") * seqLen)).as("n_tok"))
  }

  /** Packing-efficiency summary for a candidate `seqLen` — the one-row
    * report that picks the sequence length before a packing run: total
    * corpus tokens, how many training sequences the greedy
    * concatenative layout produces, and the fill ratio (1 − padding
    * waste; only the final partial sequence pads in this layout, but
    * the report's shape also serves doc-boundary-respecting packers
    * where waste is per-sequence). One aggregate over the span frame —
    * adds nothing to the prefix sum's cost. */
  def packingEfficiency(docs: DataFrame, id: String, text: String,
                        seqLen: Long, blockWidth: Long = 1L << 20)
      : DataFrame = {
    import graft.functions.ColumnFns.stableRound
    packSequences(docs, id, text, seqLen, blockWidth)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("est_tokens")).as("total_tokens"),
        (max(col("seq_last")) + 1).as("n_seqs"),
        stableRound(sum(col("est_tokens")).cast("double") /
          ((max(col("seq_last")) + 1) * seqLen), 6).as("fill_ratio"))
  }
}
