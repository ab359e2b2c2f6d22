package graft.operators

import graft.functions.ColumnFns.stableRound
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** EXACT corpus-wide frequent-term mining ("heavy hitters") — the vocab
  * / stop-list / hot-key discovery pass a training-data pipeline runs
  * before tokenizer work and before skew-sensitive joins.
  *
  * Two plans, ONE semantics, gated by one oracle (the
  * q_domain_cap/q_domain_cap_salted precedent — bit-equality between the
  * parity and scale paths IS the gate):
  *
  *  - [[frequentTerms]] (parity): tokenize → term-grain hash aggregate →
  *    `HAVING cnt·denom > total`. One shuffle, but it carries the FULL
  *    vocabulary (map-side partial counts of every distinct term). Fine
  *    while the vocab fits a shuffle; at 100 TB web text the distinct
  *    term count is O(10¹⁰⁺) and that exchange dominates the job.
  *  - [[frequentTermsMG]] (scale): two linear scans, no vocab-wide
  *    shuffle. Scan 1 runs Misra–Gries (Misra & Gries '82, "Finding
  *    repeated elements") with k counters INSIDE each partition and
  *    emits only the ≤ k surviving candidate terms per partition; scan 2
  *    recounts EXACTLY, but only for tokens that pass a broadcast
  *    semi-join against the candidate set, so the final term-grain
  *    exchange carries ≤ k·P candidate terms instead of the vocabulary.
  *
  * Why the candidate superset is safe (the pigeonhole argument, with
  * n = total tokens, n_p = tokens in partition p, k = [[mgCounters]]):
  * MG with k counters retains every item whose in-partition count
  * exceeds n_p/(k+1). If a term's GLOBAL count satisfies cnt·denom > n,
  * some partition has cnt_p·denom > n_p (otherwise summing the
  * per-partition bounds gives cnt·denom ≤ n), and with k ≥ denom that
  * partition's MG summary keeps it: cnt_p > n_p/denom ≥ n_p/(k+1).
  * Candidate-set CONTENTS may vary with partitioning/arrival order —
  * only the superset guarantee is order-free — which is exactly why the
  * exact recount exists: the OUTPUT is partitioning-invariant.
  *
  * No counterpart in the reference (its corpus is transactional); part
  * of the LLM-training-data surface the brief adds.
  */
object HeavyHitters {

  /** See [[Terms]]: spread the tokenize CPU off a 1-split scan; scales
    * with executors on a cluster. */
  private def width(df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism, 2)

  /** Single-space word stream (id dropped — heavy hitters are corpus
    * grain), map-only. Same tokenizer as [[Terms.termCounts]]. */
  private def tokens(docs: DataFrame, text: String): DataFrame =
    docs.repartition(width(docs))
      .select(explode(split(col(text), " ")).as("term"))
      .where(col("term") =!= "")

  /** (term, cnt, share) for every term with `cnt · denom > total`
    * (strictly more than a 1/denom share of all tokens), share rounded
    * to 6 decimals; ordered cnt desc, term asc. The threshold compare is
    * exact BIGINT — no ratio float ever decides membership.
    *
    * ONE tokenize scan: the corpus token total is `SUM(cnt)` over the
    * SAME term-grain aggregate that produces the counts, so the two
    * consumers share the term-hash Exchange (ReuseExchange — pinned in
    * VocabOpsSpec) and the second pass is over the vocabulary, not the
    * corpus. (r14 shipped a separate `tokens(...).count`-shaped total —
    * a full extra tokenize of every byte; the r14 advice caught it.) */
  def frequentTerms(docs: DataFrame, text: String, denom: Int): DataFrame = {
    val counts = tokens(docs, text).groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
    finish(counts, counts.select(sum(col("cnt")).as("total")), denom)
  }

  /** MG counter budget for a 1/denom threshold: k = denom is the
    * smallest k with the superset guarantee (k + 1 > denom). */
  def mgCounters(denom: Int): Int = denom

  /** Scale path: Misra–Gries candidates (scan 1) + broadcast-semi-join
    * exact recount (scan 2). Bit-equal to [[frequentTerms]] — same
    * oracle. The candidate frame is ≤ k terms per partition, deduped by
    * one candidate-grain exchange (≤ k·P rows, trivially small) and then
    * BROADCAST — the token stream is filtered map-side, never collected
    * to the driver. */
  def frequentTermsMG(docs: DataFrame, text: String, denom: Int): DataFrame = {
    val k = mgCounters(denom)
    val toks = tokens(docs, text)
    // scan 1 emits ≤ k candidate rows PLUS one sentinel row carrying the
    // partition's exact token count (term = null, unreachable for real
    // tokens), so the corpus total rides the same pass — r14 derived it
    // from a third full tokenize, which the advice flagged. The summary
    // is ≤ (k+1)·P rows; a lazy local checkpoint lets the candidate and
    // total consumers split it without re-running the scan, and the
    // ContextCleaner releases it with the returned frame.
    val summary = toks.select(col("term")).as[String](Encoders.STRING)
      .mapPartitions { it =>
        // classic MG: k counters; a miss with a full table decrements
        // every counter (amortized O(1) per token: each decrement sweep
        // removes ≥ 1 full "round" of k distinct tokens, so at most
        // n/(k+1) sweeps of cost O(k) occur)
        val counters = new scala.collection.mutable.HashMap[String, Long]
        var nTokens = 0L
        while (it.hasNext) {
          val t = it.next()
          nTokens += 1L
          counters.get(t) match {
            case Some(c) => counters.update(t, c + 1L)
            case None if counters.size < k => counters.update(t, 1L)
            case None =>
              val dead = counters.iterator.collect {
                case (key, 1L) => key
              }.toArray
              counters.mapValuesInPlace((_, c) => c - 1L)
              dead.foreach(counters.remove)
          }
        }
        counters.keysIterator.map(t => (t, 0L)) ++
          Iterator((null: String, nTokens))
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF("term", "n").localCheckpoint(eager = false)
    val candidates = summary.where(col("term").isNotNull)
      .select(col("term")).distinct()
    val total = summary.where(col("term").isNull)
      .select(sum(col("n")).as("total"))
    finish(toks.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt")),
      total, denom)
  }

  /** Shared tail: attach the corpus token total (single-row aggregate,
    * broadcast — never collected), apply the exact BIGINT threshold,
    * surface the rounded share, order. */
  private def finish(counts: DataFrame, total: DataFrame,
                     denom: Int): DataFrame = {
    counts.crossJoin(broadcast(total))
      .where(col("cnt") * denom > col("total"))
      .select(col("term"), col("cnt"),
        stableRound(col("cnt").cast("double") / col("total"), 6)
          .as("share"))
      .orderBy(col("cnt").desc, col("term"))
  }
}
