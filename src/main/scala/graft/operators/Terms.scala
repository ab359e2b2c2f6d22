package graft.operators

import graft.functions.ColumnFns.stableRound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-statistics operators over a document corpus: TF-IDF keyword
  * extraction and per-source unigram-distribution divergence (corpus
  * drift/skew monitoring). Both follow the repo's exact-arithmetic
  * contract: every logarithm is rounded to integer MICRO-units (×1e6)
  * the moment it is taken, and everything after that is exact BIGINT
  * arithmetic — so scores are bit-identical across engines and under
  * re-partitioning (same discipline as [[NgramLm]]).
  *
  * 100 TB shape: all aggregates are vocabulary- or (doc × vocab)-grain
  * with map-side partial combine; corpus-level scalars (N docs, total
  * words) are single-row aggregates cross-joined back (broadcast), never
  * collected; the only windows run at (doc, term) grain partitioned by
  * doc. Nothing is ever all-pairs.
  *
  * No counterpart in the reference (its corpus is transactional); part of
  * the LLM-training-data surface the brief adds.
  */
object Terms {

  /** `floor(ln(x)·1e6 + 0.5)` as BIGINT — the micro-int log. */
  private def lnMicro(c: org.apache.spark.sql.Column) =
    floor(log(c) * 1e6 + 0.5).cast("long")

  /** Pinned shuffle width: single-row-group corpus files scan 1-wide,
    * and the vocab-grain exchanges here are ~1–2 MB, which AQE's
    * input-size coalescing would run 1-wide too — the r11 ledger showed
    * every q_tfidf_topk stage at exactly 1 task. Explicit numPartitions
    * keeps the CPU stages (tokenize, hash-agg, windows) at full width;
    * scales with executors on a cluster. */
  private def width(df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism, 2)

  /** (id, term, tf): per-document term counts over a single-space word
    * split (one (id, term)-keyed shuffle, map-side combined). The
    * pre-explode repartition spreads the tokenize + partial-combine off
    * the 1-task scan; the aggregate keeps its own exchange so hot terms
    * still map-side combine (dropping that for a pinned keyed shuffle
    * would ship the raw word stream — wrong under term skew at scale). */
  def termCounts(docs: DataFrame, id: String, text: String): DataFrame =
    docs.repartition(width(docs))
      .select(col(id).as("id"),
        explode(split(col(text), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-`k` TF-IDF terms per document. Smoothed IDF (sklearn's
    * formulation): `idf = ln((N+1)/(df+1)) + 1`, kept as the exact
    * micro-int `idf_micro = 1e6 + lnMicro((N+1)/(df+1))`; the score
    * ranks by the exact BIGINT `tf · idf_micro` (ties broken by term),
    * and surfaces as `tfidf = tf·idf_micro / 1e6` rounded to 6 decimals.
    * Returns (id, term, tf, df, tfidf). */
  def tfIdfTopK(docs: DataFrame, id: String, text: String,
                k: Int): DataFrame = {
    val tc = termCounts(docs, id, text)
    // df as a count-over-term window on the single termCounts pass:
    // the former `tc.groupBy(term).agg ⋈ tc` shape column-pruned the
    // two tc subtrees differently, so ReuseExchange missed and the
    // corpus was tokenized TWICE (r11 ledger: twin 116 K-row 1-task
    // exchanges). One pass + one vocab-grain shuffle replaces both.
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tc
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("idf_micro", lit(1000000L) +
        lnMicro((col("n_docs") + 1).cast("double") / (col("df") + 1)))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("id").as(id), col("term"), col("tf"), col("df"),
        stableRound(col("score_micro").cast("double") / 1e6, 6).as("tfidf"))
  }

  /** Per-source KL divergence of the source's unigram distribution from
    * the whole-corpus distribution — the drift/skew monitor a multi-source
    * ingest runs per snapshot. With `c_st` the count of term `t` in
    * source `s`, `C_s = Σ_t c_st`, and corpus-wide `c_t`, `C`:
    *
    *   KL(s ‖ corpus) = Σ_t (c_st/C_s) · ln((c_st/C_s)/(c_t/C))
    *     = (Σ_t c_st · [lnμ(c_st) − lnμ(C_s) − lnμ(c_t) + lnμ(C)]) / (C_s·1e6)
    *
    * where lnμ is the micro-int log — so the sum is exact BIGINT and the
    * single division at the end is the only float op (rounded to 6).
    * Every source term exists in the corpus by construction, so no
    * zero-probability guard is needed. Returns
    * (source, n_docs, n_terms, n_words, kl_corpus), totally ordered by
    * the caller. */
  def sourceDivergence(docs: DataFrame, id: String, text: String,
                       source: String): DataFrame = {
    // NO pre-explode spread here (unlike [[termCounts]]): bySrcTerm
    // fans out to three consumers, and an added ingest exchange was
    // measured to replay per consumer — 0.4 s → 1.8 s warm, 14 jobs
    val words = docs.select(col(id).as("id"), col(source).as("src"),
        explode(split(col(text), " ")).as("term"))
      .where(col("term") =!= "")
    val bySrcTerm = words.groupBy(col("src"), col("term"))
      .agg(count(lit(1)).as("c_st"))
    val byTerm = bySrcTerm.groupBy(col("term"))
      .agg(sum(col("c_st")).as("c_t"))
    val bySrc = bySrcTerm.groupBy(col("src"))
      .agg(sum(col("c_st")).as("c_s"))
    val total = byTerm.select(sum(col("c_t")).as("c_tot"))
    val docsBySrc = docs.groupBy(col(source).as("src"))
      .agg(count(lit(1)).as("n_docs"))
    bySrcTerm
      .join(byTerm, Seq("term"))
      .join(bySrc, Seq("src"))
      .crossJoin(broadcast(total))
      .withColumn("contrib", col("c_st") *
        (lnMicro(col("c_st")) - lnMicro(col("c_s"))
          - lnMicro(col("c_t")) + lnMicro(col("c_tot"))))
      .groupBy(col("src"), col("c_s"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("klm"))
      .join(docsBySrc, Seq("src"))
      .select(col("src").as(source), col("n_docs"),
        col("n_terms"), col("c_s").as("n_words"),
        stableRound(col("klm").cast("double")
          / (col("c_s").cast("double") * 1e6), 6).as("kl_corpus"))
  }

  /** Vocabulary-size / token-coverage trade-off table — the pass that
    * picks a tokenizer vocab cutoff ("how many tokens does a vocab of
    * every term seen ≥ c times cover?"). One row per DISTINCT frequency
    * value c ≥ `minCount`:
    * (min_count=c, n_terms_at, vocab_size=Σ_{c'≥c} terms,
    *  tokens_covered=Σ_{c'≥c} c'·terms, coverage=tokens_covered/total),
    * ordered min_count desc (rarer cutoffs extend the table downward).
    *
    * 100 TB shape: the corpus-wide work is the term-count aggregate
    * (vocab grain) followed by a frequency-grain re-aggregate; the
    * cumulative window then runs over DISTINCT FREQUENCY VALUES only.
    * For a Zipfian corpus of n tokens that grain is O(√n) (counts
    * c > √n contribute at most √n distinct values; counts c ≤ √n at
    * most √n values), i.e. ~10⁷ rows at 100 TB — a single-partition
    * ordered window over it is deliberate and safe, and is the step
    * that makes the global cumsum scale-free. Coverage is the only
    * float (count ratio, rounded 6). */
  def vocabCoverage(docs: DataFrame, id: String, text: String,
                    minCount: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFreq = termCounts(docs, id, text)
      .groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .groupBy(col("cnt"))
      .agg(count(lit(1)).as("n_terms_at"))
    val total = byFreq.select(
      sum(col("cnt") * col("n_terms_at")).as("total"))
    // single-task: one row per distinct term count, not per term
    val w = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byFreq
      .withColumn("vocab_size", sum(col("n_terms_at")).over(w))
      .withColumn("tokens_covered",
        sum(col("cnt") * col("n_terms_at")).over(w))
      .where(col("cnt") >= minCount)
      .crossJoin(broadcast(total))
      .select(col("cnt").as("min_count"), col("n_terms_at"),
        col("vocab_size"), col("tokens_covered"),
        stableRound(col("tokens_covered").cast("double") / col("total"),
          6).as("coverage"))
      .orderBy(col("min_count").desc)
  }

  /** Distributed inverted index with HOT-TERM POSTING BLOCKS: one row
    * per (term, block) where a block holds ≤ `blockSize` doc ids in
    * ascending order — (term, df, block_id, n_in_block, postings). The
    * block cap is the scale contract: a web-scale stop-word's posting
    * list is O(corpus docs), and a single (term)-grain aggregate row
    * holding it would concentrate the corpus in one reducer buffer;
    * blocking bounds per-group state at `blockSize` ids and lets a
    * query engine read a hot term's blocks in parallel.
    *
    * Plan: distinct (term, doc) postings → one term-keyed exchange
    * carrying row_number + df windows → (term, block) re-aggregate
    * (map-side combined, each group ≤ blockSize rows). */
  def invertedIndex(docs: DataFrame, id: String, text: String,
                    blockSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = docs.repartition(width(docs))
      .select(col(id).as("doc"),
        explode(split(col(text), " ")).as("term"))
      .where(col("term") =!= "")
      .distinct()
    val byTerm = Window.partitionBy(col("term"))
    val ranked = postings
      .withColumn("rn", row_number().over(byTerm.orderBy(col("doc"))))
      .withColumn("df", count(lit(1)).over(byTerm))
      .withColumn("block_id",
        floor((col("rn") - 1) / blockSize).cast("long"))
    ranked.groupBy(col("term"), col("df"), col("block_id"))
      .agg(count(lit(1)).as("n_in_block"),
        concat_ws(",", transform(array_sort(collect_list(col("doc"))),
          d => d.cast("string"))).as("postings"))
      .orderBy(col("term"), col("block_id"))
  }

  /** Conjunctive (AND) retrieval THROUGH a blocked inverted index
    * ([[invertedIndex]] shape): doc ids containing EVERY query term.
    * The IN-list filter prunes the index before anything explodes —
    * against a PERSISTED index that predicate pushes to the scan, so
    * the job reads the query terms' blocks, never the index; the
    * doc-grain aggregate then carries only docs that hit ≥ 1 term.
    * (term, doc) is unique by index construction, so a plain count
    * equals the distinct-term hit count.
    *
    * `terms` must be non-empty: the ≥1-hit group makes the vacuous
    * conjunction ("every doc matches zero terms") unrepresentable, so an
    * empty list is rejected loudly rather than silently returning zero
    * rows. Doc ids are assumed NUMERIC (the `documents` contract —
    * postings serialize as comma-joined integers and re-cast to long
    * here); a non-numeric id would cast to null and corrupt the count
    * grain, so string-keyed corpora need an id surrogate first. */
  def searchIndex(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty,
      "searchIndex needs >= 1 query term: the empty conjunction (all " +
        "docs) has no blocked-index plan — scan the corpus instead")
    val want = terms.distinct
    index.where(col("term").isin(want: _*))
      .select(explode(split(col("postings"), ",")).as("doc"))
      .select(col("doc").cast("long").as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .where(col("n_hit") === want.length)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }
}
