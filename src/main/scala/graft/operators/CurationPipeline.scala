package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-call training-data preparation: the whole curation pipeline as a
  * single declarative plan, composed from the individually-gated stages —
  *
  *   quality floor → exact dedup → near-dup prune (MinHash-LSH) →
  *   benchmark decontamination → per-source mixing → token budget
  *
  * Every stage is a semi/anti join against a small id set or a map-side
  * predicate, so the corpus flows through ONE pipeline of pruned scans —
  * Catalyst sees the full composition and can collapse adjacent
  * projections/filters; nothing materializes an intermediate corpus copy.
  * The stage order is the cost-correct one for 100 TB: cheap map-only
  * quality scoring first (biggest volume drop per dollar), content-hash
  * dedup second (16-byte shuffle), LSH near-dup third (only survivors pay
  * shingling), decontamination fourth (gram digests of an already-pruned
  * corpus), and the deterministic mixing/budget predicates last so
  * sampling never discards work the expensive stages already did on docs
  * that would have been dropped anyway.
  */
object CurationPipeline {

  /** Stage parameters; defaults mirror the individually-gated queries. */
  final case class Config(
      minQualityScore: Double = 0.3,
      shingleLen: Int = 3,
      minJaccard: Double = 0.05,
      numHashes: Int = 16,
      bandSize: Int = 4,
      contamGramLen: Int = 30,
      ratesPermille: Map[String, Int] = Map.empty,
      defaultPermille: Int = 1000,
      tokenBudgetPerSource: Long = Long.MaxValue)

  /** Run the pipeline; returns the selected documents as
    * (id, source, est_tokens, cum_tokens). */
  def prepare(corpus: DataFrame, bench: DataFrame, id: String,
              text: String, source: String,
              cfg: Config = Config()): DataFrame = {
    // 1 — heuristic quality floor: a pure map-side predicate ON the
    // corpus scan. The earlier form computed a per-doc score frame and
    // semi-joined it back on id — a corpus-sized exchange that bought
    // nothing, since the score is a deterministic function of the text
    // column already in hand.
    val f1 = corpus.where(
      TextAnalysis.qualityScoreCol(col(text)) >= cfg.minQualityScore)
    // 2 — exact content dedup, keep the smallest id per md5, as a
    // digest-grain aggregate + keep-id semi join (NOT a first-occurrence
    // window keyed by the digest: the window's "one exchange" shuffles
    // and sorts full document BODIES, while the aggregate shuffles
    // 24-byte (digest, id) rows and the keep-id set comes back as a
    // map-side BroadcastHashJoin LeftSemi — measured 8.2 s vs 18.5 s
    // end-to-end at sf0.1 for q_training_mix).
    // The survivor frame is MATERIALIZED by a lazy local checkpoint
    // (released by the ContextCleaner with the returned frame): every
    // later stage (LSH shingling, the near-dup anti join, both
    // decontamination branches) re-reads it, and without it each
    // consumer would replay the regex-heavy quality pass + dedup joins
    // from the scan up (~25% end-to-end at sf0.1). Post-dedup is the
    // right materialization point at cluster scale too — it is the
    // smallest the corpus gets before the cheap final predicates.
    val exactKeep = Dedup.exactByContent(f1, id, text).select(col(id))
    val f2 = f1.join(exactKeep, Seq(id), "left_semi")
      .localCheckpoint(eager = false)
    // 3 — near-dup prune: drop the higher id of every verified LSH pair
    val near = NearDup.minHashPortableUnsorted(f2, id, text,
      cfg.shingleLen, cfg.minJaccard, cfg.numHashes, cfg.bandSize)
    val f3 = f2.join(near.select(col("id_b").as(id)).distinct(),
      Seq(id), "left_anti")
    // 4 — benchmark decontamination (char k-gram overlap)
    val f4 = Decontaminate.decontaminate(f3, bench, id, text,
      cfg.contamGramLen)
    // 5 — deterministic per-source mixing
    val f5 = Mixing.sampleByRates(f4, id, source, cfg.ratesPermille,
      cfg.defaultPermille)
    // 6 — per-source token budget
    Mixing.takeByTokenBudget(f5, id, text, source,
      cfg.tokenBudgetPerSource)
      .select(col(id), col(source), col("est_tokens"), col("cum_tokens"))
  }
}
