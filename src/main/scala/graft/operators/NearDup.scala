package graft.operators

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import graft.functions.ColumnFns.stableRound
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection for a document corpus — the training-data
  * pipeline surface (brief requirement; exact-dedup lives in [[Dedup]]).
  *
  * Three detectors, in increasing scale-friendliness:
  *  1. [[jaccardPairs]] — EXACT w-shingle Jaccard via shingle self-join.
  *     O(Σ per-shingle doc-count²): correct but quadratic in hot shingles;
  *     the ground-truth baseline the approximate paths are judged against.
  *  2. [[minHashCandidates]] — MinHash + banded LSH
  *     (`ml.feature.MinHashLSH`, Broder '97): shuffle is
  *     (doc, band-bucket) pairs only; candidate pairs then exact-verified.
  *     THE 100 TB path: no all-pairs stage, skew bounded by bucket size.
  *  3. [[simHash]] — 64-bit SimHash (Charikar '02) per doc; near-dups have
  *     small Hamming distance; candidates found by exact match on rotated
  *     16-bit bands (4 bands ⇒ Hamming ≤ 3 guaranteed candidate).
  *
  * All shingling is native array-lambda expressions (codegen-friendly,
  * no UDF).
  */
object NearDup {

  /** Word w-shingles per doc WITH duplicates: (id, shingle), map-only.
    * Use when the consumer is duplicate-insensitive (e.g. a MIN over
    * hashes) — it skips [[shingles]]' distinct shuffle entirely. */
  def rawShingles(docs: DataFrame, id: String, text: String,
                  w: Int = 3): DataFrame = {
    val words = docs.select(col(id).as("id"),
      split(trim(col(text)), "\\s+").as("wa"))
    words.where(size(col("wa")) >= w)
      .select(col("id"), explode(expr(
        s"""transform(sequence(1, size(wa) - ${w - 1}), i ->
           |  concat_ws(' ', ${(0 until w).map(j => s"element_at(wa, i + $j)")
             .mkString(", ")}))""".stripMargin)).as("s"))
  }

  /** Distinct word w-shingles per doc: (id, shingle). Docs shorter than
    * `w` words drop out. */
  def shingles(docs: DataFrame, id: String, text: String,
               w: Int = 3): DataFrame =
    rawShingles(docs, id, text, w).distinct()

  /** Exact pairwise Jaccard over shingle sets: self-join on shingle →
    * intersection counts → |A∩B| / (|A|+|B|−|A∩B|). Keep pairs with
    * jaccard ≥ `minJaccard`, top `limit` by similarity. */
  def jaccardPairs(docs: DataFrame, id: String, text: String, w: Int = 3,
                   minJaccard: Double = 0.0, limit: Int = 200): DataFrame = {
    // same ingest-repartition rationale as [[minHashPortableUnsorted]]:
    // spread the CPU-heavy shingling off the (often single-split) scan,
    // co-locate the per-id distinct and size aggregates, and let the
    // structurally identical self-join sides share one exchange instead
    // of hiding behind an InMemoryRelation
    val spread = docs.select(col(id), col(text)).repartition(
      math.max(docs.sparkSession.sparkContext.defaultParallelism, 2),
      col(id))
    val sh = shingles(spread, id, text, w)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.toDF("id_a", "s")
      .join(sh.toDF("id_b", "s"), Seq("s"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.toDF("id_a", "sz_a")), Seq("id_a"))
      .join(broadcast(sizes.toDF("id_b", "sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        stableRound(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(limit)
  }

  /** Prime modulus and per-function coefficients for [[minHashPortable]]'s
    * universal-hash family `(a·h + b) mod p` — fixed literals so the exact
    * same family is expressible in ANSI SQL for the oracle gate. All
    * arithmetic stays below 2^62 (h < p < 2^31, a < p). */
  val MinHashP: Long = 2147483647L // 2^31 − 1
  // 64 published components — the full domain the fused native kernel
  // (graft.plans.GraftHash.minHashSig) accepts, so every n it admits is
  // covered by these tables and by the InvariantsCheck bit-equality
  // property (round-12 advice: n in 17..64 used to extend the family
  // with inlined formulas no table or test validated). Components 0-15
  // are unchanged (same closed form), so no oracle drifts.
  val MinHashA: IndexedSeq[Long] =
    (0 until 64).map(j => (2654435761L * (2 * j + 1)) % MinHashP)
  val MinHashB: IndexedSeq[Long] =
    (0 until 64).map(j => (1779033703L * (j + 1)) % MinHashP)

  // Portable 60-bit shingle hash: the first 15 hex digits of md5, an
  // identical value in any engine with md5 (unlike xxhash64/murmur).
  // Computed by the native [[graft.plans.WordShingleHashes]] expression
  // (shingling fused with hashing) — bit-equal to the
  // `conv(substr(md5(s), 1, 15), 16, 10)` SQL form the oracles keep,
  // minus the per-shingle hex-string round-trip.

  /** MinHash + banded LSH with a PORTABLE hash family (md5-derived shingle
    * hashes, universal-hash minima, integer band keys) — same algorithm as
    * [[minHashCandidates]] but every step is exact integer arithmetic
    * expressible in ANSI SQL, so the full pipeline (bucketing included) is
    * oracle-checkable cross-engine. Candidates agreeing on any band of
    * `bandSize` consecutive minhashes are verified by exact Jaccard over
    * the shingle sets of candidate docs only — never all-pairs.
    *
    * 100 TB shape: shuffles are (shingle-hash, id) then (band-key, id);
    * the verify stage touches only docs that collided in some band. */
  def minHashPortable(docs: DataFrame, id: String, text: String, w: Int = 3,
                      minJaccard: Double = 0.05, numHashes: Int = 16,
                      bandSize: Int = 4): DataFrame =
    minHashPortableUnsorted(docs, id, text, w, minJaccard, numHashes,
      bandSize)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))

  /** [[minHashPortable]] without the final global sort — for consumers
    * that treat the pairs as an edge SET (dedup pruning, connected
    * components), where a total order is one wasted full exchange. */
  def minHashPortableUnsorted(docs: DataFrame, id: String, text: String,
                              w: Int = 3, minJaccard: Double = 0.05,
                              numHashes: Int = 16,
                              bandSize: Int = 4): DataFrame = {
    require(numHashes <= MinHashA.size && numHashes % bandSize == 0)
    // min over duplicate shingles == min over distinct shingles, so the
    // minhash stage reads the map-only raw stream (partial-aggregated
    // mins, no corpus-wide distinct shuffle); only colliding docs pay
    // for distinct shingle sets, in the verify stage below
    graft.plans.GraftExtensions.register(docs.sparkSession)
    // ONE explicit-N doc-grain repartition BY THE ID does three jobs at
    // once (r10 stage ledger, q_corpus_dedup 6.5 s → ~2 s):
    //  1. parallelism — a small batch often arrives as ONE parquet split
    //    (tokenize+shingle+hash then ran single-threaded: ~20 one-task
    //    stages of ~1 s each at sf0.1); the pinned N resists AQE's
    //    input-size coalescing, which would re-serialize the CPU-heavy
    //    shingle work;
    //  2. co-location — hash(id) satisfies every downstream per-id
    //    clustering (the minhash MIN aggregate, the per-doc shingle
    //    DISTINCT, the size counts), so none of them shuffles again:
    //    the shingle stream, the widest frame in the query, is never
    //    exchanged at all;
    //  3. sharing — a cached rawShingles would wrap an AQE plan in an
    //    InMemoryRelation, which breaks exchange reuse ABOVE it (the
    //    sf0.1 plan held 50 parquet scans); the plain exchange is
    //    canonically shareable.
    // At 100 TB this is one linear shuffle of the (id, text) batch —
    // bounded by input size, like any ingest repartition.
    val spread = docs.select(col(id), col(text)).repartition(
      math.max(docs.sparkSession.sparkContext.defaultParallelism, 2),
      col(id))
    // signature stage is the fully-FUSED native form
    // ([[graft.plans.MinHashSig]], round-12): shingle, hash, and ALL
    // numHashes minima in one per-ROW pass — the previous shape
    // (explode the native shingle hashes → groupBy(id).agg(16 mins))
    // paid the exploded-row materialization and the aggregate's
    // shingle-grain hash buffers for a value that is a pure per-document
    // function. The trailing groupBy keeps the OLD semantics exact even
    // for duplicate ids: a MinHash component is a min, so the
    // component-wise min of per-row signatures IS the signature of the
    // rows' shingle-set union — and it rides the id repartition (no new
    // exchange; one row per id in the normal case, so the aggregate is
    // id-grain, not shingle-grain). Hash family pinned against NearDup's
    // constants by an InvariantsCheck property; DuckDB oracles untouched.
    // Docs with < w words produce an empty signature and are dropped,
    // exactly as the explode dropped them.
    val perRow = spread
      .select(col(id).as("id"),
        call_function("minhash_sig", col(text), lit(w), lit(numHashes))
          .as("__sig"))
      .where(size(col("__sig")) > 0)
    val mins = perRow.groupBy(col("id")).agg(
      min(element_at(col("__sig"), 1)).as("mh0"),
      (1 until numHashes).map(j =>
        min(element_at(col("__sig"), j + 1)).as(s"mh$j")): _*)
    val nBands = numHashes / bandSize
    val banded = mins.select(col("id"), explode(array((0 until nBands).map {
        t =>
          struct(lit(t).as("band"),
            concat_ws("_", (0 until bandSize).map(x =>
              col(s"mh${t * bandSize + x}")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    // the candidate pair set is REUSED three times below (both union
    // arms of candIds and the verify semi-join); it is tiny by
    // construction (only banded collisions), so a lazy localCheckpoint
    // pins one materialization instead of three replays of the band
    // self-join — and unlike cache() it cannot block exchange reuse in
    // the surrounding plan. (Round-11: eager checkpoints here were
    // measured WORSE — 1.75 s vs 1.39 s warm for q_corpus_dedup at
    // sf0.1 — the two blocking jobs cost more than the tiny replays;
    // contrast the CF counts frame, where eager wins. Fault-tolerance
    // caveat: local checkpoints are executor-loss fragile — see the
    // [[Collab]] scaladoc note for the cluster-scale alternative.)
    val cand = banded.toDF("id_a", "band", "key")
      .join(banded.toDF("id_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .localCheckpoint(false)
    // exact-Jaccard verify over candidate docs only — distinct shingle
    // sets and sizes are computed ONLY for colliding docs, so both the
    // distinct shuffle and the broadcasts below scale with the candidate
    // set, not the corpus. Like cand, the candidate shingle sets serve
    // three consumers (sizes + both intersection sides): checkpoint once.
    // Note the per-doc distinct is exchange-FREE — hash(id) from the
    // ingest repartition already clusters (id, shingle).
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    // shingle STRINGS are built here only, and only for colliding DOCS:
    // the semi-join filters the doc frame BEFORE the explode, so the
    // tokenize+concat work is candidate-bounded, not corpus-bounded
    val shC = rawShingles(
        spread.join(broadcast(candIds.select(col("id").as(id))),
          Seq(id), "left_semi"),
        id, text, w)
      .distinct()
      .localCheckpoint(false)
    val sizes = shC.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = shC.toDF("id_a", "s")
      .join(shC.toDF("id_b", "s"), Seq("s"))
      .join(cand, Seq("id_a", "id_b"), "left_semi")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.toDF("id_a", "sz_a")), Seq("id_a"))
      .join(broadcast(sizes.toDF("id_b", "sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        stableRound(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard verification of the
    * candidates. `numHashTables` = LSH bands; more tables → higher recall.
    * Returns (id_a, id_b, jaccard) for candidates with jaccard ≥
    * `minJaccard`. Scale shape: shingle→sparse-vector, per-band bucket
    * join, candidate verify — never all-pairs. */
  def minHashCandidates(docs: DataFrame, id: String, text: String,
                        w: Int = 3, minJaccard: Double = 0.5,
                        numHashTables: Int = 8,
                        seed: Long = 42L): DataFrame = {
    // binary HashingTF collapses duplicate shingles to the same index
    // set, so the raw (map-only) shingle stream gives the identical
    // sparse vector without a corpus-wide distinct shuffle; the ingest
    // repartition spreads the shingle CPU and feeds the per-id
    // collect_list without a second exchange (same rationale as
    // [[minHashPortableUnsorted]])
    val spread = docs.select(col(id), col(text)).repartition(
      math.max(docs.sparkSession.sparkContext.defaultParallelism, 2),
      col(id))
    val sh = rawShingles(spread, id, text, w)
      .groupBy(col("id")).agg(collect_list(col("s")).as("sh"))
    val tf = new HashingTF().setInputCol("sh").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(sh).select(col("id"), col("features"))
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("mh")
      .setNumHashTables(numHashTables).setSeed(seed)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, 1.0 - minJaccard, "dist")
      .select(col("datasetA.id").as("id_a"), col("datasetB.id").as("id_b"),
        stableRound(lit(1.0) - col("dist"), 6).as("jaccard"))
      .where(col("id_a") < col("id_b"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
  }

  /** 64-bit SimHash per doc from word-token hashes: each token votes ±1 on
    * every bit position of its 64-bit md5 prefix; the sign of the vote sum
    * is the fingerprint bit. Backed by the native
    * [[graft.plans.SimHashPortable64]] expression — the equivalent
    * `aggregate(zip_with(...))` HOF form costs tokens×64 interpreted
    * lambda calls per document, and the md5-derived hash (unlike
    * xxhash64) is reproducible in any engine, which is what lets the
    * PRODUCTION 16-bit-band path in [[simHashPairs]] carry a full SQL
    * oracle. */
  def simHash(docs: DataFrame, id: String, text: String): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    docs.select(col(id).as("id"),
        split(trim(col(text)), "\\s+").as("wa"))
      .where(size(col("wa")) > 0)
      .select(col("id"),
        call_function("simhash_portable64", col("wa")).as("simhash"))
  }

  /** Portable 32-bit SimHash near-dup pairs: per-token md5-derived hashes
    * vote ±1 on each of 32 bit positions (multiset voting — every token
    * occurrence counts); candidates agree on one of four 8-bit bands
    * (guarantees candidacy for Hamming ≤ 3) and are verified by exact
    * Hamming ≤ `maxHamming`. Pure integer arithmetic on a portable hash —
    * the whole pipeline incl. bucketing mirrors into ANSI SQL for the
    * oracle gate; [[simHashPairs]] below is the 64-bit form with 16-bit
    * bands, also on the md5-derived hash.
    *
    * Scale caveat: 8-bit bands give only 256 buckets per band, so bucket
    * occupancy — and the candidate join — grows quadratically with corpus
    * size. This variant exists to make the ALGORITHM oracle-checkable;
    * at corpus scale use the 64-bit [[simHashPairs]] (65,536 buckets per
    * band) or widen both fingerprint and bands further. */
  def simHashPortable(docs: DataFrame, id: String, text: String,
                      maxHamming: Int = 3): DataFrame = {
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val fp = docs.select(col(id).as("id"),
        split(trim(col(text)), "\\s+").as("wa"))
      .where(size(col("wa")) > 0)
      .select(col("id"),
        call_function("simhash_portable32", col("wa")).as("simhash"))
      // read by both band-join sides, which plan as a broadcast join and
      // share no exchange: a lazy local checkpoint fingerprints once, and
      // the ContextCleaner releases it with the returned frame
      .localCheckpoint(eager = false)
    val banded = fp.select(col("id"), col("simhash"),
        explode(expr(
          """transform(sequence(0, 3), b -> named_struct(
            |  'band', b,
            |  'key', shiftright(simhash, b * 8) & 255L))""".stripMargin))
          .as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    banded.toDF("id_a", "sh_a", "band", "key")
      .join(banded.toDF("id_b", "sh_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
  }

  /** SimHash near-dup candidates: docs agreeing on any 16-bit band of the
    * fingerprint (guarantees candidacy for Hamming ≤ 3), verified by exact
    * Hamming ≤ `maxHamming`. Bucket join per band — linear shuffle. */
  def simHashPairs(docs: DataFrame, id: String, text: String,
                   maxHamming: Int = 3): DataFrame = {
    // fingerprinted once, as in simHashPortable
    val fp = simHash(docs, id, text).localCheckpoint(eager = false)
    val banded = fp.select(col("id"), col("simhash"),
        explode(expr(
          """transform(sequence(0, 3), b -> named_struct(
            |  'band', b,
            |  'key', (simhash >> (b * 16)) & 65535L))""".stripMargin))
          .as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.key"))
    val cand = banded.toDF("id_a", "sh_a", "band", "key")
      .join(banded.toDF("id_b", "sh_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
    cand
      .withColumn("hamming",
        expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
  }

  /** PERSISTABLE per-doc MinHash signature table (id, mh0..mh{n−1}) —
    * the standing index an INCREMENTAL near-dup ingest writes once per
    * corpus and joins every new batch against ([[minHashIncremental]]).
    * Same fused native signature stage and hash family as
    * [[minHashPortableUnsorted]] (InvariantsCheck pins the constants),
    * so signatures written by one and read by the other agree bit-wise.
    * Docs with < w words drop out (no signature). */
  def minHashSignatures(docs: DataFrame, id: String, text: String,
                        w: Int = 3, numHashes: Int = 16): DataFrame = {
    require(numHashes <= MinHashA.size)
    graft.plans.GraftExtensions.register(docs.sparkSession)
    val spread = docs.select(col(id), col(text)).repartition(
      math.max(docs.sparkSession.sparkContext.defaultParallelism, 2),
      col(id))
    val perRow = spread
      .select(col(id).as("id"),
        call_function("minhash_sig", col(text), lit(w), lit(numHashes))
          .as("__sig"))
      .where(size(col("__sig")) > 0)
    perRow.groupBy(col("id")).agg(
      min(element_at(col("__sig"), 1)).as("mh0"),
      (1 until numHashes).map(j =>
        min(element_at(col("__sig"), j + 1)).as(s"mh$j")): _*)
  }

  /** INCREMENTAL near-duplicate detection of a new `batchSigs` batch
    * against a standing `index` signature table (both shaped like
    * [[minHashSignatures]] output; the index side is typically
    * `spark.read.parquet(...)` of a previously persisted run — corpus
    * TEXT is never touched). Candidates are banded-LSH key collisions;
    * similarity is the Broder estimator over the PERSISTED signatures
    * (matching components / numHashes — at 100 TB the corpus bodies are
    * in cold storage, and the estimator is exactly what the stored index
    * can answer; the exact-verify variant is the batch-mode
    * [[minHashPortable]]). Keeps pairs with ≥ `minMatches` agreeing
    * components (an exact integer threshold — no float ever decides
    * membership) and returns (id, dup_of, matches, est_jaccard).
    *
    * Scale shape: one (band, key) equi-join of two banded frames (batch
    * side is the small new ingest), a candidate-grain distinct, then two
    * id-keyed joins back to the signature tables — the signature frames
    * are doc-grain and the candidate set is collision-bounded; nothing
    * is ever all-pairs. */
  def minHashIncremental(index: DataFrame, batchSigs: DataFrame,
                         numHashes: Int = 16, bandSize: Int = 4,
                         minMatches: Int = 8): DataFrame = {
    // signatures ride the banded frames THROUGH the (band, key) join —
    // duplicating the 16 components across the nBands exploded rows is
    // deliberate: it means the standing index is scanned and exchanged
    // exactly ONCE (the band join), where a slimmer banded frame would
    // need a second full index pass (an id-keyed join) just to fetch
    // candidate signatures for the estimator. The estimator value is
    // identical on every band a pair collides in, so the trailing
    // pair-grain max is a pure dedup.
    def banded(sigs: DataFrame, idAs: String, pfx: String) = {
      val nBands = numHashes / bandSize
      sigs.select(
        col("id").as(idAs) +:
        (0 until numHashes).map(j => col(s"mh$j").as(s"$pfx$j")) :+
        explode(array((0 until nBands).map { t =>
          struct(lit(t).as("band"),
            concat_ws("_", (0 until bandSize).map(x =>
              col(s"mh${t * bandSize + x}")): _*).as("key"))
        }: _*)).as("bk"): _*)
        .select(col(idAs) +: (0 until numHashes)
          .map(j => col(s"$pfx$j")) :+ col("bk.band") :+ col("bk.key"): _*)
    }
    val matches = (0 until numHashes).map(j =>
      when(col(s"b$j") === col(s"c$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    banded(batchSigs, "id", "b")
      .join(banded(index, "dup_of", "c"), Seq("band", "key"))
      .withColumn("m", matches)
      .where(col("m") >= minMatches)
      .groupBy(col("id"), col("dup_of"))
      .agg(max(col("m")).as("matches")) // same value per band — dedup
      .select(col("id"), col("dup_of"), col("matches"),
        stableRound(col("matches").cast("double") / numHashes, 6)
          .as("est_jaccard"))
      .orderBy(col("id"), col("matches").desc, col("dup_of"))
  }
}
