package graft

import graft.operators.{NgramLm, Packing, Splits}
import org.apache.spark.sql.functions._

/** Unit gates for the CCNet-style bigram-LM perplexity filter and the
  * GPT-style sequence packer (both also DuckDB-oracle-gated via
  * q_ngram_ppl / q_ngram_filter / q_pack_spans / q_pack_chunks). */
class PackingAndLmSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ NgramLm

  private def lmTarget = Seq(
    (100L, "the cat sat on the mat and the cat slept"),
    (101L, "the dog sat on the rug and the dog slept"),
    (102L, "a cat and a dog sat on the mat")
  ).toDF("doc_id", "text")

  private def lmRaw = Seq(
    (1L, "the cat sat on the mat"),             // target-like
    (2L, "zyx qwv plk mnb vcx asd"),            // out-of-domain
    (3L, "the dog slept on the rug"),           // target-like
    (4L, "solo")                                 // 1 token: no transitions
  ).toDF("doc_id", "text")

  test("ngram-lm: target-like docs score lower perplexity than " +
      "out-of-domain; single-token docs emit no score") {
    val out = NgramLm.perplexity(lmRaw, lmTarget, "doc_id", "text", 256)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L)._3 < out(2L)._3 && out(3L)._3 < out(2L)._3)
    // n_trans = tokens - 1
    assert(out(1L)._1 == 5 && out(2L)._1 == 5)
    // lp_micro is a sum of negative log-prob micro-units
    assert(out.values.forall(_._2 < 0L))
  }

  test("ngram-lm: perplexity scores are invariant under repartitioning " +
      "(exact micro-int sums)") {
    def run(parts: Int) =
      NgramLm.perplexity(lmRaw.repartition(parts), lmTarget,
        "doc_id", "text", 256)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(run(1) == run(7))
  }

  test("ngram-lm: pooled-CE filter keeps the target-like side and is a " +
      "subset of the scored docs") {
    val scored = NgramLm.perplexity(lmRaw, lmTarget, "doc_id", "text", 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val kept = NgramLm.keepBelowPooledCe(lmRaw, lmTarget,
      "doc_id", "text", 256)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(scored.keySet))
    // every kept doc has ppl <= every dropped doc's ppl
    val dropped = scored.keySet -- kept
    for (k <- kept; d <- dropped) assert(scored(k) <= scored(d))
    // the out-of-domain doc is dropped on this fixture
    assert(!kept.contains(2L) && kept.nonEmpty)
  }

  // ------------------------------------------------------------ Packing

  private def packDocs = Seq(
    (1L, "aaaa bbbb cccc dddd"),        // 4 tokens
    (2L, "eeeeeeee ffff"),              // 2 + 1 = 3 tokens
    (5L, "gg hh ii jj kk ll mm nn"),    // 8 tokens
    (9L, "x")                           // 1 token
  ).toDF("doc_id", "text")

  test("packing: spans are contiguous, start at 0, and conserve tokens") {
    val spans = Packing.tokenSpans(packDocs, "doc_id", "text", 2L)
      .orderBy("id").collect()
    assert(spans.head.getLong(2) == 0L)                   // first tok_start
    spans.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) == b.getLong(2))                // end == next start
    }
    val total = spans.map(r => r.getLong(3) - r.getLong(2)).sum
    assert(total == spans.map(_.getLong(1)).sum)
  }

  test("packing: two-level prefix sum is invariant to blockWidth") {
    def spans(w: Long) =
      Packing.tokenSpans(packDocs, "doc_id", "text", w)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .toSet
    assert(spans(1L) == spans(3L) && spans(3L) == spans(1L << 20))
  }

  test("a document with a null id fails the token spans and the token " +
      "budget instead of silently dropping out") {
    val withNull = Seq[(Option[Long], String, String)](
      (Some(1L), "aaaa bbbb", "web"), (None, "cccc dddd", "web"),
      (Some(3L), "eeee", "wiki")).toDF("doc_id", "text", "source")
    def failsOnNullId(df: => org.apache.spark.sql.DataFrame) = {
      val e = intercept[Exception](df.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("null id"))), e)
    }
    failsOnNullId(Packing.tokenSpans(withNull, "doc_id", "text", 2L))
    failsOnNullId(graft.operators.Mixing.takeByTokenBudget(withNull,
      "doc_id", "text", "source", 100L, 2L))
  }

  test("packing: chunk manifest conserves tokens and respects seqLen") {
    val L = 5L
    val chunks = Packing.packedChunks(packDocs, "doc_id", "text", L, 2L)
      .collect()
    val spans = Packing.tokenSpans(packDocs, "doc_id", "text", 2L).collect()
    assert(chunks.map(_.getLong(3)).sum == spans.map(_.getLong(1)).sum)
    assert(chunks.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= L))
    assert(chunks.forall(r => r.getLong(2) >= 0 && r.getLong(2) < L))
    // every sequence except possibly the last is exactly full
    val perSeq = chunks.groupBy(_.getLong(1)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (seq, n) =>
      if (seq != lastSeq) assert(n == L, s"seq $seq holds $n of $L tokens")
    }
  }

  test("packing: per-doc sequence summary agrees with the exploded " +
      "manifest") {
    val summary = Packing.packSequences(packDocs, "doc_id", "text", 5L, 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("seq_first"), r.getAs[Long]("seq_last"),
          r.getAs[Long]("n_seqs"))).toMap
    val manifest = Packing.packedChunks(packDocs, "doc_id", "text", 5L, 2L)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1))).toMap
    summary.foreach { case (id, (first, last, n)) =>
      val seqs = manifest(id).sorted
      assert(seqs.head == first && seqs.last == last && seqs.length == n)
    }
  }

  // ------------------------------------------------------------- Splits

  test("splits: assignment is total, disjoint, id-deterministic, and " +
      "roughly proportional") {
    val ids = (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val assigned = Splits.assignSplit(ids, "doc_id", 800, 100)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(assigned.size == 2000)
    val byName = assigned.values.groupBy(identity).view.mapValues(_.size)
    // binomial 3-sigma bounds around 1600/200/200
    assert(math.abs(byName("train") - 1600) < 54)
    assert(math.abs(byName("val") - 200) < 41)
    assert(math.abs(byName("test") - 200) < 41)
    // repartitioning cannot move a document between splits
    val again = Splits.assignSplit(ids.repartition(7), "doc_id", 800, 100)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == assigned)
    // onlySplit slices are disjoint and cover everything
    val parts = Seq("train", "val", "test").map(s =>
      Splits.onlySplit(ids, "doc_id", s, 800, 100)
        .select("doc_id").as[Long].collect().toSet)
    assert(parts.map(_.size).sum == 2000)
    assert(parts.reduce(_ ++ _).size == 2000)
  }
}
