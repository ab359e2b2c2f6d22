package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-level BPE tokenizer — the GPT-2 tokenization algorithm
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units"; byte-level variant per Radford et al. 2019), built
  * from its three public components:
  *
  *  1. the GPT-2 PRE-TOKENIZER regex (contractions, letter runs, digit
  *     runs, punctuation runs, trailing whitespace) — merges never cross
  *     pre-token boundaries;
  *  2. the byte↔unicode BIJECTION (every byte 0..255 maps to a printable
  *     char, so merges operate on strings while staying byte-exact and
  *     lossless for ANY input — emoji, CJK, binary junk);
  *  3. a ranked MERGES table applied greedily (lowest rank first), the
  *     `merges.txt` of a published vocab or one learned by [[train]].
  *
  * This module is the real-tokenizer seam behind the packing / token-
  * budget operators ([[graft.operators.Packing.packSequencesFromCounts]],
  * [[graft.operators.Mixing.takeByTokenBudgetFromCounts]]): swap the
  * whitespace/punct `tokenCountEstimate` column for [[tokenCount]] and
  * the manifests are built from real token counts. A deployment with a
  * published vocab ships its `merges.txt` verbatim via [[Merges.parse]];
  * this container has no network, so tests and the gate query train a
  * small table from the corpus itself — same algorithm, same code path.
  *
  * 100 TB shape: ENCODING is embarrassingly parallel — the merges table
  * rides the serialized plan as a string literal (≤ ~500 KB for a 50K
  * vocab, one copy per executor, same distribution cost as a broadcast)
  * and each row tokenizes independently inside a native expression
  * ([[graft.plans.BpeTokenCount]], map-only, no shuffle). TRAINING is
  * inherently sequential-global (each merge depends on counts under all
  * previous merges), which is why every production tokenizer is trained
  * ONCE on a bounded sample and applied everywhere — [[trainOnSample]]
  * mirrors that: a driver-side fit over an explicitly capped sample,
  * never a corpus pass.
  *
  * Reference anchor: the reference has no tokenizer (batch SQL over
  * retail rows); this is brief-mandated LLM-pipeline surface.
  */
object Bpe {

  /** GPT-2 `bytes_to_unicode`: bytes that are printable/non-space keep
    * their own code point; the remaining 68 map to 256+n in order. The
    * mapping is a bijection, so [[decode]] is exact byte recovery. */
  val byteToChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (keep(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }
  private val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => (c, b.toByte) }.toMap

  /** The GPT-2 pre-tokenizer. Note `(?!\S)`: a whitespace run before a
    * non-space keeps its last space attached to the following token
    * (" ?\p{L}+" etc.), so spaces travel with the word they precede. */
  private val preTokPattern = java.util.regex.Pattern.compile(
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+""")

  def preTokenize(text: String): Vector[String] = {
    val m = preTokPattern.matcher(text)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** A pre-token as byte-mapped single-char symbols. */
  def toByteSymbols(word: String): Vector[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < bytes.length) {
      out += String.valueOf(byteToChar(bytes(i) & 0xff))
      i += 1
    }
    out.result()
  }

  /** An ordered merges table. `serialized` is the `merges.txt` wire form
    * (one "left right" pair per line) — the interchange format with
    * published vocabs and the literal the native expression carries. */
  final case class Merges(pairs: IndexedSeq[(String, String)])
      extends Serializable {
    @transient lazy val ranks: Map[(String, String), Int] =
      pairs.zipWithIndex.toMap
    def serialized: String =
      pairs.map { case (a, b) => s"$a $b" }.mkString("\n")
    /** Vocabulary in id order: the 256 base byte symbols, then one entry
      * per merge — the GPT-2 id assignment scheme (special tokens would
      * append after; none are defined here). */
    def vocab: IndexedSeq[String] =
      (0 until 256).map(b => String.valueOf(byteToChar(b))) ++
        pairs.map { case (a, b) => a + b }
    @transient lazy val tokenIds: Map[String, Int] =
      vocab.zipWithIndex.toMap
    /** Per-instance, per-thread hot-word LRU (Zipf makes the pre-token
      * stream massively repetitive — the standard tokenizer trick).
      * Held INSIDE the instance so the cache lives and dies with its
      * vocabulary: a shared cache keyed by `identityHashCode(merges)`
      * can collide across instances (identity hashes are not unique)
      * and silently return another vocabulary's tokenization. */
    @transient private lazy val wordCache = new ThreadLocal[
        java.util.LinkedHashMap[String, Vector[String]]] {
      override def initialValue() =
        new java.util.LinkedHashMap[String, Vector[String]](
            1 << 12, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Vector[String]]): Boolean =
            size() > 65536
        }
    }
    /** [[applyMerges]] on one pre-token, memoized per thread. */
    def cachedTokens(word: String): Vector[String] = {
      val cache = wordCache.get()
      var hit = cache.get(word)
      if (hit == null) {
        hit = applyMerges(toByteSymbols(word), this)
        cache.put(word, hit)
      }
      hit
    }
  }

  object Merges {
    /** Parse `merges.txt` content: blank lines and the conventional
      * `#version` header are skipped; each other line is "left right". */
    def parse(text: String): Merges = Merges(
      text.linesIterator
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val sp = l.indexOf(' ')
          require(sp > 0 && l.indexOf(' ', sp + 1) < 0,
            s"Bpe.Merges.parse: malformed merge line '$l'")
          (l.substring(0, sp), l.substring(sp + 1))
        }
        .toIndexedSeq)
  }

  /** Greedy BPE: repeatedly merge the adjacent pair with the LOWEST rank
    * until no adjacent pair is in the table (the published algorithm,
    * applied left-to-right per chosen pair). */
  def applyMerges(symbols: Vector[String], merges: Merges): Vector[String] = {
    if (symbols.length < 2) return symbols
    val ranks = merges.ranks
    var syms = symbols
    var done = false
    while (!done && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges.pairs(bestRank)
        syms = mergePair(syms, a, b)
      }
    }
    syms
  }

  /** `syms` with each (a, b) pair fused into `a + b`, scanning left to
    * right without overlap. */
  private def mergePair(syms: Vector[String], a: String,
                        b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += a + b
        j += 2
      } else {
        out += syms(j)
        j += 1
      }
    }
    out.result()
  }

  /** Tokenize one pre-token (no cache — see [[encode]] for the cached
    * path). */
  def encodeWord(word: String, merges: Merges): Vector[String] =
    applyMerges(toByteSymbols(word), merges)

  /** Tokenize a text: pre-tokenize, BPE each pre-token through the
    * Merges instance's per-thread hot-word LRU ([[Merges.cachedTokens]]). */
  def encode(text: String, merges: Merges): Vector[String] =
    preTokenize(text).flatMap(merges.cachedTokens)

  def countTokens(text: String, merges: Merges): Long = {
    var n = 0L
    preTokenize(text).foreach(w => n += merges.cachedTokens(w).length)
    n
  }

  /** Exact inverse of [[encode]]: token strings are byte-mapped chars, so
    * concatenating and un-mapping recovers the original bytes. */
  def decode(tokens: Seq[String]): String = {
    val sb = new StringBuilder
    tokens.foreach(sb.append)
    val bytes = new Array[Byte](sb.length)
    var i = 0
    while (i < sb.length) {
      bytes(i) = charToByte(sb.charAt(i))
      i += 1
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Learn a merges table (Sennrich BPE training): count adjacent symbol
    * pairs over the word-frequency table, merge the most frequent pair,
    * repeat. Deterministic: ties break on the lexicographically smallest
    * pair; training stops early when the best pair occurs only once
    * (merging hapax pairs memorizes the sample). Cost is
    * O(numMerges × Σ word lengths) on the DRIVER — see the object
    * scaladoc for why training is a bounded-sample, not a corpus, pass. */
  def train(texts: IterableOnce[String], numMerges: Int): Merges = {
    val wordFreq = new java.util.HashMap[Vector[String], Long]()
    texts.iterator.foreach { t =>
      preTokenize(t).foreach { w =>
        val syms = toByteSymbols(w)
        if (syms.length >= 2)
          wordFreq.merge(syms, 1L, (a, b) => a + b)
      }
    }
    trainFromWordFreq({
      import scala.jdk.CollectionConverters._
      wordFreq.asScala.toVector
    }, numMerges)
  }

  /** The merge-learning loop proper, over an already-aggregated
    * word-frequency table (symbol-vector → corpus count). ORDER-FREE:
    * every step is a max under a total ordering or a content-keyed
    * re-aggregation, so any enumeration of the same multiset yields the
    * identical merge list — the property that lets [[trainOnCorpus]]'s
    * distributed count feed the same loop bit-equally. */
  private def trainFromWordFreq(wordFreq: Vector[(Vector[String], Long)],
                                numMerges: Int): Merges = {
    val merges = IndexedSeq.newBuilder[(String, String)]
    var words = wordFreq
    var iter = 0
    var exhausted = false
    while (iter < numMerges && !exhausted) {
      val pairFreq = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          pairFreq.merge((syms(i), syms(i + 1)), f, (a, b) => a + b)
          i += 1
        }
      }
      if (pairFreq.isEmpty) exhausted = true
      else {
        import scala.jdk.CollectionConverters._
        val (best, bf) = pairFreq.asScala.maxBy { case ((a, b), f) =>
          // max by frequency, then lexicographically SMALLEST pair:
          // invert the string order into the comparison key
          (f, a, b): (Long, String, String)
        }(Ordering.Tuple3(Ordering.Long,
          Ordering.String.reverse, Ordering.String.reverse))
        if (bf < 2) exhausted = true
        else {
          merges += best
          val (a, b) = best
          words = words.map { case (syms, f) =>
            if (syms.length < 2) (syms, f)
            else (mergePair(syms, a, b), f)
          }.groupMapReduce(_._1)(_._2)(_ + _).toVector
          iter += 1
        }
      }
    }
    Merges(merges.result())
  }

  /** [[train]] over a bounded corpus sample: the first `sampleRows` rows
    * in id order (deterministic across engines and partitionings). The
    * collect is capped by construction — tokenizer fitting is the one
    * deliberately driver-side step of the pipeline. */
  def trainOnSample(docs: DataFrame, id: String, text: String,
                    numMerges: Int, sampleRows: Int = 1000): Merges = {
    val rows = docs.select(col(text)).where(col(text).isNotNull)
      .orderBy(col(id)).limit(sampleRows).collect()
    train(rows.iterator.map(_.getString(0)), numMerges)
  }

  /** CORPUS-scale training: the word-frequency aggregation — the only
    * step that touches every byte — runs DISTRIBUTED (map-side
    * pre-tokenize, one word-grain exchange with partial combine), and
    * only the aggregated (word, count) dictionary streams to the driver
    * merge loop via toLocalIterator (word-TYPE grain: bounded by
    * vocabulary, not corpus — and `minFreq` floors it further; HF
    * tokenizers train exactly this way). With `minFreq = 1` the
    * dictionary is the full multiset and the result is BIT-EQUAL to
    * [[train]] over the same texts ([[trainFromWordFreq]] is
    * order-free) — the q_bpe_train gate REQUIREs that parity. At
    * 100 TB, set `minFreq` > 1 to keep the driver dict at the
    * heavy-vocab scale a fit box holds — as an APPROXIMATION: a pair's
    * count aggregates over many word types, so dropping the sub-minFreq
    * tail removes their collective pair mass and can change which merges
    * are learned (not merely prune unviable candidates). The gate proves
    * parity at minFreq = 1 only; minFreq > 1 is the standard
    * frequency-floor trade (HF tokenizers' `min_frequency`), documented
    * divergence like ALS vs the exact CF path. */
  def trainOnCorpus(docs: DataFrame, text: String, numMerges: Int,
                    minFreq: Long = 1L): Merges = {
    import org.apache.spark.sql.Encoders
    val wordCounts = docs.select(col(text)).where(col(text).isNotNull)
      .as[String](Encoders.STRING)
      .mapPartitions(_.flatMap(preTokenize))(Encoders.STRING)
      .groupBy(col("value").as("w")).agg(count(lit(1)).as("f"))
      .where(col("f") >= minFreq)
    val dict = Vector.newBuilder[(Vector[String], Long)]
    wordCounts.toLocalIterator().forEachRemaining { r =>
      val syms = toByteSymbols(r.getString(0))
      if (syms.length >= 2) dict += ((syms, r.getLong(1)))
    }
    trainFromWordFreq(dict.result(), numMerges)
  }

  /** Column of real BPE token counts — the native, codegen'd counterpart
    * of `tokenCountEstimate` ([[graft.plans.BpeTokenCount]]); requires
    * [[graft.plans.GraftExtensions]] registered on the session. */
  def tokenCount(text: Column, merges: Merges): Column =
    call_function("bpe_count", text, lit(merges.serialized))
}
