package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expression for `Σ aᵢ·bᵢ` over two numeric-array columns
  * (each side independently `ARRAY<FLOAT>` or `ARRAY<DOUBLE>`),
  * accumulating in double.
  *
  * Why a custom Expression (the brief's option (b)) instead of the
  * `aggregate(zip_with(...))` higher-order-function form: HOFs are
  * interpreted per element (lambda closure per item, boxed function
  * dispatch), which we measured as the dominant cost of the all-pairs
  * cosine queries at sf0.1. This expression generates a tight primitive
  * Java loop inside whole-stage codegen (`doGenCode`), with an interpreted
  * `nullSafeEval` fallback. The accumulation order (index 0..n-1, double)
  * is IDENTICAL to the HOF fold it replaces, so results are bit-equal and
  * the DuckDB oracles are unaffected.
  *
  * Null array elements are treated as 0 (embeddings never contain them;
  * `ArrayData.getFloat` on a null slot returns the default).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fvec_dot expects ARRAY<FLOAT> or ARRAY<DOUBLE> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_dot"

  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDouble(left), isDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val ax = if (isDouble(left)) s"$a.getDouble($i)"
               else s"(double) $a.getFloat($i)"
      val bx = if (isDouble(right)) s"$b.getDouble($i)"
               else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $ax * $bx;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native 32-bit portable SimHash over a token array: each token's
  * md5-derived 60-bit hash (the value of
  * `CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)` — first 15 hex
  * digits of md5, i.e. the big-endian first 8 bytes logically shifted
  * right by 4) votes ±1 on bits 0..31; the sign of each vote sum is the
  * fingerprint bit. Bit-identical to the HOF form it replaces in
  * [[graft.operators.NearDup.simHashPortable]], which costs tokens×32
  * interpreted lambda calls per document; md5 stays portable so the
  * DuckDB oracle still mirrors the pipeline exactly. */
case class SimHashPortable32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_portable32 expects ARRAY<STRING>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_portable32"

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.simHash(input.asInstanceOf[ArrayData], 32,
      GraftHash.md5Prefix60)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Native codegen'd `md5_prefix60(string) -> BIGINT`: the first 60 bits
  * of md5 as a non-negative long — bit-identical to
  * `CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)`, the portable
  * digest the whole curation family keys on (MinHash shingle hashes,
  * DSIR word buckets). The SQL form materializes a 32-char hex string,
  * substrings it, and re-parses base-16 PER VALUE — pure allocation
  * overhead on streams with one hash per shingle/word occurrence. This
  * expression digests straight from the UTF8String bytes into a long
  * inside whole-stage codegen (ThreadLocal MessageDigest, no hex
  * round-trip). DuckDB oracles keep the hex-route SQL and still match
  * exactly; a property test pins the bit-equality against the expr
  * form. */
case class Md5Prefix60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix60 expects STRING, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.md5Prefix60(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.GraftHash.md5Prefix60($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Standalone object (NOT a companion — the case class would swallow the
  * static forwarder janino needs) hosting the digest kernel called from
  * generated code. */
object GraftHash {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** First 15 hex digits of md5 = big-endian first 8 bytes >>> 4. */
  def md5Prefix60(s: org.apache.spark.unsafe.types.UTF8String): Long =
    md5First64(s) >>> 4

  /** Full first 16 hex digits of md5 as a long (two's complement of the
    * unsigned 64-bit value — same BITS as DuckDB's
    * `CAST(('0x' || substr(md5(s), 1, 16)) AS UBIGINT)`). */
  def md5First64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var j = 0
    while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    v
  }

  /** SimHash (Charikar '02) over a token array: each non-null token's
    * `hash` votes ±1 on bits 0 until `bits`; the sign of each vote sum is
    * the fingerprint bit. The one vote loop behind both portable SimHash
    * expressions. */
  def simHash(tokens: ArrayData, bits: Int,
              hash: org.apache.spark.unsafe.types.UTF8String => Long): Long = {
    val votes = new Array[Long](bits)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      val s = tokens.getUTF8String(t)
      if (s != null) {
        val h = hash(s)
        var i = 0
        while (i < bits) {
          votes(i) += (if (((h >>> i) & 1L) == 1L) 1L else -1L)
          i += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var i = 0
    while (i < bits) {
      if (votes(i) > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Kernel of [[WordShingleHashes]]: md5Prefix60 of every w-word
    * shingle of `text`. Tokenization replicates the SQL chain exactly:
    * `trim` strips 0x20 SPACES only (UTF8String.trim — Spark's default
    * StringTrim), and the `\s+` split keeps leading/trailing empty
    * tokens the way Spark's `split(str, regex)` (limit −1) does. Words
    * join with a single ' ' including empty tokens — concat_ws
    * semantics. Token bytes are encoded once; each shingle is one
    * digest over (w bytes arrays + w−1 separators). */
  def wordShingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
                        w: Int): Array[Long] = {
    require(w >= 1, s"word_shingle_hashes: w must be >= 1, got $w")
    val toks = wsPattern.split(text.trim().toString, -1)
    val n = toks.length
    if (n < w) return Array.emptyLongArray
    val tb = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    val md = digest.get()
    val out = new Array[Long](n - w + 1)
    var i = 0
    while (i <= n - w) {
      md.reset()
      var j = 0
      while (j < w) {
        if (j > 0) md.update(' '.toByte)
        md.update(tb(i + j))
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      out(i) = v >>> 4
      i += 1
    }
    out
  }

  /** Kernel of [[CharGramHashes]]: md5Prefix60 of every k-char gram.
    * Walks the UTF-8 buffer once to index character start offsets, then
    * digests byte slices in place. */
  def charGramHashes(text: org.apache.spark.unsafe.types.UTF8String,
                     k: Int): Array[Long] = {
    require(k >= 1, s"char_gram_hashes: k must be >= 1, got $k")
    val bytes = text.getBytes
    // character start offsets (n+1 entries; last = bytes.length)
    var n = 0
    var off = 0
    val starts = new Array[Int](bytes.length + 1)
    while (off < bytes.length) {
      starts(n) = off
      off += org.apache.spark.unsafe.types.UTF8String
        .numBytesForFirstByte(bytes(off))
      n += 1
    }
    starts(n) = bytes.length
    if (n < k) return Array.emptyLongArray
    val md = digest.get()
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - starts(i))
      val d = md.digest()
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = v >>> 4
      i += 1
    }
    out
  }

  /** Kernel of [[MinHashSig]]: the n-component portable MinHash
    * signature of `text` in ONE pass — per shingle hash
    * `h = md5Prefix60 % P` (P = 2³¹ − 1), component j is
    * `min((h · a_j + b_j) % P)` with the same universal-hash family as
    * `graft.operators.NearDup.MinHashA/B` (`a_j = 2654435761·(2j+1) mod
    * P`, `b_j = 1779033703·(j+1) mod P` — an InvariantsCheck property
    * pins this duplication against the HOF chain built from NearDup's
    * constants, so the two definitions cannot drift apart silently).
    * Documents with fewer than w tokens yield an empty array. */
  def minHashSig(text: org.apache.spark.unsafe.types.UTF8String,
                 w: Int, n: Int): Array[Long] = {
    // the bound IS the published table size (round-12 advice): every n
    // this kernel admits has its a_j/b_j in NearDup.MinHashA/B and is
    // covered by the InvariantsCheck bit-equality property
    require(n >= 1 && n <= graft.operators.NearDup.MinHashA.size,
      s"minhash_sig: n must be in " +
        s"[1, ${graft.operators.NearDup.MinHashA.size}]: $n")
    val hs = wordShingleHashes(text, w)
    if (hs.isEmpty) return Array.emptyLongArray
    val p = 2147483647L
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      val a = (2654435761L * (2 * j + 1)) % p
      val b = (1779033703L * (j + 1)) % p
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = ((hs(i) % p) * a + b) % p
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    out
  }
}

/** Native 64-bit PORTABLE SimHash over a token array: each token's full
  * 64-bit md5 prefix (big-endian first 8 bytes, the unsigned value of
  * `'0x' || substr(md5(t), 1, 16)`) votes ±1 on bits 0..63; the sign of
  * each vote sum is the fingerprint bit. The hash is one any engine can
  * reproduce, so the WHOLE production simhash path — 16-bit banding
  * included — mirrors into the DuckDB oracle
  * ([[graft.operators.NearDup.simHashPairs]]). One JVM call per ROW
  * instead of the HOF form's tokens×64 interpreted lambda invocations;
  * `CodegenFallback` is fine here, since the per-row loop dwarfs the
  * virtual-call overhead the fallback adds. */
case class SimHashPortable64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_portable64 expects ARRAY<STRING>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_portable64"

  override protected def nullSafeEval(input: Any): Any =
    GraftHash.simHash(input.asInstanceOf[ArrayData], 64,
      GraftHash.md5First64)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Native BPE token count: `bpe_count(text, merges)` where `merges` is a
  * FOLDABLE string literal in `merges.txt` form ("left right" per line).
  * The merges table is parsed ONCE per expression instance (transient
  * lazy) and the literal rides the serialized plan to every executor —
  * for a 50K-merge vocab ~500 KB, the same per-executor distribution
  * cost as a broadcast variable, with none of the lifecycle plumbing.
  * Per-row work is the greedy merge loop of [[graft.functions.Bpe]]
  * behind a per-thread hot-word LRU; codegen emits a single virtual call
  * on the referenced expression instance (the tokenizer loop is
  * genuinely imperative — inlining it as generated source would blow the
  * janino method-size budget for zero gain).
  *
  * Why token COUNT and not the token array: the packing/budget operators
  * ([[graft.operators.Packing]], [[graft.operators.Mixing]]) consume
  * counts only, and returning the array would ship every token string
  * through the row format just to take its length. */
case class BpeTokenCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) =>
        TypeCheckResult.TypeCheckFailure(
          "bpe_count expects a FOLDABLE merges-table literal as its " +
            "second argument")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bpe_count expects (STRING, STRING), got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count"

  @transient private lazy val merges: graft.functions.Bpe.Merges = {
    val v = right.eval()
    require(v != null, "bpe_count: merges literal must not be null")
    graft.functions.Bpe.Merges.parse(v.toString)
  }

  def countUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long =
    graft.functions.Bpe.countTokens(s.toString, merges)

  override protected def nullSafeEval(text: Any, m: Any): Any =
    countUtf8(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      val ref = ctx.addReferenceObj("bpeCounter", this,
        classOf[BpeTokenCount].getName)
      s"${ev.value} = $ref.countUtf8($t);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Bloom-filter membership probe: `bloom_might_contain(s, sketch)`
  * where `sketch` is a FOLDABLE binary literal holding a serialized
  * `org.apache.spark.util.sketch.BloomFilter` (`writeTo` wire form —
  * see [[BloomMightContain.column]]). The literal rides the plan once
  * per stage, the same distribution cost as a broadcast variable minus
  * the lifecycle plumbing; it targets the per-index ingestion sketches
  * of [[graft.operators.Dedup.dedupIncrementalBloom]] (~1.2 B/digest at
  * 1% fpp — a 100M-digest filter is ~120 MB and should graduate to an
  * explicit broadcast + mapPartitions instead). Deserialized ONCE per
  * executor via a transient lazy; bit semantics match
  * `BloomFilter.putString` (membership hashes the UTF-8 bytes). */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, BinaryType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          "bloom_might_contain expects a FOLDABLE serialized-sketch " +
            "literal as its second argument")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects (STRING, BINARY), got ${l.sql} " +
          s"and ${r.sql}")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom
      : org.apache.spark.util.sketch.BloomFilter = {
    val v = right.eval()
    require(v != null,
      "bloom_might_contain: sketch literal must not be null")
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(v.asInstanceOf[Array[Byte]]))
  }

  def mightContain(s: org.apache.spark.unsafe.types.UTF8String): Boolean =
    bloom.mightContainBinary(s.getBytes)

  override protected def nullSafeEval(s: Any, sketch: Any): Any =
    mightContain(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) => {
      val ref = ctx.addReferenceObj("bloomProbe", this,
        classOf[BloomMightContain].getName)
      s"${ev.value} = $ref.mightContain($s);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {
  /** Column form: serializes the filter into the binary literal the
    * expression expects. Requires [[GraftExtensions]] registered. */
  def column(c: org.apache.spark.sql.Column,
             bloom: org.apache.spark.util.sketch.BloomFilter)
      : org.apache.spark.sql.Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    org.apache.spark.sql.functions.call_function("bloom_might_contain",
      c, org.apache.spark.sql.functions.lit(bos.toByteArray))
  }
}

/** Native `word_shingle_hashes(text, w) -> ARRAY<BIGINT>`: the 60-bit
  * md5-prefix hash of every overlapping w-word shingle of `text`, in one
  * pass — the fused form of
  * `transform(sequence(1, size(words) − w + 1), i ->
  *    md5_prefix60(concat_ws(' ', element_at(words, i), …)))`
  * over `words = split(trim(text), '\\s+')`. The HOF chain evaluates an
  * interpreted lambda per shingle (closure dispatch + a materialized
  * words array + per-shingle concat allocations) — the CPU center of
  * the minhash/decontamination pipelines once their scans were spread
  * (r10 ledger). Here the split happens once per document, token bytes
  * are UTF-8-encoded once and fed to a ThreadLocal MD5 digest per
  * shingle window. Bit-equality with the HOF chain (same tokenization
  * incl. Spark `trim`'s space-only semantics and `split`'s kept empty
  * tokens, same ' ' joint, same digest) is pinned by an InvariantsCheck
  * property, so the DuckDB oracles are untouched. Documents with fewer
  * than w tokens yield an empty array (the explode drops them, matching
  * the old `size(words) >= w` gate); w = 1 degenerates to per-word
  * hashes (the n-gram LM tokenizer path). CodegenFallback: the per-ROW
  * work is a tight loop over all shingles, so the interpreted dispatch
  * is amortized per document, not per shingle. */
case class WordShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingle_hashes expects (STRING, INT), got " +
          s"(${other._1.sql}, ${other._2.sql})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override def nullSafeEval(text: Any, w: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GraftHash.wordShingleHashes(
        text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        w.asInstanceOf[Int]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native `char_gram_hashes(text, k) -> ARRAY<BIGINT>`: the 60-bit
  * md5-prefix of every overlapping k-CHARACTER gram of `text` — the
  * fused form of
  * `md5_prefix60(substring(text, i, k))` over
  * `transform(sequence(1, length(text) − k + 1), …)` + explode, the
  * decontamination unit ([[graft.operators.Decontaminate.gramHashes]]).
  * The HOF chain pays an interpreted substring lambda and a k-char
  * string copy per position (a 30-gram re-copies every char ~30×); here
  * the UTF-8 byte offsets of each character are computed once and every
  * gram digests a byte SLICE of the original buffer — zero per-gram
  * allocation. Character semantics (not bytes) match SQL
  * `length`/`substring`; texts shorter than k chars yield an empty
  * array, matching the `length(text) >= k` gate. Bit-equality is pinned
  * by an InvariantsCheck property; oracles unchanged. */
case class CharGramHashes(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"char_gram_hashes expects (STRING, INT), got " +
          s"(${other._1.sql}, ${other._2.sql})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_gram_hashes"

  override def nullSafeEval(text: Any, k: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GraftHash.charGramHashes(
        text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        k.asInstanceOf[Int]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native `minhash_sig(text, w, n) -> ARRAY<BIGINT>`: the n-component
  * portable MinHash signature of `text` over w-word shingles, fused into
  * ONE pass — the per-ROW form of the batch pipeline's
  * `groupBy(id).agg(min((h·a_j + b_j) % P))` chain, for consumers that
  * need the signature next to the row (the streaming near-dup operator,
  * where an aggregation cannot precede the stateful operator). The HOF
  * equivalent (`n × array_min(transform(word_shingle_hashes(...)))`)
  * re-walks the shingle-hash array once per component through an
  * interpreted lambda; here the array is hashed once and all n minima
  * update in a tight primitive loop. Bit-equality with the HOF chain
  * (NearDup's published constants) is pinned by an InvariantsCheck
  * property. CodegenFallback for the same per-document-amortization
  * reason as [[WordShingleHashes]]. */
case class MinHashSig(first: Expression, second: Expression,
                      third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects (STRING, INT, INT), got " +
          s"(${other._1.sql}, ${other._2.sql}, ${other._3.sql})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(text: Any, w: Any, n: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      GraftHash.minHashSig(
        text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        w.asInstanceOf[Int], n.asInstanceOf[Int]))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Registers graft's native expressions. Two paths:
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  *    (the canonical `SparkSessionExtensions` route), or
  *  - [[GraftExtensions.register]] imperatively on an existing session
  *    (used by the operators so any session works).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Registration = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  val registrations: Seq[Registration] = Seq(
    (new FunctionIdentifier("fvec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "fvec_dot"),
      (children: Seq[Expression]) =>
        FloatVecDot(children.head, children(1))),
    (new FunctionIdentifier("simhash_portable32"),
      new ExpressionInfo(classOf[SimHashPortable32].getName,
        "simhash_portable32"),
      (children: Seq[Expression]) => SimHashPortable32(children.head)),
    (new FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      (children: Seq[Expression]) => Md5Prefix60(children.head)),
    (new FunctionIdentifier("simhash_portable64"),
      new ExpressionInfo(classOf[SimHashPortable64].getName,
        "simhash_portable64"),
      (children: Seq[Expression]) => SimHashPortable64(children.head)),
    (new FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_count"),
      (children: Seq[Expression]) =>
        BpeTokenCount(children.head, children(1))),
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[Expression]) =>
        BloomMightContain(children.head, children(1))),
    (new FunctionIdentifier("word_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName,
        "word_shingle_hashes"),
      (children: Seq[Expression]) =>
        WordShingleHashes(children.head, children(1))),
    (new FunctionIdentifier("char_gram_hashes"),
      new ExpressionInfo(classOf[CharGramHashes].getName,
        "char_gram_hashes"),
      (children: Seq[Expression]) =>
        CharGramHashes(children.head, children(1))),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) =>
        MinHashSig(children.head, children(1), children(2))))

  def register(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
