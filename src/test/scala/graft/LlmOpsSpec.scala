package graft

import graft.operators.{Ann, Boilerplate, Collab, Multimodal, NearDup, TextAnalysis}
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old barn"),
    (2L, "the quick brown fox jumps over the lazy dog near the old shed"),
    (3L, "completely different words about spark engines and parquet files"),
    (4L, "short doc")
  ).toDF("doc_id", "text")

  test("near-dup: exact Jaccard separates near-identical from unrelated") {
    val pairs = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.0, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(pairs((1L, 2L)) > 0.7)      // one word differs
    assert(pairs.getOrElse((1L, 3L), 0.0) < 0.05)
  }

  test("near-dup: MinHash-LSH finds the planted near-duplicate") {
    val cand = NearDup.minHashCandidates(docs, "doc_id", "text", 3, 0.5)
      .collect()
    assert(cand.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("near-dup: portable MinHash-LSH finds the planted near-duplicate " +
      "with exact Jaccard attached") {
    val out = NearDup.minHashPortable(docs, "doc_id", "text", 3, 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) > 0.7)
    // unrelated docs must not survive the jaccard verify
    assert(!out.contains((1L, 3L)))
  }

  test("near-dup: portable SimHash pairs the planted near-duplicate") {
    // 40-token docs differing in ONE word: hamming 2, inside the 8-bit
    // banding guarantee (the 13-token `docs` fixture lands at hamming 5 —
    // too noisy for a 32-bit fingerprint)
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen"
    val near = base.replace("fourteen", "fifteen")
    val far = docs.where($"doc_id" === 3L).head().getString(1)
    val in = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val out = NearDup.simHashPortable(in, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) <= 3L)
    assert(!out.contains((1L, 3L)))
  }

  test("near-dup: SimHash hamming is small for near-dups, large otherwise") {
    val fp = NearDup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(2L)) < hamming(fp(1L), fp(3L)))
  }

  test("ANN: brute force ranks an identical vector first with cosine 1") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.7f, 0.7f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, vecs.where($"vec_id" === 1L),
      "vec_id", "embedding", 3).orderBy("rn").collect()
    assert(top(0).getAs[Long]("cand_id") == 2L)
    assert(top(0).getAs[Double]("cosine") == 1.0)
    assert(top(1).getAs[Long]("cand_id") == 4L)
  }

  test("fvec_dot on a double-array side is bit-equal to the HOF dot") {
    graft.plans.GraftExtensions.register(spark)
    val df = Seq(
      (Array(0.25f, -1.5f, 3.125f), Array(2.0, 0.5, -0.125)),
      (Array(1e-3f, 2e3f, -7.75f), Array(-1.0, 1e-4, 64.0)))
      .toDF("f", "d")
    val rows = df.select(
      Ann.nativeDot($"f", $"d").as("nat"),
      Ann.dot($"f", $"d").as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("ANN: IVF probe recalls a meaningful share of brute-force top-1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Ann.bruteForceTopK(e, e, "vec_id", "embedding", 1)
      .select($"query_id", $"cand_id".as("true_nn"))
    val ivf = Ann.ivfTopK(e, "vec_id", "embedding", 10, 8, 2)
      .select($"query_id", $"cand_id")
    val hits = brute.join(ivf,
      brute("query_id") === ivf("query_id")
        && brute("true_nn") === ivf("cand_id"))
      .count()
    val total = brute.count()
    val recall = hits.toDouble / total
    // loose bound: the corpus is label-clustered, so 2-of-8 probed cells
    // should catch most true neighbors; the test guards machinery + sanity
    assert(recall > 0.4, s"IVF recall@10 of top-1 = $recall")
    assert(ivf.groupBy("query_id").count().agg(max("count"))
      .head().getLong(0) <= 10)
  }

  test("ANN: SQ8 codes are in range and SQ8 top-10 recalls the " +
      "brute-force top-1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val enc = Ann.sqEncode(e, "vec_id", "embedding")
    // every code in [0,255]; dequantized value within half a step of the
    // original (the quantizer's defining error bound)
    val bad = enc.select(explode($"codes").as("c"))
      .where($"c" < 0 || $"c" > 255).count()
    assert(bad == 0)
    val err = enc.join(e, enc("id") === e("vec_id"))
      .select(expr("""aggregate(zip_with(vh, embedding, (a, b) ->
        abs(a - CAST(b AS DOUBLE))), CAST(0.0 AS DOUBLE),
        (m, x) -> greatest(m, x))""").as("max_err"))
      .agg(max($"max_err")).head().getDouble(0)
    val bounds = Ann.sqBounds(e, "embedding")
      .select(expr("""aggregate(zip_with(maxs, mins, (a, b) -> a - b),
        CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, x))""").as("span"))
      .head().getDouble(0)
    assert(err <= bounds / 255.0 / 2.0 + 1e-9,
      s"reconstruction err $err exceeds half a quantization step")
    // 8-bit reconstruction barely moves cosines: the true top-1 should
    // appear in the SQ8 top-10 for nearly every query
    val brute = Ann.bruteForceTopK(e, e, "vec_id", "embedding", 1)
      .select($"query_id", $"cand_id".as("true_nn"))
    val sq = Ann.sqTopK(e, e, "vec_id", "embedding", 10)
      .select($"query_id", $"cand_id")
    val hits = brute.join(sq, brute("query_id") === sq("query_id")
      && brute("true_nn") === sq("cand_id")).count()
    val recall = hits.toDouble / brute.count()
    assert(recall > 0.9, s"SQ8 recall@10 of top-1 = $recall")
  }

  test("ANN: multi-probe LSH recall dominates single-probe recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Ann.bruteForceTopK(e, e, "vec_id", "embedding", 1)
      .select($"query_id", $"cand_id".as("true_nn"))
    // candidate sets grow monotonically with probing, and the true NN has
    // the max cosine of any candidate — so its hit set is a superset
    val single = Ann.lshTopK(e, "vec_id", "embedding", 10, 8)
      .select($"query_id", $"cand_id")
    val multi = Ann.lshTopKMultiProbe(e, "vec_id", "embedding", 10, 8, 8)
      .select($"query_id", $"cand_id")
    def recallOf(df: org.apache.spark.sql.DataFrame) = brute.join(df,
      brute("query_id") === df("query_id")
        && brute("true_nn") === df("cand_id")).count()
    val rs = recallOf(single)
    val rm = recallOf(multi)
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(rm > 0)
  }

  test("ANN: sample-quantizer IVF recalls a meaningful share of " +
      "brute-force top-1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Ann.bruteForceTopK(e, e, "vec_id", "embedding", 1)
      .select($"query_id", $"cand_id".as("true_nn"))
    val ivf = Ann.ivfFlatTopK(e, "vec_id", "embedding", 10, 8, 2)
      .select($"query_id", $"cand_id")
    val hits = brute.join(ivf,
      brute("query_id") === ivf("query_id")
        && brute("true_nn") === ivf("cand_id")).count()
    val recall = hits.toDouble / brute.count()
    // sample centers are unoptimized, so the bar sits below k-means IVF's
    assert(recall > 0.25, s"IVF-flat recall@10 of top-1 = $recall")
  }

  test("dedupCorpus drops exact copies and near-dups, keeps lowest ids") {
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the sun goes down behind the tall green hills tonight"
    val docs = Seq(
      1L -> base,
      2L -> base,                                // exact copy of 1 → drop
      3L -> (base + " extra"),                   // near-dup of 1 → drop
      4L -> ("completely different words about spark catalyst plans " +
        "and shuffle partitions written for an unrelated purpose here"),
      5L -> base                                 // exact copy of 1 → drop
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.dedupCorpus(docs, "doc_id", "text",
        3, 0.5, 16, 4)
      .as[Long].collect().toSeq
    assert(kept == Seq(1L, 4L), s"kept=$kept")
  }

  test("bucketed cosine dups are a sound subset of exact cosine dups") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = keyed(Ann.cosineDupPairsLsh(e, "vec_id", "embedding", 0.4))
    val exact = keyed(Ann.cosineDupPairs(e, "vec_id", "embedding", 0.4))
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (p, c) => exact.get(p).contains(c) })
  }

  test("persisted IVF index: identical top-k to the inline path, " +
      "partition-pruned candidate scan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graftidx").toString
    Ann.writeIvfIndex(e, "vec_id", "embedding", path, 8)
    val indexed = Ann.ivfIndexedTopK(e, "vec_id", "embedding", path, 10, 2)
    val inline = Ann.ivfFlatTopK(e, "vec_id", "embedding", 10, 8, 2)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(keyed(indexed) == keyed(inline))
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected a partition-pruned candidate scan in:\n$plan")
  }

  test("ensureIvfIndex builds once: the second call honors the marker " +
      "and leaves the layout untouched") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dirPath = java.nio.file.Files.createTempDirectory("graftens")
    val path = dirPath.toString + "/idx"
    try {
      assert(Ann.ensureIvfIndex(e, "vec_id", "embedding", path, 8) == path)
      def mtimes = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator()
          .asScala.map(p =>
            p.toString -> java.nio.file.Files.getLastModifiedTime(p))
          .toMap
      }
      val before = mtimes
      // second call: marker present → NO rebuild, nothing rewritten
      assert(Ann.ensureIvfIndex(e, "vec_id", "embedding", path, 8) == path)
      assert(mtimes == before)
      // and the standing index answers identically to the inline plan
      val indexed = Ann.ivfIndexedTopK(e, "vec_id", "embedding", path, 10, 2)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val inline = Ann.ivfFlatTopK(e, "vec_id", "embedding", 10, 8, 2)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(indexed == inline)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("embedding moments: hand-checked sums, partition invariance, and " +
      "covariance derivation") {
    // vectors quantize exactly on the lattice: 1024·x integral
    val vs = Seq(
      Array(1.0, 0.0, -0.5),
      Array(0.5, 1.0, 0.25),
      Array(-1.0, 0.5, 0.0))
    val df = vs.map(Tuple1(_)).toDF("embedding")
    val got = Ann.embeddingMoments(df, "embedding").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size == 6) // d(d+1)/2 for d = 3
    val q = vs.map(_.map(x => math.floor(x * 1024.0 + 0.5).toLong))
    for (i <- 0 until 3; j <- i until 3) {
      val want = (3L, q.map(_(i)).sum, q.map(_(j)).sum,
        q.map(v => v(i) * v(j)).sum)
      assert(got((i, j)) == want, s"moment ($i,$j)")
    }
    // partition invariance: BIGINT sums cannot depend on the split
    val re = Ann.embeddingMoments(df.repartition(7), "embedding").collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(re == got)
    // covariance derives exactly: cov(0,1) = (Σqij − Σqi·Σqj/n)/n /1024²
    val (n, si, sj, sij) = got((0, 1))
    val cov = (sij.toDouble - si.toDouble * sj / n) / n / (1024.0 * 1024.0)
    val xs = vs.map(_(0)); val ys = vs.map(_(1))
    val mx = xs.sum / 3; val my = ys.sum / 3
    val want = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum / 3
    assert(math.abs(cov - want) < 1e-6)
  }

  test("IVF append: batch joins the index under the frozen centers and " +
      "is retrievable; resident rows untouched") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = e.where(col("vec_id") % 10 =!= 7)
    val batch = e.where(col("vec_id") % 10 === 7)
    val path = java.nio.file.Files.createTempDirectory("graftapp").toString
    Ann.writeIvfIndex(base, "vec_id", "embedding", path, 8)
    val centersBefore = spark.read.parquet(s"$path/centers").collect()
      .map(_.getLong(0)).sorted.toSeq
    Ann.appendToIvfIndex(batch, "vec_id", "embedding", path)
    // centers are frozen by append; the store holds base + batch exactly
    val centersAfter = spark.read.parquet(s"$path/centers").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(centersAfter == centersBefore)
    val stored = spark.read.parquet(s"$path/vectors")
    assert(stored.count() == e.count())
    assert(stored.select("id").distinct().count() == e.count())
    // appended ids are first-class query candidates: querying an
    // appended vector returns itself-adjacent neighbors from BOTH sides
    val got = Ann.ivfIndexedTopK(e, "vec_id", "embedding", path, 10, 2)
    val candIds = got.select("cand_id").distinct().collect()
      .map(_.getLong(0)).toSet
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.intersect(candIds).nonEmpty,
      "appended vectors never surfaced as candidates")
  }

  test("IVF cell-partitioned layout prunes probe reads to probed cells") {
    // the SCALE.md claim behind ivfTopK's 100 TB shape: with vectors
    // written partitioned by cell, a probe list becomes a
    // partition-pruned read — asserted on the physical plan
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("cell", col("vec_id") % 8)
    val dir = java.nio.file.Files.createTempDirectory("graftivf").toString
    e.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val probed = spark.read.parquet(dir).where(col("cell").isin(2, 5))
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"expected partition pruning in:\n$scan")
    assert(probed.count() == e.where(col("cell").isin(2, 5)).count())
  }

  test("text: token estimate and quality metrics on a known string") {
    val one = Seq((1L, "the cat, extraordinarily long-worded!"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.qualityMetrics(one, "doc_id", "text").head()
    assert(m.getAs[Long]("n_words") == 4L)
    // 'the'(1) + 'cat,'(1) + 'extraordinarily'(4) + 'long-worded!'(3)
    assert(m.getAs[Long]("token_estimate") == 9L)
    assert(m.getAs[Double]("stopword_ratio") == 0.25)
  }

  test("text: gopher rules score a clean doc keep and a bullet wall drop") {
    val clean = (1 to 60).map(i => s"word$i").mkString(
      "the quick brown fox is on it for a with ", " ", "")
    val bullets = (1 to 10).map(i => s"- item $i").mkString("\n")
    val df = Seq((1L, clean), (2L, bullets)).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("keep")) // all-bullet + too few words
    assert(out(2L).getAs[Double]("bullet_line_ratio") == 1.0)
    assert(out(1L).getAs[Long]("n_stop_hits") >= 2L)
  }

  test("text: repetition metrics flag duplicated lines and looped bigrams") {
    val looped = ("spam ham " * 10).trim            // "spam ham" dominates
    val dupLines = "alpha beta\nsame line\nsame line\nsame line"
    val df = Seq((1L, looped), (2L, dupLines)).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // 19 bigrams, "ham spam" x9 + "spam ham" x10 -> top ratio 10/19
    assert(out(1L).getAs[Long]("n_bigrams") == 19L)
    assert(out(1L).getAs[Double]("top_bigram_ratio") == 10.0 / 19)
    assert(out(1L).getAs[Double]("dup_line_ratio") == 0.0)
    // 4 lines, 2 distinct -> half the lines are duplicates
    assert(out(2L).getAs[Long]("n_lines") == 4L)
    assert(out(2L).getAs[Double]("dup_line_ratio") == 0.5)
  }

  test("text: pii scrub redacts emails and phones and counts them") {
    val df = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or call +4915551234567 now"),
      (2L, "no contact info here")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1L)
    assert(out(1L).getAs[Long]("n_phones") == 1L)
    assert(out(2L).getAs[Long]("n_emails") == 0L)
    // scrubbed length: original minus the two PII spans plus the tags
    val orig = "mail me at a.b+c@ex-ample.org or call +4915551234567 now"
    val scrubbed = "mail me at [EMAIL] or call [PHONE] now"
    assert(out(1L).getAs[Long]("n_chars_scrubbed") == scrubbed.length.toLong)
    assert(out(2L).getAs[Long]("n_chars_scrubbed") ==
      "no contact info here".length.toLong)
    assert(orig.length != scrubbed.length) // the scrub actually removed text
  }

  test("multimodal: partitioned codec path equals the expression stub") {
    val blobs = Multimodal.asBlobTable(docs.repartition(3), "doc_id", "text")
    val viaExpr = Multimodal.withDecodedMeta(blobs)
      .select($"id", $"decoded.width", $"decoded.height",
        $"decoded.channels", $"decoded.n_frames")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // text blobs match no image format, so the REAL default codec must
    // fall back to the stub arithmetic — identical output on this input
    val viaPartitions = Multimodal.decodePartitioned(blobs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(viaPartitions == viaExpr && viaExpr.size == 4)
  }

  test("multimodal: ImageIoCodec reads true dimensions/channels from " +
      "real PNG and JPEG bytes, stub-falls-back on garbage") {
    import java.awt.image.BufferedImage
    def encode(w: Int, h: Int, typ: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, typ)
      img.setRGB(1, 1, 0x336699)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val codec = new Multimodal.ImageIoCodec
    assert(codec.decode(encode(37, 21, BufferedImage.TYPE_3BYTE_BGR,
      "png")) === ((37L, 21L, 3L, 1L)))
    assert(codec.decode(encode(5, 9, BufferedImage.TYPE_4BYTE_ABGR,
      "png")) === ((5L, 9L, 4L, 1L)))
    assert(codec.decode(encode(128, 64, BufferedImage.TYPE_3BYTE_BGR,
      "jpg")) === ((128L, 64L, 3L, 1L)))
    val garbage = "definitely not an image".getBytes("UTF-8")
    assert(codec.decode(garbage) === new Multimodal.StubCodec()
      .decode(garbage))
    // distributed path over the generated PNG fixture table
    val ids = Seq(10L, 107L, 5000L).toDF("doc_id")
    val decoded = Multimodal.decodePartitioned(
      Multimodal.syntheticPngTable(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(decoded(10L) === ((74L, 74L, 3L, 1L)))    // 64+10%97, 64+10%53
    assert(decoded(107L) === ((74L, 65L, 3L, 1L)))   // 64+10, 64+1
    assert(decoded(5000L) === ((117L, 82L, 3L, 1L))) // 64+53, 64+18
  }

  test("dedup: bloom-prefiltered incremental ingestion equals the " +
      "plain anti-join path and never loses new content") {
    import graft.operators.Dedup
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "delta"), (12L, "delta"),
      (13L, "epsilon")).toDF("id", "text")
    val index = Dedup.contentDigests(corpus, "text")
    val bloom = Dedup.indexBloom(index, expectedItems = 100L)
    val viaBloom = Dedup.dedupIncrementalBloom(batch, index, "id", "text",
      bloom).collect().map(_.getLong(0)).sorted
    val viaJoin = Dedup.dedupIncremental(batch, index, "id", "text")
      .collect().map(_.getLong(0)).sorted
    // alpha is a corpus dup (dropped), delta dedups within-batch to 11
    assert(viaBloom.toSeq == Seq(11L, 13L))
    assert(viaBloom.toSeq == viaJoin.toSeq)
  }

  test("profiling: approx length percentiles track the exact operator") {
    import graft.operators.TextAnalysis
    val docs = (1 to 500).map(i =>
      (i.toLong, if (i % 2 == 0) "s0" else "s1", "x" * (i % 97 + 3)))
      .toDF("doc_id", "source", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val exact = asMap(TextAnalysis.lengthPercentiles(docs, "source",
      length(col("text")).cast("long"), Seq(0.1, 0.5, 0.9)))
    val approx = asMap(TextAnalysis.lengthPercentilesApprox(docs, "source",
      length(col("text")).cast("long"), Seq(0.1, 0.5, 0.9)))
    exact.keys.foreach { s =>
      val (e, a) = (exact(s), approx(s))
      // GK sketch at accuracy 10^4 on 250 rows is exact up to the
      // interpolation convention — allow one length-unit of drift
      assert(math.abs(e._1 - a._1) <= 1.0 && math.abs(e._2 - a._2) <= 1.0
        && math.abs(e._3 - a._3) <= 1.0, s"$s: exact=$e approx=$a")
    }
  }

  test("multimodal: WavCodec reads true rate/bits/channels/frames from " +
      "real WAV bytes, stub-falls-back on garbage") {
    def wav(rate: Int, channels: Int, frames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        rate.toFloat, 16, channels, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(
          new Array[Byte](frames * fmt.getFrameSize)), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val codec = new Multimodal.WavCodec
    assert(codec.decode(wav(44100, 2, 500)) === ((44100L, 16L, 2L, 500L)))
    assert(codec.decode(wav(8000, 1, 37)) === ((8000L, 16L, 1L, 37L)))
    val garbage = "definitely not audio".getBytes("UTF-8")
    assert(codec.decode(garbage) === new Multimodal.StubCodec()
      .decode(garbage))
    // distributed path over the generated WAV fixture table: dims are
    // id arithmetic (8000+1000·(id%8) Hz, 1+id%2 ch, 128+id%256 frames)
    val ids = Seq(10L, 107L, 5000L).toDF("doc_id")
    val decoded = Multimodal.decodePartitioned(
      Multimodal.syntheticWavTable(ids, "doc_id"),
      () => new Multimodal.WavCodec)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(decoded(10L) === ((10000L, 16L, 1L, 138L)))
    assert(decoded(107L) === ((11000L, 16L, 2L, 235L)))
    assert(decoded(5000L) === ((8000L, 16L, 1L, 264L)))
  }

  test("multimodal: Mp4Codec reads timescale/duration/tracks from real " +
      "ISO-BMFF boxes, stub-falls-back on garbage and truncation") {
    val codec = new Multimodal.Mp4Codec
    val stub = new Multimodal.StubCodec
    // distributed path over the generated MP4 fixture table: dims are
    // id arithmetic (600·(1+id%4) timescale, 300·(1+id%50) duration,
    // 1+id%3 tracks, floor-ms)
    val ids = Seq(10L, 107L, 5000L).toDF("doc_id")
    val fixtures = Multimodal.syntheticMp4Table(ids, "doc_id")
    val decoded = Multimodal.decodePartitioned(fixtures,
      () => new Multimodal.Mp4Codec)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(decoded(10L) === ((1800L, 3300L, 2L, 1833L)))
    assert(decoded(107L) === ((2400L, 2400L, 3L, 1000L)))
    assert(decoded(5000L) === ((600L, 300L, 3L, 500L)))
    // non-MP4 bytes and a mid-box truncation both fall back to the stub
    val garbage = "definitely not a video".getBytes("UTF-8")
    assert(codec.decode(garbage) === stub.decode(garbage))
    val whole = fixtures.where($"id" === 10L).head().getAs[Array[Byte]](1)
    val cut = whole.take(whole.length - 40)
    assert(codec.decode(cut) === stub.decode(cut))
  }

  test("multimodal: Mp4Codec box walk survives every truncation and " +
      "single-byte corruption of a real fixture") {
    // the walker's failure contract: ANY malformed ISO-BMFF input must
    // terminate promptly with either a sane decode or the stub fallback —
    // never a thrown error, a hang, or a negative/garbage dimension.
    // Exhaustive over one fixture: all prefixes (mid-box truncations at
    // every byte) and all single-byte corruptions (hits every size
    // field, box tag, version byte, and time field at least once).
    val codec = new Multimodal.Mp4Codec
    val ids = Seq(10L).toDF("doc_id")
    val whole = Multimodal.syntheticMp4Table(ids, "doc_id")
      .head().getAs[Array[Byte]](1)
    def sane(id: Long, blob: Array[Byte]): Unit = {
      val (a, b, c, d) = codec.decode(blob)
      assert(a >= 0 && b >= 0 && c >= 0 && d >= 0,
        s"negative dimension for $id: ($a,$b,$c,$d)")
    }
    (0 until whole.length).foreach(n => sane(n.toLong, whole.take(n)))
    (0 until whole.length).foreach { i =>
      val mut = whole.clone()
      mut(i) = (mut(i) ^ 0xff).toByte
      sane(i.toLong, mut)
    }
  }

  test("CF: cosine similarity and recommendation on a hand-checked case") {
    // users 1,2 share item A; user 2 also bought B -> recommend B to 1
    val tx = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L))
      .toDF("u0", "i0")
    val counts = Collab.userItemCounts(tx, "u0", "i0")
    val sims = Collab.userSimilarities(counts)
    val s12 = sims.where($"u1" === 1L && $"u2" === 2L).head()
      .getAs[Double]("cos")
    // vectors: u1 = {A:2}, u2 = {A:1,B:1}; cos = 2/(2*sqrt(2))
    assert(math.abs(s12 - 2.0 / (2.0 * math.sqrt(2.0))) < 1e-9)
    val recs = Collab.recommend(counts, sims, 5).collect()
    assert(recs.exists(r => r.getAs[Long]("u") == 1L
      && r.getAs[Long]("i") == 11L))
    // user 3 shares nothing -> no recs
    assert(!recs.exists(r => r.getAs[Long]("u") == 3L))
  }

  test("CF: directed target similarities equal the symmetrized full frame " +
      "and recommendDirect equals recommend") {
    val tx = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (2L, 12L), (3L, 12L), (3L, 11L), (4L, 13L), (50L, 10L), (50L, 12L))
      .toDF("u0", "i0")
    val counts = Collab.userItemCounts(tx, "u0", "i0")
    val tf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      u => u % 2 === 0
    val full = Collab.symmetricSimilarities(Collab.userSimilarities(counts))
      .where($"u1" % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val direct = Collab.directedSimilarities(counts, tf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(direct.keySet == full.keySet)
    // bit-identical, not approximately equal: same integer dot product,
    // commutative IEEE norm multiplication
    assert(full.forall { case (k, v) => direct(k) == v })
    val viaSym = Collab.recommend(counts,
        Collab.userSimilarities(counts), 3, Some(tf))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Double]("score"), r.getAs[Long]("rn"))).toMap
    val viaDirect = Collab.recommendDirect(counts, 3, tf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Double]("score"), r.getAs[Long]("rn"))).toMap
    assert(viaSym == viaDirect)
  }

  test("CF: a binding hot-item cap reports its drops via the observe " +
      "metric") {
    // item 10 is held by 4 users (> cap 2) and must be dropped with its
    // 4 (user, item) rows counted; item 11 (2 holders) stays. The
    // metric rides the query itself (Dataset.observe), so the values
    // surface in queryExecution.observedMetrics after one action —
    // round-9 advice: the cap/observe safety path had no test pinning
    // its semantics (dropped_rows = Σ iu over capped items).
    val tx = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (1L, 11L), (2L, 11L)).toDF("u0", "i0")
    val counts = Collab.userItemCounts(tx, "u0", "i0")
    val capped = Collab.userSimilarities(counts, Some(2))
    capped.collect()
    val metrics = capped.queryExecution.observedMetrics
      .filter { case (name, _) => name.startsWith(Collab.CapMetricName) }
    assert(metrics.size == 1,
      s"expected exactly one cap observation, got ${metrics.keys}")
    val row = metrics.values.head
    assert(row.getAs[Long]("dropped_rows") == 4L)
    assert(row.getAs[Long]("max_item_users") == 4L)
    // and the similarities really exclude the capped item: only the
    // item-11 pair (1,2) survives
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("CF: matchingRuleStats equals matchingRules minus the payload") {
    val sets = Seq((1L, Seq("A", "B")), (2L, Seq("A")), (3L, Seq("B", "C")))
      .toDF("u", "items")
    val rules = Seq(
      (Seq("A"), Seq("C"), 0.5, 1.2),
      (Seq("A", "B"), Seq("D"), 0.4, 1.1),
      (Seq("C"), Seq("E"), 0.3, 1.0)
    ).toDF("antecedent", "consequent", "confidence", "lift")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"u", $"consequent", $"confidence", $"lift")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).head,
        r.getDouble(2), r.getDouble(3))).toSet
    assert(key(Collab.matchingRuleStats(sets, rules)) ==
      key(Collab.matchingRules(sets, rules)))
  }

  test("CF: DIMSUM at threshold 0 equals the exact long-form cosine") {
    val tx = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (2L, 12L), (3L, 12L), (3L, 11L), (4L, 13L)).toDF("u0", "i0")
    val counts = Collab.userItemCounts(tx, "u0", "i0")
    val exact = Collab.userSimilarities(counts)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val dimsum = Collab.userSimilaritiesDimsum(counts, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(dimsum.keySet == exact.keySet)
    assert(exact.forall { case (k, v) => math.abs(dimsum(k) - v) < 1e-9 })
  }

  test("CF: matchingRules keeps subset semantics under duplicate items") {
    val sets = Seq((1L, Seq("A", "A", "B"))).toDF("u", "items")
    val rules = Seq(
      (Seq("A"), Seq("C"), 0.5, 1.2),      // fires (dup A counts once)
      (Seq("A", "B"), Seq("D"), 0.4, 1.1), // fires
      (Seq("A", "C"), Seq("E"), 0.3, 1.0)  // no C purchased
    ).toDF("antecedent", "consequent", "confidence", "lift")
    val fired = Collab.matchingRules(sets, rules)
      .select("consequent").as[Seq[String]].collect().map(_.head).toSet
    assert(fired == Set("C", "D"))
  }

  test("CF: two capped similarity frames compose in one query") {
    // each capped call observes metrics under a unique name, so a query
    // combining two of them must not fail duplicate-metrics analysis
    val txa = Seq((1L, 10L), (2L, 10L)).toDF("user", "item")
    val txb = Seq((3L, 20L), (4L, 20L)).toDF("user", "item")
    val sa = Collab.userSimilarities(Collab.userItemCounts(txa, "user", "item"))
    val sb = Collab.userSimilarities(Collab.userItemCounts(txb, "user", "item"))
    assert(sa.unionByName(sb).count() == 2L)
  }

  test("CF: hybrid blend weights sources by alpha") {
    val assoc = Seq((1L, 100L, 2.0)).toDF("u", "i", "score")
    val cf = Seq((1L, 200L, 4.0)).toDF("u", "i", "score")
    val out = Collab.hybridBlend(assoc, cf, 0.6, 10)
      .collect().map(r => r.getAs[Long]("i") -> r.getAs[Double]("hybrid_score"))
      .toMap
    assert(out(100L) == 0.6 && out(200L) == 0.4) // both normalized to 1.0
  }

  test("CF: hybrid blend normalizes per user, not by the global max") {
    // user 2's tiny scores must still normalize to 1.0 within their own
    // partition (the reference scores one household per request)
    val assoc = Seq((1L, 100L, 8.0), (2L, 100L, 0.5)).toDF("u", "i", "score")
    val cf = spark.emptyDataFrame
      .sparkSession.createDataFrame(Seq.empty[(Long, Long, Double)])
      .toDF("u", "i", "score")
    val out = Collab.hybridBlend(assoc, cf, 0.5, 10)
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Double]("hybrid_score")))
      .toMap
    assert(out(1L) == 0.5 && out(2L) == 0.5)
  }

  // -------------------------------------------------- boilerplate removal

  test("boilerplate: frequent lines found, stripped in order, empty docs " +
      "kept with empty text") {
    val d = Seq(
      (1L, "unique one\nFOOTER\nunique two"),
      (2L, "FOOTER\nother content"),
      (3L, "FOOTER"),              // becomes empty after the strip
      (4L, "alone\n\ntail"),       // the blank line is NOT frequent here
      (5L, "FOOTER\nlast doc\n")   // trailing newline -> trailing empty line
    ).toDF("doc_id", "text")

    val freq = Boilerplate.frequentLines(d, "doc_id", "text", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq == Map("FOOTER" -> 4L))

    val out = Boilerplate.stripFrequentLines(d, "doc_id", "text", 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((3L, 2L, "unique one\nunique two"))) // order kept
    assert(out(2L) == ((2L, 1L, "other content")))
    assert(out(3L) == ((1L, 0L, "")))                  // survives, empty
    assert(out(4L) == ((3L, 3L, "alone\n\ntail")))     // untouched
    assert(out(5L) == ((3L, 2L, "last doc\n")))        // trailing empty kept
  }

  test("paragraph dedup: global first-occurrence wins, blanks survive, " +
      "all-dup docs drop") {
    val d = Seq(
      (1L, "alpha\nbeta\nalpha"),   // in-doc dup: 2nd alpha drops
      (2L, "beta\n\ngamma"),        // beta seen in doc 1; blank kept
      (3L, "beta"),                 // everything already seen → doc drops
      (4L, "   \ndelta")            // whitespace line is structural
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupParagraphs(d, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 4L))              // doc 3 fully deduped
    assert(out(1L) == (("alpha\nbeta", 2L, 1L)))
    assert(out(2L) == (("\ngamma", 2L, 1L)))           // blank rides along
    assert(out(4L) == (("   \ndelta", 2L, 0L)))
  }

  test("semantic dedup: keeps the low-centroid-similarity member of a " +
      "dup pair and tie-breaks exact copies by id") {
    // nCells=1 → stride=5 → single centroid = vec 0. Pairs ≥ 0.95:
    // (0,1),(0,2) victim 0 (csim 1.0 highest), (1,2) victim 1
    // (csim .995 > .9929 — the diversity branch), (3,4) exact copies
    // (equal csim → drop the higher id, 4). Survivors: 2 and 3.
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(1.0, 0.1)),
      (2L, Array(1.0, 0.12)),
      (3L, Array(0.0, 1.0)),
      (4L, Array(0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val out = Ann.semanticDedup(vecs, "vec_id", "embedding", 1, 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L))
  }

  test("semantic contamination: flags candidates near an eval vector, " +
      "never emits eval rows, matches a driver-side mirror") {
    // 40 well-separated unit-ish vectors plus near-copies of ids 0..9 —
    // eval membership is the md5-permille bucket, so derive it with the
    // same expression and mirror the max-cosine flag on the driver.
    val base = (0L until 40L).map { i =>
      (i, Array(math.cos(i * 0.7), math.sin(i * 0.7), (i % 7).toDouble / 7.0))
    }
    val copies = (0L until 10L).map { i =>
      val v = base(i.toInt)._2
      (i + 1000L, v.map(x => x * 0.99 + 0.001))
    }
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val perm = 400
    val out = Ann.semanticContamination(df, "vec_id", "embedding", perm, 0.98)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getBoolean(2))).toMap
    val buckets = df.select(col("vec_id"),
        graft.operators.Mixing.bucket1000(col("vec_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = (base ++ copies).toMap
    val evalIds = all.keys.filter(buckets(_) < perm).toSet
    assert(evalIds.nonEmpty && evalIds.size < all.size)
    // no eval row leaks into the output; every candidate appears
    assert(out.keySet == all.keySet -- evalIds)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum))
      math.floor(r * 1e4 + 0.5) / 1e4
    }
    out.foreach { case (id, (mc, flag)) =>
      val want = evalIds.map(e => cos(all(id), all(e))).max
      assert(math.abs(mc - want) < 1e-9, s"id $id max cosine")
      assert(flag == (want >= 0.98), s"id $id flag")
    }
    // the near-copy relationship actually fires somewhere: at least one
    // candidate is contaminated IF its partner sits in eval
    val firing = out.exists { case (id, (_, flag)) => flag }
    val partnerInEval = (0L until 10L).exists(i =>
      (evalIds.contains(i) && out.contains(i + 1000L)) ||
        (evalIds.contains(i + 1000L) && out.contains(i)))
    assert(firing == partnerInEval || firing) // firing implies a partner
    if (partnerInEval) assert(firing, "split pair must be flagged")
  }

  test("exact-substring dedup: shared run found in both docs, interval " +
      "merge bridges a sub-k gap, strip removes every copy") {
    // docs 1 and 2 share words 1..9 ("w1 .. w9"): gram starts 1 and 2
    // (k=8) are duplicated in both → one span [1, 9] each. Doc 3 repeats
    // ITS OWN 8-gram at starts 1 and 12 with a 3-word wedge between the
    // two copies: interval contiguity (12 − 1 > 8 splits only past k)
    // must report TWO spans [1,8] and [12,19], not one. Doc 4 is clean.
    val w9 = (1 to 9).map(i => s"w$i").mkString(" ")
    val own = (1 to 8).map(i => s"x$i").mkString(" ")
    val d = Seq(
      (1L, s"$w9 tail1 only1"),
      (2L, s"$w9 tail2 only2"),
      (3L, s"$own gap1 gap2 gap3 $own"),
      (4L, "a b c d e f g h")       // 8 words, gram unique → no span
    ).toDF("doc_id", "text")
    val spans = graft.operators.SubstrDedup
      .duplicateSpans(d, "doc_id", "text", 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 1L, 9L), (2L, 1L, 9L),
      (3L, 1L, 8L), (3L, 12L, 19L)))
    val out = graft.operators.SubstrDedup
      .stripDuplicateSpans(d, "doc_id", "text", 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("tail1 only1", 2L, 9L)))   // all copies go
    assert(out(2L) == (("tail2 only2", 2L, 9L)))
    assert(out(3L) == (("gap1 gap2 gap3", 3L, 16L)))
    assert(out(4L) == (("a b c d e f g h", 8L, 0L)))  // untouched
  }

  test("tf-idf: corpus-unique term outranks a ubiquitous one; top-k and " +
      "tie order hold") {
    // 'rare' appears only in doc 1 (df=1, idf high); 'the' is in all 3
    // docs (df=3 → idf = ln(4/4)+1 = 1 exactly). Doc 1: rare tf=1 must
    // outrank the tf=2 ('the' score 2.0 < rare ln(2)+1 = 1.693…? no —
    // 2·1.0 > 1·1.693), so the top term by score is 'the'; checks the
    // exact micro-int scores rather than a guessed order.
    val d = Seq(
      (1L, "the rare the"),
      (2L, "the common word"),
      (3L, "the word word")
    ).toDF("doc_id", "text")
    val top = graft.operators.Terms.tfIdfTopK(d, "doc_id", "text", 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1: the tf=2 df=3 idf_micro=1e6 → 2.0; rare tf=1 df=1
    // idf_micro = 1e6 + round(ln(2)·1e6) = 1693147 → 1.693147
    assert(top((1L, "the")) == ((2L, 3L, 2.0)))
    assert(top((1L, "rare")) == ((1L, 1L, 1.693147)))
    // doc 3: word tf=2 df=2, idf_micro = 1e6 + round(ln(4/3)·1e6)
    val wordScore = top((3L, "word"))
    assert(wordScore._1 == 2L && wordScore._2 == 2L)
    assert(math.abs(wordScore._3 - 2 * (1.0 + math.log(4.0 / 3))) < 1e-5)
  }

  test("source divergence: identical sources diverge zero; a skewed " +
      "source diverges positive") {
    val d = Seq(
      (1L, "a b c", "s1"), (2L, "a b c", "s1"),
      (3L, "a b c", "s2"),                      // s2 ≡ corpus shape? no —
      (4L, "z z z", "s3")                       // s3 pulls corpus off s1/s2
    ).toDF("doc_id", "text", "source")
    val kl = graft.operators.Terms
      .sourceDivergence(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // s1 and s2 have the SAME distribution {a,b,c}: identical KL
    assert(kl("s1")._4 == kl("s2")._4)
    assert(kl("s1")._4 > 0)            // corpus includes z → shifted
    assert(kl("s3")._4 > kl("s1")._4)  // all-z source diverges harder
    assert(kl("s1") == ((2L, 3L, 6L, kl("s1")._4)))
    // a one-source corpus diverges exactly zero from itself
    val solo = graft.operators.Terms.sourceDivergence(
      Seq((1L, "p q r", "only")).toDF("doc_id", "text", "source"),
      "doc_id", "text", "source").collect()
    assert(solo.length == 1 && solo.head.getDouble(4) == 0.0)
  }

  test("domain cap: salted two-phase top-n equals the parity window on " +
      "a skewed corpus, for every salt count") {
    import graft.operators.Selection
    // one hot domain (200 rows), two small ones; scores collide heavily
    // so the deterministic tie (id asc) is load-bearing
    val rnd = new scala.util.Random(11)
    val rows = (1L to 200L).map(i => (i, "hot", rnd.nextInt(7))) ++
      Seq((201L, "cold", 5), (202L, "cold", 5), (203L, "tiny", 1))
    val df = rows.toDF("id", "source", "score").repartition(8)
    val parity = Selection.capPerGroup(df, "id", "score", "source", 10)
      .orderBy(col("source"), col("score").desc, col("id"))
      .collect().toSeq
    for (nSalts <- Seq(1, 3, 32)) {
      val salted = Selection
        .capPerGroupSalted(df, "id", "score", "source", 10, nSalts)
        .orderBy(col("source"), col("score").desc, col("id"))
        .collect().toSeq
      assert(salted == parity, s"nSalts=$nSalts diverged")
    }
    // small groups survive whole (under the cap), hot group is capped
    assert(parity.count(_.getString(1) == "hot") == 10)
    assert(parity.count(_.getString(1) == "cold") == 2)
  }

  test("training shards: positions are a contiguous 0-based permutation " +
      "per shard, assignment is partitioning-invariant, and a new epoch " +
      "re-permutes") {
    import graft.operators.Splits
    val ids = (1L to 300L).toDF("doc_id")
    val e0 = Splits.trainingShards(ids, "doc_id", nShards = 4, epoch = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc exactly once; shards in range
    assert(e0.length == 300 && e0.map(_._1).distinct.length == 300)
    assert(e0.forall(t => t._2 >= 0 && t._2 < 4))
    // contiguous 0-based positions within each shard
    e0.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq)
    }
    // deterministic across physical layouts
    val e0b = Splits.trainingShards(ids.repartition(7), "doc_id", 4, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e0.sortBy(_._1).toSeq == e0b.sortBy(_._1).toSeq)
    // a new epoch is a genuinely different permutation (some doc moves)
    val e1 = Splits.trainingShards(ids, "doc_id", 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e0.sortBy(_._1).toSeq != e1.sortBy(_._1).toSeq)
    // shard and order hashes are independent: within a shard, ascending
    // pos must not mean ascending id (a correlated hash would)
    val shard0 = e0.filter(_._2 == 0L).sortBy(_._3).map(_._1)
    assert(shard0.toSeq != shard0.sorted.toSeq)
  }
}
