package graft

import graft.functions.ColumnFns
import graft.operators.{AssociationRules, Dedup, Joins, NearDup, Rfm, Stats, TextAnalysis}
import graft.operators.AssociationRules.Params
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck invariants the reference states or implies (SURVEY §5):
  * metric bounds, dedup idempotence, score ranges, exact-sum invariance.
  * Sample counts are kept small — every sample runs Spark jobs. */
object InvariantsCheck extends Properties("graft.invariants") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxSize(40)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val basketGen: Gen[List[(Long, String)]] = Gen.nonEmptyListOf(
    for {
      b <- Gen.choose(1L, 12L)
      i <- Gen.oneOf("A", "B", "C", "D", "E", "F")
    } yield (b, i))

  property("rules: 0 <= support <= confidence <= 1 and lift >= 0") =
    forAll(basketGen) { rows =>
      val rules = AssociationRules.rules(rows.toDF("basket_id", "item"),
        "basket_id", "item", Params(0.0, 0.0, 1000)).collect()
      rules.forall { r =>
        val (s, c, l) = (r.getAs[Double]("support"),
          r.getAs[Double]("confidence"), r.getAs[Double]("lift"))
        s >= 0 && s <= c + 1e-9 && c <= 1 + 1e-9 && l >= 0
      }
    }

  property("bothDirections: reverse rules are a subset of forward pairs") =
    forAll(basketGen) { rows =>
      val raw = AssociationRules.rulesRaw(rows.toDF("basket_id", "item"),
        "basket_id", "item", Params(0.0, 0.0, 1000))
      val fwd = raw.count()
      val both = AssociationRules.bothDirections(raw, 0.0).count()
      both >= fwd && both <= 2 * fwd
    }

  property("dedup keepLatest is idempotent and minimal") =
    forAll(Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 5L)
      id <- Gen.choose(1L, 100L)
    } yield (k, id))) { rows =>
      val df = rows.toDF("k", "id")
      val once = Dedup.keepLatest(df, Seq("k"), "id")
      val twice = Dedup.keepLatest(once, Seq("k"), "id")
      once.count() == rows.map(_._1).distinct.size &&
        twice.collect().toSet == once.collect().toSet
    }

  property("RFM scores always land in 1..5") =
    forAll(Gen.nonEmptyListOf(for {
      c <- Gen.choose(1L, 20L)
      b <- Gen.choose(1L, 500L)
      v <- Gen.choose(1, 10000)
      d <- Gen.choose(1, 711)
    } yield (c, b, v / 100.0, d))) { rows =>
      val s = Rfm.scores(rows.toDF("hh", "bk", "sv", "day"),
        "hh", "bk", "sv", "day")
      s.select($"r_score", $"f_score", $"m_score").collect().forall(r =>
        (0 until 3).forall { i =>
          val v = r.getLong(i); v >= 1 && v <= 5
        })
    }

  private val docGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(3, 6)
    docs <- Gen.listOfN(n, Gen.choose(5, 25).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("alpha", "bravo", "charlie", "delta",
        "echo", "foxtrot", "golf", "hotel")).map(_.mkString(" "))))
  } yield docs.zipWithIndex.map { case (d, i) => (i.toLong + 1, d) }

  property("minHashPortable pairs are a sound subset of exact Jaccard") =
    forAll(docGen) { rows =>
      val df = rows.toDF("doc_id", "text")
      val approx = NearDup.minHashPortable(df, "doc_id", "text", 3, 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val exact = NearDup.jaccardPairs(df, "doc_id", "text", 3, 0.2, 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      approx.forall { case (pair, j) => exact.get(pair).contains(j) }
    }

  property("simHashPortable emits EVERY pair within the banding " +
      "guarantee (hamming <= 3)") =
    forAll(docGen) { rows =>
      val df = rows.toDF("doc_id", "text")
      graft.plans.GraftExtensions.register(spark)
      val fps = df.select($"doc_id",
          call_function("simhash_portable32",
            split(trim($"text"), "\\s+")).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        a <- fps.keys; b <- fps.keys if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b))
        if h <= 3
      } yield (a, b, h.toLong)).toSet
      val got = NearDup.simHashPortable(df, "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      got == expected
    }

  private val twoGroupGen: Gen[List[(String, Double)]] = for {
    xs <- Gen.listOfN(6, Gen.choose(1, 400))
    ys <- Gen.listOfN(5, Gen.choose(1, 400))
  } yield xs.map(v => ("x", v / 4.0)) ++ ys.map(v => ("y", v / 4.0))

  property("Mann-Whitney: U1 + U2 = n1*n2 and rank-biserial in [-1,1]") =
    forAll(twoGroupGen) { rows =>
      val df = rows.toDF("g", "v")
      val a = Stats.mannWhitneyU(df, col("g"), col("v"), "x", "y").head()
      val b = Stats.mannWhitneyU(df, col("g"), col("v"), "y", "x").head()
      val (n1, n2) = (a.getAs[Long]("n1"), a.getAs[Long]("n2"))
      val rb = a.getAs[Double]("rank_biserial")
      a.getAs[Double]("u_stat") + b.getAs[Double]("u_stat") ==
        n1.toDouble * n2 &&
        rb >= -1 - 1e-9 && rb <= 1 + 1e-9 &&
        a.getAs[Long]("tie_term") == b.getAs[Long]("tie_term")
    }

  property("KS statistic is in [0,1] and symmetric under group swap") =
    forAll(twoGroupGen) { rows =>
      val df = rows.toDF("g", "v")
      val a = Stats.ks2(df, col("g"), col("v"), "x", "y").head()
        .getAs[Double]("ks_stat")
      val b = Stats.ks2(df, col("g"), col("v"), "y", "x").head()
        .getAs[Double]("ks_stat")
      a >= 0 && a <= 1 && a == b
    }

  property("saltedJoin equals the plain inner join for any salt count") =
    forAll(for {
      big <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 4L); p <- Gen.choose(0, 1000)
      } yield (k, p))
      dim <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 6L); l <- Gen.oneOf("a", "b")
      } yield (k, l))
      n <- Gen.choose(1, 8)
    } yield (big, dim.distinct, n)) { case (big, dim, n) =>
      val b = big.toDF("k", "p")
      val d = dim.toDF("k", "l")
      val plain = b.join(d, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val salted = Joins.saltedJoin(b, d, Seq("k"), n).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      salted == plain // multiset equality: no row lost or duplicated
    }

  property("chi-square: statistic >= 0, Cramer's V in [0,1], p in [0,1]") =
    forAll(for {
      rows <- Gen.nonEmptyListOf(for {
        g <- Gen.oneOf("r1", "r2", "r3")
        c <- Gen.oneOf("c1", "c2")
      } yield (g, c))
      // ensure at least 2 distinct values on each axis
      padded = rows ++ List(("r1", "c1"), ("r2", "c2"))
    } yield padded) { rows =>
      val r = Stats.chiSquare(rows.toDF("g", "c"), col("g"), col("c")).head()
      val chi2 = r.getAs[Double]("chi2")
      val v = r.getAs[Double]("cramers_v")
      val p = Stats.chi2PValue(chi2, r.getAs[Long]("dof"))
      chi2 >= -1e-9 && v >= -1e-9 && v <= 1 + 1e-9 && p >= 0 && p <= 1
    }

  property("CF: default-capped userSimilarities equals exact mode when " +
      "no item is hotter than the cap") =
    forAll(Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 8L)
      i <- Gen.choose(1L, 5L)
    } yield (u, i))) { rows =>
      val counts = graft.operators.Collab.userItemCounts(
        rows.toDF("u0", "i0"), "u0", "i0")
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // ≤8 users per item here, far under DefaultMaxItemUsers — the
      // default path must be EXACT below the cap
      key(graft.operators.Collab.userSimilarities(counts)) ==
        key(graft.operators.Collab.userSimilarities(counts, None))
    }

  property("CF: a binding hot-item cap only ever drops pairs, never " +
      "invents or inflates them") =
    forAll(Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 8L)
      i <- Gen.choose(1L, 4L)
    } yield (u, i))) { rows =>
      val counts = graft.operators.Collab.userItemCounts(
        rows.toDF("u0", "i0"), "u0", "i0")
      val capped = graft.operators.Collab
        .userSimilarities(counts, Some(2)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = graft.operators.Collab
        .userSimilarities(counts, None).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      capped.subsetOf(exact)
    }

  property("CF: recommendTopNeighbors with a population-sized cap is " +
      "bit-equal to recommendDirect for any purchase matrix") =
    forAll(Gen.nonEmptyListOf(for {
      u <- Gen.choose(1L, 8L)
      i <- Gen.choose(1L, 5L)
    } yield (u, i))) { rows =>
      val counts = graft.operators.Collab.userItemCounts(
        rows.toDF("u0", "i0"), "u0", "i0")
      val filt = (u: org.apache.spark.sql.Column) => u % 2 === 0
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)) ->
          r.getDouble(2)).toMap
      // 8 ≥ the whole user population, so the neighbor cap must select
      // everything — the q_cf_recommendations_topn identity contract
      key(graft.operators.Collab.recommendTopNeighbors(counts, 3, 8, filt)) ==
        key(graft.operators.Collab.recommendDirect(counts, 3, filt))
    }

  property("fpGrowthPairRules metrics equal brute-force pairwise " +
      "counting for arbitrary baskets (both directions, exact doubles)") =
    forAll(basketGen) { rows =>
      val got = AssociationRules.fpGrowthPairRules(
        rows.toDF("basket_id", "item"), "basket_id", "item",
        Params(0.0, 0.0)).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Double]("confidence"), r.getAs[Double]("lift"),
            r.getAs[Double]("support"))).toMap
      // brute force in plain Scala, zero shared code with the operator
      val baskets = rows.distinct.groupBy(_._1).values
        .map(_.map(_._2).toSet).filter(s => s.size >= 2 && s.size <= 500)
        .toList
      val n = baskets.size.toDouble
      val itemN = baskets.flatten.groupBy(identity)
        .map { case (k, v) => k -> v.size.toDouble }
      val want = (for {
        b <- baskets; a <- b; c <- b if a != c
      } yield (a, c)).groupBy(identity)
        .map { case ((a, c), hits) =>
          val pab = hits.size.toDouble
          (a, c) -> (pab / itemN(a), (pab / itemN(a)) / (itemN(c) / n),
            pab / n)
        }
      got == want
    }

  private val piiTextGen: Gen[String] = for {
    words <- Gen.listOfN(6, Gen.oneOf("call", "me", "at", "the", "office",
      "now", "or", "email"))
    email <- Gen.oneOf("", "a.b+c@example.org ", "x_1@sub.domain.co ")
    phone <- Gen.oneOf("", "+4915551234567 ", "+12025550123 ")
  } yield (words :+ email :+ phone).mkString(" ")

  property("piiScrub is idempotent: scrubbing scrubbed text changes " +
    "nothing and finds zero matches") =
    forAll(Gen.nonEmptyListOf(piiTextGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = TextAnalysis.piiScrub(df, "doc_id", "text")
      // rebuild the scrubbed text and scrub again: the [EMAIL]/[PHONE]
      // tags must not re-match either pattern
      val scrubbedText = df.select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"),
          TextAnalysis.EmailPattern, "[EMAIL]"),
          TextAnalysis.PhonePattern, "[PHONE]").as("text"))
      val twice = TextAnalysis.piiScrub(scrubbedText, "doc_id", "text")
        .collect()
      val onceByIdLen = once.collect()
        .map(r => r.getLong(0) -> r.getAs[Long]("n_chars_scrubbed")).toMap
      twice.forall { r =>
        r.getAs[Long]("n_emails") == 0L && r.getAs[Long]("n_phones") == 0L &&
          r.getAs[Long]("n_chars_scrubbed") == onceByIdLen(r.getLong(0))
      }
    }

  property("connectedComponents matches union-find") =
    forAll(for {
      n <- Gen.choose(1, 12)
      edges <- Gen.listOf(for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield (n, edges)) { case (n, rawEdges) =>
      // self-loops are legal input; they must not affect components
      val nodes = (0L until n.toLong).toDF("id")
      val edges = rawEdges.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: plain union-find with min-label roots
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      rawEdges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb)
          parent(math.max(ra, rb)) = lo }
      }
      val want = (0 until n).map { i =>
        // min node id in the component = the union-find root chain min
        i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
      }.toMap
      got == want
    }

  property("DSIR scores are exact: invariant under row order and " +
      "partitioning") =
    forAll(for {
      nDocs <- Gen.choose(2, 6)
      words <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(
        Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta")))
    } yield words) { wordLists =>
      val docs = wordLists.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val target = Seq((100L, "alpha beta alpha gamma"))
      def scores(d: Seq[(Long, String)], parts: Int): Map[Long, Long] =
        graft.operators.Dsir.importanceScores(
          d.toDF("doc_id", "text").repartition(parts),
          target.toDF("doc_id", "text"), "doc_id", "text", 64)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      scores(docs, 1) == scores(docs.reverse, 5)
    }

  property("sampleByRates: any ids (negative, huge) — no overflow, " +
      "kept is a subset, membership is id-deterministic") =
    forAll(for {
      r <- Gen.choose(1, 999)
      ids <- Gen.nonEmptyListOf(Gen.oneOf(
        Gen.choose(-1000000L, 1000000L),
        Gen.choose(Long.MinValue / 2, Long.MaxValue / 2),
        Gen.const(Long.MaxValue), Gen.const(Long.MinValue + 1)))
    } yield (r, ids.distinct)) { case (r, ids) =>
      val docs = ids.map(i => (i, "s")).toDF("doc_id", "source")
      val kept = graft.operators.Mixing
        .sampleByRates(docs, "doc_id", "source", Map.empty, r)
        .select("doc_id").as[Long].collect().toSet
      val kept2 = graft.operators.Mixing
        .sampleByRates(docs.repartition(3), "doc_id", "source", Map.empty, r)
        .select("doc_id").as[Long].collect().toSet
      kept.subsetOf(ids.toSet) && kept == kept2
    }

  property("upsampleEpochs: row counts are EXACTLY sum of per-source " +
      "epochs and ordinals cover 1..n") =
    forAll(for {
      n <- Gen.choose(1, 12)
      eWiki <- Gen.choose(1, 4)
      eDef <- Gen.choose(1, 3)
      srcs <- Gen.listOfN(n, Gen.oneOf("wiki", "web", "code"))
    } yield (eWiki, eDef, srcs)) { case (eWiki, eDef, srcs) =>
      val docs = srcs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "source")
      val out = graft.operators.Mixing
        .upsampleEpochs(docs, "source", Map("wiki" -> eWiki), eDef)
        .select($"doc_id", $"source", $"epoch")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      def want(s: String) = if (s == "wiki") eWiki else eDef
      val expectTotal = srcs.map(want).sum
      out.length == expectTotal &&
        out.groupBy(r => (r._1, r._2)).forall { case ((_, s), rows) =>
          rows.map(_._3).sorted.toList == (1L to want(s).toLong).toList
        }
    }

  property("takeByTokenBudget keeps exactly the maximal in-budget " +
      "ascending-id prefix per source, for ANY blockWidth (the blocked " +
      "prefix sum equals the naive per-source cumsum)") =
    forAll(for {
      n <- Gen.choose(1, 10)
      budget <- Gen.choose(1L, 60L)
      rows <- Gen.listOfN(n, Gen.choose(1, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "bb", "word", "lengthy"))
          .map(_.mkString(" "))))
    } yield (budget, rows.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, if (i % 2 == 0) "x" else "y") })) {
      case (budget, rows) =>
        val docs = rows.toDF("doc_id", "text", "source")
        def keptAt(w: Long) = graft.operators.Mixing
          .takeByTokenBudget(docs, "doc_id", "text", "source", budget, w)
          .select("doc_id").as[Long].collect().toSet
        val kept = keptAt(1L << 20)
        val blockInvariant = kept == keptAt(1L) && kept == keptAt(3L)
        // reference: per source, walk ids ascending, accumulate the same
        // estimate (ceil(len/4) per whitespace token, min 1), stop at the
        // first doc that would cross the budget — it and everything after
        // are dropped (contiguous prefix, not best-fit)
        def estimate(t: String): Long = t.trim.split("\\s+")
          .map(w => math.max(1L, math.ceil(w.length / 4.0).toLong)).sum
        val want = rows.groupBy(_._3).flatMap { case (_, rs) =>
          val sorted = rs.sortBy(_._1)
          val cum = sorted
            .scanLeft(0L) { case (acc, r) => acc + estimate(r._2) }.tail
          sorted.zip(cum).takeWhile(_._2 <= budget).map(_._1._1)
        }.toSet
        blockInvariant && kept == want
    }

  property("md5_prefix60 is bit-equal to the portable hex-route SQL " +
      "form on arbitrary strings (incl. unicode)") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumStr,
      Gen.listOf(Gen.oneOf('a', 'é', '語', ' ', '0', '-')).map(_.mkString),
      Gen.const("")))) { strs =>
      graft.plans.GraftExtensions.register(spark)
      val df = strs.distinct.toDF("s")
      val rows = df.select(col("s"),
          expr("md5_prefix60(s)").as("native"),
          expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)")
            .as("sql"))
        .collect()
      rows.forall(r => r.getLong(1) == r.getLong(2) && r.getLong(1) >= 0)
    }

  property("word_shingle_hashes is bit-equal to the split+md5 HOF chain " +
      "it fused (incl. unicode, tabs, empty tokens)") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf(
        //   (NBSP) is NOT \s — it must survive inside tokens;
        // 🙂 is a surrogate pair (4-byte UTF-8)
        Gen.oneOf("word", "a", "bb", "é語", "", "a\u00A0b", "\ud83d\ude42x"),
        Gen.oneOf(" ", "  ", "\t", "\n")))
        .map(_.mkString(" "))),
      Gen.choose(1, 4)) { (strs, w) =>
      graft.plans.GraftExtensions.register(spark)
      // the exact pre-fusion chain from rawShingles + md5_prefix60
      val splitExpr = "split(trim(s), '\\\\s+')"
      val parts = (0 until w)
        .map(j => s"element_at($splitExpr, i + $j)").mkString(", ")
      val rows = strs.distinct.toDF("s")
        .select(col("s"),
          expr(s"word_shingle_hashes(s, $w)").as("native"),
          expr(s"""CASE WHEN size($splitExpr) >= $w THEN
              transform(sequence(1, size($splitExpr) - ${w - 1}),
                i -> md5_prefix60(concat_ws(' ', $parts)))
            ELSE CAST(array() AS ARRAY<BIGINT>) END""").as("chain"))
        .collect()
      rows.forall { r =>
        r.getSeq[Long](1) == r.getSeq[Long](2)
      }
    }

  property("minhash_sig is bit-equal to the per-component " +
      "array_min(transform(...)) chain over NearDup's constants") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf(
        Gen.oneOf("word", "a", "bb", "é語", "", "the", "fox"),
        Gen.oneOf(" ", "  ", "\t")))
        .map(_.mkString(" "))),
      // 64 is the kernel's domain ceiling; 33 exercises an odd j past
      // the old 16-component table (round-12 advice: n in 17..64 was
      // previously validated by nothing)
      Gen.choose(1, 3), Gen.oneOf(4, 16, 33, 64)) { (strs, w, n) =>
      graft.plans.GraftExtensions.register(spark)
      import graft.operators.NearDup.{MinHashA, MinHashB, MinHashP}
      // the pre-fusion chain: n passes of array_min over the shingle
      // hashes, with the OPERATOR's published constants — pinning the
      // kernel's inlined a_j/b_j formulas against NearDup's family
      val chain = (0 until n).map { j =>
        s"""array_min(transform(word_shingle_hashes(s, $w),
           |  h -> (h % $MinHashP * ${MinHashA(j)} + ${MinHashB(j)})
           |    % $MinHashP))""".stripMargin
      }.mkString("array(", ", ", ")")
      val rows = strs.distinct.toDF("s")
        .select(col("s"),
          expr(s"minhash_sig(s, $w, $n)").as("native"),
          expr(s"""CASE WHEN size(word_shingle_hashes(s, $w)) > 0
              THEN $chain ELSE CAST(array() AS ARRAY<BIGINT>) END""")
            .as("chain"))
        .collect()
      rows.forall(r => r.getSeq[Long](1) == r.getSeq[Long](2))
    }

  property("char_gram_hashes is bit-equal to the substring+md5 HOF " +
      "chain it fused (incl. multi-byte chars)") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOf(Gen.oneOf(
        Gen.oneOf[String]("a", "b", "é", "語", " ", "0", "\u00A0"),
        // surrogate pair: SQL length counts it as ONE char (code point)
        Gen.const("\ud83d\ude42"))).map(_.mkString)),
      Gen.choose(1, 5)) { (strs, k) =>
      graft.plans.GraftExtensions.register(spark)
      val rows = strs.distinct.toDF("s")
        .select(col("s"),
          expr(s"char_gram_hashes(s, $k)").as("native"),
          expr(s"""CASE WHEN length(s) >= $k THEN
              transform(sequence(1, length(s) - ${k - 1}),
                i -> md5_prefix60(substring(s, i, $k)))
            ELSE CAST(array() AS ARRAY<BIGINT>) END""").as("chain"))
        .collect()
      rows.forall(r => r.getSeq[Long](1) == r.getSeq[Long](2))
    }

  property("moneySum is invariant under row order and partitioning") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100000, 100000))) { cents =>
      val vals = cents.map(_ / 100.0)
      val a = vals.toDF("v").repartition(7)
        .agg(ColumnFns.moneySum($"v")).head().getDouble(0)
      val b = vals.reverse.toDF("v").repartition(2)
        .agg(ColumnFns.moneySum($"v")).head().getDouble(0)
      a == b
    }

  private val prefixRowGen = for {
    key <- Gen.oneOf(Some("a"), Some("b"), None)
    v <- Gen.frequency(6 -> Gen.choose(-3, 3).map(i => Some(i / 2.0)),
      1 -> Gen.oneOf(None, Some(Double.NaN), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity), Some(-0.0), Some(1e-300),
        Some(-1e300)))
    x <- Gen.choose(0L, 9L)
  } yield (key, v, x)

  property("PrefixSum equals a plain running sum over the sorted rows, " +
      "for any partition keys, tied order values and blocking from one " +
      "block to one block per row; valueBucket puts null first and NaN " +
      "last") =
    forAll(Gen.nonEmptyListOf(prefixRowGen), Gen.choose(0, 4)) {
      (rows0, blocking) =>
        val rows = rows0.zipWithIndex.map { case ((k, v, x), id) =>
          (k, v, id.toLong, x) }
        val df = rows.toDF("k", "v", "id", "x")
        val bucket = graft.operators.PrefixSum.valueBucket(col("v"))
        val block = blocking match {
          case 0 => lit(0L)                                  // one block
          case 1 => bucket
          case 2 => struct(col("v"),
            graft.operators.PrefixSum.idBlock(col("id"), 3L))
          case 3 => struct(bucket, col("id"))        // one block per row
          case _ => struct(col("v"), col("id"))      // one block per row
        }
        val got = graft.operators.PrefixSum(df, Seq("k"), Seq("v", "id"),
            block, Seq("x"))
          .select("id", "cum_x", "tot_x").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        // Spark's ascending order: null first, NaN last, -0.0 == 0.0
        def rank(v: Option[Double]): (Int, Double) = v match {
          case None => (0, 0.0)
          case Some(d) if d.isNaN => (2, 0.0)
          case Some(d) => (1, d + 0.0)
        }
        implicit val dbl: Ordering[Double] = Ordering.Double.TotalOrdering
        val want = rows.groupBy(_._1).values.flatMap { rs =>
          val sorted = rs.sortBy(r => (rank(r._2), r._3))
          val cums = sorted.scanLeft(0L)(_ + _._4).tail
          sorted.zip(cums).map { case (r, c) => r._3 -> (c, rs.map(_._4).sum) }
        }.toMap
        val buckets = df.select(col("v"), bucket).collect().map(r =>
          (Option(r.get(0)).map(_.asInstanceOf[Double]), r.getLong(1)))
        val monotone = buckets.sortBy(b => rank(b._1)).map(_._2)
          .sliding(2).forall(p => p.head <= p.last)
        val ends = buckets.forall { case (v, b) =>
          (v.nonEmpty || b == Long.MinValue) &&
            (!v.exists(_.isNaN) || b == Long.MaxValue)
        }
        got == want && monotone && ends
    }

  private val packDocGen = for {
    n <- Gen.choose(1, 8)
    docs <- Gen.listOfN(n, for {
      id <- Gen.choose(-50L, 50L)
      words <- Gen.nonEmptyListOf(
        Gen.oneOf("a", "bb", "ccc", "dddd", "eeeeeeee", "word"))
    } yield (id, words.mkString(" ")))
  } yield docs.distinctBy(_._1)

  property("packing: tokenSpans is blockWidth-invariant (the two-level " +
      "prefix sum equals the naive global cumsum), contiguous, and " +
      "token-conserving — any ids incl. negative") =
    forAll(packDocGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      def spans(w: Long) =
        graft.operators.Packing.tokenSpans(df, "doc_id", "text", w)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3)))
      val s1 = spans(1L)
      val s5 = spans(5L)
      val sBig = spans(1L << 20)
      val sorted = s1.sortBy(_._1)
      val contiguous = sorted.head._3 == 0L &&
        sorted.sliding(2).forall {
          case Array(a, b) => a._4 == b._3
          case _ => true
        }
      s1.toSet == s5.toSet && s5.toSet == sBig.toSet &&
        contiguous && sorted.forall(r => r._4 - r._3 == r._2)
    }

  private val lineDocGen: Gen[List[(Long, String)]] = {
    val lineGen = Gen.oneOf("FOOTER", "nav bar", "alpha", "beta", "gamma",
      "delta", "", "x y z")
    Gen.nonEmptyListOf(Gen.listOfN(4, lineGen).map(_.mkString("\n")))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  property("boilerplate: no non-empty frequent line survives a strip, " +
      "and a second strip only drops empty-line artifacts") =
    forAll(lineDocGen, Gen.choose(2, 4)) { (docs, minDocs) =>
      // Stripping removes whole line-CLASSES, so surviving lines keep
      // their original doc-counts — all < minDocs. The one exception is
      // '': a fully-stripped doc re-splits to a single empty line, which
      // can push '' over the threshold; hence idempotence is stated on
      // the non-empty lines only.
      val df = docs.toDF("doc_id", "text")
      def strip(d: org.apache.spark.sql.DataFrame): Map[Long, String] =
        graft.operators.Boilerplate
          .stripFrequentLines(d, "doc_id", "text", minDocs.toLong)
          .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      val once = strip(df)
      val survivors = once.toList.toDF("doc_id", "text")
      val freqLeft = graft.operators.Boilerplate
        .frequentLines(survivors, "doc_id", "text", minDocs.toLong)
        .where(col("line") =!= "").count()
      val twice = strip(survivors)
      val stable = once.forall { case (i, t) =>
        t.split("\n", -1).filter(_.nonEmpty).toSeq ==
          twice(i).split("\n", -1).filter(_.nonEmpty).toSeq
      }
      freqLeft == 0L && stable
    }

  // BPE over arbitrary unicode (driver-side — the tokenizer kernel the
  // distributed bpe_count expression calls): byte-exact roundtrip,
  // encode/count agreement, and merges monotonically shrink or preserve
  // token count. Unicode surrogate halves are excluded: lone surrogates
  // are not valid scalar values, and String→UTF-8→String replaces them
  // with U+FFFD by the Unicode spec (not a tokenizer property).
  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    3 -> Gen.oneOf(' ', ' ', '\t', '\n', '\'', '.', ','),
    1 -> Gen.choose('¡', 'ɏ'),
    1 -> Gen.choose('一', '仿'))).map(_.mkString)

  property("BPE: decode(encode(s)) is byte-exact, count == |encode|, " +
      "and merges never increase token count") =
    forAll(textGen, Gen.choose(0, 40)) { (s, nMerges) =>
      import graft.functions.Bpe
      val trained = Bpe.train(Iterator(s, s, s), nMerges)
      val none = Bpe.Merges(IndexedSeq.empty)
      val toks = Bpe.encode(s, trained)
      Bpe.decode(toks) == s &&
        toks.length == Bpe.countTokens(s, trained) &&
        Bpe.decode(Bpe.encode(s, none)) == s &&
        toks.length <= Bpe.encode(s, none).length
    }

  property("ngram-lm: lp_micro is exact — invariant under row order and " +
      "partitioning for arbitrary corpora") =
    forAll(packDocGen.suchThat(_.nonEmpty)) { docs =>
      val target = Seq((1000L, "a bb a ccc a dddd bb"))
      def scores(d: Seq[(Long, String)], parts: Int): Map[Long, Long] =
        graft.operators.NgramLm.perplexity(
          d.toDF("doc_id", "text").repartition(parts),
          target.toDF("doc_id", "text"), "doc_id", "text", 64)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      scores(docs, 1) == scores(docs.reverse, 5)
    }

  property("heavy hitters: the Misra-Gries two-scan plan equals the " +
      "parity aggregate for arbitrary corpora, partitionings and " +
      "thresholds") =
    forAll(
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(
        Gen.frequency(5 -> Gen.const("hot"), 3 -> Gen.const("warm"),
          2 -> Gen.identifier.map(_.take(4)))).map(_.mkString(" "))),
      Gen.choose(2, 12), Gen.choose(1, 7)) { (texts, denom, parts) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").repartition(parts)
      val a = graft.operators.HeavyHitters.frequentTerms(df, "text", denom)
        .collect().map(_.toSeq).toSeq
      val b = graft.operators.HeavyHitters
        .frequentTermsMG(df, "text", denom)
        .collect().map(_.toSeq).toSeq
      a == b
    }
}
