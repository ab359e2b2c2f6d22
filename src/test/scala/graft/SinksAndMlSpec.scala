package graft

import graft.ml.Models
import graft.sources.Sinks
import org.apache.spark.sql.functions._

class SinksAndMlSpec extends SparkSpec {
  import spark.implicits._

  test("S6 upsert: incoming wins on collision, others survive") {
    val existing = Seq((1L, "old"), (2L, "old")).toDF("k", "src")
    val incoming = Seq((2L, "new"), (3L, "new")).toDF("k", "src")
    val out = Sinks.upsert(existing, incoming, Seq("k"))
      .orderBy("k").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "old"), (2L, "new"), (3L, "new")))
  }

  test("upsertAt on a parquet path rewrites it to the upsert() result " +
      "and clears its swap directory") {
    // path-level upsert on a parquet dir = the oracle-gated upsert()
    val dir = java.nio.file.Files.createTempDirectory("graftups").toString
    Seq((1L, "old"), (2L, "old")).toDF("k", "src")
      .write.mode("overwrite").parquet(dir)
    Sinks.upsertAt(spark, dir,
      Seq((2L, "new"), (3L, "new")).toDF("k", "src"), Seq("k"))
    val out = spark.read.parquet(dir)
      .orderBy("k").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "old"), (2L, "new"), (3L, "new")))
    // the temp swap directory must not survive
    assert(!new java.io.File(dir + "__upsert_tmp").exists())
  }

  test("upsertAt recovers a crash between the two swap renames") {
    // simulate the one data-loss window the round-13 advice named: the
    // previous run renamed path -> __old and died before tmp -> path,
    // so the table exists ONLY at __old
    val dir = java.nio.file.Files.createTempDirectory("graftcr").toString +
      "/tbl"
    Seq((1L, "old"), (2L, "old")).toDF("k", "src")
      .write.mode("overwrite").parquet(dir + "__upsert_old")
    assert(!new java.io.File(dir).exists())
    Sinks.upsertAt(spark, dir,
      Seq((2L, "new"), (3L, "new")).toDF("k", "src"), Seq("k"))
    val out = spark.read.parquet(dir)
      .orderBy("k").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "old"), (2L, "new"), (3L, "new")))
    assert(!new java.io.File(dir + "__upsert_old").exists())
  }

  test("S3+S1 CSV round-trip preserves values through export/import") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.25)).toDF("id", "s", "v")
    Sinks.csvExport(df, dir)
    val back = Sinks.csvImport(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, s STRING, v DOUBLE"), Seq("id"))
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("S1 csvImport drops null-required rows and FK violations") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv2").toString
    Seq((Some(1L), "x"), (None, "y"), (Some(99L), "z"))
      .toDF("fk", "s").coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir)
    val dim = Seq(1L, 2L).toDF("k")
    val out = Sinks.csvImport(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("fk BIGINT, s STRING"),
      Seq("fk"), Some((dim, "fk", "k")))
    assert(out.select("s").as[String].collect().toSeq == Seq("x"))
  }

  test("S5 overwrite sink round-trips a derived table") {
    val dir = java.nio.file.Files.createTempDirectory("graftpq").toString
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    Sinks.overwrite(df, dir)
    Sinks.overwrite(df, dir) // idempotent overwrite
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("bucketed tables eliminate the fact-fact join shuffle") {
    // the SCALE.md claim, asserted on the physical plan: joining two
    // tables bucketed on the join key must not introduce a hash-partition
    // exchange on either side
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // the in-memory catalog forgets tables between JVMs but their managed
    // locations persist under spark-warehouse/ - clear both first
    Seq("li_bucketed", "o_bucketed").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = java.nio.file.Paths.get("spark-warehouse", tbl)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Sinks.writeBucketed(li, "li_bucketed", 4, Seq("l_orderkey"))
    Sinks.writeBucketed(o, "o_bucketed", 4, Seq("l_orderkey"))
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"), Seq("l_orderkey"))
      .groupBy("l_orderkey").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in bucketed join plan:\n$plan")
    assert(joined.count() > 0)
  }

  test("S9 JDBC source: partitioned read + predicate pushdown against " +
      "an embedded Derby database") {
    // Derby ships in /opt/spark/jars (metastore dependency) — a real
    // database for the JDBC seam, not a compile-only check
    val dbDir = java.nio.file.Files.createTempDirectory("graftdb").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE tx (id INT NOT NULL, seg VARCHAR(10), val DOUBLE)")
      val ps = conn.prepareStatement("INSERT INTO tx VALUES (?, ?, ?)")
      (1 to 100).foreach { i =>
        ps.setInt(1, i); ps.setString(2, if (i % 2 == 0) "A" else "B")
        ps.setDouble(3, i * 1.5); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()

    val df = graft.sources.Tables.jdbc(spark, url, "tx", "id", 1L, 100L, 4)
    assert(df.rdd.getNumPartitions == 4) // the scan parallelizes
    assert(df.count() == 100)
    val filtered = df.where(col("ID") < 10)
    assert(filtered.count() == 9)
    // the range predicate must reach the database, not Spark
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("LessThan"),
      s"expected JDBC predicate pushdown in:\n$scan")
    val s = df.agg(sum(col("VAL"))).head().getDouble(0)
    assert(math.abs(s - (1 to 100).map(_ * 1.5).sum) < 1e-9)
  }

  test("churn GBT learns a separable synthetic pattern") {
    // churners: high recency, low frequency — clearly separable
    val feats = ((1 to 60).map(i => (i.toLong, 80L + i % 10, 2L, 50.0,
      3L, 10.0, 1L, if (i % 2 == 0) "A" else "B")) ++
      (61 to 120).map(i => (i.toLong, 5L + i % 3, 20L, 900.0,
        30L, 2.5, 0L, if (i % 2 == 0) "A" else "B")))
      .toDF("ck", "recency", "frequency", "monetary", "product_variety",
        "avg_purchase_gap", "is_churn", "seg")
    val (model, scored) = Models.churnScores(feats,
      Seq("recency", "frequency", "monetary", "product_variety",
        "avg_purchase_gap"), Seq("seg"), "is_churn")
    val metrics = Models.evaluate(scored)
    assert(metrics("accuracy") > 0.95, s"accuracy=${metrics("accuracy")}")
    // probabilities land on the correct side
    val avgChurnP = scored.where($"is_churn" === 1L)
      .agg(avg("churn_probability")).head().getDouble(0)
    val avgStayP = scored.where($"is_churn" === 0L)
      .agg(avg("churn_probability")).head().getDouble(0)
    assert(avgChurnP > 0.8 && avgStayP < 0.2)
  }

  test("stratified split keeps label proportions, seed-stable") {
    val df = ((1 to 80).map(i => (i.toLong, 0L)) ++
      (81 to 100).map(i => (i.toLong, 1L))).toDF("id", "label")
    val (tr1, te1) = Models.stratifiedSplit(df, "label", 0.8)
    val (tr2, _) = Models.stratifiedSplit(df, "label", 0.8)
    assert(tr1.select("id").as[Long].collect().sorted.toSeq ==
      tr2.select("id").as[Long].collect().sorted.toSeq)
    assert(tr1.count() + te1.count() == 100)
    val frac1 = tr1.where($"label" === 1L).count().toDouble / tr1.count()
    assert(frac1 > 0.1 && frac1 < 0.3)
  }

  test("hash stratified split is identical across partition layouts") {
    val df = ((1 to 400).map(i => (i.toLong, (i % 5 == 0).compare(false)
      .toLong))).toDF("id", "label")
    def trainIds(d: org.apache.spark.sql.DataFrame) =
      Models.stratifiedSplit(d, "label", 0.8, keyCol = Some("id"))
        ._1.select("id").as[Long].collect().toSet
    val a = trainIds(df.repartition(1))
    val b = trainIds(df.repartition(7, $"label"))
    assert(a == b) // layout-independent: same keys train either way
    val (tr, te) = Models.stratifiedSplit(df, "label", 0.8,
      keyCol = Some("id"))
    assert(tr.count() + te.count() == 400)
    assert(tr.join(te, Seq("id")).count() == 0) // complementary
    val frac = a.size / 400.0
    assert(frac > 0.7 && frac < 0.9)
  }

  test("LabelEncoder: sorted classes, unseen and null map to class 0") {
    // sklearn parity (ml_models.py:416-430): classes_ = sorted unique,
    // unseen -> classes_[0]
    val train = Seq("banana", "apple", "cherry", "apple").toDF("fruit")
    val enc = new graft.ml.LabelEncoder().setInputCol("fruit")
      .setOutputCol("code").fit(train)
    assert(enc.getClasses.toSeq == Seq("apple", "banana", "cherry"))
    val test_ = Seq(Some("cherry"), Some("durian"), None).toDF("fruit")
    val codes = enc.transform(test_).select("code").as[Double].collect().toSeq
    assert(codes == Seq(2.0, 0.0, 0.0))
  }

  test("LabelEncoder: nulls at fit become the class 'nan' (pandas astype)") {
    // the reference's astype(str) turns NaN into the literal 'nan', which
    // np.unique sorts into classes_ — so a null-bearing fit column gets a
    // 'nan' class, and it SHIFTS codes of classes sorting after it
    val train = Seq(Some("b"), None, Some("a")).toDF("fruit")
    val enc = new graft.ml.LabelEncoder().setInputCol("fruit")
      .setOutputCol("code").fit(train)
    assert(enc.getClasses.toSeq == Seq("a", "b", "nan"))
    val scored = enc.transform(
      Seq(Some("a"), None, Some("zz")).toDF("fruit"))
      .select("code").as[Double].collect().toSeq
    assert(scored == Seq(0.0, 2.0, 0.0)) // null -> its own class, not 0

    // 'nan' sorting BEFORE other classes shifts every code after it
    val train2 = Seq(Some("x"), None, Some("z")).toDF("fruit")
    val enc2 = new graft.ml.LabelEncoder().setInputCol("fruit")
      .setOutputCol("code").fit(train2)
    assert(enc2.getClasses.toSeq == Seq("nan", "x", "z"))
    val scored2 = enc2.transform(
      Seq(Some("x"), Some("z"), None).toDF("fruit"))
      .select("code").as[Double].collect().toSeq
    assert(scored2 == Seq(1.0, 2.0, 0.0))
  }

  test("LabelEncoder survives pipeline persistence inside a PipelineModel") {
    val df = Seq(("b", 1.0, 0.0), ("a", 2.0, 1.0), ("c", 3.0, 1.0),
      ("a", 4.0, 0.0)).toDF("seg", "x", "label")
    val pipe = new org.apache.spark.ml.Pipeline()
      .setStages(Models.featureStages(Seq("x"), Seq("seg")))
    val fitted = pipe.fit(df)
    val dir = java.nio.file.Files.createTempDirectory("graftle").toString
    fitted.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    val a = fitted.transform(df).select("seg_code").as[Double].collect().toSeq
    val b = loaded.transform(df).select("seg_code").as[Double].collect().toSeq
    assert(a == b && a == Seq(1.0, 0.0, 2.0, 0.0))
  }

  test("model zoo estimators all train on a tiny frame") {
    val feats = ((1 to 40).map(i => (Vector(i.toDouble, 100.0 - i), 0.0)) ++
      (41 to 80).map(i => (Vector(i.toDouble + 100, i.toDouble), 1.0)))
      .map { case (v, l) =>
        (org.apache.spark.ml.linalg.Vectors.dense(v.toArray), l)
      }.toDF("features", "label")
    Models.zoo(2, toyScale = true).foreach { case (name, est) =>
      val model = est.asInstanceOf[org.apache.spark.ml.Estimator[_]]
        .fit(feats).asInstanceOf[org.apache.spark.ml.Transformer]
      val acc = Models.evaluate(model.transform(feats))("accuracy")
      assert(acc > 0.9, s"$name accuracy=$acc")
    }
  }

  test("recommendTopNeighbors: population-sized cap is bit-equal to the " +
      "uncapped path, and n=1 scores only the single best partner") {
    // hand-computable fixture: target u1; partners u2 (shares i1,i2 →
    // cos ≈ 0.845) and u3 (shares i1 → cos ≈ 0.186). u2's unpurchased
    // item is i4, u3's is i3 — so n=1 must recommend ONLY i4 (via the
    // top partner) while any n ≥ 2 adds i3; n ≥ population reproduces
    // recommendDirect bit-for-bit (the q_cf_recommendations_topn gate's
    // identity contract).
    val counts = Seq((1L, 1L, 3L), (1L, 2L, 1L), (2L, 1L, 3L),
      (2L, 2L, 1L), (2L, 4L, 2L), (3L, 3L, 5L), (3L, 1L, 1L))
      .toDF("u", "i", "c")
    val filt = (u: org.apache.spark.sql.Column) => u === 1
    val uncapped = operators.Collab.recommendDirect(counts, 5, filt)
      .collect().map(_.toSeq).toSet
    val capped = operators.Collab
      .recommendTopNeighbors(counts, 5, 1000, filt)
      .collect().map(_.toSeq).toSet
    assert(capped == uncapped && capped.nonEmpty)
    val one = operators.Collab.recommendTopNeighbors(counts, 5, 1, filt)
      .collect()
    assert(one.map(r => (r.getAs[Long]("u"), r.getAs[Long]("i"))).toSeq ==
      Seq((1L, 4L)))
  }

  test("ALS scale path: shape contract + recall overlap vs neighborhood CF") {
    // the documented 100 TB alternative to the neighborhood model
    // (Collab.recommendAls scaladoc): a different algorithm by design,
    // so no oracle — the gate is (a) the recommend() output contract and
    // (b) seeded recall overlap with the neighborhood top-k well above
    // the ~k/|items| chance floor on real testdata
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val counts = operators.Collab.userItemCounts(
      li.join(orders, Seq("o_orderkey")), "o_custkey", "l_partkey")
      .localCheckpoint(true)
    val k = 5
    val filt = (u: org.apache.spark.sql.Column) => u % 10 === 0
    val als = operators.Collab.recommendAls(counts, k, rank = 16,
      maxIter = 10, seed = 42L, targetFilter = filt)
    val rows = als.collect()
    assert(rows.nonEmpty)
    // contract: rn dense 1..k per user, scores non-increasing along rn,
    // nothing already purchased
    val byUser = rows.groupBy(_.getAs[Long]("u"))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).toSeq ==
        (1L to sorted.length).toSeq, s"user $u rn not dense")
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"user $u scores not ranked")
      assert(sorted.length <= k)
    }
    val purchased = counts.where(filt(col("u")))
      .select(col("u"), col("i")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.forall(r =>
      !purchased((r.getAs[Long]("u"), r.getAs[Long]("i")))),
      "ALS recommended an already-purchased item")
    // recall overlap vs the oracle-gated neighborhood top-k
    val neigh = operators.Collab.recommendDirect(counts, k, filt).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("i"))).toSet
    val alsSet = rows.map(r => (r.getAs[Long]("u"), r.getAs[Long]("i"))).toSet
    val overlap = alsSet.intersect(neigh).size.toDouble /
      math.max(1, neigh.size)
    val nItems = counts.select(col("i")).distinct().count()
    val chance = k.toDouble / nItems
    // the sf0.001 purchase matrix is SYNTHETIC (near-uniform TPC-H
    // draws), so both models largely rank noise and agreement tops out
    // low — seeded ALS measures 0.120 here (4.8x the 0.025 chance
    // floor); the gate at 3x catches "learned nothing" without pinning
    // the noise ceiling
    assert(overlap > 3 * chance,
      f"ALS/neighborhood top-$k overlap $overlap%.3f is not above 3x " +
        f"the $chance%.4f chance floor — factorization learned nothing")
  }
}
