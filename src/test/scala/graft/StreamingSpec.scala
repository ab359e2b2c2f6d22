package graft

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new java.sql.Timestamp(min * 60000L)

  test("windowed counts aggregate per event-time window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.windowedCounts(in.toDF(), "1 minute", "5 minutes",
        "5 minutes")
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").start()
    in.addData(
      Event(1L, ts(0), "click", 1.0), Event(2L, ts(1), "click", 2.0),
      Event(1L, ts(7), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("wc")
      .select($"event_type", $"n", $"total_value").collect()
    q.stop()
    assert(rows.exists(r => r.getString(0) == "click" && r.getLong(1) == 2))
    assert(rows.exists(r => r.getString(0) == "view" && r.getLong(1) == 1))
  }

  test("streaming dedup drops repeated keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.streamingDedup(in.toDF(), "10 minutes", Seq("user_id"))
      .writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    // note: timestamps must sit above the initial watermark (epoch 0) or
    // the very first row is classed as late and silently dropped
    in.addData(Event(1L, ts(1000), "click", 1.0))
    q.processAllAvailable()
    in.addData(Event(1L, ts(1000), "click", 1.0),
      Event(2L, ts(1001), "view", 2.0))
    q.processAllAvailable()
    val n = spark.table("dd").count()
    q.stop()
    assert(n == 2) // the duplicate (user 1, same ts) is dropped
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = Streams.enrich(in.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enr")
      .outputMode("append").start()
    in.addData(Event(1L, ts(1), "click", 1.0), Event(3L, ts(2), "view", 2.0))
    q.processAllAvailable()
    val rows = spark.table("enr")
      .select($"user_id", $"tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    q.stop()
    assert(rows(1L).contains("gold"))
    assert(rows(3L).isEmpty) // unmatched key survives the left join
  }

  test("stream-stream interval join matches clicks to in-window views " +
      "per user") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = Streams.intervalJoin(clicks.toDF(), views.toDF(), "user_id",
        "10 minutes", beforeSec = 0L, afterSec = 300L)
      .writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    clicks.addData(Event(1L, ts(1000), "click", 1.0),
      Event(2L, ts(1000), "click", 1.0))
    views.addData(
      Event(1L, ts(1002), "view", 5.0),  // within 5 min after → match
      Event(1L, ts(1009), "view", 7.0),  // 9 min after → no match
      Event(2L, ts(999), "view", 9.0))   // before the click → no match
    q.processAllAvailable()
    val rows = spark.table("ij")
      .select($"k", $"l_type", $"r_type", $"r_value").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getDouble(3) == 5.0)
  }

  test("sessionization closes a session after the event-time gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS(), "10 seconds", gapSec = 300)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    // user 1: two events a minute apart -> one open session
    in.addData(Event(1L, ts(600), "click", 1.0),
      Event(1L, ts(601), "view", 2.0))
    q.processAllAvailable()
    assert(spark.table("sess").count() == 0) // still open
    // a much later event advances the watermark past end+gap
    in.addData(Event(2L, ts(660), "click", 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sess").as[Streams.Session].collect()
    q.stop()
    assert(sessions.length == 1)
    assert(sessions(0).user_id == 1L && sessions(0).n_events == 2L
      && sessions(0).total_value == 3.0)
  }

  test("sessionization splits bursts separated by more than the gap " +
      "within a single batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS(), "10 seconds", gapSec = 300)
      .writeStream.format("memory").queryName("sess2")
      .outputMode("append").start()
    // one batch, two bursts 20 minutes apart (gap is 5) — the first burst
    // must be emitted as a closed session immediately, not merged
    in.addData(
      Event(7L, ts(600), "click", 1.0), Event(7L, ts(601), "view", 2.0),
      Event(7L, ts(621), "click", 4.0))
    q.processAllAvailable()
    val closed = spark.table("sess2").as[Streams.Session].collect()
    assert(closed.length == 1)
    assert(closed(0).n_events == 2L && closed(0).total_value == 3.0)
    assert(closed(0).start_ts == ts(600) && closed(0).end_ts == ts(601))
    // the second burst is still open; advance the watermark to flush it
    in.addData(Event(8L, ts(700), "click", 1.0))
    q.processAllAvailable()
    val all = spark.table("sess2").as[Streams.Session].collect()
    q.stop()
    val second = all.filter(s => s.user_id == 7L && s.n_events == 1L)
    assert(second.length == 1 && second(0).total_value == 4.0)
  }

  test("streaming near-dup: pair set is arrival-split invariant and " +
      "every pair is emitted exactly once") {
    implicit val sqlCtx = spark.sqlContext
    // two near-identical docs (1, 2), one exact copy (3 of 1), two
    // unrelated docs — under bandSize 2 the dup cluster collides in
    // every band, the unrelated docs in none
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and often"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different words about markets prices and trading"),
      (5L, "unrelated content discussing streams state and watermarks"))
    def run(name: String, splits: Seq[Seq[(Long, String)]]): Set[(Int, Long, Long, Long, Boolean)] = {
      val in = MemoryStream[(Long, String)]
      val q = Streams.streamingNearDupPairs(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text",
          w = 3, numHashes = 16, bandSize = 2, minAgree = 8)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      splits.foreach { batch => in.addData(batch); q.processAllAvailable() }
      val rows = spark.table(name).collect().map(r => (r.getInt(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      q.stop()
      // exactly once: no duplicate (band, pair) rows
      assert(rows.length == rows.toSet.size, s"$name emitted duplicates")
      rows.toSet
    }
    val oneShot = run("snd_a", Seq(corpus))
    val split = run("snd_b", Seq(corpus.take(2), corpus.slice(2, 4),
      corpus.drop(4)))
    val reversed = run("snd_c", Seq(corpus.reverse))
    assert(oneShot == split && oneShot == reversed,
      "pair set must not depend on the backlog split or arrival order")
    val pairIds = oneShot.map(p => (p._2, p._3))
    // the exact copy agrees on all 16 mins in every band; unrelated docs
    // never pair
    assert(oneShot.filter(p => (p._2, p._3) == (1L, 3L))
      .forall(p => p._4 == 16L && p._5))
    assert(pairIds.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
    assert(pairIds.contains((1L, 3L)) && pairIds.contains((1L, 2L)))
  }

  private def runNearDup(name: String, splits: Seq[Seq[(Long, String)]],
                         cap: Int): Seq[(Int, Long, Long, Long, Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamingNearDupPairs(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        w = 3, numHashes = 16, bandSize = 2, minAgree = 8,
        maxResident = cap)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    splits.foreach { batch => in.addData(batch); q.processAllAvailable() }
    val rows = spark.table(name).collect().map(r => (r.getInt(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    q.stop()
    rows
  }

  test("streaming near-dup: a 10x-duplicated hot bucket stays bounded — " +
      "re-delivered ids emit nothing, and the pair set over distinct ids " +
      "is split-invariant") {
    // 6 distinct ids, one shared text -> one hot bucket per band (8
    // bands); every (id, text) row delivered 10 times. If re-delivery
    // grew state or re-compared, duplicate pair rows and degenerate
    // (id, id) rows would appear and the count would explode past the
    // distinct-pair set.
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val distinct = (1L to 6L).map(i => (i, txt))
    val hot = Seq.fill(10)(distinct).flatten
    val oneShot = runNearDup("hot_a", Seq(hot), cap = 6)
    val manySplit = runNearDup("hot_b", hot.grouped(7).toSeq, cap = 6)
    val shuffled = runNearDup("hot_c",
      Seq(hot.reverse.take(25), hot.reverse.drop(25)), cap = 6)
    for (rows <- Seq(oneShot, manySplit, shuffled)) {
      assert(rows.size == rows.toSet.size, "re-delivery re-emitted a pair")
      assert(rows.forall(p => p._2 < p._3), "degenerate (id,id) row")
      // exactly the batch pair set over DISTINCT ids: C(6,2)=15 pairs in
      // each of the 8 bands, all full-agreement matches
      assert(rows.size == 15 * 8)
      assert(rows.forall(p => p._4 == 16L && p._5))
    }
    assert(oneShot.toSet == manySplit.toSet &&
      oneShot.toSet == shuffled.toSet,
      "pair set must not depend on the backlog split of the hot stream")
  }

  test("streaming near-dup: maxResident caps state — post-saturation " +
      "arrivals emit exactly cap pairs per band and the count is " +
      "split-invariant") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 6L).map(i => (i, txt))
    val cap = 4
    // per band: C(4,2) pairs among residents + 4 pairs for each of the
    // 2 post-saturation arrivals = 14; pairs-per-arrival == cap after
    // saturation is the behavioral proof that residents stayed at cap
    val expected = (6 + 2 * cap) * 8
    val oneShot = runNearDup("cap_a", Seq(docs), cap)
    val split = runNearDup("cap_b", docs.grouped(2).toSeq, cap)
    for (rows <- Seq(oneShot, split)) {
      assert(rows.size == expected,
        s"expected $expected pairs, got ${rows.size}")
      assert(rows.size == rows.toSet.size)
      // soundness: every emitted pair really collides (all docs share
      // the text, so any distinct ordered pair is a true batch pair)
      assert(rows.forall(p => p._2 < p._3 && p._3 <= 6L && p._4 == 16L))
      // each post-saturation arrival pairs with exactly `cap` residents
      val perDoc = rows.groupBy(_._3).map { case (b, ps) =>
        b -> ps.size / 8 }
      assert(perDoc(5L) == cap && perDoc(6L) == cap)
    }
  }

  /** A finite two-file event backlog with duplicate (user, type) pairs,
    * in [[Streams.eventStreamMicros]]' on-disk shape. */
  private lazy val backlog: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_drain").toString
    (1L to 40L).map(i => (i, i * 60000000L, i % 7, if (i % 3 == 0) "click"
        else "view", i.toDouble))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .repartition(2).write.mode("overwrite").parquet(out)
    out
  }

  private def dedupDrain(name: String) =
    Streams.runToTable(Streams.streamingDedupGlobal(
        Streams.eventStreamMicros(spark, backlog, Some(1)),
        Seq("user_id", "event_type")),
      name, OutputMode.Append(),
      statePartitions = Some(2))

  private val checkpointManager =
    "spark.sql.streaming.checkpointFileManagerClass"
  private def drainConfs = Seq("spark.sql.shuffle.partitions",
    checkpointManager).map(spark.conf.getOption)

  test("runToTable restores shuffle partitions and the checkpoint " +
      "manager after a drain, also when the query throws") {
    val fileContext = classOf[FileContextBasedCheckpointFileManager].getName
    // both an unset manager conf and a caller's own value come back
    for (callerManager <- Seq(None, Some(fileContext))) {
      callerManager.foreach(spark.conf.set(checkpointManager, _))
      try {
        val before = drainConfs
        assert(dedupDrain("drain_ok").count() == 14L) // 7 users x 2 types
        assert(drainConfs == before)
        val failing = Streams.eventStreamMicros(spark, backlog)
          .withColumn("boom", raise_error(lit("boom")))
        intercept[StreamingQueryException] {
          Streams.runToTable(failing, "drain_fail", OutputMode.Append(),
            statePartitions = Some(3))
        }
        assert(drainConfs == before)
      } finally spark.conf.unset(checkpointManager)
    }
  }

  test("runToTable: draining the same name twice returns the full " +
      "result both times") {
    val first = dedupDrain("drain_twice").collect().toSet
    val second = dedupDrain("drain_twice").collect().toSet
    assert(first.size == 14)
    assert(second == first)
  }
}
