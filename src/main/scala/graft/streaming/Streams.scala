package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.15 notes the reference is
  * batch-only; this is the engine's forward-looking ingest path, built on
  * the same operator semantics as the batch side so a stream of `events`
  * rows feeds the identical downstream tables).
  *
  * Design: event-time everywhere, explicit watermarks bounding state,
  * stateful sessionization via `flatMapGroupsWithState` (the one shape
  * the declarative API cannot express). At scale, state lives in the
  * RocksDB state store and is keyed by the shuffle partitioning — the
  * same partition-by-key reasoning as the batch operators.
  */
object Streams {

  final case class Event(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String, value: Double)
  final case class SessionState(userId: Long, startMs: Long, endMs: Long,
                                nEvents: Long, totalValue: Double)
  final case class Session(user_id: Long, start_ts: java.sql.Timestamp,
                           end_ts: java.sql.Timestamp, n_events: Long,
                           total_value: Double)

  /** File-based event stream with the `events` table schema — swap the
    * path for a Kafka source at deployment; downstream is unchanged. */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
        "event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** File-based event stream over a LONG-microseconds `ts_us` column
    * (the portable on-disk shape [[graft.Queries]]' gate harness writes —
    * integer micros dodge every engine's timestamp-logical-type quirks).
    * `maxFilesPerTrigger` splits the backlog into multiple micro-batches
    * so a finite directory still exercises incremental state. */
  def eventStreamMicros(spark: SparkSession, dir: String,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
      .schema("event_id LONG, ts_us LONG, user_id LONG, " +
        "event_type STRING, value DOUBLE")
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
  }

  /** Global streaming dedup on exact key columns (no event-time column in
    * the key): state holds one entry per distinct key and is never
    * evicted — EXACT, the streaming mirror of batch `dropDuplicates`.
    * Use [[streamingDedup]] when duplicates are time-local and state must
    * stay watermark-bounded. */
  def streamingDedupGlobal(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** Drain a FINITE streaming frame into an in-memory table and return
    * the collected result — the batch-equivalence harness behind the
    * streaming oracle gates: `Trigger.AvailableNow` processes the whole
    * backlog (honoring `maxFilesPerTrigger` batching) then stops, and the
    * memory sink holds everything the stream emitted. The sink is
    * driver-resident — gate/test scale only, not a production sink.
    *
    * `statePartitions` scopes `spark.sql.shuffle.partitions` to the
    * query's lifetime: a stateful query locks its state-store count at
    * first start, and every micro-batch then pays one store (open +
    * snapshot + commit) per partition PER STATEFUL OPERATOR — pure
    * fixed overhead when the backlog is small. Results are identical at
    * any setting (the aggregations are partition-order free by the
    * engine's exactness rules); the knob sizes state parallelism to the
    * stream's actual volume, in either direction — gates size it DOWN
    * (toy backlog, 4-8 micro-batches), a production deployment sizes it
    * UP to its key cardinality.
    *
    * The drain also writes its checkpoint through Spark's
    * `FileSystem`-based checkpoint manager. The default FileContext
    * manager commits every state delta, checksum and log file by
    * renaming a temp file through `AbstractFileSystem.rename`, which on
    * the local filesystem calls `FileUtil.readLink`: one `readlink` child
    * process per file. `FileSystem.rename` (`File.renameTo`) spawns
    * nothing. The one guarantee given up is FileContext's atomic
    * rename-unless-the-target-exists, which protects a checkpoint that
    * two queries write at once. A drain writes its own fresh temporary
    * checkpoint and Spark refuses two active queries with one name, so a
    * drain checkpoint never has a second writer. Checkpoint contents and
    * checksum verification are unchanged. Child processes per drain on
    * the perfbench refresh workload (JFR `jdk.ProcessStart`, sf0.01,
    * 4 state partitions), default manager → this one: stream_join
    * 1,153 → 257, stream_dedup 262 → 62, stream_sessions 252 → 60. The
    * spawns left are `chmod` calls on file create and mkdir, which the
    * local filesystem makes for every writer, sinks included.
    *
    * Both confs are scoped to the drain and restored on every exit path;
    * the streaming query copies the session's confs when it starts. */
  def runToTable(df: DataFrame, name: String, mode: OutputMode,
                 statePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(name) // stale view from a prior run
    val scoped = Seq("spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileSystemBasedCheckpointFileManager].getName) ++
      statePartitions.map(n => "spark.sql.shuffle.partitions" -> n.toString)
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.table(name)
  }

  /** Stream-static enrichment (the streaming form of J1/J4/J5): join the
    * event stream against a batch dimension table. Spark plans the static
    * side as a broadcast per micro-batch when it is small — the same
    * dimension-broadcast reasoning as the batch operators; no stream
    * state is required for this join shape. */
  def enrich(events: DataFrame, dim: DataFrame,
             keys: Seq[String]): DataFrame =
    events.join(dim, keys, "left")

  /** Watermarked sliding-window counts per event type — the streaming
    * form of A17/A18's bucketed rollups. The value sum goes through
    * [[graft.functions.ColumnFns.moneySum]] (decimal-cast) so the result
    * is partition- and batch-order independent — the same cross-engine
    * exactness rule as the batch operators, which is what lets the
    * streaming gate hash-match a SQL oracle. */
  def windowedCounts(events: DataFrame, watermark: String, windowDur: String,
                     slide: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.ColumnFns.moneySum(col("value")).as("total_value"))

  /** Streaming exact dedup on a key set, state bounded by the watermark —
    * the streaming form of U1/exact content dedup. */
  def streamingDedup(events: DataFrame, watermark: String,
                     keys: Seq[String]): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(keys :+ "ts")

  /** Watermarked stream-stream interval join: match each left event with
    * right events for the same key whose event time falls within
    * `[left.ts − before, left.ts + after]` (the impression↔click shape).
    * BOTH sides carry watermarks and the join predicate bounds the time
    * range in BOTH directions, so Spark can prove state eviction: each
    * side buffers only `watermark + interval` of data per key — without
    * the two-sided bound, stream-stream state grows forever. Inner join:
    * unmatched rows drop when their watermark passes. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   watermark: String, beforeSec: Long, afterSec: Long)
      : DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("k"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("rk"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("value").as("r_value"))
    l.join(r,
      col("k") === col("rk") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $beforeSec SECONDS") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $afterSec SECONDS"))
      .drop("rk")
  }

  final case class BandedSig(bucket: String, band: Int, doc_id: Long,
                             sig: Seq[Long])
  final case class NearDupPair(band: Int, id_a: Long, id_b: Long,
                               n_agree: Long, matched: Boolean)
  final case class BucketState(docs: List[(Long, Seq[Long])])

  /** STREAMING near-duplicate detection — MinHash-LSH over a document
    * stream, the ingest-time form of
    * [[graft.operators.NearDup.minHashPortable]]: as documents arrive,
    * each is banded on the same portable signature (md5-derived shingle
    * hashes, universal-hash minima) and compared against every document
    * already resident in its band buckets; every same-bucket pair is
    * emitted exactly once with its signature-agreement count and a
    * `matched` verdict (`n_agree >= minAgree` of `numHashes` — the
    * streaming stand-in for the batch path's exact-Jaccard verify, which
    * would need both shingle SETS in state).
    *
    * Order independence — the property that makes the output equal to
    * the batch band self-join no matter how the backlog splits into
    * micro-batches: a pair is emitted when the LATER-ARRIVING member
    * processes, in canonical (min id, max id) form, so arrival order
    * decides only WHICH arrival emits, never the pair set itself. No
    * event-time, no watermark, no timeout.
    *
    * Unlike the per-doc signature (row-local `array_min` over the fused
    * native shingle hashes — map-only, no aggregation before the
    * stateful operator, which Structured Streaming would reject), state
    * here is global per bucket, like [[streamingDedupGlobal]]: one
    * signature per resident document.
    *
    * State bound — ENFORCED, not advisory: `maxResident` caps the
    * per-bucket resident list. Once a bucket holds `maxResident`
    * signatures, later arrivals still compare against the residents
    * (emitting their ≤ maxResident pairs — heavy buckets are near-dup
    * clusters, so a capped resident set still classifies arrivals) but
    * are NOT inserted, so per-bucket memory is O(maxResident · numHashes)
    * and total pair emission is O(n · maxResident), never O(n²). The
    * realistic hot-bucket cause — re-delivered / duplicated doc ids from
    * an at-least-once source or a re-crawled boilerplate page — does not
    * consume the cap at all: a doc id that is already resident (or was
    * already processed earlier in the same micro-batch) is skipped
    * entirely, emitting nothing and inserting nothing (first delivery
    * wins, as in [[streamingDedupGlobal]]).
    *
    * Guarantees, in decreasing strength:
    *  - buckets whose DISTINCT doc count ≤ maxResident: output is
    *    exactly the batch band self-join pair set over distinct ids,
    *    split-invariant, and exactly-once even under arbitrary
    *    re-delivery (residency doubles as the seen-set);
    *  - buckets beyond the cap: the emitted set is always a SUBSET of
    *    the batch pair set (every emitted pair really collides) with an
    *    invariant count C(cap,2) + cap·(distinct−cap); WHICH partners a
    *    post-saturation arrival pairs with depends on arrival order, and
    *    re-delivery of a never-inserted id degrades exactly-once to
    *    at-least-once for that id's pairs — remembering every seen id
    *    would itself be unbounded state. Where dup pressure is
    *    time-local, re-key the stream by (bucket, day) upstream instead
    *    of raising the cap. */
  def streamingNearDupPairs(docs: DataFrame, id: String, text: String,
                            w: Int = 3, numHashes: Int = 16,
                            bandSize: Int = 4,
                            minAgree: Int = 8,
                            maxResident: Int = 512): Dataset[NearDupPair] = {
    require(numHashes <= graft.operators.NearDup.MinHashA.size &&
      numHashes % bandSize == 0)
    require(maxResident > 0, "maxResident must be positive")
    graft.plans.GraftExtensions.register(docs.sparkSession)
    import docs.sparkSession.implicits._
    val nBands = numHashes / bandSize
    // fused native signature (graft.plans.MinHashSig): one pass over the
    // shingle hashes updates all n minima — the HOF form re-walked the
    // array once per component (measured ~0.4 s/micro-batch at sf0.1)
    val sig = call_function("minhash_sig", col(text), lit(w),
      lit(numHashes))
    val banded = docs
      .select(col(id).cast("long").as("doc_id"), sig.as("sig"))
      .where(size(col("sig")) > 0) // < w words → no shingles, as in batch
      .select(col("doc_id"), col("sig"), explode(array((0 until nBands)
        .map { t =>
          struct(lit(t).as("band"),
            concat_ws("|", lit(t) +: (0 until bandSize).map(x =>
              element_at(col("sig"), t * bandSize + x + 1)): _*)
              .as("bucket"))
        }: _*)).as("bk"))
      .select(col("bk.bucket"), col("bk.band"), col("doc_id"), col("sig"))
      .as[BandedSig]
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[BucketState]) =>
          // primitive arrays for the inner compare loop (the encoder's
          // Seq[Long] would box every component per pair)
          var resident: List[(Long, Array[Long])] = state.getOption
            .map(_.docs.map { case (i, s) => (i, s.toArray) })
            .getOrElse(Nil)
          val residentIds = scala.collection.mutable.HashSet.empty[Long]
          resident.foreach { case (i, _) => residentIds += i }
          var nResident = residentIds.size
          // guards post-saturation arrivals repeated WITHIN a batch
          // (pre-saturation repeats are caught by residentIds)
          val seenThisBatch = scala.collection.mutable.HashSet.empty[Long]
          val out = List.newBuilder[NearDupPair]
          // doc_id order within the batch: emission is deterministic for
          // a fixed backlog split, and the pair SET is split-invariant
          // for every bucket under the cap
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            val isDup = residentIds.contains(d.doc_id) ||
              !seenThisBatch.add(d.doc_id)
            if (!isDup) { // first delivery wins; re-delivery emits nothing
              val ds = d.sig.toArray
              resident.foreach { case (other, osig) =>
                var agree = 0L
                var i = 0
                while (i < ds.length) {
                  if (osig(i) == ds(i)) agree += 1L
                  i += 1
                }
                // other != d.doc_id: resident ids never contain a
                // non-dup arrival, so the degenerate (id, id) row is
                // impossible by construction
                out += NearDupPair(d.band, math.min(other, d.doc_id),
                  math.max(other, d.doc_id), agree, agree >= minAgree)
              }
              if (nResident < maxResident) {
                resident = (d.doc_id, ds) :: resident
                residentIds += d.doc_id
                nResident += 1
              }
            }
          }
          state.update(BucketState(
            resident.map { case (i, a) => (i, a.toSeq) }))
          out.result().iterator
      }
  }

  /** Gap-based sessionization: a session closes when `gapSec` of event
    * time passes with no activity for the user. Sessions that close
    * *inside* a batch (two bursts separated by more than the gap) are
    * emitted immediately; the trailing open session is emitted on
    * event-time timeout. State per user is O(1). */
  def sessionize(events: Dataset[Event], watermark: String,
                 gapSec: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSec * 1000
    def emit(s: SessionState): Session =
      Session(s.userId, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.endMs), s.nEvents, s.totalValue)
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, evts, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(s))
          } else {
            // Fold events in time order so a >gap jump — whether against
            // carried state or between two events of this batch — closes
            // the running session and starts a fresh one.
            val batch = evts.toSeq.sortBy(_.ts.getTime)
            val closed = Seq.newBuilder[Session]
            var cur = state.getOption
            batch.foreach { e =>
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.endMs > gapMs =>
                  closed += emit(s)
                  Some(SessionState(uid, t, t, 1L, e.value))
                case Some(s) =>
                  Some(SessionState(uid, math.min(s.startMs, t),
                    math.max(s.endMs, t), s.nEvents + 1L,
                    s.totalValue + e.value))
                case None =>
                  Some(SessionState(uid, t, t, 1L, e.value))
              }
            }
            val open = cur.get // batch is non-empty when not timed out
            state.update(open)
            // The timeout instant must be strictly later than the current
            // watermark or Spark throws; a session already older than the
            // watermark times out at the next possible tick instead.
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(wm + 1, open.endMs + gapMs))
            closed.result().iterator
          }
      }
  }
}
