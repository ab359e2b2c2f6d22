package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The benchmark client: one process, one client thread, a closed loop with
  * no think time. See perfbench/NOTES.md for the workloads and metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --work <dir> --expected <file> --result <file>
  *      [--record | --selftest]
  * }}}
  * The result (one JSON object) is written to `--result`; the run's
  * operations, spans and per-layer table go to `<work>/trace.json` when
  * traced. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val flags = argv.filter(f => f == "--record" || f == "--selftest").toSet
    val wl = Workloads(a("workload")).getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = session()
    System.err.println(f"[perfbench] session ready at ${(System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")
    val ctx = new Ctx(spark, Paths.get(a("data"), s"sf${wl.scale}").toString, work)
    val expectedPath = Paths.get(a("expected"))
    try {
      if (flags("--record")) Record(ctx, wl, a("seed").toLong, Paths.get(a("result")))
      else if (flags("--selftest")) selfTest(ctx, wl, Checks.load(expectedPath), Paths.get(a("result")))
      else {
        val r = new Runner(ctx, wl, a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", Checks.load(expectedPath))
        Files.writeString(Paths.get(a("result")), json(r.run()))
      }
    } finally spark.stop()
  }

  /** Local mode with min(4, cores) task slots and as many shuffle
    * partitions; everything Spark writes stays under the working dir. */
  def session(): SparkSession = {
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def slots(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Maps, sequences, numbers, strings and case classes as JSON text. */
  def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** Runs one operation of the workload and shows that its check accepts
    * the recorded digest and rejects the same digest with one field made
    * wrong (row count, content hash, schema). */
  def selfTest(c: Ctx, wl: Workload, expected: Map[String, Expected], out: Path): Unit = {
    wl.prepare(c)
    val op = wl.pool(new Random(1)).find(o => expected.get(o.key).exists(_.hash.isDefined))
      .getOrElse(sys.error("no hash-checked operation in the expected file"))
    val (k, d) = op.body(c).checks.head
    val e = expected(k)
    val wrong = Seq(
      "rows" -> e.copy(rows = e.rows + 1),
      "hash" -> e.copy(hash = e.hash.map(h => (BigInt(h) + 1).toString)),
      "schema" -> e.copy(schema = e.schema + " "))
    val lines = s"accepts $k as recorded: ${e.accepts(d)}" +:
      wrong.map { case (f, w) => s"rejects $k with a wrong $f: ${!w.accepts(d)}" }
    val ok = e.accepts(d) && wrong.forall(w => !w._2.accepts(d))
    Files.writeString(out, (lines :+ (if (ok) "selftest passed" else "selftest FAILED")).mkString("\n") + "\n")
    if (!ok) sys.exit(1)
  }
}

/** Executes operations in a closed loop, records them, checks outputs. */
final class Runner(c: Ctx, wl: Workload, seed: Long, seconds: Double,
                   traceRun: Boolean, expected: Map[String, Expected]) {
  private val spark = c.spark
  val records = ArrayBuffer.empty[OpRecord]
  private val failures = ArrayBuffer.empty[String]
  private var nextId = 0
  private var lastEndNs = 0L
  /** Persisted RDD id -> the operation that persisted it (traced runs). */
  private val rddOwner = scala.collection.mutable.Map.empty[Int, OpRecord]

  def execute(op: Op, traced: Boolean): OpRecord = {
    nextId += 1
    c.opId = nextId
    c.traced = traced
    c.spans.clear()
    val startNs = System.nanoTime()
    val gapNs = if (lastEndNs == 0L) 0L else startNs - lastEndNs
    val startMs = System.currentTimeMillis()
    val (outcome, err) =
      try (Some(op.body(c)), "")
      catch { case e: Throwable => (None, s"${e.getClass.getName}: ${e.getMessage}") }
    val latencyNs = System.nanoTime() - startNs
    val endMs = System.currentTimeMillis()
    // the output check is client work: it runs after the timed interval
    val bad = if (!wl.checked) Nil else outcome.toSeq.flatMap(_.checks).collect {
      case (k, d) if !expected.get(k).exists(_.accepts(d)) => k
    }
    val ok = outcome.isDefined && bad.isEmpty
    if (!ok) {
      val why = if (err.nonEmpty) err
        else s"output check failed: ${bad.take(3).mkString(", ")}${if (expected.isEmpty) " (no expected file)" else ""}"
      failures += s"${op.key}: $why"
      System.err.println(s"[perfbench] ${op.key} FAILED: $why")
    }
    val r = OpRecord(nextId, op.name, op.param, traced, startMs, endMs, latencyNs, gapNs,
      c.spans.toList, outcome.map(_.resultRows).getOrElse(0L), ok, err,
      outcome.map(_.extra).getOrElse(Map.empty))
    if (traceRun) spark.sparkContext.getPersistentRDDs.keys
      .foreach(id => if (!rddOwner.contains(id)) rddOwner(id) = r)
    System.err.println(f"[perfbench] op ${r.id} ${op.key} ${latencyNs / 1e6}%.0f ms")
    lastEndNs = System.nanoTime()
    r
  }

  def run(): ListMap[String, Any] = {
    val rng = new Random(seed)
    // round i, warm-up and timed alike, runs parameter set i % 3: a
    // dashboard run averages over two or three draws, and its warm-up has
    // run every set its timed rounds run
    val pools = Seq.fill(3)(wl.pool(rng))
    def roundOps(i: Int) = rng.shuffle(pools(i % pools.size))
    wl.prepare(c)
    // untimed warm-up, so JIT, codegen and table-schema caches are warm
    // before timing starts
    for (i <- 0 until wl.warmupRounds) {
      val round = roundOps(i)
      (if (i == 0) wl.firstRound(round) else round).foreach(execute(_, traced = false))
    }
    failures.clear()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val trace = if (traceRun) Some(new Trace(spark)) else None
    // traced runs alternate untraced and traced rounds (at least an
    // untraced one on each side of a traced one), so tracing overhead is
    // measured in the same process
    val t0 = System.nanoTime()
    var round = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untracedRates = ArrayBuffer.empty[Double]
    val cpuMsPerOp = ArrayBuffer.empty[Double]
    while (round == 0 || elapsed < seconds || (traceRun && round < 3)) {
      val traced = traceRun && round % 2 == 1
      if (traced) trace.foreach(_.start())
      lastEndNs = 0L // a round's first operation has no client gap
      val r0 = System.nanoTime()
      val cpu0 = Runner.processCpuNs()
      val ops = roundOps(round)
      ops.foreach(op => records += execute(op, traced))
      if (!traced) {
        untracedRates += ops.size / ((System.nanoTime() - r0) / 1e9)
        cpuMsPerOp += (Runner.processCpuNs() - cpu0) / 1e6 / ops.size
        System.err.println(f"[perfbench] round $round: ${untracedRates.last}%.3f ops/s, " +
          f"${cpuMsPerOp.last}%.0f cpu ms/op")
      }
      if (traced) trace.foreach(_.stop())
      round += 1
    }
    val wallS = elapsed
    System.gc() // let the context cleaner drop blocks nothing references
    Thread.sleep(200)
    val storage = spark.sparkContext.getRDDStorageInfo
    val retainedKb = storage.map(i => i.memSize + i.diskSize).sum / 1024.0

    val untraced = records.filter(!_.traced)
    val lat = untraced.map(_.latencyNs / 1e6).sorted
    val attempted = records.size
    val failed = records.count(!_.ok)
    val e2e = Seq(
      "ops_per_s" -> (Stats.median(untracedRates.toIndexedSeq), "1/s"),
      "latency_geomean_ms" -> (math.exp(Stats.mean(lat.map(math.log).toSeq)), "ms"),
      "cpu_ms_per_op" -> (Stats.median(cpuMsPerOp.toIndexedSeq), "ms"),
      "setup_s" -> (setupS, "s"))
    // printed, not gated: with 2 to 9 operation types per round the median
    // jumps between types as the host's speed drifts
    val summary = Seq(
      "latency_p50_ms" -> (Stats.median(lat.toIndexedSeq), "ms"),
      "failed_frac" -> (failed.toDouble / attempted, "frac"),
      "retained_cache_kb" -> (retainedKb, "KiB"))
    val metrics = trace match {
      case None => e2e
      case Some(t) =>
        val traced = records.filter(_.traced).toSeq
        val layers = Layers(t, traced, Main.slots(spark))
        // rounds run different parameter sets, so traced and untraced
        // latencies are compared over the operation instances run both ways
        val overhead = Runner.latencyRatio(traced, untraced.toSeq) - 1.0
        val leaks = storage.filter(i => i.memSize + i.diskSize > 0).map { i =>
          val owner = rddOwner.get(i.id).map(o => s"${o.name}#${o.id}").getOrElse("(set-up)")
          ListMap("rdd" -> i.id, "name" -> i.name.linesIterator.next().take(120), "call_site" -> i.callSite,
            "kb" -> (i.memSize + i.diskSize) / 1024.0, "left_by" -> owner)
        }
        Files.writeString(c.work.resolve("trace.json"), Main.json(ListMap(
          "workload" -> wl.name, "seed" -> seed, "slots" -> Main.slots(spark),
          "rounds" -> round, "wall_s" -> wallS,
          "trace.overhead_frac" -> overhead,
          "layers" -> ListMap(layers.total: _*),
          "per_operation" -> ListMap(layers.perName.map { case (n, m) => n -> ListMap(m: _*) }: _*),
          "retained_blocks" -> leaks.toSeq,
          "ops" -> records.toSeq,
          "failures" -> failures.toSeq)))
        layers.total.map { case (k, v) => k -> (v, Layers.unit(k)) } ++ Seq(
          "client.gap_ms" -> (Stats.mean(records.toSeq.map(_.gapNs / 1e6)), "ms"),
          "trace.overhead_frac" -> (overhead, "frac"),
          "cache.retained_kb" -> (retainedKb, "KiB"))
    }
    val human = (e2e ++ summary).map { case (k, (v, u)) => f"$k=$v%.4f $u" }
      .mkString(s"${wl.name} seed=$seed rounds=$round ops=${untraced.size} ", " ", "")
    ListMap(
      "summary" -> human,
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))
  }
}

object Runner {
  /** Mean latency of `a` over that of `b`, over the operation instances
    * (name and parameter) both ran. */
  def latencyRatio(a: Seq[OpRecord], b: Seq[OpRecord]): Double = {
    def means(rs: Seq[OpRecord]) = rs.groupBy(r => (r.name, r.param))
      .map { case (k, v) => k -> Stats.mean(v.map(_.latencyNs.toDouble)) }
    val (ma, mb) = (means(a), means(b))
    val both = (ma.keySet & mb.keySet).toSeq
    both.map(ma).sum / both.map(mb).sum
  }

  /** CPU time of the whole JVM (every thread: tasks, scheduler, JIT, GC). */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: IndexedSeq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
