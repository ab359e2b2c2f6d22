package perfbench

/** Reduces a traced run's listener events to per-operation layer metrics,
  * then to per-operation-name means and workload means. */
final class Layers(val perOp: Seq[(OpRecord, Map[String, Double])]) {

  /** Workload value of each metric: the mean over the traced operations.
    * A layer that only some operations reach (sink, streaming, model fit,
    * recommendation cache) is averaged over the operations that reach it. */
  def total: Seq[(String, Double)] = Layers.names.map { k =>
    val vs = perOp.map(_._2).filter(m => !Layers.scoped(k) || m.contains(k)).map(_.getOrElse(k, 0.0))
    k -> Stats.mean(vs)
  }

  def perName: Seq[(String, Seq[(String, Double)])] =
    perOp.groupBy(_._1.name).toSeq.sortBy(_._1).map { case (n, ops) =>
      n -> (("ops" -> ops.size.toDouble) +: (Seq("op.latency_ms", "sql.executions") ++ Layers.names).flatMap { k =>
        val vs = ops.flatMap(_._2.get(k))
        if (vs.isEmpty) None else Some(k -> Stats.mean(vs))
      })
    }
}

object Layers {
  private val mb = 1024.0 * 1024.0

  /** Per-layer metrics in report order, with units. */
  val units: Seq[(String, String)] = Seq(
    "build.ms" -> "ms", "build.jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.task_wait_ms" -> "ms", "sched.driver_idle_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.busy_core_frac" -> "frac",
    "shuffle.write_mb" -> "MiB", "shuffle.read_mb" -> "MiB",
    "shuffle.spill_mb" -> "MiB", "broadcast.mb" -> "MiB",
    "io.input_rows" -> "count", "io.input_mb" -> "MiB", "io.result_rows" -> "count",
    "io.rows_read_per_result_row" -> "ratio",
    "sink.ms" -> "ms", "sink.output_rows" -> "count", "sink.output_mb" -> "MiB",
    "stream.batches" -> "count", "stream.input_rows" -> "count",
    "stream.state_rows" -> "count", "stream.state_mb" -> "MiB",
    "stream.add_batch_ms" -> "ms", "stream.commit_ms" -> "ms",
    "ml.fit_ms" -> "ms", "ml.fit_jobs" -> "count",
    "rec.requested" -> "count", "rec.stale_frac" -> "frac", "rec.request_ms" -> "ms")
  val names: Seq[String] = units.map(_._1)
  def unit(k: String): String = units.toMap.getOrElse(k, "")

  /** Metrics defined only for the operations that reach their layer. */
  def scoped(k: String): Boolean =
    Seq("sink.", "stream.", "ml.", "rec.").exists(k.startsWith)

  val mlOps = Set("ep8_optimize_churn_threshold")
  val recOps = Set("ep9_cached_recommendations")

  def apply(t: Trace, ops: Seq[OpRecord], slots: Int): Layers = {
    t.settle()
    val byId = ops.map(o => o.id -> o).toMap
    val sorted = ops.sortBy(_.startMs)
    def covering(ms: Long): Option[OpRecord] =
      sorted.find(o => o.startMs <= ms && ms <= o.endMs)

    // job -> (operation, span kind)
    val Group = "pb-(\\d+)-(\\w+)".r
    val jobOwner: Seq[(Trace.Job, OpRecord, String)] = t.jobs.toSeq.flatMap { j =>
      j.group match {
        case Some(Group(id, kind)) => byId.get(id.toInt).map(o => (j, o, kind))
        case _ => covering(j.startMs).map(o => (j, o, o.spans.find(s =>
          s.startMs <= j.startMs && j.startMs <= s.endMs).map(_.kind).getOrElse("build")))
      }
    }
    val stageOwner: Map[Int, OpRecord] =
      jobOwner.flatMap { case (j, o, _) => j.stages.map(_ -> o) }.toMap
    val stagesOf = t.stages.toSeq.filter(s => stageOwner.contains(s.id)).groupBy(s => stageOwner(s.id).id)
    val qesOf = t.qes.toSeq.flatMap(q => covering(q.planEndMs).map(_ -> q)).groupBy(_._1.id)
    val progressOf = t.progress.toSeq.flatMap(p => covering(p.startMs).map(_ -> p)).groupBy(_._1.id)

    new Layers(ops.map { o =>
      val myJobs = jobOwner.filter(_._2.id == o.id)
      val myStages = stagesOf.getOrElse(o.id, Nil)
      val tasks = myStages.flatMap(s => t.tasksByStage.get(s.id))
      def tsum(f: Trace.Tasks => Long) = tasks.map(f).sum.toDouble
      val wallMs = math.max(1L, o.endMs - o.startMs).toDouble
      // idle: the operation's wall time not covered by any of its stages
      val busy = myStages.map(s => (math.max(s.submitMs, o.startMs), math.min(s.endMs, o.endMs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          val from = math.max(a, reach)
          (acc + math.max(0L, b - from), math.max(reach, b))
        }._1
      val action = o.span("action")
      val actionQes = qesOf.getOrElse(o.id, Nil).map(_._2)
        .filter(q => action.exists(s => s.startMs <= q.planEndMs && q.planEndMs <= s.endMs))
      val progress = progressOf.getOrElse(o.id, Nil).map(_._2)
      val inRows = tsum(_.inRows)
      val m = scala.collection.mutable.LinkedHashMap[String, Double](
        "op.latency_ms" -> o.latencyNs / 1e6,
        "build.ms" -> o.span("build").map(_.ms.toDouble).getOrElse(0.0),
        "build.jobs" -> myJobs.count(_._3 == "build").toDouble,
        "catalyst.analysis_ms" -> actionQes.map(_.analysisMs).sum.toDouble,
        "catalyst.optimization_ms" -> actionQes.map(_.optimizationMs).sum.toDouble,
        "catalyst.planning_ms" -> actionQes.map(_.planningMs).sum.toDouble,
        "sql.executions" -> qesOf.getOrElse(o.id, Nil).size.toDouble,
        "sched.jobs" -> myJobs.size.toDouble,
        "sched.stages" -> myStages.size.toDouble,
        "sched.tasks" -> tsum(_.n),
        "sched.task_wait_ms" -> tsum(_.waitMs),
        "sched.driver_idle_ms" -> (wallMs - busy),
        "exec.task_run_ms" -> tsum(_.runMs),
        "exec.task_cpu_ms" -> tsum(_.cpuNs) / 1e6,
        "exec.gc_ms" -> tsum(_.gcMs),
        "exec.busy_core_frac" -> tsum(_.runMs) / (wallMs * slots),
        "shuffle.write_mb" -> tsum(_.shWrite) / mb,
        "shuffle.read_mb" -> tsum(_.shRead) / mb,
        "shuffle.spill_mb" -> tsum(_.spill) / mb,
        "broadcast.mb" -> qesOf.getOrElse(o.id, Nil).map(_._2.broadcastBytes).sum / mb,
        "io.input_rows" -> inRows,
        "io.input_mb" -> tsum(_.inBytes) / mb,
        "io.result_rows" -> o.resultRows.toDouble,
        "io.rows_read_per_result_row" -> inRows / math.max(1L, o.resultRows))
      o.span("sink").foreach { s =>
        m ++= Seq("sink.ms" -> s.ms.toDouble, "sink.output_rows" -> tsum(_.outRows),
          "sink.output_mb" -> tsum(_.outBytes) / mb)
      }
      if (progress.nonEmpty) m ++= Seq(
        "stream.batches" -> progress.size.toDouble,
        "stream.input_rows" -> progress.map(_.inputRows).sum.toDouble,
        "stream.state_rows" -> progress.map(_.stateRows).max.toDouble,
        "stream.state_mb" -> progress.map(_.stateBytes).max / mb,
        "stream.add_batch_ms" -> progress.map(_.addBatchMs).sum.toDouble,
        "stream.commit_ms" -> progress.map(_.commitMs).sum.toDouble)
      if (mlOps(o.name)) m ++= Seq(
        "ml.fit_ms" -> o.span("build").map(_.ms.toDouble).getOrElse(0.0),
        "ml.fit_jobs" -> myJobs.count(_._3 == "build").toDouble)
      if (recOps(o.name)) m ++= Seq(
        "rec.requested" -> o.extra.getOrElse("rec.requested", 0.0),
        "rec.stale_frac" -> o.extra.getOrElse("rec.stale_frac", 0.0),
        "rec.request_ms" -> o.latencyNs / 1e6)
      o -> m.toMap
    })
  }
}
