package perfbench

/** Per-layer metrics of a traced run, each normalised per traced pass
  * (set-up metrics per set-up repetition, as medians). A layer that did
  * no work in this workload reports 0. */
final class Layers(probe: Probe, passes: Seq[Harness.PassSample],
    cachedMb: Seq[Double], planStats: Map[String, Long],
    keepFrac: Seq[Double], setupLayers: Map[String, Vector[Double]]) {

  private val traced: Set[Int] =
    passes.zipWithIndex.collect { case (p, i) if p.traced => i + 1 }.toSet
  private val n = math.max(1, traced.size).toDouble
  private val spans = probe.spans.toSeq.filter(s => traced(s.pass) && s.end > 0)
  private def layer(name: String) = spans.filter(s => s.kind == "layer" && s.name == name)
  private def c(s: Span) = probe.of(s.id)

  private def secs(name: String) = layer(name).map(_.secs).sum / n
  private def jobs(name: String) = layer(name).map(c(_).jobs).sum / n
  private def tasks(name: String) = layer(name).map(c(_).tasks).sum / n
  /** Wall seconds inside `s` during which at least one of its jobs ran. */
  private def jobSecs(s: Span) = Probe.union(c(s).jobSpans.toSeq
    .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
    .filter { case (a, b) => b > a }) / 1000.0
  private def total(f: Counters => Long) = spans.map(s => f(c(s))).sum / n
  private def median(xs: Seq[Double]) =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // busy time of an operation: its own jobs and those of its layer calls
  private val ops = spans.filter(_.kind == "op")
  private val busy = ops.map { op =>
    val iv = (op +: spans.filter(_.parent == op.id)).flatMap(s => c(s).jobSpans)
      .map { case (a, b) => (math.max(a, op.startMs), math.min(b, op.endMs)) }
      .filter { case (a, b) => b > a }
    Probe.union(iv) / 1000.0
  }
  private val opWall = ops.map(_.secs).sum
  private val MB = 1048576.0

  def metrics: Map[String, (Double, String)] = Map(
    "ops.build_jobs" -> (jobs("ops.build"), "count"),
    "ops.build_s" -> (secs("ops.build"), "s"),
    "exec.driver_idle_s" -> ((opWall - busy.sum) / n, "s"),
    "exec.busy_frac" -> (if (opWall > 0) busy.sum / opWall else 0.0, "frac"),
    "dedup.cached_mb" -> (if (cachedMb.isEmpty) 0.0 else cachedMb.max, "MB"),
    "dedup.cache_reads_per_persist" -> (
      probe.cacheScans.get.toDouble / math.max(1L, probe.unpersists.get), "ratio"),
    "dedup.drain_s" -> (secs("dedup.drain"), "s"),
    "plan.plan_s" -> (secs("plan.force"), "s"),
    "plan.exchanges" -> (planStats.getOrElse("exchanges", 0L) / n, "count"),
    "plan.native_exprs" -> (planStats.getOrElse("native", 0L) / n, "count"),
    "plan.lambda_exprs" -> (planStats.getOrElse("lambda", 0L) / n, "count"),
    "exec.task_cpu_s" -> (total(_.cpuNs) / 1e9, "s"),
    "exec.task_run_s" -> (total(_.runMs) / 1e3, "s"),
    "exec.gc_s" -> (total(_.gcMs) / 1e3, "s"),
    "exec.shuffle_write_mb" -> (total(_.shuffleWrite) / MB, "MB"),
    "exec.shuffle_read_mb" -> (total(_.shuffleRead) / MB, "MB"),
    "exec.spill_mb" -> (total(_.spill) / MB, "MB"),
    "exec.input_mb" -> (total(_.input) / MB, "MB"),
    "exec.jobs" -> (total(_.jobs), "count"),
    "exec.stages" -> (total(_.stages), "count"),
    "exec.tasks" -> (total(_.tasks), "count"),
    "transfer.load_s" -> (secs("transfer.load"), "s"),
    "transfer.publish_s" -> (
      layer("transfer.load").map(s => s.secs - jobSecs(s)).sum / n, "s"),
    "transfer.write_tasks" -> (tasks("transfer.load"), "count"),
    "transfer.read_s" -> (secs("transfer.read"), "s"),
    "transfer.read_tasks" -> (tasks("transfer.read"), "count"),
    "pg.reflect_s" -> (secs("pg.reflect"), "s"),
    "pg.seq_sync_s" -> (secs("pg.seq_sync"), "s"),
    "pipeline.curate_s" -> (secs("pipeline.curate"), "s"),
    "pipeline.curate_jobs" -> (jobs("pipeline.curate"), "count"),
    "pipeline.write_s" -> (secs("pipeline.write"), "s"),
    "pipeline.keep_frac" -> (median(keepFrac), "frac"),
    "tables.layout_build_s" -> (median(setupLayers.getOrElse("tables.layout_build_s", Vector())), "s"),
    "setsim.index_build_s" -> (median(setupLayers.getOrElse("setsim.index_build_s", Vector())), "s"),
    "ivf.index_build_s" -> (median(setupLayers.getOrElse("ivf.index_build_s", Vector())), "s"),
    "transfer.source_load_s" -> (
      median(setupLayers.getOrElse("transfer.source_load_s", Vector())), "s"))
}

object Layers {
  /** Every span with its Spark counts, plus self time per layer: a
    * span's wall time minus that of its child spans. */
  def traceJson(probe: Probe, planByOp: Map[String, Map[String, Long]]): String = {
    val all = probe.spans.toSeq.filter(_.end > 0)
    val childSecs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    val self = all.groupBy(s => s"${s.kind}:${if (s.kind == "op") s.name.takeWhile(_ != ':') else s.name}")
      .map { case (k, ss) => k -> ss.map(s => s.secs - childSecs.getOrElse(s.id, 0.0)).sum }
    Harness.json(Map(
      "self_s" -> self,
      "plan_by_op" -> planByOp,
      "spans" -> all.map { s =>
        val c = probe.of(s.id)
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "pass" -> s.pass, "start_ms" -> s.startMs, "secs" -> s.secs,
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_cpu_s" -> c.cpuNs / 1e9, "shuffle_write_b" -> c.shuffleWrite,
          "shuffle_read_b" -> c.shuffleRead, "spill_b" -> c.spill)
      }))
  }
}
