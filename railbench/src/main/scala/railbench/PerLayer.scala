package railbench

/** The traced run's per-layer metrics: listener attribution of each
  * traced op's Spark work, the isolated layer calls' spans, and the
  * harness diagnostics. Values are medians over traced ops (over
  * traced re-runs when no op was traced).
  */
final case class PerLayer(metrics: Seq[(String, Double, String, Int)], record: Seq[(String, Any)])

object PerLayer {

  /** (name, unit) of every per-layer metric, in report order. */
  val names: Seq[(String, String)] = Seq(
    "pipeline.jobs" -> "count", "pipeline.sql_execs" -> "count",
    "pipeline.driver_gap_s" -> "s", "pipeline.action_s" -> "s",
    "store.action_s" -> "s", "store.jobs" -> "count",
    "store.bytes_written" -> "bytes", "store.write_amp" -> "ratio",
    "sources.read_s" -> "s", "etl.clean_s" -> "s", "analytics.daily_stats_s" -> "s",
    "queries.build_s" -> "s", "plans.plan_s" -> "s",
    "plans.single_partition_windows" -> "count",
    "engine.exec_s" -> "s", "engine.tasks" -> "count", "engine.shuffle_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes", "engine.max_stage_skew" -> "ratio",
    "engine.busy_share" -> "ratio",
    "machine.canary_s" -> "s", "bench.warmup_passes" -> "count",
    "bench.layer_coverage" -> "ratio", "bench.tracing_overhead" -> "s")

  def apply(
      ctx: RunCtx, w: Workload, timed: Seq[Sample], listener: LayerListener, spans: Spans,
      canaryBefore: Double, canaryAfter: Double, warmPasses: Int): PerLayer = {
    val traced = timed.filter(s => s.traced && s.ok)
    val basis = Some(traced.filter(_.kind == "op")).filter(_.nonEmpty).getOrElse(traced)
    val allSpans = spans.all
    val perOp: Seq[(Sample, Map[String, Double])] = basis.map { s =>
      val tr = listener.summary(s.op, s.startMs, s.endMs)
      val wall = math.max((s.endMs - s.startMs) / 1e3, 1e-3)
      val gap = math.max(0.0, wall - tr.jobSeconds)
      val attributed = tr.jobSecondsByLayer.collect { case (l, v) if l != "other" => v }.sum
      val raw = w.rawBytes(s.label)
      def child(name: String): Double =
        allSpans.filter(x => x.op == s.op && x.name == name).map(_.seconds).sum
      s -> (Map(
        "pipeline.jobs" -> tr.jobs.toDouble,
        "pipeline.sql_execs" -> tr.sqlExecs.toDouble,
        "pipeline.driver_gap_s" -> gap,
        "pipeline.action_s" -> tr.execSecondsByLayer.getOrElse("pipeline", 0.0),
        "store.action_s" -> tr.execSecondsByLayer.getOrElse("store", 0.0),
        "store.jobs" -> tr.jobsByLayer.getOrElse("store", 0).toDouble,
        "store.bytes_written" -> tr.storeBytes.toDouble,
        // pipelines: against the raw snapshot; gates: against bytes scanned
        "store.write_amp" -> tr.storeBytes.toDouble / math.max(if (raw > 0) raw else tr.inputBytes, 1L),
        "queries.build_s" -> child("queries.build"),
        "plans.plan_s" -> child("plans.plan"),
        "engine.exec_s" -> tr.jobSeconds,
        "engine.tasks" -> tr.tasks.toDouble,
        "engine.shuffle_bytes" -> tr.shuffleBytes.toDouble,
        "engine.spill_bytes" -> tr.spillBytes.toDouble,
        "engine.max_stage_skew" -> tr.maxStageSkew,
        "engine.busy_share" -> tr.runMs / 1e3 / (wall * ctx.cores),
        "bench.layer_coverage" -> (attributed + gap) / wall) ++
        tr.execSecondsByLayer.map { case (l, v) => s"exec_s.$l" -> v } ++
        tr.jobSecondsByLayer.map { case (l, v) => s"job_s.$l" -> v })
    }
    def med(k: String): Double = Stats.median(perOp.flatMap(_._2.get(k)))
    def spanMed(name: String): Double =
      Stats.median(allSpans.filter(x => x.parent == "isolated" && x.name == name).map(_.seconds))
    val windows = w match {
      case g: Gates => g.windows.values.sum.toDouble
      case _ => 0.0
    }
    // traced minus untraced median latency within each group of
    // comparable executions (same kind, or same gate), averaged
    val diffs = timed.filter(_.ok).groupBy(w.pairKey).values.toSeq.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds)) - Stats.median(u.map(_.seconds)))
    }
    val overhead = if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size
    val values: Map[String, Double] = names.map(_._1).map(k => k -> med(k)).toMap ++ Map(
      "sources.read_s" -> spanMed("sources.read"),
      "etl.clean_s" -> spanMed("etl.clean"),
      "analytics.daily_stats_s" -> spanMed("analytics.daily_stats"),
      "plans.single_partition_windows" -> windows,
      "machine.canary_s" -> (canaryBefore + canaryAfter) / 2,
      "bench.warmup_passes" -> warmPasses.toDouble,
      "bench.tracing_overhead" -> overhead)
    val notApplicable = w match {
      case _: Gates => Seq("pipeline.action_s")
      case _ => Seq("queries.build_s", "plans.plan_s", "plans.single_partition_windows")
    }
    PerLayer(
      names.map { case (n, u) => (n, values(n), u, if (n.startsWith("bench.") || n.startsWith("machine.")) 1 else perOp.size) },
      Seq(
        "basis" -> (if (basis.exists(_.kind == "op")) "traced ops" else "traced re-runs"),
        "n_traced" -> perOp.size,
        "not_applicable" -> notApplicable,
        "per_op" -> perOp.map { case (s, m) =>
          Seq("kind" -> s.kind, "label" -> s.label, "wall_s" -> (s.endMs - s.startMs) / 1e3) ++
            m.toSeq.sortBy(_._1)
        },
        "single_partition_windows_by_gate" -> (w match {
          case g: Gates => g.windows.toSeq.sortBy(_._1)
          case _ => Nil
        })))
  }
}
