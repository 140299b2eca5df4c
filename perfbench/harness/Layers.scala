package perfbench

/** Turns the traced executions' spans and the Probe's counters into the
  * per-layer record. A layer is the program module whose public function
  * a span called. */
object Layers {
  val names: Seq[String] = Seq("io", "ops", "stats", "ml", "pipeline", "text", "sim")
  val common: Seq[String] =
    Seq("self_s", "driver_s", "task_s", "cpu_s", "jobs", "tasks", "shuffle_mb", "spill_mb", "rows_out")

  private val MB = 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private val counters: Seq[(String, Counts => Double)] = Seq(
    "task_s" -> (_.taskMs / 1e3),
    "cpu_s" -> (_.cpuNs / 1e9),
    "jobs" -> (_.jobs.toDouble),
    "tasks" -> (_.tasks.toDouble),
    "shuffle_mb" -> (_.shuffleBytes / MB),
    "spill_mb" -> (_.spillBytes / MB),
    "read_mb" -> (_.fileBytes / MB))

  /** One span's own share. Calling and materializing a span recomputes
    * the lazy prefixes of the frames it consumed; their own
    * materialization costs are subtracted (prefix differencing),
    * floored at zero. Driver time is the call's wall time not covered
    * by any of its jobs. */
  def own(s: Span, probe: Probe): Map[String, Double] = {
    val body = probe.group(s.bodyGroup)
    val mat = probe.group(s.matGroup)
    val ins = s.inputs.map(i => probe.group(i.matGroup))
    def diff(f: Counts => Double) = math.max(0.0, f(body) + f(mat) - ins.map(f).sum)
    val bodyS = (s.t1 - s.t0) / 1e9
    val insS = s.inputs.map(i => (i.t2 - i.t1) / 1e9).sum
    counters.map { case (k, f) => k -> diff(f) }.toMap ++ Map(
      "self_s" -> math.max(0.0, (s.t2 - s.t0) / 1e9 - insS),
      "driver_s" -> math.max(0.0, bodyS - body.jobCoveredMs / 1e3),
      "rows_out" -> s.rows.toDouble,
      "candidate_pairs" -> math.max(body.maxJoinRows, mat.maxJoinRows).toDouble)
  }

  def metrics(execs: Seq[Main.Exec], spans: Seq[Span], probe: Probe, w: Workload,
      cores: Int): Map[String, Double] = {
    val traced = execs.filter(_.traced)
    val untraced = execs.tail.filterNot(_.traced)

    // per traced execution: layer -> metric -> value; report the median
    val perExec: Seq[Map[String, Double]] = traced.map { e =>
      val mine = spans.filter(_.exec == e.idx)
      val owned = mine.map(s => s -> own(s, probe))
      val layered = for {
        layer <- names
        m <- if (layer == "io") common :+ "read_mb" else common
      } yield s"$layer.$m" -> owned.filter(_._1.layer == layer).map(_._2(m)).sum
      def yieldOf(fn: String) = owned.find(_._1.name == fn).map { case (_, o) =>
        if (o("candidate_pairs") > 0) o("rows_out") / o("candidate_pairs") else 0.0
      }.getOrElse(0.0)
      layered.toMap ++ Map(
        "text.pair_yield" -> yieldOf("Dedup.simHashNearDupPairsBounded"),
        "sim.pair_yield" -> yieldOf("Similarity.cosineNearDupPairsWithCleanup"))
    }
    val layerMetrics = perExec.flatMap(_.keys).distinct.map { k =>
      k -> median(perExec.map(_.getOrElse(k, 0.0)))
    }.toMap

    val untracedWall = median(untraced.map(_.wallS))
    val engine = Map(
      "catalyst.plan_s" -> median(untraced.map(e => probe.exec(e.idx.toString).planMs / 1e3)),
      "spark.slot_busy_frac" -> median(untraced.map(e =>
        probe.exec(e.idx.toString).taskMs / 1e3 / (e.wallS * cores))),
      "storage.cached_peak_mb" -> execs.map(_.cachedMb).max,
      "jvm.heap_peak_mb" -> untraced.map(_.heapMb).max,
      "trace.overhead_frac" -> (median(traced.map(_.wallS)) - untracedWall) / untracedWall,
      "io.scan_amplification" -> median(untraced.map(e =>
        probe.exec(e.idx.toString).fileBytes.toDouble / w.inputBytes)),
      "io.write_mb" -> median(untraced.map(_.counters.getOrElse("io.write_mb", 0.0))),
      "text.cc_rounds" -> median(untraced.map(_.counters.getOrElse("text.cc_rounds", 0.0))))
    layerMetrics ++ engine
  }

  /** Every span with its raw and own counters, one JSON object a line. */
  def spansJsonl(spans: Seq[Span], probe: Probe): String = {
    val origin = spans.headOption.map(_.t0).getOrElse(0L)
    spans.map { s =>
      Json(Map(
        "id" -> s.id, "exec" -> s.exec, "parent" -> s"exec-${s.exec}",
        "layer" -> s.layer, "name" -> s.name, "inputs" -> s.inputs.map(_.id),
        "start_ms" -> (s.t0 - origin) / 1e6, "call_end_ms" -> (s.t1 - origin) / 1e6,
        "end_ms" -> (s.t2 - origin) / 1e6, "own" -> own(s, probe)))
    }.mkString("", "\n", "\n")
  }
}
