package perfbench

import java.nio.file.Path

import Main.PassResult

/** Turns the passes of a run into the figures run.py reports. */
object Result {

  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "query_p50_s" -> "s",
    "cpu_s" -> "s", "live_heap_peak_mb" -> "MB")

  /** Per-layer metrics with their units, in the order of BENCHMARK.json. */
  val layerUnits: Seq[(String, String)] = Seq(
    "build_s" -> "s", "action_s" -> "s", "driver_gap_s" -> "s",
    "analysis_ms" -> "ms", "optimization_ms" -> "ms", "planning_ms" -> "ms",
    "plan_actions" -> "count",
    "exchanges" -> "count", "broadcasts" -> "count", "imr_scans" -> "count",
    "unpartitioned_windows" -> "count", "non_codegen_ops" -> "count",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "skipped_stages" -> "count",
    "sched_delay_ms" -> "ms", "core_util" -> "ratio",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "shuffle_records" -> "count",
    "fetch_wait_ms" -> "ms", "spill_mb" -> "MB",
    "input_mb" -> "MB", "input_records" -> "count", "scan_tasks" -> "count",
    "store_write_mb" -> "MB", "store_files" -> "count",
    "lookup_rows_per_row_returned" -> "ratio",
    "store_build_s" -> "s", "lookup_p50_ms" -> "ms", "lookup_p95_ms" -> "ms",
    "bool_p50_s" -> "s",
    "persists" -> "count", "cached_mb_peak" -> "MB", "dup_stages" -> "count",
    "dup_stage_frac" -> "ratio",
    "codegen_compiles" -> "count", "codegen_compile_ms" -> "ms",
    "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "deserialize_s" -> "s", "jit_ms" -> "ms", "task_failures" -> "count",
    "stage_retries" -> "count",
    "self_op_s" -> "s", "self_build_s" -> "s", "self_action_s" -> "s",
    "self_release_s" -> "s", "self_phase_s" -> "s", "self_job_s" -> "s",
    "self_stage_s" -> "s",
    "trace_overhead_s" -> "s")

  /** Linear-interpolated percentile, as numpy computes it by default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def build(workload: String, seed: Long, trace: Boolean, cores: Int, setupS: Double,
            burnIn: Seq[PassResult], passes: Seq[PassResult], selfCheck: Option[(Double, Double)],
            wl: Workload, work: Path): String = {
    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val plainOps = plain.flatMap(_.ops)
    def secs(kind: String) = plainOps.filter(_.kind == kind).map(_.seconds)

    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> median(plain.map(_.wallS)),
      "query_p50_s" -> median(plainOps.map(_.seconds)),
      "cpu_s" -> median(plain.map(_.cpuS)),
      "live_heap_peak_mb" -> Main.Heap.peakMb)

    val text = Map(
      "store_build_s" -> median(secs("store_build")),
      "lookup_p50_ms" -> median(secs("lookup")) * 1e3,
      "lookup_p95_ms" -> percentile(secs("lookup"), 0.95) * 1e3,
      "bool_p50_s" -> median(secs("boolean")))

    val layers: Map[String, Double] = if (traced.isEmpty) Map.empty else {
      val n = traced.size.toDouble
      val sum = traced.flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _)
        .withDefaultValue(0.0)
      def per(k: String) = sum(k) / n
      val self = Tracer.selfTimes(traced.flatMap(_.spans))
      val (storeMb, storeFiles) = wl match {
        case t: Workloads.TextIr =>
          val files = t.storeFiles
          (files.map(_.length).sum / (1024.0 * 1024.0), files.size.toDouble)
        case _ => (0.0, 0.0)
      }
      val direct = Seq("build_s", "action_s", "driver_gap_s", "analysis_ms", "optimization_ms",
        "planning_ms", "plan_actions", "exchanges", "broadcasts", "imr_scans",
        "unpartitioned_windows", "non_codegen_ops", "jobs", "stages", "tasks",
        "skipped_stages", "sched_delay_ms", "shuffle_write_mb", "shuffle_read_mb",
        "shuffle_records", "fetch_wait_ms", "spill_mb", "input_mb", "input_records",
        "scan_tasks", "persists", "cached_mb_peak", "dup_stages", "codegen_compiles",
        "codegen_compile_ms", "executor_run_s", "executor_cpu_s", "gc_s", "deserialize_s",
        "jit_ms", "task_failures", "stage_retries").map(k => k -> per(k)).toMap
      direct ++ text ++ Map(
        "core_util" -> (if (sum("op_wall_s") > 0) sum("executor_run_s") / (sum("op_wall_s") * cores) else 0.0),
        "dup_stage_frac" -> (if (sum("stages") > 0) sum("dup_stages") / sum("stages") else 0.0),
        "lookup_rows_per_row_returned" ->
          (if (sum("lookups") > 0) sum("lookup_input_records") / sum("lookups") else 0.0),
        "store_write_mb" -> storeMb, "store_files" -> storeFiles,
        "trace_overhead_s" -> (median(traced.map(_.wallS)) - median(plain.map(_.wallS)))) ++
        Seq("op", "build", "action", "release", "phase", "job", "stage")
          .map(k => s"self_${k}_s" -> self.getOrElse(k, 0.0) / n)
    }

    if (trace) {
      val lines = traced.flatMap(_.spans).map(Tracer.spanJson).mkString("\n")
      Check.write(work.resolve(s"trace-$workload-s$seed.jsonl"), lines + "\n")
    }

    val allOps = passes.flatMap(_.ops)
    val perQuery = allOps.filter(_.kind == "query").groupBy(_.name).map { case (q, rs) =>
      q -> Map("runs" -> rs.size, "ok" -> rs.count(_.ok),
        "median_s" -> median(rs.filterNot(_.traced).map(_.seconds)))
    }
    Check.json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "attempted" -> allOps.size, "failed" -> allOps.count(!_.ok),
      "queries" -> perQuery,
      "selfcheck" -> selfCheck.map { case (lazyDups, eagerDups) =>
        Map("lazy_dup_stages" -> lazyDups, "eager_dup_stages" -> eagerDups) }.getOrElse(Map.empty),
      "passes" -> plain.size, "traced_passes" -> traced.size, "ops" -> plainOps.size,
      "setup_s" -> setupS, "burn_in_s" -> burnIn.map(_.wallS).sum,
      "pass_walls_s" -> passes.map(_.wallS),
      "end_to_end" -> endToEnd,
      // the 90th percentile is reported only where at least 100 operations
      // ran, so that ten or more samples lie beyond it
      "text" -> (if (workload == "text_ir")
        text + ("query_p90_s" -> percentile(plainOps.map(_.seconds), 0.9)) else Map.empty),
      "per_layer" -> layers,
      "units" -> (endToEndUnits ++ layerUnits :+ ("query_p90_s" -> "s")).toMap))
  }
}
