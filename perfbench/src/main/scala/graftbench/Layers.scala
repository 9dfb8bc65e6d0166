package graftbench

/** Per-layer metrics of the traced phase. Layers follow the engine's
  * modules: `core` kernels, `pipeline` and `streaming` public calls,
  * `sources` writes, Spark's scheduler (`spark`), planner (`plan`) and
  * physical operators (`operators`), plus the `host` canary, the
  * per-layer self time (`self`) and the tracing overhead (`trace`).
  * "Per op" means per workload operation: a build on ingest, a
  * round of two requests on serve, a block on append. */
object Layers {

  val Declared: Seq[(String, String)] = Seq(
    "core.poseidon_permute_us" -> "us", "core.leaf_commit_us" -> "us", "core.digest_combine_us" -> "us",
    "core.inner_node_us" -> "us", "core.key_digest_us" -> "us", "core.u256_muldiv_us" -> "us",
    "core.leaf_commit_share" -> "ratio",
    "pipeline.storage_db_s" -> "s", "pipeline.state_db_s" -> "s", "pipeline.block_db_s" -> "s",
    "pipeline.query2_ms" -> "ms", "pipeline.erc20_ms" -> "ms",
    "streaming.storage_maint_ms" -> "ms", "streaming.state_db_ms" -> "ms", "streaming.block_append_ms" -> "ms",
    "sources.bytes_written_per_block" -> "B", "sources.files_written_per_block" -> "count",
    "sources.write_amp" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.driver_only_ms_per_op" -> "ms", "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.core_util" -> "ratio", "spark.task_skew" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.actions_per_op" -> "count",
    "operators.object_agg_ms" -> "ms", "operators.agg_sort_fallbacks" -> "count", "operators.scan_ms" -> "ms",
    "operators.files_read" -> "count", "operators.rows_scanned_per_row_out" -> "ratio",
    "host.alu_us_1t" -> "us", "host.alu_us_nt" -> "us",
    "self.op_ms" -> "ms", "self.call_ms" -> "ms", "self.job_ms" -> "ms", "self.stage_ms" -> "ms",
    "trace.overhead_items_per_s" -> "1/s", "trace.overhead_op_p50_ms" -> "ms", "trace.overhead_op_tail_ms" -> "ms",
    "trace.overhead_retained_heap_mb" -> "MB")

  /** metrics whose layer the workload never calls; they read 0 */
  def notApplicable(workload: String): Seq[String] = workload match {
    case "ingest" => Seq("pipeline.query2_ms", "pipeline.erc20_ms", "streaming.storage_maint_ms",
      "streaming.state_db_ms", "streaming.block_append_ms")
    case "serve" => Seq("core.leaf_commit_share", "pipeline.storage_db_s", "pipeline.state_db_s",
      "pipeline.block_db_s", "streaming.storage_maint_ms", "streaming.state_db_ms", "streaming.block_append_ms",
      "sources.bytes_written_per_block", "sources.files_written_per_block", "sources.write_amp")
    case _ => Seq("pipeline.storage_db_s", "pipeline.state_db_s", "pipeline.block_db_s", "pipeline.query2_ms",
      "pipeline.erc20_ms")
  }

  def compute(wl: Workload, workload: String, nproc: Int, ph: Main.Phase, t: Tracer.Assembled, gcMs: Long,
      core: Seq[(String, Double)], hostBefore: (Double, Double), hostAfter: (Double, Double),
      overhead: Map[String, Double]): Map[String, Double] = {
    val ops = t.ops.map(_.op).toSet
    val n = math.max(1, ops.size).toDouble
    val opStages = t.stages.filter(s => t.opOfStage(s.stageId).exists(ops.contains))
    val opQueries = t.queriesByOp.filter { case (op, _) => ops.contains(op) }.values.flatten.toSeq
    def sumOp(k: String) = opQueries.map(_.ops.getOrElse(k, 0.0)).sum
    def phase(k: String) = opQueries.map(_.phases.getOrElse(k, 0.0)).sum / n
    def callMedianMs(layer: String) = {
      val ds = t.calls.filter(_.layer == layer).map(_.durUs / 1e3)
      if (ds.isEmpty) 0.0 else Stats.median(ds)
    }
    val opWallUs = t.ops.map(_.durUs).sum.toDouble
    val runMs = opStages.map(_.runMs).sum.toDouble
    val cpuS = opStages.map(_.cpuNs).sum / 1e9 / n
    val driverOnlyMs = t.ops.map { o =>
      val taskIv = t.stagesByOp.getOrElse(o.op, Nil).flatMap(s => t.tasksByStage.getOrElse(s.stageId, Nil))
        .map(k => (k.startUs, k.endUs))
      (o.durUs - Tracer.coveredUs(taskIv, o.startUs, o.endUs)) / 1e3
    }.sum / n
    val skews = t.ops.flatMap { o =>
      val withTasks = t.stagesByOp.getOrElse(o.op, Nil).map(s => s -> t.tasksByStage.getOrElse(s.stageId, Nil))
        .filter(_._2.nonEmpty)
      if (withTasks.isEmpty) None
      else {
        val (_, tasks) = withTasks.maxBy { case (s, _) => s.endUs - s.startUs }
        val ds = tasks.map(_.durUs.toDouble)
        Some(ds.max / math.max(1.0, Stats.median(ds)))
      }
    }
    val written = ph.written.values
    val blocks = wl.blocksPerOp * ph.written.size
    val bytesWritten = written.map(_._1).sum.toDouble
    val rawBytes = wl.leafCommitsPerOp * Gen.RawEntryBytes * ph.written.size
    val coreMap = core.toMap
    val rowsOut = ph.done.values.map(_.rowsOut).sum.toDouble
    val self = t.selfUs.toMap

    val m = Map[String, Double](
      "core.leaf_commit_share" ->
        (if (cpuS > 0) wl.leafCommitsPerOp * coreMap("core.leaf_commit_us") / 1e6 / cpuS else 0.0),
      "pipeline.storage_db_s" -> callMedianMs("pipeline.storage_db") / 1e3,
      "pipeline.state_db_s" -> callMedianMs("pipeline.state_db") / 1e3,
      "pipeline.block_db_s" -> callMedianMs("pipeline.block_db") / 1e3,
      "pipeline.query2_ms" -> callMedianMs("pipeline.query2"),
      "pipeline.erc20_ms" -> callMedianMs("pipeline.erc20"),
      "streaming.storage_maint_ms" -> callMedianMs("streaming.storage_maint"),
      "streaming.state_db_ms" -> callMedianMs("streaming.state_db"),
      "streaming.block_append_ms" -> callMedianMs("streaming.block_append"),
      "sources.bytes_written_per_block" -> (if (blocks > 0) bytesWritten / blocks else 0.0),
      "sources.files_written_per_block" -> (if (blocks > 0) written.map(_._2).sum / blocks else 0.0),
      "sources.write_amp" -> (if (rawBytes > 0) bytesWritten / rawBytes else 0.0),
      "spark.jobs_per_op" -> t.jobs.count(j => Recorder.opOf(j._1.group).exists(ops.contains)) / n,
      "spark.stages_per_op" -> opStages.size / n,
      "spark.tasks_per_op" -> opStages.map(_.numTasks).sum / n,
      "spark.driver_only_ms_per_op" -> driverOnlyMs,
      "spark.executor_cpu_s" -> cpuS,
      "spark.executor_run_s" -> runMs / 1e3 / n,
      "spark.core_util" -> (if (opWallUs > 0) runMs * 1e3 / (nproc * opWallUs) else 0.0),
      "spark.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "spark.shuffle_write_mb" -> opStages.map(_.shuffleWrite).sum / 1e6 / n,
      "spark.shuffle_read_mb" -> opStages.map(_.shuffleRead).sum / 1e6 / n,
      "spark.spill_mb" -> opStages.map(_.spill).sum / 1e6 / n,
      "spark.gc_s" -> gcMs / 1e3 / n,
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimizer_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "plan.actions_per_op" -> opQueries.size / n,
      "operators.object_agg_ms" -> sumOp("object_agg_ms") / n,
      "operators.agg_sort_fallbacks" -> sumOp("agg_sort_fallbacks") / n,
      "operators.scan_ms" -> sumOp("scan_ms") / n,
      "operators.files_read" -> sumOp("files_read") / n,
      "operators.rows_scanned_per_row_out" -> (if (rowsOut > 0) sumOp("rows_scanned") / rowsOut else 0.0),
      "host.alu_us_1t" -> math.max(hostBefore._1, hostAfter._1),
      "host.alu_us_nt" -> math.max(hostBefore._2, hostAfter._2),
      "self.op_ms" -> self("op") / 1e3 / n,
      "self.call_ms" -> self("call") / 1e3 / n,
      "self.job_ms" -> self("job") / 1e3 / n,
      "self.stage_ms" -> self("stage") / 1e3 / n) ++ overhead ++ coreMap
    val na = notApplicable(workload).toSet
    Declared.map { case (k, _) => k -> (if (na.contains(k)) 0.0 else m(k)) }.toMap
  }
}
