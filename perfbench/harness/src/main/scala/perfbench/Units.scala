package perfbench

/** Every per-layer metric the traced run reports, with its unit. A
  * workload that does not exercise a layer reports 0 for its metrics. */
object Units {
  /** Span names: one per layer the harness calls into. */
  val layers: Seq[String] = Seq("op", "regrid.Regridder", "regrid.Weights",
    "regrid.SlabApplier", "regrid.Apply", "regrid.WeightsIO")

  val perLayer: Seq[(String, String)] =
    Seq(
      "weights.build_s.bilinear" -> "s",
      "weights.triplets" -> "count",
      "weights.shuffle_write_mb" -> "MB",
      "slab.prep_s" -> "s",
      "slab.broadcast_mb" -> "MB",
      "slab.exec_s" -> "s",
      "slab.flop" -> "count",
      "slab.bytes_moved_mb" -> "MB",
      "slab.ops_per_byte" -> "flop/B",
      "apply.exec_s" -> "s",
      "apply.stages" -> "count",
      "apply.tasks" -> "count",
      "apply.shuffle_write_mb" -> "MB",
      "apply.shuffle_read_mb" -> "MB",
      "apply.spill_mb" -> "MB",
      "regridder.plan_s" -> "s",
      "regridder.reuse_s" -> "s",
      "io.parquet_write_s" -> "s",
      "io.parquet_read_s" -> "s",
      "io.nc_write_s" -> "s",
      "io.nc_read_s" -> "s",
      "io.bytes_per_triplet.parquet" -> "B",
      "io.bytes_per_triplet.nc" -> "B",
      "spark.task_run_s" -> "s",
      "spark.task_cpu_s" -> "s",
      "spark.core_util" -> "ratio",
      "spark.scheduler_delay_s" -> "s",
      "spark.gc_s" -> "s",
      "spark.jobs" -> "count",
      "spark.stages" -> "count",
      "spark.tasks" -> "count",
      "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB",
      "spark.result_mb" -> "MB",
      "spark.failed_tasks" -> "count") ++
    layers.map(l => s"self_s.$l" -> "s") ++ Seq(
      "trace.overhead_s" -> "s",
      "trace.spans" -> "count",
      "host.steal_s" -> "s",
      "host.foreign_cpu_s" -> "s")
}
