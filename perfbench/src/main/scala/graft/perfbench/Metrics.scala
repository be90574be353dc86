package graft.perfbench

/** A reported metric: name and unit, as BENCHMARK.json declares them. */
final case class Metric(name: String, unit: String)

/** Every metric the benchmark prints. `--trace 0` reports [[endToEnd]],
  * `--trace 1` reports [[perLayer]]; a layer that a workload does not run
  * reads 0. `error_rate` is printed too, and carried in the result line's
  * `attempted` / `failed` counts. */
object Metrics {
  val endToEnd: Seq[Metric] = Seq(
    Metric("wall_s", "s"),
    Metric("pairs_per_s", "1/s"),
    Metric("setup_s", "s"),
    Metric("peak_mem_mb", "MB"),
    Metric("dup_recall", "ratio"),
    Metric("dup_precision", "ratio"))

  private def layer(prefix: String, ms: (String, String)*): Seq[Metric] =
    ms.map { case (n, u) => Metric(s"$prefix.$n", u) }

  val perLayer: Seq[Metric] =
    layer("dedup.strategy", "time_s" -> "s", "max_block_share" -> "ratio") ++
    layer("dedup.planner", "time_s" -> "s", "heavy_blocks" -> "count",
      "replication" -> "ratio", "reducer_skew" -> "ratio") ++
    layer("dedup.pairs", "time_s" -> "s", "wait_s" -> "s", "join_rows" -> "count",
      "emitted" -> "count", "keep_ratio" -> "ratio", "shuffle_bytes" -> "bytes",
      "task_skew" -> "ratio") ++
    layer("dedup.features", "time_s" -> "s", "executor_s" -> "s", "ns_per_pair" -> "ns",
      "gc_s" -> "s") ++
    layer("cli.io", "read_s" -> "s", "write_s" -> "s", "bytes_read" -> "bytes",
      "bytes_written" -> "bytes") ++
    layer("ml.train", "time_s" -> "s", "jobs" -> "count") ++
    layer("ml.score", "time_s" -> "s", "rows" -> "count", "stages" -> "count",
      "shuffle_bytes" -> "bytes") ++
    layer("dedup.cluster", "time_s" -> "s", "edges" -> "count", "components" -> "count",
      "jobs" -> "count") ++
    layer("ops.neardup.sign", "time_s" -> "s", "docs" -> "count") ++
    layer("ops.neardup.bands", "time_s" -> "s", "join_rows" -> "count", "pairs" -> "count",
      "keep_ratio" -> "ratio", "shuffle_bytes" -> "bytes", "task_skew" -> "ratio") ++
    layer("ops.neardup.consolidate", "time_s" -> "s") ++
    layer("spark", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "executor_s" -> "s", "scheduler_delay_s" -> "s", "shuffle_write_bytes" -> "bytes",
      "spill_bytes" -> "bytes", "gc_s" -> "s", "failed_tasks" -> "count",
      "core_busy" -> "ratio", "single_core_ratio" -> "ratio") ++
    layer("trace", "overhead" -> "ratio", "unattributed_share" -> "ratio")
}
