package perfbench

/** Per-layer metrics of a traced run, in BENCHMARK.json order. A layer a
  * workload does not exercise reports 0. Seconds are self times; counts are
  * per round (medians when a run holds several). */
object PerLayer {

  /** Layers whose Spark work the listener attributes. */
  val EngineLayers: Seq[String] = Seq("prepare", "block", "score", "cluster", "parse",
    "dedup.minhash", "dedup.simhash", "dedup.ngram", "stream.batch")

  private val engine: Seq[(String, String)] = EngineLayers.flatMap(l => Seq(
    s"$l.jobs" -> "count", s"$l.stages" -> "count", s"$l.tasks" -> "count",
    s"$l.shuffle_read_bytes" -> "bytes", s"$l.shuffle_write_bytes" -> "bytes",
    s"$l.spill_bytes" -> "bytes", s"$l.task_skew" -> "ratio"))

  val Metrics: Seq[(String, String)] = Seq(
    "prepare.s" -> "s", "prepare.rows_out" -> "count", "prepare.empty_extract" -> "count",
    "block.s" -> "s", "block.plan_jobs" -> "count", "block.candidate_pairs" -> "count",
    "block.blocks" -> "count", "block.largest_block" -> "count", "block.hot_keys" -> "count",
    "block.pair_completeness" -> "ratio", "block.pair_quality" -> "ratio",
    "block.reduction_ratio" -> "ratio",
    "score.s" -> "s", "score.pairs_in" -> "count", "score.matches" -> "count",
    "cluster.s" -> "s", "cluster.components" -> "count", "cluster.largest_component" -> "count",
    "parse.s" -> "s", "parse.province_hit_ratio" -> "ratio") ++
    Seq("minhash", "simhash", "ngram").flatMap(d => Seq(
      s"dedup.$d.s" -> "s", s"dedup.$d.pairs" -> "count", s"dedup.$d.plan_jobs" -> "count",
      s"dedup.$d.hot_keys" -> "count")) ++
    Seq("state.changed_blocks" -> "count", "state.rescored_pairs" -> "count",
      "state.bytes_written" -> "bytes", "state.write_amplification" -> "ratio",
      "state.bytes_live" -> "bytes", "state.files" -> "count",
      "stream.compactions" -> "count") ++
    engine ++
    Seq("jvm.heap_after_gc_mb" -> "MB", "host.probe_before_s" -> "s",
      "host.probe_after_s" -> "s", "trace.layer_sum_s" -> "s", "trace.untraced_s" -> "s",
      "trace.gap_ratio" -> "ratio")
}
