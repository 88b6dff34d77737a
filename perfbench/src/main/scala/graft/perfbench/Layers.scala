package graft.perfbench

/** Names of the per-layer metrics. Span names are `<module>.<call>`, after
  * the engine module the wrapped call enters. */
object Layers {
  val Spans: Seq[String] = Seq(
    "delta.write", "delta.snapshot", "delta.compact", "delta.prune",
    "plans.merge", "plans.plan", "streaming.trigger", "sources.exec",
    "query.build", "functions.quality", "functions.dedup")

  /** Counters each workload measures from its tables and logs. */
  val Counters: Seq[String] = Seq(
    "delta.write.bytes", "delta.merge.bytes_rewritten", "delta.merge.files_rewritten",
    "delta.snapshot.tail_commits", "delta.log.bytes", "delta.log.checkpoints",
    "delta.compact.bytes_in", "write_amp", "space_amp",
    "streaming.batches", "streaming.rows", "functions.dedup.removed")

  def unitOf(metric: String): String =
    if (metric.endsWith("ms")) "ms"
    else if (metric.contains("bytes")) "bytes"
    else if (Seq("_amp", "coverage", "per_match").exists(metric.endsWith)) "ratio"
    else "count"
}
