package graft.perfbench

/** The traced run's layer table: one row per layer metric, with how it
  * was measured, the end-to-end metric it should move and the workload
  * where its layer does the work.
  */
object LayerReport {

  /** metric-name prefix -> (end-to-end metric it should move, workload) */
  private val Moves: Seq[(String, (String, String))] = Seq(
    "url." -> ("cpu_ms_per_item", "discover"),
    "extract." -> ("items_per_s, cpu_ms_per_item", "discover"),
    "frontier." -> ("op_s.p50", "discover"),
    "crawl." -> ("items_per_s, op_s.p50", "discover"),
    "dedup." -> ("cpu_ms_per_item", "discover"),
    "store.compact" -> ("op_s.max (when compaction runs in the loop)", "discover (alone)"),
    "store.read" -> ("search_ms.p50, lookup_ms.p50", "discover"),
    "store." -> ("items_per_s", "discover"),
    "analytics." -> ("search_ms.p50, lookup_ms.p50", "discover"),
    "pipeline." -> ("items_per_s, cpu_ms_per_item", "curate"),
    "" -> ("mem.live_heap_mb, cpu_ms_per_item", "all"))

  private def how(name: String): String =
    if (name.startsWith("crawl.inloop.") || name.startsWith("store.write_") && !name.endsWith("files") ||
        Set("crawl.jobs_per_round", "crawl.stages_per_round", "crawl.driver_only_s")(name)) "in-loop"
    else if (name.startsWith("pipeline.")) "per call"
    else if (name.startsWith("jvm.") || name.startsWith("spark.") || name.startsWith("trace.")) "run"
    else "alone"

  def print(workload: String, res: Results): Unit = {
    println(s"layer report ($workload, traced run)")
    println(f"${"metric"}%-34s ${"value"}%16s ${"unit"}%-6s ${"how"}%-8s ${"should move"}%-44s works in")
    res.metrics.toSeq.filterNot { case (k, _) => Main.EndToEnd.contains(k) }.sortBy(_._1)
      .foreach { case (k, (v, u)) =>
        val (moves, where) = Moves.find { case (p, _) => k.startsWith(p) }.get._2
        println(f"$k%-34s $v%16.6g $u%-6s ${how(k)}%-8s $moves%-44s $where")
      }
  }
}
