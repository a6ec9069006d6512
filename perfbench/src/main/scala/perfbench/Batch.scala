package perfbench

/** What one half of the `batch` workload hands back once measured. */
final case class Part(ops: Seq[(String, Double)], attempted: Long, failed: Long, problems: Seq[String],
    detail: Seq[(String, Double, String, Long)], layers: Map[String, Double])

/** The `batch` workload: bulk ingest and full drains of the log
  * ([[BulkLog]]) and the LLM-pipeline queries ([[LlmPipeline]]), one after
  * the other in every measured cycle. Both are throughput- or
  * fixed-cost-per-stage-bound and neither touches the small-commit or GET
  * path, so a change there should move nothing here; `log_service` is the
  * workload that exercises it. */
object Batch {
  val SetUps = 3
  // A run measures round(seconds / CycleS) whole cycles, but at least
  // MinCycles, so every run does the same work whatever the box's speed
  // (ending at a deadline instead let a fast window fit one more cycle and
  // read ~20% lower), and each kind's median can outvote one slow cycle:
  // the first, still warming one (see LlmPipeline.WarmPasses) or one that
  // a busy moment on the box slowed.
  val CycleS = 10
  val MinCycles = 3

  def run(ctx: Ctx): Outcome = {
    val bulk = new BulkLog(ctx)
    val llm = new LlmPipeline(ctx)
    val setups = (1 to SetUps).map(_ => Dirs.seconds { bulk.setUp(); llm.setUp() }._2)
    val warmS = Dirs.seconds { bulk.warmUp(); llm.warmUp() }._2
    (1 to math.max(MinCycles, math.round(ctx.seconds.toDouble / CycleS).toInt)).foreach { _ =>
      bulk.cycle()
      llm.cycle()
    }
    val parts = Seq(bulk.finish(), llm.finish())
    val ops = parts.flatMap(_.ops)
    Outcome(setups, warmS, ops, parts.map(_.attempted).sum, parts.map(_.failed).sum,
      parts.flatMap(_.problems), parts.flatMap(_.detail),
      if (ctx.traced) Layers.complete(parts.map(_.layers).reduce(_ ++ _), ops) else Map.empty)
  }
}
