package perfbench

/**
 * pipeline: the training-data operators and the small-query floor in one
 * run — the dedup / similarity operators over a corpus with planted
 * near-duplicates ([[DedupPipeline]]: shuffle, join and pair volume, both
 * banding paths, the memoized eager operators), then fixture queries
 * ([[FixtureQueries]]: per-job dispatch and streaming micro-batch floors). The
 * sketches workload exercises none of these layers.
 */
object Pipeline extends Workload {
  val name = "pipeline"
  private val parts = Seq(DedupPipeline, FixtureQueries)

  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def expect(ctx: Ctx): Unit = parts.foreach(_.expect(ctx))
  def ops(ctx: Ctx): Seq[Op] = parts.flatMap(_.ops(ctx))

  def check(ctx: Ctx, op: String, paths: Seq[String]): Map[String, String] =
    if (FixtureQueries.Queries.contains(op)) FixtureQueries.check(ctx, op, paths)
    else DedupPipeline.check(ctx, op, paths)

  def provenance(ctx: Ctx): Map[String, Any] = parts.map(p => p.name -> p.provenance(ctx)).toMap
  def kernelInputs(ctx: Ctx): Kernels.Inputs = DedupPipeline.kernelInputs(ctx)
  override def layerCounts(ctx: Ctx, outputs: Map[String, String]): Map[String, Double] =
    DedupPipeline.layerCounts(ctx, outputs)
}
