package perfbench

object Workloads {
  val All: Seq[Workload] = Seq(SketchWorkload, Pipeline)

  def byName(name: String): Workload = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; one of ${All.map(_.name).mkString(", ")}"))

  /** Bloom geometry of the dense sketch-ingest grain; the kernel loops use it too. */
  def BloomItems: Long = SketchWorkload.Dense.bloomItems
}
