/**
 * Library-wide facade helpers.
 *
 * == Operator evaluation ==
 *
 * Operators return DataFrames that Spark plans, reuses and recomputes
 * like any other: they are lazy, except the iterative
 * [[graft.dedup.Dedup.connectedComponents]] and
 * [[graft.similarity.Similarity.kmeansCentroids]], which run their rounds
 * at call time. Nothing is cached across calls, so an input rewritten in
 * place at an unchanged path is read afresh by the next call.
 */
package object graft {

  /** No-op, kept for source compatibility: operators hold no per-session
   * result caches, so there is nothing to drop. */
  def clearAllMemos(spark: org.apache.spark.sql.SparkSession): Unit = ()
}
