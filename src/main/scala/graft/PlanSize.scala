package graft

import org.apache.spark.sql.DataFrame

/** The optimizer's size estimate of a frame, read one way for every
  * size-gated decision (the store writes' file count in
  * `StagedStore.sizedForWrite`, the engine's one-task answer sort). */
object PlanSize {

  /** `df`'s optimized-plan `sizeInBytes`, or None when the estimate
    * says nothing: a non-positive value, or one near `Long.MaxValue` —
    * Spark's default for a plan without statistics (e.g. a
    * checkpoint-backed frame) and where a join's product of its
    * children's sizes lands. */
  def estimate(df: DataFrame): Option[BigInt] = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est >= BigInt(Long.MaxValue) / 4) None else Some(est)
  }
}
