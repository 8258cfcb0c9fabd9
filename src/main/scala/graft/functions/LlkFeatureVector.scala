package graft.functions

/** The clustering feature of one llk: each non-finite llk is replaced by
  * 1e6, so a sequence a base model cannot explain stays a finite point. */
object LlkFeatureVector {
  /** The feature value of one llk. */
  def of(llk: Double): Double = if (llk.isInfinite || llk.isNaN) 1e6 else llk
}
