package graft.operators

import org.apache.spark.sql.DataFrame

/** The one iteration driver: runs a step function over one DataFrame state
  * and alone decides when the loop materializes and when it frees a state
  * it replaced. Loop bodies stay with their operators.
  *
  *   - cadence: `localCheckpoint()` after every `every` rounds (1 or 2) and
  *     always after the last. Two rounds per checkpoint suit a state that
  *     each round reads once (the fused plan duplicates nothing) where the
  *     checkpoint job is the round's cost.
  *   - release: once a new state is materialized, the blocks of the
  *     checkpoint it replaced are freed (`Dataset.unpersist` never frees
  *     checkpoint blocks), so executor storage stays O(1) in rounds. The
  *     caller's `init` and the returned frame are never freed.
  *
  * Left hand-written, because each would make Iterate branch on its
  * caller or add jobs: x57 k-means and x167 HITS materialize two frames per
  * round (assign/cent, auth/hub) and read the second after the loop;
  * [[CartTree]]'s split tables outlive its level loop, because the lazily
  * routed rows read them; `Analytic.gbtChain` materializes four per round.
  */
object Iterate {

  /** Fold `step` over `inputs` from `init` (round numbers, merges, batches). */
  def apply[A](init: DataFrame, inputs: Seq[A], every: Int = 1)(step: (DataFrame, A) => DataFrame): DataFrame = {
    var state = init
    var made: Option[DataFrame] = None
    for ((in, i) <- inputs.zipWithIndex) {
      state = step(state, in)
      if ((i + 1) % every == 0 || i == inputs.size - 1) {
        state = replace(made, state)
        made = Some(state)
      }
    }
    state
  }

  /** Step from `init`, materializing every round, until `changed` of the
    * just-materialized state is false; that state is returned. */
  def untilStable(init: DataFrame)(step: DataFrame => DataFrame)(changed: DataFrame => Boolean): DataFrame = {
    var state = replace(None, step(init))
    while (changed(state)) state = replace(Some(state), step(state))
    state
  }

  /** Free the blocks behind a checkpointed frame (or a narrow projection of
    * one) that nothing reads any more. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(df).foreach(_.unpersist(blocking = false))

  private def replace(prev: Option[DataFrame], next: DataFrame): DataFrame = {
    val materialized = next.localCheckpoint()
    prev.foreach(release)
    materialized
  }
}
