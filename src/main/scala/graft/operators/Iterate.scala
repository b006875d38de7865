package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The shell every iterative operator shares: pin the round's state,
  * probe convergence off the pinned frame, repeat. The operators own
  * their round bodies and their convergence riders; this object owns
  * the pin policy and the loops around it.
  *
  * Why a pin at all: Catalyst re-analyses the whole accumulated plan
  * at every action, so a loop whose state references the previous
  * round's frame plans in O(rounds) — O(2^rounds) when a round reads
  * its state twice (join + union) — unless the lineage is cut.
  * `persist` caches data but keeps the plan; `localCheckpoint` cuts
  * the plan to the materialized result.
  *
  * '''Executor loss.''' A pin is `localCheckpoint`: the blocks live on
  * the executors, unreplicated, with the lineage that produced them
  * cut. Losing an executor that holds one fails the next round's job
  * that reads the block — loudly, by Spark's own error; Spark cannot
  * recompute it, so the operator never continues on partial state and
  * never emits a wrong label. The whole operator call is the unit of
  * retry. Surviving the loss instead needs reliable `checkpoint()`
  * into a checkpoint directory on shared storage; that is the cluster
  * path, and no operator here takes it.
  */
object Iterate {

  /** Checkpoint + STATISTICS truncation. `localCheckpoint` truncates
    * the logical plan but Spark's LogicalRDD inherits the child plan's
    * ESTIMATED `sizeInBytes` — and join estimation multiplies them, so
    * iterative composition compounds the estimate superexponentially:
    * folding [[ConnectedComponents.mergeBatch]] over 10 tiny batches
    * was measured growing the BigInt estimate 16× in DIGITS per fold
    * (543 → 8,680 → 138,871 → 2,221,938 digits by fold 4) until plan
    * costing spent minutes in BigInteger multiplication. When the
    * inherited estimate exceeds any physically possible size (2^128
    * bytes), rebuild the frame from the checkpointed RDD — fresh
    * default stats, plan costing stays O(1) forever. The rebuild pays
    * a Row conversion, so it's applied only in the pathological case:
    * single [[ConnectedComponents.run]] calls on real data never
    * trigger it. */
  def pin(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    if (c.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength > 128)
      c.sparkSession.createDataFrame(c.rdd, c.schema)
    else c
  }

  /** Runs `round` from `state` until a round changes nothing, at most
    * `cap` rounds. Each round is pinned, then probed once: `changed`
    * is the rider column the round carries through its own
    * aggregation, so the probe is an `isEmpty` scan of the pinned
    * output, never a second join; `project` then drops the rider.
    * Returns (state, rounds run, converged); at the cap without a
    * fixpoint that is (best state so far, `cap`, false). */
  def fixpoint(state: DataFrame, cap: Int, round: DataFrame => DataFrame,
               changed: Column, project: DataFrame => DataFrame)
      : (DataFrame, Int, Boolean) = {
    var s = state
    var rounds = 0
    var converged = false
    while (rounds < cap && !converged) {
      val next = pin(round(s))
      converged = next.filter(changed).isEmpty
      s = project(next)
      rounds += 1
    }
    (s, rounds, converged)
  }

  /** `n` rounds of `step` from `state`, with no convergence probe — the
    * fixed-round loops whose trajectory an unrolled oracle replays.
    * Deep loops (n > 8) pin every third round: without it n = 30
    * compounds 30 join + aggregate layers into one plan and analysis
    * dominates; shallow loops skip the pin, whose materialization was
    * measured at +1.6 s on the 5-round qg03 for a plan depth Catalyst
    * handles fine. A pin only cuts lineage, so values are the same
    * either way. */
  def rounds(state: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(state) { (s, i) =>
      val next = step(s)
      if (n > 8 && i % 3 == 0 && i < n) pin(next) else next
    }
}
