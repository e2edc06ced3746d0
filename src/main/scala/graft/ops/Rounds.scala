package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one round loop of the checkpointed iterative kernels (the
  * reference's WHILE LOOP); a kernel keeps only its round body. The
  * body `localCheckpoint`s the state it builds: a round consumes its
  * state more than once, so unchecked lineage would grow
  * exponentially in the round count. Every job of round t carries
  * the job description `"<name> round t"`, and the caller's own
  * description is back when the loop returns or throws. */
object Rounds {

  /** Runs `step(state, t)` for t = 1, 2, … from `s0`; a step returns
    * the next state and whether its round reached a fixpoint. Stops
    * after the first fixpoint round or after `maxRounds` rounds and
    * returns the last round's state (`s0` when `maxRounds` is 0). */
  def iterate[S](name: String, s0: S, maxRounds: Int)(
      step: (S, Int) => (S, Boolean)): S = {
    val sc = SparkSession.active.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    @tailrec def loop(s: S, t: Int): S =
      if (t > maxRounds) s
      else {
        sc.setJobDescription(s"$name round $t")
        val (next, fixpoint) = step(s, t)
        if (fixpoint) next else loop(next, t + 1)
      }
    try loop(s0, 1) finally sc.setJobDescription(caller)
  }

  /** The changed-label fixpoint probe: no key of `next` carries a value
    * other than its `prev` one. Over two checkpointed fixed-width
    * (key, value) states this is one keyed join and a bounded
    * `isEmpty` — O(nodes), not O(corpus). */
  def unchanged(prev: DataFrame, next: DataFrame, key: String,
      value: String): Boolean =
    next.join(prev.select(col(key), col(value).as("__prev")), key)
      .where(col(value) =!= col("__prev")).isEmpty
}
