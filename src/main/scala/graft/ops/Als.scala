package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Num

/** Rank-2 alternating least squares matrix factorization (X194 —
  * Zhou et al. 2008 / Koren, Bell & Volinsky 2009: THE collaborative-
  * filtering workhorse Spark's own MLlib ships; re-expressed here in
  * the pinned-round house shape). Rank 2 makes every normal-equation
  * solve CLOSED FORM — A = Σvvᵀ+λI is 2×2, so u = A⁻¹b is four
  * multiplies and a determinant, pure element-wise algebra with no
  * iterative inner solver to pin. Each half-round is ONE shuffle
  * join (ratings ⋈ current factors on the opposite key) plus ONE
  * keyed aggregate producing five qround(6) moment lanes per entity
  * (a11, a12, a22, b1, b2); the solved factors are qround(6) again,
  * so any engine replaying the same rounds from the same
  * deterministic item start ((key%7−3)/10 — exact rationals, never
  * random) lands on bit-identical factors. det ≥ λ² > 0 by
  * A ⪰ 0, so no divide-by-zero lane exists. The rounds run on
  * [[Rounds]]; factor tables are localCheckpoint'ed per half-round —
  * entity-count-sized, never ratings-sized. */
object Als {

  /** One closed-form least-squares half-round: `j` carries
    * (key, r, f1, f2) — the ratings joined with the OPPOSITE side's
    * factors; returns (key, f1, f2) solved. */
  private[ops] def solve(j: DataFrame, key: String,
      lambda: Double): DataFrame = {
    val g = j.groupBy(key).agg(
      Num.qround(sum(col("f1") * col("f1")), 6).as("a11"),
      Num.qround(sum(col("f1") * col("f2")), 6).as("a12"),
      Num.qround(sum(col("f2") * col("f2")), 6).as("a22"),
      Num.qround(sum(col("r") * col("f1")), 6).as("b1"),
      Num.qround(sum(col("r") * col("f2")), 6).as("b2"))
    val det = (col("a11") + lambda) * (col("a22") + lambda) -
      col("a12") * col("a12")
    g.select(col(key),
      Num.qround(((col("a22") + lambda) * col("b1") -
        col("a12") * col("b2")) / det, 6).as("f1"),
      Num.qround(((col("a11") + lambda) * col("b2") -
        col("a12") * col("b1")) / det, 6).as("f2"))
  }

  /** Deterministic item start: f1 = 1, f2 = (key%7 − 3)/10. */
  private[ops] def initFactors(items: DataFrame,
      key: String): DataFrame =
    items.select(col(key), lit(1.0).as("f1"),
      ((col(key) % 7 - 3).cast("double") / lit(10.0)).as("f2"))

  /** `iters` full rounds (user-solve then item-solve) over
    * `ratings` = (userCol, itemCol, r: double). Returns
    * (userFactors, itemFactors), each (key, f1, f2). */
  def run(ratings: DataFrame, userCol: String, itemCol: String,
      items: DataFrame, iters: Int, lambda: Double)
      : (DataFrame, DataFrame) = {
    // r20 NEGATIVE RESULT (kept as documentation): hash-partitioning
    // the projected ratings once per key side (byItem/byUser
    // checkpoints, guide §2.4 "pay the partitioning once") was tried
    // and REVERTED — at bench scale the factor tables broadcast, so
    // the per-round joins never shuffled ratings to begin with, and
    // the two upfront materializations ADDED 13 MiB of shuffle and
    // ~0.5 s (profiled 2.9 → 3.5 s wall). The device only pays off
    // where factors are too big to broadcast (SMJ per round); at that
    // scale re-introduce the two pre-partitioned checkpoints.
    val v0 = initFactors(items, itemCol).localCheckpoint(true)
    Rounds.iterate("als", (null: DataFrame, v0), iters) {
      case ((_, vF), _) =>
        val uF = solve(
          ratings.join(vF, itemCol)
            .select(col(userCol), col("r"), col("f1"), col("f2")),
          userCol, lambda).localCheckpoint(true)
        ((uF, solve(
          ratings.join(uF, userCol)
            .select(col(itemCol), col("r"), col("f1"), col("f2")),
          itemCol, lambda).localCheckpoint(true)), false)
    }
  }
}
