package graft.ops

import graft.functions.Num
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Harmonic centrality over the domain link graph (X69 — the OTHER
  * Common Crawl domain-ranking signal next to PageRank (X66):
  * Boldi & Vigna 2014, "Axioms for Centrality", show harmonic
  * centrality H(v) = Σ_{u≠v} 1/d(u,v) is the one classic index
  * satisfying all their axioms, and it is what the public Common
  * Crawl rankings publish alongside PageRank).
  *
  * This is the EXACT radius-truncated form: multi-source BFS as
  * iterated frontier expansion — state is (u, v, d) "u reaches v at
  * shortest distance d", each round joins the frontier through the
  * edge list and anti-joins the seen set, all shuffles keyed on
  * fixed-width node-id pairs. The rounds run on [[Rounds]]: every
  * round's state is `localCheckpoint`ed (frontier and seen are each
  * consumed twice per round), and an empty frontier is the fixpoint
  * that ends the loop (one bounded `isEmpty` probe per round).
  *
  * Scale honesty: exact pair state is O(V · avg-ball-size) — fine for
  * domain graphs (10⁷–10⁸ nodes, small radius), which is exactly the
  * granularity these rankings run at; for node counts where the pair
  * state explodes, the literature's answer is HyperBall (Boldi &
  * Vigna 2013): replace the per-node reached-set with a mergeable
  * cardinality sketch and the frontier anti-join with a per-round
  * sketch-union aggregate — the counts become approximate, the round
  * structure (and this checkpoint discipline) stays identical.
  *
  * Float discipline: 1/d sums are fold-order-sensitive, so the
  * per-node harmonic sum is qround(6)-canonicalized — distances
  * themselves are exact integers.
  */
object Centrality {

  /** (node, harmonic) for every node of the graph — harmonic
    * centrality truncated at `radius` (contributions only from nodes
    * within distance ≤ radius; unreachable and farther nodes
    * contribute 0, matching the BFS level cap a SQL oracle replays).
    * Directed: H(v) sums over u that REACH v — the incoming-link
    * direction, like PageRank's endorsement semantics. */
  def harmonic(edges: DataFrame, srcCol: String, dstCol: String,
      radius: Int): DataFrame = {
    require(radius >= 1, "radius must be at least 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    // (u, v, d): u reaches v at shortest distance d. Frontier holds
    // only the pairs first reached in the latest round, so each round
    // expands |frontier| rows, not |seen|.
    val self = nodes.select(col("v").as("u"), col("v"), lit(0).as("d"))
      .localCheckpoint(true)
    val (seen, _) = Rounds.iterate("harmonic", (self, self), radius) {
      case ((seen, frontier), r) =>
        val cand = frontier.join(e, frontier("v") === e("src"))
          .select(col("u"), col("dst").as("v")).distinct()
        val next = cand
          .join(seen.select(col("u"), col("v")), Seq("u", "v"), "left_anti")
          .select(col("u"), col("v"), lit(r).as("d"))
          .localCheckpoint(true)
        // bounded probe: an empty frontier means every ball saturated
        if (next.isEmpty) ((seen, next), true)
        else ((seen.union(next).localCheckpoint(true), next), false)
    }
    val h = seen.filter(col("d") > 0)
      .groupBy(col("v").as("node"))
      .agg(Num.qround(sum(lit(1.0) / col("d").cast("double")), 6)
        .as("harmonic"))
    nodes.select(col("v").as("node")).join(h, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
  }

  /** HyperBall-style approximate harmonic centrality (Boldi & Vigna
    * 2013) — the scale path [[harmonic]]'s scaladoc promises: per-node
    * state is a BOUNDED k-long KMV sketch of the reached set instead
    * of the reached set itself, so per-round state is V·k longs
    * regardless of ball sizes, and the round becomes
    * `B_r(v) = B_{r-1}(v) ∪ ⋃_{u→v} B_{r-1}(u)` as a sketch union —
    * explode + [[graft.functions.SketchFunctions.bottomK]]
    * re-aggregation (the X28 mergeable bottom-k IS the union
    * operator; no new aggregate needed). Per round:
    * ĥ += (|B̂_r| − |B̂_{r-1}|)/r with |B̂| from
    * [[graft.functions.SketchFunctions.kmvEstimate]].
    *
    * The approximation is DETERMINISTIC, which is what makes it
    * oracle-checkable: node hashes are md5-derived 60-bit ints, the
    * sketch is the k smallest, and the estimator is one IEEE division
    * — a SQL oracle replays exact per-round balls, takes the same
    * k-min hashes, and lands on the identical estimate. With
    * k > |V| sketches never saturate and the estimate IS the exact
    * radius-truncated harmonic centrality (spec-pinned). */
  def harmonicHyperball(edges: DataFrame, srcCol: String, dstCol: String,
      radius: Int, k: Int): DataFrame = {
    require(radius >= 1 && k >= 2)
    import graft.functions.SketchFunctions
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    // 60-bit md5 node hash — the simhashMd5 device: non-negative,
    // bit-identical in SQL via CAST('0x' || substring(md5(..), 1, 15))
    val nodeHash = conv(substring(
        md5(concat(lit("hb:"), col("v").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    // (v, sketch, est, h): B_0 = {v}, so est_0 = 1 exactly
    val ball0 = nodes.select(col("v"), array(nodeHash).as("sketch"),
        lit(1.0).as("est"), lit(0.0).as("h"))
      .localCheckpoint(true)
    val state = Rounds.iterate("hyperball", ball0, radius) { (state, r) =>
      // est/h ride the node's OWN state rows into the union aggregation
      // (neighbor rows carry null; each v has exactly one state row, so
      // max() recovers its prev est/h exactly) — one grouped shuffle per
      // round, no state-joined-back-to-union step (r8 verdict item #4:
      // that join + its extra checkpoint roughly doubled the fixed
      // per-round cost; map-side partial agg collapses the exploded
      // rows before the shuffle either way).
      val own = state
        .select(col("v"), col("sketch"), col("est"), col("h"))
      val fromNeighbors = e
        .join(state.select(col("v").as("src"), col("sketch")), "src")
        .select(col("dst").as("v"), col("sketch"),
          lit(null).cast("double").as("est"),
          lit(null).cast("double").as("h"))
      (own.union(fromNeighbors)
        .select(col("v"), explode(col("sketch")).as("hv"),
          col("est"), col("h"))
        .groupBy("v")
        .agg(SketchFunctions.bottomK(col("hv"), k).as("sketch"),
          max("est").as("prev_est"), max("h").as("prev_h"))
        .withColumn("est2", SketchFunctions.kmvEstimate(col("sketch"), k))
        .select(col("v"), col("sketch"), col("est2").as("est"),
          (col("prev_h") + (col("est2") - col("prev_est")) /
            lit(r.toDouble)).as("h"))
        .localCheckpoint(true), false)
    }
    state.select(col("v").as("node"),
      Num.qround(col("h"), 6).as("harmonic_est"))
  }
}
