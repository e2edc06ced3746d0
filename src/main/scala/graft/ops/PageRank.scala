package graft.ops

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank power iteration over an edge list — the domain-graph
  * authority signal crawl curation ranks sources by (the public
  * Common Crawl ranking recipe: harmonic centrality / PageRank over
  * the domain link graph; Page et al. 1999).
  *
  * Shape per round (the honest 100 TB shape): join ranks to edges on
  * src (shuffle keyed by src), aggregate contributions by dst (second
  * keyed shuffle), left-join back to the node list so sinks keep
  * receiving teleport mass. Ranks and degrees are fixed-width
  * (node, double) rows — the corpus never re-shuffles. The node count
  * is collected ONCE on the driver (one bounded 1-row action at plan
  * build, the same device every model-fit scorer in [[Scoring]] uses).
  * The per-round dangling mass stays INSIDE the round's plan: the
  * 1-row anti-join aggregate attaches to every node via a
  * constant-key broadcast HASH join (an equi-join — a 1-row
  * `crossJoin` would plan the BroadcastNestedLoopJoin the repo's plan
  * sweep bans), so each superstep is ONE job with no driver
  * round-trip (the r10 verdict's PageRank note). The rounds run on
  * [[Rounds]]; each round's rank state is `localCheckpoint`ed because
  * it is consumed twice per round (contribution join and dangling
  * anti-join).
  *
  * Float discipline: each round's rank is qround(6)-canonicalized
  * (contribution sums are fold-order-sensitive aggregates — the
  * standard discipline), so round t+1 starts from bit-identical ranks
  * on any engine; the dangling mass is qround'd the same way.
  * Teleport/damping constants enter as the EXACT doubles the caller's
  * oracle interpolates (1.0 − damping is computed in binary, not
  * re-parsed from a decimal literal).
  */
object PageRank {

  /** @return one row per node: (v, pr) after `iters` damped rounds
    *   from the uniform start 1/N. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double): DataFrame =
    iterate(edges, srcCol, dstCol, iters, damping, uniform(damping,
      (nodes, n) => nodes.select(col("v"), lit(1.0 / n).as("pr"))))

  /** Warm-started power iteration (the incremental/delta-PageRank
    * entry, X176): ranks start from `init` (v, pr) — typically the
    * PREVIOUS snapshot's converged ranks — instead of uniform, so a
    * refreshed graph needs a couple of catch-up rounds rather than a
    * full from-scratch run (Page et al. 1999 note convergence is
    * geometric in the damping factor; a warm start begins near the
    * fixed point). Nodes absent from `init` (graph newcomers) start
    * at 1/N; `init` mass for vanished nodes is dropped — the start
    * vector then sums to ≈1, and the teleport term pulls the
    * iteration toward the new graph's fixed point regardless (the
    * start is a preconditioner, not a correctness input). */
  def runFrom(edges: DataFrame, srcCol: String, dstCol: String,
      init: DataFrame, iters: Int, damping: Double): DataFrame =
    iterate(edges, srcCol, dstCol, iters, damping, uniform(damping,
      (nodes, n) => nodes
        .join(init.select(col("v"), col("pr").as("__init")),
          Seq("v"), "left")
        .select(col("v"),
          coalesce(col("__init"), lit(1.0 / n)).as("pr"))))

  /** Personalized (seeded) PageRank — teleport mass restricted to a
    * seed set (Haveliwala 2002's topic-sensitive PageRank; the
    * curation use is CCNet/RefinedWeb-style trusted-seed expansion:
    * rank every crawled domain by its link proximity to a curated
    * whitelist instead of by global authority).
    *
    * Same round loop and float discipline as [[run]]; the only
    * change is the teleport vector: p(v) = 1/|S| for seeds, 0
    * otherwise, used for BOTH the restart term and the dangling-mass
    * redistribution, and as the start state r0 = p. Non-seed sink
    * leakage therefore flows back to the seeds, keeping total mass at
    * 1. `seeds` is a (v)-keyed frame — curated metadata, so its count
    * is a bounded driver action like the node count in [[run]]; the
    * membership join is a fixed-width broadcastable dimension at any
    * corpus scale.
    *
    * @param seeds one column named like `srcCol`'s values: the seed
    *   node ids (rows not present in the graph are ignored).
    * @return (v, pv, pr): node, its teleport weight, its rank. */
  def runSeeded(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, damping: Double): DataFrame =
    iterate(edges, srcCol, dstCol, iters, damping, { nodes =>
      val seedSet = seeds.toDF("v").distinct()
      // graph-member seeds only; |S| is one bounded driver action over
      // the curated seed list (the same device as run's node count)
      val s = nodes.join(broadcast(seedSet), Seq("v"), "left_semi")
        .localCheckpoint(true)
      val ns = s.count().toDouble
      require(ns > 0, "runSeeded: no seed appears in the graph")
      // teleport vector: exact doubles (1/|S| or 0) — no qround needed
      val p = nodes.join(broadcast(s.withColumn("__is", lit(1))),
          Seq("v"), "left")
        .select(col("v"),
          when(col("__is").isNotNull, lit(1.0 / ns))
            .otherwise(lit(0.0)).as("pv"))
        .localCheckpoint(true)
      Teleport(p, p.select(col("v"), col("pv").as("pr")),
        lit(1.0 - damping) * col("pv"), col("dm") * col("pv"))
    })

  /** What a variant feeds the shared round loop: the per-node `base`
    * frame every round re-emits (its columns pass through next to
    * `pr`), the start ranks `r0` (v, pr), and the two per-node terms
    * over `base`'s columns — the `restart` mass and the share of the
    * dangling mass `dm` a node receives. */
  private case class Teleport(base: DataFrame, r0: DataFrame,
      restart: Column, dangling: Column)

  /** Global PageRank's teleport: every node, restart (1−d)/N and
    * dangling share dm/N; ranks start from `start(nodes, N)`. */
  private def uniform(damping: Double,
      start: (DataFrame, Double) => DataFrame)(nodes: DataFrame): Teleport = {
    // node count: ONE bounded 1-row driver action at plan build; the
    // float discipline divides by this exact double, matching the
    // oracle's `… / nn.n` on the same IEEE value
    val n = nodes.count().toDouble
    Teleport(nodes, start(nodes, n),
      lit(1.0 - damping) / lit(n), col("dm") / lit(n))
  }

  /** The one power-iteration loop: pr ← restart + d·(Σ in-contrib +
    * dangling), qround(6) per round, over the `teleport` built from
    * the graph's node list. */
  private def iterate(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double,
      teleport: DataFrame => Teleport): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // nodes and degreed edges are consumed every round — materialize
    // once; both are fixed-width rows, never document text
    val nodes = e0.select(col("src").as("v"))
      .union(e0.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    val deg = e0.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    val e = e0.join(deg.select(col("v").as("src"), col("deg")), "src")
      .localCheckpoint(true)
    val t = teleport(nodes)
    Rounds.iterate("pagerank", t.r0.localCheckpoint(true), iters) { (r, _) =>
      // dangling mass: 1-row aggregate off the checkpointed rank state,
      // qround(6)'d so both engines damp with the identical double;
      // broadcast to every node on a constant key (hash join, 1 row)
      val dm = r.join(deg, Seq("v"), "left_anti")
        .agg(Num.qround(coalesce(sum("pr"), lit(0.0)), 6).as("dm"))
        .withColumn("__k", lit(0))
      val contrib = e.join(r, e("src") === r("v"))
        .select(e("dst").as("v"),
          (col("pr") / col("deg").cast("double")).as("c"))
        .groupBy("v").agg(sum("c").as("c"))
      (t.base.withColumn("__k", lit(0))
        .join(broadcast(dm), "__k")
        .join(contrib, Seq("v"), "left")
        .select(t.base.columns.map(col) :+ Num.qround(
          t.restart + lit(damping) *
            (coalesce(col("c"), lit(0.0)) + t.dangling),
          6).as("pr"): _*)
        .localCheckpoint(true), false)
    }
  }
}
