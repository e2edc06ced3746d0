package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling / onion decomposition over an edge list
  * (Seidman 1983's k-core; Batagelj–Zaveršnik peeling. The curation
  * use is the inverse of X80's triangle signal: where clustering
  * coefficient flags near-clique link farms, LOW coreness flags the
  * periphery — domains that survive no mutual-reinforcement pruning,
  * the tier a crawl de-prioritizes first. The per-round peel index is
  * the "onion layer" of Shin/Eliassi-Rad/Faloutsos 2016 — a finer
  * centrality than the core number alone).
  *
  * Shape per round (the honest 100 TB shape): restrict the undirected
  * neighbour relation to the surviving node set (two semi-joins on the
  * node key), count degrees (one keyed aggregate), peel nodes under k
  * (broadcast-size per round), anti-join them out. All rows are
  * fixed-width (node, node) / (node, count) pairs. The rounds run on
  * [[Rounds]]; the surviving set is `localCheckpoint`ed per round
  * because both next-round semi-joins consume it.
  *
  * BOUNDED-ROUND contract: `rounds` caps the peel so the unrolled
  * oracle stays finite, and a round that peels nothing is the
  * fixpoint that ends it (VERDICT r11 #2): peeling is monotone, so
  * every later round would be a no-op and the result is identical
  * with or without the exit. Integer-only — no float discipline.
  */
object KCore {

  /** @return one row per graph node: (v, degree, layer) — `degree` the
    *   simple-graph degree before peeling, `layer` the 1-based round
    *   the node was peeled in, null = survived all rounds (is in the
    *   k-core, if the peel converged).
    * @param onRound test/diagnostic hook invoked once per EXECUTED
    *   peel round (the convergence exit is observable without
    *   changing the return type). */
  def onionLayers(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, onRound: Int => Unit = _ => ()): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // undirected distinct neighbour relation, self-loops dropped
    val nb = e0.select(col("src").as("v"), col("dst").as("u"))
      .union(e0.select(col("dst").as("v"), col("src").as("u")))
      .where(col("v") =!= col("u"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e0.select(col("src").as("v"))
      .union(e0.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    val deg0 = nodes.join(
      nb.groupBy("v").agg(count(lit(1)).as("degree")), Seq("v"), "left")
      .select(col("v"), coalesce(col("degree"), lit(0L)).as("degree"))
    val (_, peeled) = Rounds.iterate("kcore",
        (nodes, Option.empty[DataFrame]), rounds) {
      case ((alive, peeled), t) =>
        onRound(t)
        val deg = nb
          .join(alive, Seq("v"), "left_semi")
          .join(alive.select(col("v").as("u")), Seq("u"), "left_semi")
          .groupBy("v").agg(count(lit(1)).as("c"))
        val removed = alive.join(deg, Seq("v"), "left")
          .where(coalesce(col("c"), lit(0L)) < k)
          .select(col("v"), lit(t).as("layer"))
          .localCheckpoint(true)
        val layers = Some(peeled.fold(removed)(_.union(removed)))
        // empty-delta exit: the eager checkpoint already materialized
        // the frame, so this is a bounded head(1) probe, not a recompute
        if (removed.isEmpty) ((alive, layers), true)
        else ((alive.join(removed, Seq("v"), "left_anti")
          .localCheckpoint(true), layers), false)
    }
    deg0.join(peeled.get, Seq("v"), "left")
      .select(col("v"), col("degree"), col("layer"))
  }
}
