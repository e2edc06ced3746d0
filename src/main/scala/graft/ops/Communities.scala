package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007) over an edge list — the cheap O(E)-per-round
  * community signal crawl curation uses next to the global rankings
  * (PageRank X66 / harmonic X69): "which domains cluster together"
  * rather than "which domains matter".
  *
  * Semantics (fully deterministic, so the whole run is
  * oracle-replayable):
  *  - the graph is treated as UNDIRECTED — the neighbour relation is
  *    the distinct union of both edge directions (multi-edges carry no
  *    extra vote weight);
  *  - labels start as the node's own id;
  *  - each round, SYNCHRONOUSLY, every node adopts the most frequent
  *    label among its neighbours' previous-round labels, ties broken
  *    by the smallest label (the node's own label gets no vote — a
  *    node with neighbours always adopts from them).
  *
  * Scale shape per round: one join of the fixed-width neighbour list
  * to the (node, label) state keyed by node, one (v, label) count
  * aggregate, one per-node argmax — all shuffles carry fixed-width
  * integer rows, never corpus payloads. The argmax is an aggregate
  * (`max(struct(count, -label))`), NOT a window, so no partition-less
  * WindowExec appears at any graph size. The rounds run on
  * [[Rounds]]; the label state is checkpointed per round because the
  * next vote join and the change probe both read it. Synchronous LPA
  * can oscillate on bipartite structures, so callers pick a fixed
  * round budget and get the deterministic round-R state (the async
  * variant is order-dependent and unreproducible). A round that
  * changes no label ([[Rounds.unchanged]]) is an exact fixpoint of
  * this deterministic round function, so the loop stops there with
  * the round-R result unchanged (VERDICT r11 #2).
  */
object Communities {

  /** @return one row per node: (v, community) after `rounds`
    *   synchronous votes (fewer if a round reaches an exact fixpoint).
    * @param onRound test/diagnostic hook invoked once per EXECUTED
    *   vote round. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, onRound: Int => Unit = _ => ()): DataFrame = {
    require(rounds >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // undirected distinct neighbour pairs; self-loops vote for the
    // node's own label, which is a no-op bias — drop them
    val nb = e0.select(col("src").as("v"), col("dst").as("u"))
      .union(e0.select(col("dst").as("v"), col("src").as("u")))
      .filter(col("v") =!= col("u"))
      .distinct()
      .localCheckpoint(true)
    // every endpoint is a node; one whose only edges are self-loops
    // never receives a vote and keeps its own id throughout
    val nodes = e0.select(col("src").as("v"))
      .union(e0.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    val own = nodes.select(col("v"), col("v").as("lbl"))
      .localCheckpoint(true)
    val l = Rounds.iterate("communities", own, rounds) { (l, t) =>
      onRound(t)
      val votes = nb.join(l.select(col("v").as("u"), col("lbl")), "u")
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // argmax(count) with min-label tie-break as ONE aggregate:
      // max over (c, -lbl) is lexicographic, so the largest count
      // wins and, within it, the smallest label
      val won = votes
        .groupBy("v")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("w"))
      val next = nodes.join(won, Seq("v"), "left")
        .select(col("v"), coalesce(col("w"), col("v")).as("lbl"))
        .localCheckpoint(true)
      (next, Rounds.unchanged(l, next, "v", "lbl"))
    }
    l.select(col("v"), col("lbl").as("community"))
  }
}
