package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop multi-source BFS over an edge list — the frontier
  * expansion every crawl scheduler runs ("how many hops is each
  * discovered domain from the trusted seed set?") and the integer
  * sibling of seeded PageRank (X72): where PPR scores proximity by
  * damped mass, BFS labels it by exact hop distance, which is what
  * depth-budgeted crawls (OpenWebText's one-hop rule, Common Crawl's
  * seed-distance tiers) actually key on.
  *
  * Shape per round (the honest 100 TB shape): join the CURRENT
  * distance state to the edge list on src (shuffle keyed by src),
  * min-aggregate candidate distances by dst (second keyed shuffle),
  * merge with the previous state by per-node MIN. All rows are
  * fixed-width (node, int) pairs. The rounds run on [[Rounds]]; each
  * round's state is `localCheckpoint`ed because the relax join and
  * the merge both consume it. A
  * production variant would relax only the previous round's FRONTIER
  * (rows whose distance just changed); with bounded `maxHops` the
  * full-state relax keeps every round a single deterministic job and
  * stays I/O-equivalent through hop counts this small.
  *
  * Integer-only — no float discipline needed anywhere.
  */
object Bfs {

  /** @param seeds one column of seed node ids (rows not present in
    *   the graph are ignored).
    * @return one row per graph node: (v, dist) with dist ∈ [0,
    *   maxHops] following DIRECTED edges src→dst, null when
    *   unreachable within the hop budget. */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    // graph-member seeds only; curated metadata -> broadcastable
    val seeded = nodes
      .join(broadcast(seeds.toDF("v").distinct()), Seq("v"), "left_semi")
      .select(col("v"), lit(0).as("dist"))
      .localCheckpoint(true)
    val dist = Rounds.iterate("bfs", seeded, maxHops) { (dist, _) =>
      val relaxed = e.join(dist, e("src") === dist("v"))
        .select(e("dst").as("v"), (col("dist") + 1).as("dist"))
      (dist.union(relaxed)
        .groupBy("v").agg(min("dist").as("dist"))
        .localCheckpoint(true), false)
    }
    nodes.join(dist, Seq("v"), "left")
  }
}
