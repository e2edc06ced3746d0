package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain-graph operators beyond the global rankings (X66/X69):
  * seed-personalized PageRank (X72 — rank by proximity to a curated
  * whitelist) and label-propagation community detection (X73 — which
  * domains cluster together). Both run over the same deterministic
  * 50-node domain multigraph carved from `documents` as
  * q_domain_pagerank, so all four graph signals are directly
  * comparable, and both unroll their rounds as oracle CTEs (the X66
  * device).
  */
object GraphQueries {

  /** The shared synthetic domain-graph carve of q_domain_pagerank. */
  private val edgeSql = CurationQueries.domainEdgeSql

  private def domainEdges(s: SparkSession, d: String): DataFrame =
    CurationQueries.domainEdges(Tables.documents(s, d))

  // ------------------------------------------- X72 seeded PageRank

  /** One unrolled personalized power-iteration round: identical to
    * CurationQueries.prRoundSql except the teleport and dangling
    * redistribution are weighted by the seed vector pv(v) instead of
    * the uniform 1/n. */
  private def seededRoundSql(t: Int): String = {
    val p = t - 1
    s"""c$t AS (
              SELECT e.dst AS v, SUM(r$p.pr / CAST(e.deg AS DOUBLE)) AS c
              FROM e JOIN r$p ON e.src = r$p.v GROUP BY e.dst),
            d$t AS (
              SELECT ${Num.qroundSql(
                s"COALESCE((SELECT SUM(r.pr) FROM r$p r LEFT JOIN deg " +
                  "ON r.v = deg.src WHERE deg.src IS NULL), 0.0)", 6)}
                AS dm),
            r$t AS (
              SELECT pv.v,
                     ${Num.qroundSql(
                       s"${CurationQueries.PrTeleport} * pv.pv + " +
                         s"${CurationQueries.PrDamping} * " +
                         s"(COALESCE(c$t.c, 0.0) + d$t.dm * pv.pv)", 6)}
                       AS pr
              FROM pv CROSS JOIN d$t
                LEFT JOIN c$t ON pv.v = c$t.v)"""
  }

  /** Seed-personalized PageRank (X72 — Haveliwala 2002's
    * topic-sensitive PageRank; the curation use is trusted-seed
    * expansion: rank every crawled domain by link proximity to a
    * curated whitelist, the CCNet/"wikipedia-linked domains" recipe).
    * Seeds are the domains ≡ 0 (mod 10); teleport AND dangling mass
    * flow only to seeds, start state = the seed vector. Same round
    * shape, damping and qround(6) discipline as q_domain_pagerank —
    * the oracle swaps the uniform 1/n teleport for pv(v) and unrolls
    * the same 5 rounds. Non-seed domains with no path from a seed end
    * at rank exactly 0, which the oracle reproduces. */
  val pagerankSeeded = QueryDef(
    "q_pagerank_seeded",
    Some(s"""WITH e0 AS ($edgeSql),
            nodes AS (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e0
                UNION ALL SELECT dst AS v FROM e0)),
            s AS (SELECT v FROM nodes WHERE v % 10 = 0),
            ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM s),
            pv AS (
              SELECT nodes.v,
                     CASE WHEN nodes.v % 10 = 0 THEN 1.0 / ns.n
                          ELSE 0.0 END AS pv
              FROM nodes CROSS JOIN ns),
            deg AS (
              SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
              FROM e0 GROUP BY src),
            e AS (SELECT e0.src, e0.dst, deg.deg
                  FROM e0 JOIN deg USING (src)),
            r0 AS (SELECT v, pv AS pr FROM pv),
            ${(1 to CurationQueries.PrIters)
              .map(seededRoundSql).mkString(",\n            ")}
            SELECT pv.v AS node, (pv.pv > 0.0) AS is_seed,
                   r${CurationQueries.PrIters}.pr AS pr
            FROM pv JOIN r${CurationQueries.PrIters}
              ON pv.v = r${CurationQueries.PrIters}.v
            ORDER BY node"""),
    (s, d) => {
      import s.implicits._
      val edges = domainEdges(s, d)
      val seeds = (0L to 40L by 10L).toDF("v")
      graft.ops.PageRank.runSeeded(edges, "src", "dst", seeds,
          CurationQueries.PrIters, CurationQueries.PrDamping)
        .select(col("v").as("node"), (col("pv") > 0.0).as("is_seed"),
          col("pr"))
        .orderBy("node")
    })

  // ------------------------------- X73 label-propagation communities

  private val LpaRounds = 4

  /** One unrolled synchronous vote round: neighbour labels counted,
    * argmax with min-label tie-break, vote-less nodes keep their own
    * id. All-integer arithmetic — no float discipline needed. */
  private def lpaRoundSql(t: Int): String = {
    val p = t - 1
    s"""v$t AS (
              SELECT nb.v, l$p.lbl, CAST(COUNT(*) AS BIGINT) AS c
              FROM nb JOIN l$p ON nb.u = l$p.v GROUP BY nb.v, l$p.lbl),
            w$t AS (
              SELECT v, lbl FROM (
                SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
                  ORDER BY c DESC, lbl ASC) AS rn FROM v$t)
              WHERE rn = 1),
            l$t AS (
              SELECT nodes.v, COALESCE(w$t.lbl, nodes.v) AS lbl
              FROM nodes LEFT JOIN w$t ON nodes.v = w$t.v)"""
  }

  /** The domain graph's nodes, its undirected distinct neighbour
    * relation `nb` and the unrolled votes l0..l<LpaRounds>, shared by
    * the communities and modularity oracles. */
  private val lpaCtesSql =
    s"""WITH e0 AS ($edgeSql),
            nodes AS (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e0
                UNION ALL SELECT dst AS v FROM e0)),
            nb AS (
              SELECT DISTINCT v, u FROM (
                SELECT src AS v, dst AS u FROM e0
                UNION ALL SELECT dst AS v, src AS u FROM e0)
              WHERE v <> u),
            l0 AS (SELECT v, v AS lbl FROM nodes),
            ${(1 to LpaRounds).map(lpaRoundSql)
              .mkString(",\n            ")}"""

  /** Label-propagation community detection (X73 — Raghavan et al.
    * 2007, the synchronous deterministic variant; see
    * [[graft.ops.Communities]]): 4 rounds of "adopt the most frequent
    * neighbour label, ties to the smallest" over the undirected
    * distinct neighbour relation of the domain graph. Output is each
    * node's community plus the community size. The oracle unrolls the
    * 4 votes as CTEs — every step is integer counting, so the whole
    * query hash-matches with no rounding anywhere. */
  val domainCommunities = QueryDef(
    "q_domain_communities",
    Some(s"""$lpaCtesSql,
            sz AS (
              SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize
              FROM l$LpaRounds GROUP BY lbl)
            SELECT l.v AS node, l.lbl AS community, sz.csize
            FROM l$LpaRounds l JOIN sz ON l.lbl = sz.lbl
            ORDER BY node"""),
    (s, d) => {
      val edges = domainEdges(s, d)
      val comm = graft.ops.Communities
        .labelPropagation(edges, "src", "dst", LpaRounds)
      val sz = comm.groupBy(col("community"))
        .agg(count(lit(1)).as("csize"))
      comm.join(sz, "community")
        .select(col("v").as("node"), col("community"), col("csize"))
        .orderBy("node")
    })

  // ------------------------------------- X80 triangles / clustering

  /** Per-node triangle counts and local clustering coefficient (X80 —
    * the cohesion signal web-spam detection runs over the domain
    * graph: link farms are near-cliques, organic hubs are not; see
    * [[graft.ops.Triangles]] for the degree-ordered-orientation scale
    * device). The oracle enumerates canonical x<y<z triples with a
    * three-way self-join of the simple edge set — orientation is a
    * plan choice, not a semantics change, so both engines count the
    * identical triangles. Counts are integers; the coefficient is one
    * IEEE divide (null for degree < 2). */
  val domainTriangles = QueryDef(
    "q_domain_triangles",
    Some(s"""WITH e0 AS ($edgeSql),
            nodes AS (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e0
                UNION ALL SELECT dst AS v FROM e0)),
            und AS (
              SELECT DISTINCT LEAST(src, dst) AS a,
                              GREATEST(src, dst) AS b
              FROM e0 WHERE src <> dst),
            deg0 AS (
              SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                SELECT a AS v FROM und
                UNION ALL SELECT b AS v FROM und)
              GROUP BY v),
            deg AS (
              -- full input-node universe: self-loop-only nodes emit
              -- degree 0 (matches Triangles.perNode and the other
              -- graph ops' node semantics)
              SELECT nodes.v, COALESCE(deg0.deg, 0) AS deg
              FROM nodes LEFT JOIN deg0 ON deg0.v = nodes.v),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
                JOIN und e2 ON e2.a = e1.b
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
            tn AS (
              SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM (
                SELECT x AS v FROM tri
                UNION ALL SELECT y AS v FROM tri
                UNION ALL SELECT z AS v FROM tri)
              GROUP BY v)
            SELECT deg.v AS node, deg.deg AS degree,
                   COALESCE(tn.t, 0) AS n_triangles,
                   CAST(2 * COALESCE(tn.t, 0) AS DOUBLE) /
                     NULLIF(deg.deg * (deg.deg - 1), 0) AS clustering
            FROM deg LEFT JOIN tn ON tn.v = deg.v
            ORDER BY node"""),
    (s, d) => {
      val edges = domainEdges(s, d)
      graft.ops.Triangles.perNode(edges, "src", "dst")
        .select(col("v").as("node"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy("node")
    })

  // --------------------------------------- X90 HITS hubs/authorities

  private val HitsRounds = 3

  /** One unrolled L1-normalized half-step: raw qround(6) sums of the
    * opposite score across `jk` → `ok`, zero-filled over the node
    * universe, total attached, ratio qround(6)'d — the exact tree
    * [[graft.ops.Hits]] builds. */
  private def hitsHalfSql(out: String, prev: String, jk: String,
      ok: String): String =
    s"""${out}r AS (
              SELECT e.$ok AS v, ${Num.qroundSql("SUM(p.s)", 6)} AS raw
              FROM e JOIN $prev p ON e.$jk = p.v GROUP BY e.$ok),
            ${out}z AS MATERIALIZED (
              -- two readers (L1 total + normalize): inlined, each
              -- half-round re-runs and the chain goes 2^(2·rounds)
              SELECT nodes.v, COALESCE(${out}r.raw, 0.0) AS raw
              FROM nodes LEFT JOIN ${out}r ON nodes.v = ${out}r.v),
            ${out}t AS (SELECT SUM(raw) AS tot FROM ${out}z),
            $out AS MATERIALIZED (
              -- NULLIF: an all-zero half-step (possible only on a
              -- degenerate edgeless carve) degrades to NULL on both
              -- engines (Spark divide-by-zero is NULL under non-ANSI)
              SELECT v, ${Num.qroundSql("raw / NULLIF(tot, 0)", 6)} AS s
              FROM ${out}z CROSS JOIN ${out}t)"""

  private def hitsRoundSql(t: Int): String = {
    val hPrev = if (t == 1) "h0" else s"h${t - 1}"
    s"""${hitsHalfSql(s"a$t", hPrev, "src", "dst")},
            ${hitsHalfSql(s"h$t", s"a$t", "dst", "src")}"""
  }

  /** The unrolled rounds and readout after the `e` and `nodes` CTEs,
    * shared by the global and the seeded HITS oracles. */
  private val hitsTailSql =
    s"""nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            h0 AS (SELECT nodes.v, 1.0 / nn.n AS s
                   FROM nodes CROSS JOIN nn),
            ${(1 to HitsRounds).map(hitsRoundSql)
              .mkString(",\n            ")}
            SELECT nodes.v AS node, h$HitsRounds.s AS hub,
                   a$HitsRounds.s AS auth
            FROM nodes
              JOIN h$HitsRounds ON nodes.v = h$HitsRounds.v
              JOIN a$HitsRounds ON nodes.v = a$HitsRounds.v
            ORDER BY node"""

  /** HITS hubs and authorities (X90 — Kleinberg 1999; see
    * [[graft.ops.Hits]] for why curation wants the hub/authority
    * SPLIT next to PageRank's single score: authorities seed quality
    * corpora, hubs seed frontier expansion). 3 rounds of
    * authority-then-hub updates with L1 normalization over the
    * distinct simple directed edge set of the shared domain graph;
    * every aggregate qround(6)'d, the oracle unrolling the identical
    * half-round trees (the X66 device). */
  val domainHits = QueryDef(
    "q_domain_hits",
    Some(s"""WITH e0 AS MATERIALIZED ($edgeSql),
            e AS MATERIALIZED (
              SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            nodes AS MATERIALIZED (
              -- full INPUT universe: self-loop-only nodes stay (score
              -- 0), matching Hits.run / Triangles.perNode semantics
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e0
                UNION ALL SELECT dst AS v FROM e0)),
            $hitsTailSql"""),
    (s, d) => {
      val edges = domainEdges(s, d)
      graft.ops.Hits.run(edges, "src", "dst", HitsRounds)
        .select(col("v").as("node"), col("hub"), col("auth"))
        .orderBy("node")
    })

  // --------------------------- X146 topic-sensitive HITS (root set)

  /** Topic-sensitive HITS (X146 — Kleinberg 1999 §2's root-set
    * construction, the r11 #8 item): seeds {0, 25} (the BFS seed
    * tier) expand to the base set (seeds + one-hop in/out
    * neighbours), HITS runs on the INDUCED subgraph — hubs and
    * authorities relative to the seed topic, not the global graph.
    * Same unrolled half-round oracle device as q_domain_hits, with
    * the `e`/`nodes` CTEs swapped for the restricted subgraph and the
    * base universe. */
  val domainHitsSeeded = QueryDef(
    "q_domain_hits_seeded",
    Some(s"""WITH e0 AS MATERIALIZED ($edgeSql),
            seeds AS (SELECT CAST(0 AS BIGINT) AS v
                      UNION ALL SELECT CAST(25 AS BIGINT)),
            nodes AS MATERIALIZED (
              -- the Kleinberg base set: seeds + one-hop in/out nbrs
              SELECT DISTINCT v FROM (
                SELECT v FROM seeds
                UNION ALL
                SELECT e0.src AS v FROM e0
                  JOIN seeds s ON e0.dst = s.v
                UNION ALL
                SELECT e0.dst AS v FROM e0
                  JOIN seeds s ON e0.src = s.v)),
            e AS MATERIALIZED (
              SELECT DISTINCT src, dst FROM e0
              WHERE src <> dst
                AND src IN (SELECT v FROM nodes)
                AND dst IN (SELECT v FROM nodes)),
            $hitsTailSql"""),
    (s, d) => {
      import s.implicits._
      val edges = domainEdges(s, d)
      val seeds = Seq(0L, 25L).toDF("v")
      graft.ops.Hits.runSeeded(edges, "src", "dst", seeds, HitsRounds)
        .select(col("v").as("node"), col("hub"), col("auth"))
        .orderBy("node")
    })

  // ------------------- X154 co-citation / bibliographic coupling

  /** Co-citation and bibliographic coupling (X154 — Small 1973 /
    * Kessler 1963, the two classic "related items" graph signals a
    * crawl curator reads next to communities X73: two domains are
    * CO-CITED when the same source links both (endorsement
    * similarity), COUPLED when they link the same target (content
    * similarity) — the unsupervised related-domain discovery that
    * needs no text). One pair row per (a < b) with both counts.
    * Scale shape: the distinct simple edge set self-joins keyed by
    * the SHARED endpoint, so pair generation is quadratic only within
    * one node's neighbor list (the X80 wedge shape — production caps
    * hub neighborhoods exactly like Dedup's bucketCap; recorded);
    * counts are one keyed aggregate each, merged by a full outer join
    * on the pair key. */
  val domainCocitation = QueryDef(
    "q_domain_cocitation",
    Some(s"""WITH e0 AS ($edgeSql),
            e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            co AS (
              SELECT x.dst AS a, y.dst AS b,
                     CAST(COUNT(*) AS BIGINT) AS n_cocite
              FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
              GROUP BY 1, 2),
            bc AS (
              SELECT x.src AS a, y.src AS b,
                     CAST(COUNT(*) AS BIGINT) AS n_coupling
              FROM e x JOIN e y ON x.dst = y.dst AND x.src < y.src
              GROUP BY 1, 2)
            SELECT COALESCE(co.a, bc.a) AS a, COALESCE(co.b, bc.b) AS b,
                   COALESCE(co.n_cocite, 0) AS n_cocite,
                   COALESCE(bc.n_coupling, 0) AS n_coupling
            FROM co FULL JOIN bc ON co.a = bc.a AND co.b = bc.b
            ORDER BY a, b"""),
    (s, d) => {
      val e = domainEdges(s, d)
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint(true) // feeds both self-joins
      val co = e.as("x").join(e.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
        .agg(count(lit(1)).as("n_cocite"))
      val bc = e.as("x").join(e.as("y"),
          col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
        .groupBy(col("x.src").as("a"), col("y.src").as("b"))
        .agg(count(lit(1)).as("n_coupling"))
      co.withColumnRenamed("a", "ca").withColumnRenamed("b", "cb")
        .join(bc, col("ca") === bc("a") && col("cb") === bc("b"),
          "full_outer")
        .select(coalesce(col("ca"), bc("a")).as("a"),
          coalesce(col("cb"), bc("b")).as("b"),
          coalesce(col("n_cocite"), lit(0L)).as("n_cocite"),
          coalesce(col("n_coupling"), lit(0L)).as("n_coupling"))
        .orderBy("a", "b")
    })

  // ------------------------------------ X94 multi-source BFS distance

  private val BfsHops = 4

  private def bfsRoundSql(t: Int): String = {
    val p = t - 1
    s"""d$t AS (
              SELECT v, CAST(MIN(dist) AS INT) AS dist FROM (
                SELECT v, dist FROM d$p
                UNION ALL
                SELECT e.dst AS v, d$p.dist + 1 AS dist
                FROM e JOIN d$p ON e.src = d$p.v)
              GROUP BY v)"""
  }

  /** Bounded-hop multi-source BFS (X94 — the crawl scheduler's
    * seed-distance tiers; see [[graft.ops.Bfs]]): exact hop distance
    * from the seed domains {0, 25} following directed edges, 4 hops
    * max, null = unreached. Integer-only — no float discipline
    * anywhere; the oracle unrolls the relax/merge rounds as CTEs. */
  val domainBfs = QueryDef(
    "q_domain_bfs",
    Some(s"""WITH e0 AS ($edgeSql),
            e AS (SELECT DISTINCT src, dst FROM e0),
            nodes AS (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e
                UNION ALL SELECT dst AS v FROM e)),
            d0 AS (SELECT v, CAST(0 AS INT) AS dist FROM nodes
                   WHERE v % 25 = 0),
            ${(1 to BfsHops).map(bfsRoundSql)
              .mkString(",\n            ")}
            SELECT nodes.v AS node, d$BfsHops.dist AS hops
            FROM nodes LEFT JOIN d$BfsHops ON nodes.v = d$BfsHops.v
            ORDER BY node"""),
    (s, d) => {
      import s.implicits._
      val edges = domainEdges(s, d)
      val seeds = Seq(0L, 25L).toDF("v")
      graft.ops.Bfs.hopDistance(edges, "src", "dst", seeds, BfsHops)
        .select(col("v").as("node"), col("dist").as("hops"))
        .orderBy("node")
    })

  // --------------------------- X97 k-core peel / onion decomposition

  private val KcoreK = 4
  private val KcoreRounds = 10

  /** Sparser host-graph carve than [[edgeSql]] (mod 200, own salt):
    * k-core peeling is only informative when degrees sit NEAR k. */
  private val kcEdgeSql =
    """SELECT doc_id % 200 AS src,
                     CAST('0x' || substring(md5('kc:'
                         || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 200 AS dst
              FROM documents"""

  /** One unrolled peel round. MATERIALIZED is load-bearing: each round
    * references the previous survivor set four times, so DuckDB's
    * default CTE inlining would blow up 4^rounds; materialization
    * makes the unroll linear (it is semantics-neutral). */
  private def kcoreRoundSql(t: Int): String = {
    val p = t - 1
    s"""d$t AS MATERIALIZED (
              SELECT nb.v, CAST(COUNT(*) AS BIGINT) AS c
              FROM nb JOIN a$p x ON nb.v = x.v
                      JOIN a$p y ON nb.u = y.v
              GROUP BY nb.v),
            r$t AS MATERIALIZED (
              SELECT a$p.v FROM a$p LEFT JOIN d$t ON a$p.v = d$t.v
              WHERE COALESCE(d$t.c, 0) < $KcoreK),
            a$t AS MATERIALIZED (
              SELECT a$p.v FROM a$p ANTI JOIN r$t ON a$p.v = r$t.v)"""
  }

  /** K-core onion decomposition (X97 — Seidman 1983 / the
    * Shin et al. 2016 onion layers; see [[graft.ops.KCore]]: LOW
    * coreness = crawl periphery, the inverse of X80's link-farm
    * cohesion signal). 10 bounded peel rounds toward the 4-core of a
    * sparser (mod 200) host carve; per node: simple-graph degree and
    * the 1-based peel round (null = in the 4-core). Integer-only; the
    * oracle unrolls the peel with materialized CTEs. At sf0.01 the
    * whole carve dissolves across all 10 layers (a real onion);
    * KCoreSpec pins convergence. */
  val domainKcore = QueryDef(
    "q_domain_kcore",
    Some(s"""WITH e0 AS MATERIALIZED ($kcEdgeSql),
            nb AS MATERIALIZED (
              SELECT DISTINCT v, u FROM (
                SELECT src AS v, dst AS u FROM e0
                UNION ALL SELECT dst AS v, src AS u FROM e0)
              WHERE v <> u),
            nodes AS MATERIALIZED (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e0
                UNION ALL SELECT dst AS v FROM e0)),
            deg0 AS MATERIALIZED (
              SELECT nodes.v, COALESCE(dd.c, 0) AS degree
              FROM nodes LEFT JOIN (
                SELECT v, CAST(COUNT(*) AS BIGINT) AS c
                FROM nb GROUP BY v) dd ON nodes.v = dd.v),
            a0 AS (SELECT v FROM nodes),
            ${(1 to KcoreRounds).map(kcoreRoundSql)
              .mkString(",\n            ")},
            layers AS (
              ${(1 to KcoreRounds)
                .map(t => s"SELECT v, $t AS layer FROM r$t")
                .mkString("\n              UNION ALL ")})
            SELECT deg0.v AS node, deg0.degree, layers.layer
            FROM deg0 LEFT JOIN layers ON deg0.v = layers.v
            ORDER BY node"""),
    (s, d) => {
      val edges = Tables.documents(s, d).select(
        (col("doc_id") % 200).as("src"),
        (conv(substring(md5(concat(lit("kc:"),
            col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 200).as("dst"))
      graft.ops.KCore.onionLayers(edges, "src", "dst",
          KcoreK, KcoreRounds)
        .select(col("v").as("node"), col("degree"), col("layer"))
        .orderBy("node")
    })

  // --------------------------- X102 ranking agreement (Spearman's ρ)

  /** PageRank and HITS-authority rankings of the domain graph, the
    * shared prelude of the three rank-comparison rows: `(v, rPr)` and
    * `(v, rAuth)`, ranked (score DESC, v) by the X75 two-pass
    * [[graft.ops.PrefixSum]] device — no global window. */
  private def prHitsRanks(s: org.apache.spark.sql.SparkSession, d: String,
      rPr: String, rAuth: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val edges = domainEdges(s, d)
    // r20 (guide §2.6): the two iterative kernels are independent —
    // overlap their per-round driver actions on two threads
    val (pr, ht) = graft.ops.Par.two(
      graft.ops.PageRank.run(edges, "src", "dst",
        CurationQueries.PrIters, CurationQueries.PrDamping),
      graft.ops.Hits.run(edges, "src", "dst", HitsRounds))
    def rank(df: org.apache.spark.sql.DataFrame, score: String,
        out: String) =
      graft.ops.PrefixSum.runningTotalDesc(
          df.withColumn("__one", lit(1L)), "__one", score, "v", out)
        .select(col("v"), col(out))
    (rank(pr.select(col("v"), col("pr")), "pr", rPr),
      rank(ht.select(col("v"), col("auth")), "auth", rAuth))
  }

  /** Spearman rank agreement between PageRank and HITS authority
    * (X102 — the X74 eval discipline applied to the graph rankings:
    * before swapping one centrality for a cheaper one, measure how
    * much of the ordering actually changes; Spearman 1904, the
    * deterministic-tie-break variant — ties order by node id, not
    * averaged ranks). Ranks are computed WITHOUT a global window via
    * the two-pass distributed prefix sum ([[graft.ops.PrefixSum]] —
    * the X75 rank-statistic device; bit-identical to the one-window
    * form), d = rank difference per node, and
    * ρ = 1 − 6·Σd²/(n(n²−1)) is elementwise-exact off integer Σd²
    * and the driver-bounded n — no qround anywhere, the whole row
    * hashes raw. */
  val rankAgreement = QueryDef(
    "q_rank_agreement",
    Some(s"""WITH pr_q AS (${CurationQueries.domainPagerank.oracle.get}),
            ht_q AS (${domainHits.oracle.get}),
            rp AS (
              SELECT node, CAST(ROW_NUMBER() OVER (
                ORDER BY pr DESC, node) AS BIGINT) AS r
              FROM pr_q),
            ra AS (
              SELECT node, CAST(ROW_NUMBER() OVER (
                ORDER BY auth DESC, node) AS BIGINT) AS r
              FROM ht_q),
            dd AS (
              SELECT rp.node, rp.r - ra.r AS d
              FROM rp JOIN ra USING (node))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d * d) AS BIGINT) AS sum_d2,
                   1.0 - (6.0 * CAST(SUM(d * d) AS DOUBLE)) /
                     (CAST(COUNT(*) AS DOUBLE) *
                      (CAST(COUNT(*) AS DOUBLE) *
                       CAST(COUNT(*) AS DOUBLE) - 1.0)) AS rho
            FROM dd"""),
    (s, d) => {
      val (rp, ra) = prHitsRanks(s, d, "r", "r2")
      val n = col("n_nodes").cast("double")
      rp.join(ra, "v")
        .select((col("r") - col("r2")).as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("d") * col("d")).as("sum_d2"))
        .select(col("n_nodes"), col("sum_d2"),
          (lit(1.0) - (lit(6.0) * col("sum_d2").cast("double")) /
            (n * (n * n - lit(1.0)))).as("rho"))
    })

  /** Reciprocal-rank fusion of two centrality rankings (X183 —
    * Cormack, Clarke & Buettcher SIGIR 2009: RRF(v) = Σᵢ 1/(k + rᵢ(v))
    * with k = 60, the evidence-free rank combiner that reliably beats
    * its inputs and is the standard hybrid-retrieval merge (BM25 ⊕
    * dense) — here fusing PageRank and HITS authority, the two
    * rankings X102 only COMPARES; same composition seam, opposite
    * purpose). Ranks come from the X75 two-pass PrefixSum rank device
    * (deterministic node tie-break, no global window) — bit-identical
    * to ROW_NUMBER; the RRF score is a fixed-order two-term sum of
    * exact-integer-fed divides and the fused rank re-runs the same
    * device on (rrf DESC, node) — every lane hashes RAW. */
  val rankFusion = QueryDef(
    "q_rank_fusion",
    Some(s"""WITH pr_q AS (${CurationQueries.domainPagerank.oracle.get}),
            ht_q AS (${domainHits.oracle.get}),
            rp AS (
              SELECT node, CAST(ROW_NUMBER() OVER (
                ORDER BY pr DESC, node) AS BIGINT) AS r_pr
              FROM pr_q),
            ra AS (
              SELECT node, CAST(ROW_NUMBER() OVER (
                ORDER BY auth DESC, node) AS BIGINT) AS r_auth
              FROM ht_q),
            f AS (
              SELECT rp.node, rp.r_pr, ra.r_auth,
                     1.0 / (60.0 + CAST(rp.r_pr AS DOUBLE)) +
                     1.0 / (60.0 + CAST(ra.r_auth AS DOUBLE)) AS rrf
              FROM rp JOIN ra USING (node))
            SELECT node, r_pr, r_auth, rrf,
                   CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, node)
                     AS BIGINT) AS fused_rank
            FROM f ORDER BY fused_rank"""),
    (s, d) => {
      val (rp, ra) = prHitsRanks(s, d, "r_pr", "r_auth")
      val f = rp.join(ra, "v")
        .select(col("v"), col("r_pr"), col("r_auth"),
          (lit(1.0) / (lit(60.0) + col("r_pr").cast("double")) +
            lit(1.0) / (lit(60.0) + col("r_auth").cast("double")))
            .as("rrf"))
      graft.ops.PrefixSum.runningTotalDesc(
          f.withColumn("__one", lit(1L)), "__one", "rrf", "v",
          "fused_rank")
        .select(col("v").as("node"), col("r_pr"), col("r_auth"),
          col("rrf"), col("fused_rank"))
        .orderBy("fused_rank")
    })

  /** Rank-biased overlap between two centrality rankings (X186 —
    * Webber, Moffat & Zobel TOIS 2010: RBO(p) = (1−p)·Σ_d p^(d−1)·
    * |A∩B @ d|/d, the TOP-WEIGHTED list-similarity measure X102's
    * Spearman is not — Spearman weights a swap at rank 49 like one at
    * rank 2; RBO's geometric depth discount matches how rankings are
    * consumed. Truncated at the list length n (RBO_min). The swap of
    * summation order makes it one pass: each node contributes the
    * TAIL sum T(m) = Σ_{d≥m} p^(d−1)/d at m = max(rank_pr, rank_auth)
    * — so the whole statistic needs only the rank join plus a
    * depth-alphabet-bounded tail table. Float discipline: p^(d−1)/d
    * enters a ×10⁹ fixed-point floor (the X139 ln-lane device — libm
    * pow's ≤1 ulp cross-engine drift dies at the floor), tail sums
    * are then EXACT long prefix arithmetic via
    * [[graft.ops.PrefixSum.runningTotalsAsc]], and rbo = (1−p)·
    * (Σ T_int / 10⁹) is element-wise off exact longs — every row
    * hashes RAW. */
  val rankRbo = QueryDef(
    "q_rank_rbo", {
      val P = 0.9
      Some(s"""WITH pr_q AS (${CurationQueries.domainPagerank.oracle.get}),
              ht_q AS (${domainHits.oracle.get}),
              rp AS MATERIALIZED (
                SELECT node, CAST(ROW_NUMBER() OVER (
                  ORDER BY pr DESC, node) AS BIGINT) AS r_pr
                FROM pr_q),
              ra AS MATERIALIZED (
                SELECT node, CAST(ROW_NUMBER() OVER (
                  ORDER BY auth DESC, node) AS BIGINT) AS r_auth
                FROM ht_q),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rp),
              dep AS (
                SELECT CAST(unnest(range(1, nn.n + 1)) AS BIGINT) AS d
                FROM nn),
              td AS (
                SELECT d,
                       CAST(FLOOR(POWER($P, d - 1) / d * 1000000000.0
                         + 0.5) AS BIGINT) AS t
                FROM dep),
              ct AS (
                SELECT d, t,
                       CAST(SUM(t) OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS cum
                FROM td),
              tt AS (SELECT CAST(SUM(t) AS BIGINT) AS total FROM td),
              j AS (
                SELECT rp.node, rp.r_pr, ra.r_auth,
                       GREATEST(rp.r_pr, ra.r_auth) AS m
                FROM rp JOIN ra USING (node)),
              k AS MATERIALIZED (
                SELECT j.node, j.r_pr, j.r_auth, j.m,
                       tt.total - (ct.cum - ct.t) AS t_int
                FROM j JOIN ct ON j.m = ct.d CROSS JOIN tt),
              sm AS (SELECT CAST(SUM(t_int) AS BIGINT) AS s FROM k)
              SELECT k.node, k.r_pr, k.r_auth, k.m, k.t_int,
                     ${1.0 - P} * (CAST(sm.s AS DOUBLE) / 1000000000.0)
                       AS rbo
              FROM k CROSS JOIN sm ORDER BY k.node""")
    },
    (s, d) => {
      val P = 0.9
      val (rp0, ra) = prHitsRanks(s, d, "r_pr", "r_auth")
      val rp = rp0.localCheckpoint(true) // count action + the rank join
      val n = rp.count() // bounded action: list length
      val dep = s.range(1, n + 1).select(col("id").as("d"))
        .withColumn("t",
          floor(pow(lit(P), col("d") - 1) / col("d") *
            lit(1000000000.0) + 0.5).cast("long"))
      val ct = graft.ops.PrefixSum
        .runningTotalsAsc(dep, Seq("t"), "d", Seq("cum"))
        .localCheckpoint(true) // total action + the m-join
      val total = ct.agg(sum("t")).head().getLong(0)
      val j = rp.join(ra, "v")
        .select(col("v").as("node"), col("r_pr"), col("r_auth"),
          greatest(col("r_pr"), col("r_auth")).as("m"))
      val k = j.join(ct.select(col("d").as("m"), col("t"), col("cum")),
          "m")
        .select(col("node"), col("r_pr"), col("r_auth"), col("m"),
          (lit(total) - (col("cum") - col("t"))).as("t_int"))
        .localCheckpoint(true) // sum action + the emitted rows
      val sumT = k.agg(sum("t_int")).head().getLong(0)
      k.withColumn("rbo", lit(1.0 - P) *
          (lit(sumT).cast("double") / lit(1000000000.0)))
        .orderBy("node")
    })

  /** Graph shape summary (X133 — reciprocity + degree assortativity,
    * the two whole-graph diagnostics read next to the per-node signals
    * X66/X80/X97: reciprocity = share of directed edges whose reverse
    * also exists (link exchanges / mutual-citation rings run HIGH;
    * organic web linking sits low), assortativity = Pearson r of
    * endpoint total degrees over edges (Newman 2002 — positive: hubs
    * link hubs; negative: hub-and-spoke). Scale shape: the simple edge
    * set and the degree table are keyed aggregates; reciprocity is one
    * self-equi-join on the reversed pair; assortativity one corr
    * aggregate over degree-joined edges (two vertex-keyed joins).
    * All three scalars are bounded driver actions re-emitted as one
    * literal row (the X109 device — a constant-key join of 1-row
    * frames would fold into the banned BNLJ); zero-variance degree
    * fields degrade corr to NULL identically on both engines. */
  val graphShape = QueryDef(
    "q_graph_shape",
    Some(s"""WITH e0 AS ($edgeSql),
            se AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
            r AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
              FROM se a JOIN se b ON a.src = b.dst AND a.dst = b.src),
            ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM se),
            deg AS (
              SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
              FROM (SELECT src AS v FROM se
                    UNION ALL SELECT dst FROM se)
              GROUP BY v),
            dd AS (
              SELECT da.deg AS ds, db.deg AS dt
              FROM se JOIN deg da ON se.src = da.v
                      JOIN deg db ON se.dst = db.v),
            a AS (
              SELECT ${Num.qroundSql(
                "CORR(CAST(ds AS DOUBLE), CAST(dt AS DOUBLE))", 6)}
                AS assortativity
              FROM dd)
            SELECT ne.n_edges, r.n_recip,
                   CAST(r.n_recip AS DOUBLE) /
                     NULLIF(CAST(ne.n_edges AS DOUBLE), 0) AS reciprocity,
                   a.assortativity
            FROM ne CROSS JOIN r CROSS JOIN a"""),
    (s, d) => {
      val se = domainEdges(s, d)
        .filter(col("src") =!= col("dst")).distinct()
        .localCheckpoint(true) // reused 4×: edges, reverse, both deg joins
      val nEdges = se.count()
      val rev = se.select(col("dst").as("src"), col("src").as("dst"))
      val nRecip = se.join(rev, Seq("src", "dst")).count()
      val deg = se.select(col("src").as("v"))
        .unionAll(se.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val aRow = se
        .join(deg.select(col("v").as("src"), col("deg").as("ds")), "src")
        .join(deg.select(col("v").as("dst"), col("deg").as("dt")), "dst")
        .agg(Num.qround(corr(col("ds").cast("double"),
          col("dt").cast("double")), 6)).head()
      val assort: Any =
        if (aRow.isNullAt(0) || aRow.getDouble(0).isNaN) null
        else aRow.getDouble(0)
      // empty-graph guard (ADVICE r11): 0 edges → NULL reciprocity on
      // both engines (oracle NULLIFs the denominator)
      val recip =
        if (nEdges == 0L) lit(null).cast("double")
        else lit(nRecip).cast("double") / lit(nEdges).cast("double")
      s.range(1).select(
        lit(nEdges).as("n_edges"), lit(nRecip).as("n_recip"),
        recip.as("reciprocity"),
        lit(assort).cast("double").as("assortativity"))
    })

  // ---------------------------------------- X175 link prediction

  /** Link prediction scores (X175 — the classic unsupervised triple
    * over one wedge pass: common neighbors, Jaccard, and Adamic–Adar
    * Σ 1/ln(deg z) (Adamic & Adar 2003; Liben-Nowell & Kleinberg 2003
    * established AA as the strong simple baseline) — "which domains
    * SHOULD link but don't", the crawl-frontier/recommendation signal
    * next to X154's co-citation which scores ALREADY-related pairs).
    * Undirected simple neighbor sets; candidate pairs from the
    * shared-endpoint wedge join (the X80 shape — quadratic only
    * within one node's neighbor list); already-adjacent pairs removed
    * by one anti-join on the normalized edge; deg(z) ≥ 2 for any
    * common neighbor BY CONSTRUCTION, so 1/ln never divides by zero.
    * Counts and Jaccard are exact-integer-fed (hash raw); the AA sum
    * crosses a libm ln → per-term qround(6) then qround(6) after the
    * sum (the X114 ln-lane discipline). Top-25 under the total
    * (aa DESC, id_a, id_b) order. Density caveat recorded: the 50-
    * domain carve saturates toward complete as sf grows, thinning
    * NON-adjacent candidates — the scoring work still runs; the
    * oracle-gated sf keeps a meaningful candidate set. */
  val linkPredict = QueryDef(
    "q_link_predict", {
      val aaTerm =
        s"1.0 / (${Num.qroundSql("LN(CAST(deg.deg AS DOUBLE))", 6)})"
      Some(s"""WITH e0 AS ($edgeSql),
              se AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
              und AS (
                SELECT DISTINCT LEAST(src, dst) AS a,
                       GREATEST(src, dst) AS b
                FROM se),
              nb AS (
                SELECT a AS v, b AS u FROM und
                UNION SELECT b AS v, a AS u FROM und),
              deg AS (
                SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
                FROM nb GROUP BY v),
              w AS (
                SELECT n1.u AS id_a, n2.u AS id_b, n1.v AS z
                FROM nb n1 JOIN nb n2
                  ON n1.v = n2.v AND n1.u < n2.u),
              sc AS (
                SELECT w.id_a, w.id_b,
                       CAST(COUNT(*) AS BIGINT) AS common_n,
                       ${Num.qroundSql(s"SUM($aaTerm)", 6)} AS adamic_adar
                FROM w JOIN deg ON w.z = deg.v
                GROUP BY 1, 2),
              cand AS (
                SELECT sc.* FROM sc
                WHERE NOT EXISTS (SELECT 1 FROM und
                  WHERE und.a = sc.id_a AND und.b = sc.id_b))
              SELECT c.id_a, c.id_b, c.common_n, c.adamic_adar,
                     CAST(c.common_n AS DOUBLE) /
                       CAST(da.deg + db.deg - c.common_n AS DOUBLE)
                       AS jaccard
              FROM cand c JOIN deg da ON c.id_a = da.v
                JOIN deg db ON c.id_b = db.v
              ORDER BY adamic_adar DESC, id_a, id_b LIMIT 25""")
    },
    (s, d) => {
      val se = domainEdges(s, d)
        .filter(col("src") =!= col("dst")).distinct()
      val und = se.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .localCheckpoint(true) // neighbor build + adjacency anti-join
      val nb = und.select(col("a").as("v"), col("b").as("u"))
        .union(und.select(col("b").as("v"), col("a").as("u")))
        .localCheckpoint(true) // wedge self-join both sides + degrees
      val deg = nb.groupBy("v").agg(count(lit(1)).as("deg"))
      val w = nb.as("n1").join(nb.as("n2"),
          col("n1.v") === col("n2.v") && col("n1.u") < col("n2.u"))
        .select(col("n1.u").as("id_a"), col("n2.u").as("id_b"),
          col("n1.v").as("z"))
      val aaTerm = lit(1.0) /
        Num.qround(log(col("deg").cast("double")), 6)
      val sc = w.join(broadcast(deg.select(col("v").as("z"), col("deg"))),
          "z")
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("common_n"),
          Num.qround(sum(aaTerm), 6).as("adamic_adar"))
      val cand = sc.join(und.select(col("a").as("id_a"),
          col("b").as("id_b")), Seq("id_a", "id_b"), "left_anti")
      cand
        .join(broadcast(deg.select(col("v").as("id_a"),
          col("deg").as("deg_a"))), "id_a")
        .join(broadcast(deg.select(col("v").as("id_b"),
          col("deg").as("deg_b"))), "id_b")
        .select(col("id_a"), col("id_b"), col("common_n"),
          col("adamic_adar"),
          (col("common_n").cast("double") /
            (col("deg_a") + col("deg_b") - col("common_n")).cast("double"))
            .as("jaccard"))
        .orderBy(col("adamic_adar").desc, col("id_a"), col("id_b"))
        .limit(25)
    })

  // ------------------------------------ X176 incremental PageRank

  /** One unrolled PR round over a SUFFIXED CTE family (`e$g`,
    * `deg$g`, `nodes$g`, `nn$g`, `r$g<t>`) so two graphs' iterations
    * coexist in one oracle query — the q_domain_pagerank round device
    * (CurationQueries.prRoundSql) parameterized by graph tag. */
  private def prRoundSfx(t: Int, g: String): String = {
    val p = t - 1
    s"""c$g$t AS (
              SELECT e$g.dst AS v, SUM(r$g$p.pr / CAST(e$g.deg AS DOUBLE))
                AS c
              FROM e$g JOIN r$g$p ON e$g.src = r$g$p.v GROUP BY e$g.dst),
            d$g$t AS (
              SELECT ${Num.qroundSql(
                s"COALESCE((SELECT SUM(r.pr) FROM r$g$p r LEFT JOIN " +
                  s"deg$g ON r.v = deg$g.src WHERE deg$g.src IS NULL), " +
                  "0.0)", 6)} AS dm),
            r$g$t AS MATERIALIZED (
              -- each round reads r$p twice (contribution join +
              -- dangling mass); inlined CTEs re-run 2^rounds times
              SELECT nodes$g.v,
                     ${Num.qroundSql(
                       s"${CurationQueries.PrTeleport} / nn$g.n + " +
                         s"${CurationQueries.PrDamping} * " +
                         s"(COALESCE(c$g$t.c, 0.0) + d$g$t.dm / nn$g.n)",
                       6)} AS pr
              FROM nodes$g CROSS JOIN nn$g CROSS JOIN d$g$t
                LEFT JOIN c$g$t ON nodes$g.v = c$g$t.v)"""
  }

  /** The graph-family CTEs for one snapshot's carve, suffixed `g`. */
  private def graphCtes(g: String, docFilter: String): String =
    s"""e${g}0 AS MATERIALIZED (
              SELECT doc_id % 50 AS src,
                     CAST('0x' || substring(md5('pr:'
                         || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 50 AS dst
              FROM documents WHERE $docFilter),
            nodes$g AS MATERIALIZED (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e${g}0
                UNION ALL SELECT dst AS v FROM e${g}0)),
            nn$g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes$g),
            deg$g AS MATERIALIZED (
              SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
              FROM e${g}0 GROUP BY src),
            e$g AS MATERIALIZED (
              SELECT e${g}0.src, e${g}0.dst, deg$g.deg
              FROM e${g}0 JOIN deg$g USING (src))"""

  /** Incremental (delta) PageRank over a corpus refresh (X176 — the
    * r12 verdict's suggested graph-family completion: compose X32's
    * snapshot split with X66's rounds; Page et al. 1999 §convergence
    * — power iteration converges geometrically in the damping factor,
    * so ranks warm-started NEAR the fixed point need a couple of
    * catch-up rounds, not a from-scratch run — the production shape
    * for daily graph refreshes at Common-Crawl scale, where
    * recomputing 5+ cold rounds per refresh is the dominant cost).
    * Old snapshot's graph runs the full 5 cold rounds; the refreshed
    * snapshot's graph runs 2 WARM rounds from those ranks (newcomer
    * nodes start at 1/N; vanished nodes' mass drops — the start is a
    * preconditioner, recorded in [[graft.ops.PageRank.runFrom]]).
    * Emits per new-graph node: old rank, incremental rank, delta —
    * the refresh dashboard row. Same qround(6)-per-round float
    * discipline as X66, so delta is an exact element-wise difference
    * (hash raw); a node absent from the old graph carries NULL
    * pr_old/delta on both engines. */
  val pagerankDelta = QueryDef(
    "q_pagerank_delta",
    Some(s"""WITH ${graphCtes("o", "doc_id % 10 <> 7")},
            ro0 AS (SELECT v, 1.0 / nno.n AS pr
                    FROM nodeso CROSS JOIN nno),
            ${(1 to 5).map(prRoundSfx(_, "o")).mkString(",\n            ")},
            ${graphCtes("n", "doc_id % 10 <> 3")},
            rn0 AS (
              SELECT nodesn.v, COALESCE(ro5.pr, 1.0 / nnn.n) AS pr
              FROM nodesn CROSS JOIN nnn
                LEFT JOIN ro5 ON nodesn.v = ro5.v),
            ${(1 to 2).map(prRoundSfx(_, "n")).mkString(",\n            ")}
            SELECT rn2.v AS node, ro5.pr AS pr_old, rn2.pr AS pr_inc,
                   rn2.pr - ro5.pr AS delta
            FROM rn2 LEFT JOIN ro5 ON rn2.v = ro5.v
            ORDER BY node"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldEdges = CurationQueries.domainEdges(
        docs.filter(col("doc_id") % 10 =!= 7))
      val newEdges = CurationQueries.domainEdges(
        docs.filter(col("doc_id") % 10 =!= 3))
      val prOld = graft.ops.PageRank.run(oldEdges, "src", "dst",
          5, CurationQueries.PrDamping)
        .localCheckpoint(true) // warm start + the final delta join
      val prInc = graft.ops.PageRank.runFrom(newEdges, "src", "dst",
        prOld, 2, CurationQueries.PrDamping)
      prInc.join(prOld.select(col("v"), col("pr").as("pr_old")),
          Seq("v"), "left")
        .select(col("v").as("node"), col("pr_old"),
          col("pr").as("pr_inc"),
          (col("pr") - col("pr_old")).as("delta"))
        .orderBy("node")
    })

  // ------------------- X222 strongly connected components + bow-tie

  /** Strongly connected components + bow-tie decomposition (X222 —
    * Broder et al. 2000's web-graph anatomy: the largest SCC is the
    * CORE, upstream pages that reach it are IN, downstream pages it
    * reaches are OUT, the rest tendrils/disconnected — the structural
    * map a crawler reads before deciding where frontier budget goes;
    * the DIRECTED completion of X73's undirected communities).
    *
    * Graph = the sparse carve of the shared 50-node domain multigraph
    * (doc_id ≡ 0 mod 5 slice, distinct edges — the dense carve is one
    * giant SCC, structurally vacuous). Reachability is 6 rounds of
    * PATH DOUBLING (R ← R ∪ R∘R, each ONE self equi-join + distinct,
    * localCheckpoint per round): lengths covered double per round, so
    * 6 rounds ≥ 64 > any simple path on ≤50 nodes — closure is EXACT
    * by construction, no convergence probe needed. scc_id(u) =
    * min{v : u→v ∧ v→u} ∪ {u} off one closure self-join. Pair volume
    * is bounded by the 50-node carve (≤2500) — the declared
    * bounded-domain-graph tier every X66-family row shares; at web
    * scale the same rounds run on the contracted DOMAIN graph, not
    * pages. Core membership and the IN/OUT sets are semi-joins
    * against the sccid/reach frames (VERDICT r16 #3 — no driver-side
    * member lists, so the classification holds at a millions-of-nodes
    * CORE; the only scalar on the driver is the core's scc_id).
    * All-integer lanes; full 0..49 node universe (graph-op
    * node-semantics discipline). */
  val domainScc = QueryDef(
    "q_domain_scc",
    Some("""WITH RECURSIVE se AS (
             SELECT DISTINCT doc_id % 50 AS src,
                    CAST('0x' || substring(md5('pr:'
                        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                      % 50 AS dst
             FROM documents WHERE doc_id % 5 = 0),
           reach(s, t) AS (
             SELECT src, dst FROM se
             UNION
             SELECT r.s, se.dst FROM reach r JOIN se ON se.src = r.t),
           nodes AS (SELECT CAST(range AS BIGINT) AS v FROM range(0, 50)),
           mutual AS (
             SELECT r1.s AS u, r1.t AS v
             FROM reach r1 JOIN reach r2
               ON r1.s = r2.t AND r1.t = r2.s),
           sccid AS (
             SELECT n.v AS node,
                    LEAST(n.v, COALESCE(MIN(m.v), n.v)) AS scc_id
             FROM nodes n LEFT JOIN mutual m ON m.u = n.v
             GROUP BY n.v),
           sizes AS (
             SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
             FROM sccid GROUP BY scc_id),
           core AS (
             SELECT scc_id AS core_id FROM sizes
             ORDER BY scc_size DESC, scc_id ASC LIMIT 1),
           coremembers AS (
             SELECT node FROM sccid
             WHERE scc_id = (SELECT core_id FROM core)),
           innodes AS (
             SELECT DISTINCT r.s AS node FROM reach r
             WHERE r.t IN (SELECT node FROM coremembers)),
           outnodes AS (
             SELECT DISTINCT r.t AS node FROM reach r
             WHERE r.s IN (SELECT node FROM coremembers))
           SELECT s.node, s.scc_id, z.scc_size,
                  CASE
                    WHEN s.scc_id = (SELECT core_id FROM core)
                      THEN 'CORE'
                    WHEN s.node IN (SELECT node FROM innodes)
                      THEN 'IN'
                    WHEN s.node IN (SELECT node FROM outnodes)
                      THEN 'OUT'
                    ELSE 'OTHER' END AS btclass
           FROM sccid s JOIN sizes z ON z.scc_id = s.scc_id
           ORDER BY s.node"""),
    (s, d) => {
      val se = Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") % 50).as("s"),
          (conv(substring(md5(concat(lit("pr:"),
              col("doc_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 50).as("t"))
        .distinct()
      // exact closure: 6 path-doubling rounds cover length <= 64 > 49
      var reach = se.localCheckpoint()
      for (_ <- 0 until 6) {
        val hop = reach.select(col("s"), col("t").as("m"))
          .join(reach.select(col("s").as("m"), col("t").as("t2")),
            Seq("m"))
          .select(col("s"), col("t2").as("t"))
        reach = reach.union(hop).distinct().localCheckpoint()
      }
      val mutual = reach
        .join(reach.select(col("s").as("t"), col("t").as("s")),
          Seq("s", "t"), "left_semi") // (u,v) with both directions
      val nodes = s.range(0, 50).select(col("id").as("node"))
      val sccid = nodes
        .join(mutual.select(col("s").as("node"), col("t").as("w")),
          Seq("node"), "left")
        .groupBy("node")
        .agg(least(col("node"), coalesce(min("w"), col("node")))
          .as("scc_id"))
        .localCheckpoint(true) // sizes + core probe + final projection
      val sizes = sccid.groupBy("scc_id")
        .agg(count(lit(1)).as("scc_size"))
      val coreId = sizes.orderBy(col("scc_size").desc,
        col("scc_id").asc).limit(1).head().getLong(0) // ONE scalar
      // CORE membership and the IN/OUT reach sets stay DISTRIBUTED
      // (VERDICT r16 #3): the former collect() + isin literal lists
      // were bounded only by this fixture's 50-node carve — a
      // web-scale CORE is millions of nodes, so membership is now two
      // semi-joins against the sccid frame and two left joins back,
      // and the query holds at any component size (the scc_id frame
      // itself is the only state, never a driver-side list).
      val coreMembers = sccid.filter(col("scc_id") === coreId)
        .select("node")
      val inNodes = reach
        .join(coreMembers.withColumnRenamed("node", "t"), Seq("t"),
          "left_semi")
        .select(col("s").as("node")).distinct()
        .withColumn("is_in", lit(true))
      val outNodes = reach
        .join(coreMembers.withColumnRenamed("node", "s"), Seq("s"),
          "left_semi")
        .select(col("t").as("node")).distinct()
        .withColumn("is_out", lit(true))
      sccid.join(sizes, Seq("scc_id"))
        .join(inNodes, Seq("node"), "left")
        .join(outNodes, Seq("node"), "left")
        .select(col("node"), col("scc_id"), col("scc_size"),
          when(col("scc_id") === coreId, "CORE")
            .when(col("is_in"), "IN")
            .when(col("is_out"), "OUT")
            .otherwise("OTHER").as("btclass"))
        .orderBy("node")
    })

  /** Degree assortativity (X269 — Newman 2002's mixing coefficient:
    * do high-degree domains link to other hubs (r > 0, social-style)
    * or to the periphery (r < 0, web/biology-style)? The one-number
    * mixing diagnostic missing from X133's shape summary). r =
    * Pearson over the EDGE multiset of (total-degree(src),
    * total-degree(dst)). Every moment (n, Σx, Σy, Σxy, Σx², Σy²) is
    * an EXACT INTEGER aggregate — degrees are counts — so the only
    * float lanes are the final covariance/variance divides and one
    * sqrt, computed element-wise from identical exact-int-fed doubles
    * on both engines (qround(6), the single quantized value). Shape:
    * one degree aggregate + two broadcast-able joins back to edges +
    * one 1-row moment aggregate. */
  val assortativity = QueryDef(
    "q_assortativity",
    Some(s"""WITH e AS ($edgeSql),
            degs AS (
              SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                SELECT src AS v FROM e
                UNION ALL SELECT dst FROM e) u
              GROUP BY v),
            p AS (
              SELECT ds.deg AS xd, dd.deg AS yd
              FROM e
              JOIN degs ds ON ds.v = e.src
              JOIN degs dd ON dd.v = e.dst),
            m AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(xd) AS BIGINT) AS sx,
                     CAST(SUM(yd) AS BIGINT) AS sy,
                     CAST(SUM(xd * yd) AS BIGINT) AS sxy,
                     CAST(SUM(xd * xd) AS BIGINT) AS sxx,
                     CAST(SUM(yd * yd) AS BIGINT) AS syy
              FROM p)
            SELECT n AS n_edges, sx, sy,
                   ${Num.qroundSql(
                     """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""",
                     6)} AS assortativity
            FROM m"""),
    (s, d) => {
      val e = domainEdges(s, d).localCheckpoint(true) // degs + pairs
      val degs = e.select(col("src").as("v"))
        .unionAll(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val ds = degs.select(col("v").as("sv"), col("deg").as("xd"))
      val dd = degs.select(col("v").as("dv"), col("deg").as("yd"))
      val m = e.join(ds, col("src") === col("sv"))
        .join(dd, col("dst") === col("dv"))
        .agg(count(lit(1)).as("n"),
          sum("xd").as("sx"), sum("yd").as("sy"),
          sum(col("xd") * col("yd")).as("sxy"),
          sum(col("xd") * col("xd")).as("sxx"),
          sum(col("yd") * col("yd")).as("syy"))
      def D(c: String) = col(c).cast("double")
      m.select(col("n").as("n_edges"), col("sx"), col("sy"),
        Num.qround(
          (D("n") * D("sxy") - D("sx") * D("sy")) /
            sqrt((D("n") * D("sxx") - D("sx") * D("sx")) *
              (D("n") * D("syy") - D("sy") * D("sy"))), 6)
          .as("assortativity"))
    })

  /** Directed modularity scoring of graph partitions (X276 — Newman
    * & Girvan 2004 / Leicht & Newman 2008: Q = Σ_c [within_c/m −
    * out_c·in_c/m²], THE number that says whether a partition found
    * structure or noise — the eval the X73 row was missing, per the
    * X74 measure-don't-assume discipline). TWO partitions score side
    * by side: the exact X73 LPA fit (which collapses this dense
    * multigraph to one community → Q = 0 exactly, itself a correct
    * and informative readout) and a mod-5 baseline whose 5
    * communities exercise every lane with nonzero contributions.
    * Every lane is an exact-integer aggregate (edge counts, degree
    * products) so contributions and the Q total rows (community =
    * −1) are element-wise exact rationals — hash RAW. Shape: labels
    * are ≤|nodes| rows broadcast back onto edges; two keyed
    * aggregates per partition; no per-community rescans. */
  val modularity = QueryDef(
    "q_modularity",
    Some {
      def block(tag: String, lab: String) = s"""
            le_$tag AS MATERIALIZED (
              SELECT ls.community AS cs, ld.community AS cd
              FROM e0
              JOIN $lab ls ON ls.v = e0.src
              JOIN $lab ld ON ld.v = e0.dst),
            outd_$tag AS (
              SELECT cs AS community,
                     CAST(COUNT(*) AS BIGINT) AS out_deg,
                     CAST(SUM(CASE WHEN cs = cd THEN 1 ELSE 0 END)
                       AS BIGINT) AS within
              FROM le_$tag GROUP BY cs),
            ind_$tag AS (
              SELECT cd AS community, CAST(COUNT(*) AS BIGINT) AS in_deg
              FROM le_$tag GROUP BY cd),
            cz_$tag AS (
              SELECT community, CAST(COUNT(*) AS BIGINT) AS csize
              FROM $lab GROUP BY community),
            per_$tag AS MATERIALIZED (
              SELECT cz.community, cz.csize,
                     COALESCE(o.out_deg, 0) AS out_deg,
                     COALESCE(i.in_deg, 0) AS in_deg,
                     COALESCE(o.within, 0) AS within
              FROM cz_$tag cz
              LEFT JOIN outd_$tag o ON o.community = cz.community
              LEFT JOIN ind_$tag i ON i.community = cz.community),
            rows_$tag AS (
              SELECT '$tag' AS part, p.community, p.csize, p.out_deg,
                     p.in_deg, p.within,
                     CAST(p.within AS DOUBLE) / CAST(mm.m AS DOUBLE)
                       - (CAST(p.out_deg AS DOUBLE)
                          * CAST(p.in_deg AS DOUBLE))
                         / (CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))
                       AS contribution
              FROM per_$tag p CROSS JOIN mm),
            tot_$tag AS (
              SELECT '$tag' AS part, CAST(-1 AS BIGINT) AS community,
                     CAST(SUM(p.csize) AS BIGINT) AS csize,
                     CAST(SUM(p.out_deg) AS BIGINT) AS out_deg,
                     CAST(SUM(p.in_deg) AS BIGINT) AS in_deg,
                     CAST(SUM(p.within) AS BIGINT) AS within,
                     CAST(SUM(p.within) AS DOUBLE) / CAST(mm.m AS DOUBLE)
                       - CAST(SUM(p.out_deg * p.in_deg) AS DOUBLE)
                         / (CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))
                       AS contribution
              FROM per_$tag p CROSS JOIN mm GROUP BY mm.m)"""
      s"""$lpaCtesSql,
            lab_lpa AS MATERIALIZED (
              SELECT v, lbl AS community FROM l$LpaRounds),
            lab_mod5 AS MATERIALIZED (
              SELECT v, v % 5 AS community FROM nodes),
            mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
            ${block("lpa", "lab_lpa")},
            ${block("mod5", "lab_mod5")}
            SELECT * FROM rows_lpa
            UNION ALL SELECT * FROM tot_lpa
            UNION ALL SELECT * FROM rows_mod5
            UNION ALL SELECT * FROM tot_mod5
            ORDER BY part, community"""
    },
    (s, d) => {
      val edges = domainEdges(s, d).localCheckpoint(true)
      val m = edges.count()
      val md = lit(m.toDouble)
      val labLpa = graft.ops.Communities
        .labelPropagation(edges, "src", "dst", LpaRounds)
      val labMod5 = edges.select(col("src").as("v"))
        .unionAll(edges.select(col("dst").as("v")))
        .distinct()
        .select(col("v"), (col("v") % 5).as("community"))
      def score(tag: String, lab: org.apache.spark.sql.DataFrame) = {
        val le = edges
          .join(broadcast(lab.select(col("v").as("sv"),
            col("community").as("cs"))), col("src") === col("sv"))
          .join(broadcast(lab.select(col("v").as("dv"),
            col("community").as("cd"))), col("dst") === col("dv"))
          .select("cs", "cd")
          .localCheckpoint(true) // out-degree + in-degree lanes share
        val outd = le.groupBy(col("cs").as("community"))
          .agg(count(lit(1)).as("out_deg"),
            sum(when(col("cs") === col("cd"), 1L).otherwise(0L))
              .as("within"))
        val ind = le.groupBy(col("cd").as("cin"))
          .agg(count(lit(1)).as("in_deg"))
        val cz = lab.groupBy("community").agg(count(lit(1)).as("csize"))
        val per = cz.join(outd, Seq("community"), "left")
          .join(ind, col("cin") === col("community"), "left")
          .select(col("community"), col("csize"),
            coalesce(col("out_deg"), lit(0L)).as("out_deg"),
            coalesce(col("in_deg"), lit(0L)).as("in_deg"),
            coalesce(col("within"), lit(0L)).as("within"))
          .localCheckpoint(true) // per-community + total lanes share
        val rows = per.select(lit(tag).as("part"), col("community"),
          col("csize"), col("out_deg"), col("in_deg"), col("within"),
          (col("within").cast("double") / md -
            (col("out_deg").cast("double") *
              col("in_deg").cast("double")) / (md * md))
            .as("contribution"))
        val tot = per.agg(sum("csize").as("csize"),
            sum("out_deg").as("out_deg"), sum("in_deg").as("in_deg"),
            sum("within").as("within"),
            sum(col("out_deg") * col("in_deg")).as("oi"))
          .select(lit(tag).as("part"), lit(-1L).as("community"),
            col("csize"), col("out_deg"), col("in_deg"), col("within"),
            (col("within").cast("double") / md -
              col("oi").cast("double") / (md * md)).as("contribution"))
        rows.unionAll(tot)
      }
      score("lpa", labLpa).unionAll(score("mod5", labMod5))
        .orderBy("part", "community")
    })

  // ------------------------------- X308/X309 walk co-occurrence

  private val WalkSteps = 4
  private val WalkCount = 2

  /** The ranked adjacency both walk oracles step over, read from an
    * `edges` CTE: each source's distinct neighbours numbered by dst
    * (rn), its out-degree and the start nodes. */
  private val walkGraphSql =
    """nbrs AS MATERIALIZED (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                         ORDER BY dst) AS rn
                FROM edges),
              od AS MATERIALIZED (
                SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
                FROM edges GROUP BY src),
              starts AS (SELECT DISTINCT src AS node FROM edges)"""

  /** The uniform step's choice at step t: out-edge rank
    * md5(w, start, cur, t) mod outdeg(cur), 1-based. */
  private def walkPickSql(t: Int) =
    s"""(CAST('0x' || substring(md5('dw:' || CAST(w AS VARCHAR)
             || ':' || CAST(start AS VARCHAR) || ':'
             || CAST(cur AS VARCHAR) || ':' || '$t'), 1, 8) AS BIGINT)
             % odeg) + 1"""

  /** The window-2 PPMI readout over steps s0..s<WalkSteps>, each
    * holding (w, start, cur, pos): the tail of both walk oracles. */
  private val walkPmiSql =
    s"""walkrows AS MATERIALIZED (
                ${(0 to WalkSteps).map(t =>
                  s"SELECT w, start, cur, pos FROM s$t")
                  .mkString("\n UNION ALL\n")}),
              pairs AS (
                SELECT LEAST(x.cur, y.cur) AS a,
                       GREATEST(x.cur, y.cur) AS b
                FROM walkrows x JOIN walkrows y
                  ON x.w = y.w AND x.start = y.start
                  AND y.pos > x.pos AND y.pos <= x.pos + 2
                WHERE x.cur <> y.cur),
              pc AS MATERIALIZED (
                SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
                FROM pairs GROUP BY 1, 2),
              tot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS total FROM pc),
              marg AS MATERIALIZED (
                SELECT node, CAST(SUM(c) AS BIGINT) AS c_n FROM (
                  SELECT a AS node, c_ab AS c FROM pc
                  UNION ALL SELECT b, c_ab FROM pc) m GROUP BY 1)
              SELECT pc.a, pc.b, pc.c_ab, ma.c_n AS c_a, mb.c_n AS c_b,
                     ${Num.qroundSql(
                       """LN(CAST(pc.c_ab AS DOUBLE)
                          * CAST(tot.total AS DOUBLE)
                          / (CAST(ma.c_n AS DOUBLE)
                             * CAST(mb.c_n AS DOUBLE)))""", 6)} AS pmi
              FROM pc
              JOIN marg ma ON ma.node = pc.a
              JOIN marg mb ON mb.node = pc.b
              CROSS JOIN tot
              ORDER BY pc.c_ab DESC, pc.a, pc.b LIMIT 50"""

  /** The Spark side of [[walkGraphSql]]: the distinct domain edges
    * (checkpointed), the ranked neighbours, out-degrees and starts. */
  private final case class WalkGraph(edges: DataFrame, nbrs: DataFrame,
      od: DataFrame, starts: DataFrame)

  private def walkGraph(s: SparkSession, d: String): WalkGraph = {
    val edges = domainEdges(s, d).distinct().localCheckpoint(true)
    WalkGraph(edges,
      edges.withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy("dst"))),
      edges.groupBy("src").agg(count(lit(1)).as("odeg")),
      edges.select(col("src").as("node")).distinct())
  }

  /** One uniform step of every walk (the [[walkPickSql]] choice at
    * step t): (cur, pick, w, start, dst) with dst the chosen
    * neighbour of cur. */
  private def uniformStep(walk: DataFrame, g: WalkGraph, t: Int)
      : DataFrame = {
    val pick = (conv(substring(md5(concat(lit("dw:"),
        col("w").cast("string"), lit(":"),
        col("start").cast("string"), lit(":"),
        col("cur").cast("string"), lit(":"), lit(t.toString))),
      1, 8), 16, 10).cast("long") % col("odeg")) + 1
    walk.join(g.od.withColumnRenamed("src", "cur"), "cur")
      .select(col("w"), col("start"), col("cur"), pick.as("pick"))
      .join(g.nbrs.select(col("src").as("cur"), col("dst"),
        col("rn").as("pick")), Seq("cur", "pick"))
  }

  /** The Spark side of [[walkPmiSql]] over the per-step walk rows. */
  private def walkPmi(rows: Iterable[DataFrame]): DataFrame = {
    val walkrows = rows.reduce(_ unionByName _).localCheckpoint(true)
    val x = walkrows.select(col("w"), col("start"),
      col("cur").as("na"), col("pos").as("pa"))
    val y = walkrows.select(col("w"), col("start"),
      col("cur").as("nb"), col("pos").as("pb"))
    val pairs = x.join(y, Seq("w", "start"))
      .filter(col("pb") > col("pa") && col("pb") <= col("pa") + 2 &&
        col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
    val pc = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true) // ≤ n² alphabet-bounded pair table
    val total = pc.agg(sum("c_ab")).head().getLong(0) // bounded action
    val marg = pc.select(col("a").as("node"), col("c_ab").as("c"))
      .unionByName(pc.select(col("b").as("node"), col("c_ab").as("c")))
      .groupBy("node").agg(sum("c").as("c_n"))
    pc.join(marg.select(col("node").as("a"), col("c_n").as("c_a")), "a")
      .join(marg.select(col("node").as("b"), col("c_n").as("c_b")), "b")
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        Num.qround(log(col("c_ab").cast("double") *
          lit(total).cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("c_ab").desc, col("a"), col("b")).limit(50)
  }

  /** DeepWalk-style random-walk co-occurrence statistics (X308 —
    * Perozzi, Al-Rfou & Skiena KDD 2014: treat truncated random walks
    * over the graph as sentences and learn skip-gram embeddings from
    * them; by Levy & Goldberg NeurIPS 2014, skip-gram-with-negative-
    * sampling factorizes the walk corpus's shifted PPMI matrix — so
    * the PPMI co-occurrence table this query emits IS the embedding
    * input, and the factorization step is X188's pinned power
    * iteration, already shipped). Walks are hash-seeded, hence fully
    * deterministic and SQL-replayable: at step t, walk (w, start)
    * standing at node u takes out-edge rank md5(w, start, u, t) mod
    * outdeg(u) over the DISTINCT-neighbor list sorted by dst — the
    * uniform choice a seeded RNG would make, portable cross-engine.
    * 2 walks × 50 starts × 4 steps over the shared X66 domain carve;
    * window-2 skip-gram pairs; PPMI = ln(c_ab·total/(c_a·c_b)),
    * marginals = pair-slot counts. At 100 TB: each step is ONE
    * fixed-width (walk, cur) equi-join against the ranked adjacency
    * list (W·n rows shuffle per step, never edges²); co-occurrence is
    * one groupBy over walk-local pairs. */
  val deepwalk = QueryDef(
    "q_deepwalk", {
      val stepCtes = (1 to WalkSteps).map { t =>
        val p = t - 1
        s""",
            s$t AS (
              SELECT v.w, v.start, n.dst AS cur, $t AS pos
              FROM (SELECT w, start, cur, ${walkPickSql(t)} AS pick
                    FROM s$p
                    JOIN od ON od.src = s$p.cur) v
              JOIN nbrs n ON n.src = v.cur AND n.rn = v.pick)"""
      }.mkString
      Some(s"""WITH edges AS (SELECT DISTINCT src, dst FROM ($edgeSql) ee),
              $walkGraphSql,
              s0 AS (
                SELECT ww.w, node AS start, node AS cur, 0 AS pos
                FROM starts
                CROSS JOIN (SELECT unnest(range(0, $WalkCount)) AS w) ww)
              $stepCtes,
              $walkPmiSql""")
    },
    (s, d) => {
      val g = walkGraph(s, d)
      var cur = g.starts.select(
        explode(array((0 until WalkCount).map(w => lit(w.toLong)): _*))
          .as("w"),
        col("node").as("start"), col("node").as("cur"),
        lit(0).as("pos"))
      val rows = scala.collection.mutable.ArrayBuffer(cur)
      for (t <- 1 to WalkSteps) {
        cur = uniformStep(cur, g, t)
          .select(col("w"), col("start"), col("dst").as("cur"),
            lit(t).as("pos"))
        rows += cur
      }
      walkPmi(rows)
    })

  /** node2vec biased second-order walks (X309 — Grover & Leskovec KDD
    * 2016, completing X308's first-order DeepWalk: the transition out
    * of (prev → cur) reweights cur's neighbors by return/stay/explore
    * — weight 1/p to step BACK to prev, 1 to a common neighbor of
    * prev (BFS-ish), 1/q to a two-hops-out node (DFS-ish); p=2,
    * q=0.5 here, the explore-biased corner). The weighted choice is
    * made EXACTLY replayable by construction: weights {0.5, 1, 2}
    * are dyadic rationals, so every cumulative-sum partial is exactly
    * representable and the running total is order-proof; the sampled
    * point r = (md5 24-bit fraction)·total is one exact product; the
    * chosen edge is the first rank whose cumulative weight exceeds r
    * — a seeded weighted sampler with ZERO float-drift risk, where a
    * transcendental softmax would not replay. First step is uniform
    * (no prev yet — the standard implementation's behavior). The
    * distance-1-vs-2 test is one LEFT JOIN against the edge set per
    * step; windows partition by walk id. Same window-2 PPMI readout
    * as X308, so the two parameterizations are directly comparable. */
  val node2vec = QueryDef(
    "q_node2vec", {
      def hash24(t: Int) =
        s"""(CAST('0x' || substring(md5('n2v:' || CAST(w AS VARCHAR)
             || ':' || CAST(start AS VARCHAR) || ':'
             || CAST(cur AS VARCHAR) || ':' || '$t'), 1, 6) AS BIGINT)
             / 16777216.0)"""
      val biasedCtes = (2 to WalkSteps).map { t =>
        val p = t - 1
        s""",
            cand$t AS (
              SELECT s.w, s.start, s.cur, n.dst, n.rn,
                     CASE WHEN n.dst = s.prev THEN 0.5
                          WHEN pe.src IS NOT NULL THEN 1.0
                          ELSE 2.0 END AS wt
              FROM s$p s
              JOIN nbrs n ON n.src = s.cur
              LEFT JOIN edges pe
                ON pe.src = s.prev AND pe.dst = n.dst),
            cum$t AS (
              SELECT w, start, cur, dst, rn,
                     SUM(wt) OVER (PARTITION BY w, start ORDER BY rn
                       ROWS UNBOUNDED PRECEDING) AS cw,
                     SUM(wt) OVER (PARTITION BY w, start) AS tw
              FROM cand$t),
            s$t AS (
              SELECT w, start, prev, cur, pos FROM (
                SELECT c.w, c.start, c.cur AS prev, c.dst AS cur,
                       $t AS pos,
                       ROW_NUMBER() OVER (PARTITION BY c.w, c.start
                         ORDER BY c.rn) AS rs
                FROM cum$t c
                WHERE c.cw > ${hash24(t)} * c.tw) z$t
              WHERE rs = 1)"""
      }.mkString
      Some(s"""WITH edges AS MATERIALIZED (
                SELECT DISTINCT src, dst FROM ($edgeSql) ee),
              $walkGraphSql,
              s0 AS (
                SELECT ww.w, node AS start, node AS prev, node AS cur,
                       0 AS pos
                FROM starts
                CROSS JOIN (SELECT unnest(range(0, $WalkCount)) AS w) ww),
              s1 AS (
                SELECT v.w, v.start, v.cur AS prev, n.dst AS cur,
                       1 AS pos
                FROM (SELECT w, start, cur, ${walkPickSql(1)} AS pick
                      FROM s0
                      JOIN od ON od.src = s0.cur) v
                JOIN nbrs n ON n.src = v.cur AND n.rn = v.pick)
              $biasedCtes,
              $walkPmiSql""")
    },
    (s, d) => {
      val g = walkGraph(s, d)
      val s0 = g.starts.select(
        explode(array((0 until WalkCount).map(w => lit(w.toLong)): _*))
          .as("w"),
        col("node").as("start"), col("node").as("prev"),
        col("node").as("cur"), lit(0).as("pos"))
      // step 1: uniform (the X308 pick device)
      var walk = uniformStep(s0, g, 1)
        .select(col("w"), col("start"), col("cur").as("prev"),
          col("dst").as("cur"), lit(1).as("pos"))
      val rows = scala.collection.mutable.ArrayBuffer(
        s0.select("w", "start", "cur", "pos"),
        walk.select("w", "start", "cur", "pos"))
      val wWalk = Window.partitionBy("w", "start")
      for (t <- 2 to WalkSteps) {
        val h24 = conv(substring(md5(concat(lit("n2v:"),
            col("w").cast("string"), lit(":"),
            col("start").cast("string"), lit(":"),
            col("cur").cast("string"), lit(":"), lit(t.toString))),
          1, 6), 16, 10).cast("double") / lit(16777216.0)
        val cand = walk.select("w", "start", "prev", "cur")
          .join(g.nbrs.select(col("src").as("cur"), col("dst"), col("rn")),
            "cur")
          .join(g.edges.select(col("src").as("prev"),
              col("dst").as("dst"), lit(true).as("linked")),
            Seq("prev", "dst"), "left")
          .select(col("w"), col("start"), col("prev"), col("cur"),
            col("dst"), col("rn"),
            when(col("dst") === col("prev"), lit(0.5))
              .when(col("linked"), lit(1.0))
              .otherwise(lit(2.0)).as("wt"))
        val cum = cand.select(col("w"), col("start"), col("cur"),
          col("dst"), col("rn"),
          sum("wt").over(wWalk.orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cw"),
          sum("wt").over(wWalk).as("tw"))
        walk = cum.filter(col("cw") > h24 * col("tw"))
          .withColumn("rs", row_number().over(wWalk.orderBy("rn")))
          .filter(col("rs") === 1)
          .select(col("w"), col("start"), col("cur").as("prev"),
            col("dst").as("cur"), lit(t).as("pos"))
        rows += walk.select("w", "start", "cur", "pos")
      }
      walkPmi(rows)
    })

  val all: Seq[QueryDef] =
    Seq(pagerankSeeded, domainCommunities, domainTriangles, assortativity,
      modularity,
      domainHits, domainHitsSeeded, domainCocitation, domainBfs, domainKcore,
      rankAgreement, graphShape, linkPredict, pagerankDelta,
      rankFusion, rankRbo, domainScc, deepwalk, node2vec)
}
