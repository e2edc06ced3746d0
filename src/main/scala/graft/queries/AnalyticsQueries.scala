package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.ops.{Multimodal, Similarity, Warc}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytic-window, multi-level aggregation, IVF-ANN, and multimodal
  * queries — capability surface beyond the reference's operator set. */
object AnalyticsQueries {

  /** Full analytic-window battery: lag/lead/rank/dense_rank/running
    * sum with frame spec — beyond the reference's lone ROW_NUMBER
    * (SURVEY §2e note). */
  val windowAnalytics = QueryDef(
    "q_window_analytics",
    Some(s"""SELECT o_custkey, o_orderkey,
                    LAG(o_totalprice) OVER w AS prev_price,
                    LEAD(o_totalprice) OVER w AS next_price,
                    CAST(RANK() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderpriority) AS BIGINT) AS prio_rank,
                    CAST(DENSE_RANK() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderpriority) AS BIGINT) AS prio_dense,
                    ${Num.qroundSql(
                      """SUM(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
                      4)} AS running_total
             FROM orders
             WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
             ORDER BY o_custkey, o_orderkey"""),
    (s, d) => {
      val byKey = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val byPrio = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        lag("o_totalprice", 1).over(byKey).as("prev_price"),
        lead("o_totalprice", 1).over(byKey).as("next_price"),
        rank().over(byPrio).cast("long").as("prio_rank"),
        dense_rank().over(byPrio).cast("long").as("prio_dense"),
        Num.qround(sum("o_totalprice").over(byKey.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    })

  /** COUNT(DISTINCT) — exact distributed distinct-aggregate (expand +
    * two-phase agg under the hood). */
  val countDistinct_ = QueryDef(
    "q_count_distinct",
    Some("""SELECT l_returnflag,
                   CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag"))

  /** ROLLUP multi-level aggregation. Grouping columns are coalesced to
    * sentinel values so order keys stay non-null (NULL sort order
    * differs across engines); grouping level disambiguates. */
  val rollup_ = QueryDef(
    "q_rollup",
    Some(s"""SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
                    COALESCE(l_linestatus, '<all>') AS linestatus,
                    CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                         AS BIGINT) AS lvl,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("SUM(l_quantity)", 2)} AS sum_qty
             FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             ORDER BY lvl, returnflag, linestatus"""),
    (s, d) => Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping("l_returnflag").cast("long") * 2 +
          grouping("l_linestatus").cast("long") as "lvl",
        count(lit(1)).as("n"),
        Num.qround(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("linestatus"),
        col("lvl"), col("n"), col("sum_qty"))
      .orderBy("lvl", "returnflag", "linestatus"))

  // DuckDB twins of Similarity.dot / normalize — double math, strict
  // left-to-right folds (0.0-init fold ≡ list_reduce: 0.0+e1 == e1).
  private[queries] def sqlDotD(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
        (x, y) -> x + y)"""
  private def sqlCosineD(a: String, b: String) =
    s"""(${sqlDotD(a, b)} /
         NULLIF(SQRT(${sqlDotD(a, a)}) * SQRT(${sqlDotD(b, b)}), 0.0))"""
  private def sqlNormalize(v: String) = {
    val n = s"sqrt(list_reduce(list_transform($v, x -> x*x), (a,b) -> a+b))"
    s"CASE WHEN $n = 0 THEN $v ELSE list_transform($v, x -> x / $n) END"
  }

  /** One Lloyd round in SQL: first-max assignment (DESC dot, ASC c —
    * exactly Scala's maxBy-first-wins), per-(cluster, dim) mean folded
    * in sample order (matching `vs.map(_(i)).sum`), normalized; empty
    * clusters keep their centroid. */
  private def ivfIterSql(i: Int): String = s"""
asg_$i AS (
  SELECT s.idx, s.v, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.idx
           ORDER BY ${sqlDotD("c.cv", "s.v")} DESC, c.c ASC) AS rn
  FROM samp s, cents_$i c),
best_$i AS (SELECT idx, v, c FROM asg_$i WHERE rn = 1),
dimsum_$i AS (
  SELECT b.c, t.d,
         list_reduce(list(b.v[t.d] ORDER BY b.idx), (x, y) -> x + y)
           / COUNT(*) AS m
  FROM best_$i b, range(1, 65) t(d) GROUP BY b.c, t.d),
cmean_$i AS (SELECT c, list(m ORDER BY d) AS mv FROM dimsum_$i GROUP BY c),
cents_${i + 1} AS MATERIALIZED (
  SELECT o.c,
         CASE WHEN n.mv IS NULL THEN o.cv
              ELSE ${sqlNormalize("n.mv")} END AS cv
  FROM cents_$i o LEFT JOIN cmean_$i n ON n.c = o.c)"""

  /** IVF-indexed approximate top-k ANN (scale path) — oracle-checked
    * INCLUDING the index training: the driver-side Lloyd fit
    * (Similarity.fitIvf — deterministic sample, 5 iterations,
    * first-max assignment, sample-order mean folds, L2 normalization)
    * is unrolled as five SQL rounds over the same sample, then the
    * corpus assignment, per-query probe selection, exact rescoring and
    * ranking all rerun in DuckDB. Hash-green = the full train→assign→
    * probe→rescore pipeline is cross-engine exact, leaving no
    * rows-only ANN path at all. */
  /** Shared CTE prefix: Lloyd training over the deterministic sample
    * (five unrolled rounds → cents_5) + full-corpus nearest-centroid
    * assignment (→ corpus). Used by q_ann_ivf's probe/rescore tail
    * AND q_kmeans_report's per-cluster diagnostics, so the index the
    * ANN path probes and the clustering the report audits can never
    * drift apart. */
  private[queries] val sqlIvfCorpusCtes = s"""samp AS MATERIALIZED (
               SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS idx,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM (SELECT vec_id, embedding FROM embeddings
                     ORDER BY vec_id LIMIT 2048)),
             cents_0 AS (
               SELECT CAST(idx - 1 AS INT) AS c, ${sqlNormalize("v")} AS cv
               FROM samp WHERE idx <= 16),
             ${(0 until 5).map(ivfIterSql).mkString(",")},
             assigned AS (
               SELECT e.vec_id, e.embedding, c.c AS list_id,
                      ROW_NUMBER() OVER (PARTITION BY e.vec_id
                        ORDER BY ${sqlDotD("c.cv", "e.embedding")} DESC,
                                 c.c ASC) AS rn
               FROM embeddings e, cents_5 c),
             corpus AS MATERIALIZED (
               SELECT vec_id, embedding, list_id FROM assigned WHERE rn = 1)"""

  /** [[sqlIvfCorpusCtes]] plus `corpusv` (vec_id, v = the embedding
    * as doubles), the head of the IVF-PQ oracles. */
  private val sqlIvfCorpusVCtes = s"""$sqlIvfCorpusCtes,
             corpusv AS (
               SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE))
                        AS v
               FROM embeddings)"""

  /** The IVF-PQ probe set: each of the 5 queries' nprobe = 4 nearest
    * cells by dot product (ties cell ASC), as `probes` (pqid, list_id). */
  private val sqlIvfProbesCtes = s"""probed AS (
               SELECT q.vec_id AS pqid, c.c AS list_id,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY ${sqlDotD("c.cv",
                          "q.embedding")} DESC, c.c ASC) AS rn
               FROM (SELECT * FROM embeddings WHERE vec_id < 5) q,
                    cents_5 c),
             probes AS (SELECT pqid, list_id FROM probed WHERE rn <= 4)"""

  val annIvf = QueryDef(
    "q_ann_ivf",
    Some(s"""WITH $sqlIvfCorpusCtes,
             probed AS (
               SELECT q.vec_id AS query_id, c.c AS list_id,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY ${sqlDotD("c.cv", "q.embedding")} DESC,
                                 c.c ASC) AS rn
               FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, cents_5 c),
             probes AS (SELECT query_id, list_id FROM probed WHERE rn <= 4),
             scored AS (
               SELECT p.query_id, c.vec_id AS neighbor_id,
                      ${sqlCosineD("q.embedding", "c.embedding")} AS cosine
               FROM probes p
               JOIN corpus c ON c.list_id = p.list_id
               JOIN embeddings q ON q.vec_id = p.query_id
               WHERE c.vec_id <> p.query_id),
             ranked AS (
               SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
               FROM scored)
             SELECT query_id, neighbor_id, rank, cosine FROM ranked
             WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val index = ClusterQueries.ivf16Cached(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10,
          index, nprobe = 4)
        .orderBy("query_id", "rank")
    })

  /** K-means cluster-balance report (X89 — the diagnostic every
    * cluster-driven curation step reads before trusting its clusters:
    * SemDeDup (X42) prunes within clusters, cluster-balanced sampling
    * draws across them, and IVF-ANN (above) probes them — all three
    * degrade silently when the clustering is lopsided or loose. Per
    * cluster: member count, corpus share, mean and worst
    * cosine-to-centroid — imbalance says "re-fit or raise nlist",
    * low cohesion says "this list's ANN recall will sag"). Reuses the
    * EXACT index the ANN path trains ([[Similarity.fitIvf]], same
    * seed/sample/rounds — the shared `sqlIvfCorpusCtes` prefix keeps
    * the two oracles texually inseparable). Scale shape: assignment
    * is the same broadcast-centroids scan as ivfTopK; the per-cluster
    * aggregate shuffles (list_id, cos) pairs only — never vectors;
    * empty clusters are emitted with n=0 (full cluster universe, the
    * graph-op node-semantics discipline). AVG is qround(6)'d
    * (fold-order aggregate); MIN is order-insensitive over
    * bit-identical cosines so it hashes raw. */
  val kmeansReport = QueryDef(
    "q_kmeans_report",
    Some(s"""WITH $sqlIvfCorpusCtes,
             cj AS (
               SELECT c.list_id,
                      ${sqlCosineD("ct.cv", "c.embedding")} AS cos
               FROM corpus c JOIN cents_5 ct ON ct.c = c.list_id),
             ag AS (
               SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                      ${Num.qroundSql("AVG(cos)", 6)} AS mean_cos,
                      MIN(cos) AS min_cos
               FROM cj GROUP BY list_id),
             tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM corpus)
             SELECT ct.c AS list_id,
                    COALESCE(ag.n_vecs, 0) AS n_vecs,
                    CAST(COALESCE(ag.n_vecs, 0) AS DOUBLE) /
                      CAST(tot.t AS DOUBLE) AS share,
                    ag.mean_cos, ag.min_cos
             FROM cents_5 ct CROSS JOIN tot
               LEFT JOIN ag ON ag.list_id = ct.c
             ORDER BY list_id"""),
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val index = ClusterQueries.ivf16Cached(s, d)
      val assigned = e.select(col("embedding"),
        index.assignExpr(col("embedding")).as("list_id"))
      val cents = index.centroids.zipWithIndex
        .map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("list_id", "cv")
      val cj = assigned.join(broadcast(cents), "list_id")
        .select(col("list_id"),
          Similarity.cosine(col("cv"), col("embedding")).as("cos"))
      val ag = cj.groupBy("list_id").agg(
        count(lit(1)).as("n_vecs"),
        Num.qround(avg("cos"), 6).as("mean_cos"),
        min("cos").as("min_cos"))
      // corpus size: one bounded driver action at plan build (the
      // X38/BM25 corpus-stats device — every vector is assigned
      // exactly once, so |corpus| = |embeddings|)
      val tot = e.count()
      cents.select(col("list_id"))
        .join(ag, Seq("list_id"), "left")
        .select(col("list_id"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          (coalesce(col("n_vecs"), lit(0L)).cast("double") /
            lit(tot).cast("double")).as("share"),
          col("mean_cos"), col("min_cos"))
        .orderBy("list_id")
    })

  /** ANN retrieval-quality evaluation (X74 — recall@k of the two
    * approximate paths against the exact brute-force ground truth,
    * the metric an index rollout is actually gated on: "is nprobe=4 /
    * this plane count enough for THIS corpus?"). Per (method, query):
    * n_hits = |approx top-10 ∩ exact top-10|, recall = n_hits over the
    * per-query ground-truth size. This eval drove the round-11 LSH
    * retune: single-probe 4-plane recall measured 0.14, the
    * 6-plane/Hamming≤2 multiprobe point now measures 0.66 mean
    * (IVF: 0.84) at sf0.01.
    * Composition only — the three rankings are the EXISTING
    * oracle-checked queries; the intersection joins fixed-width
    * (query_id, neighbor_id) pairs, so the eval adds no new shuffle
    * of vectors, and a miss-set inspection falls out of the same
    * join flipped to anti. The oracle nests the three queries' own
    * oracle texts as CTEs (the X71 device), so the metric is
    * hash-exact: integer hit counts, one IEEE divide for recall. */
  val annRecall = QueryDef(
    "q_ann_recall",
    Some(s"""WITH bf AS (${SimilarityQueries.annBruteForce.oracle.get}),
             iv AS (${annIvf.oracle.get}),
             ls AS (${SimilarityQueries.annLsh.oracle.get}),
             qs AS (SELECT vec_id AS query_id FROM embeddings
                    WHERE vec_id < 5),
             tc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS d
                    FROM bf GROUP BY query_id),
             hi AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN iv a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id),
             hl AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN ls a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id)
             SELECT 'ivf' AS method, qs.query_id,
                    COALESCE(hi.n, 0) AS n_hits,
                    CAST(COALESCE(hi.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id) LEFT JOIN hi USING (query_id)
             UNION ALL
             SELECT 'lsh' AS method, qs.query_id,
                    COALESCE(hl.n, 0) AS n_hits,
                    CAST(COALESCE(hl.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id) LEFT JOIN hl USING (query_id)
             ORDER BY method, query_id"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(e, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val index = ClusterQueries.ivf16Cached(s, d)
      val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 10, index, nprobe = 4)
        .select("query_id", "neighbor_id")
      val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 10, planes = 6, maxFlips = 2)
        .select("query_id", "neighbor_id")
      recallRows(lit("ivf").as("method"), q, truth, ivf)
        .unionAll(recallRows(lit("lsh").as("method"), q, truth, lsh))
        .orderBy("method", "query_id")
    })

  /** The one recall@k readout: `lane`, `query_id`, `n_hits` (approx ∩
    * truth) and `recall` for every query in `q` (`vec_id`). The
    * denominator is the per-query ground-truth size (== k when the
    * corpus has >= k neighbors; smaller on tiny corpora — recall stays
    * honest instead of silently understating against a literal k). */
  private def recallRows(lane: Column, q: DataFrame, truth: DataFrame,
      approx: DataFrame): DataFrame = {
    val truthCounts = truth.groupBy("query_id")
      .agg(count(lit(1)).as("d"))
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n"))
    q.select(col("vec_id").as("query_id"))
      .join(truthCounts, Seq("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(lane, col("query_id"),
        coalesce(col("n"), lit(0L)).as("n_hits"),
        (coalesce(col("n"), lit(0L)).cast("double") /
          col("d").cast("double")).as("recall"))
  }

  /** IVF+PQ composed ANN (X292 — Jegou et al. 2011 §IVFADC, the
    * FAISS billion-vector layout: a coarse IVF quantizer prunes the
    * corpus to the query's nprobe nearest cells, and candidates inside
    * those cells are scored by PQ asymmetric distance — 4 table
    * lookups + 3 adds per candidate — so neither full vectors nor
    * exhaustive scans touch the hot path; this variant quantizes raw
    * vectors, not residuals, keeping the codebooks byte-identical to
    * the standalone X236 eval). BOTH trainings are unrolled in the
    * oracle: the X7 five-round Lloyd IVF fit (shared
    * [[sqlIvfCorpusCtes]] prefix — the same index
    * q_ann_ivf probes) and the X236 two-round-per-subspace PQ fit
    * (shared pq*Sql fragments — the same codebooks q_pq_recall
    * audits). Candidate volume is exactly the probed cells' occupancy
    * (IvfPqSpec pins candidates = Σ |probed cell| − self-hits); at
    * 100 TB the scan cost is nprobe/nlist of the corpus × 4 bytes per
    * vector. adist ties are COMMON (equal codes ⇒ equal adist), so
    * the neighbor-id tie-break is load-bearing — and deterministic on
    * both engines. */
  val annIvfPq = QueryDef(
    "q_ann_ivfpq",
    Some(s"""WITH $sqlIvfCorpusVCtes,
             ${ClusterQueries.pqSlicesSql},
             ${ClusterQueries.pqInitsSql},
             ${ClusterQueries.pqRoundsSql},
             ${ClusterQueries.pqCodesSql},
             ${ClusterQueries.pqQdsSql},
             codesw AS (
               SELECT c0.vec_id, c0.c AS k0, c1.c AS k1, c2.c AS k2,
                      c3.c AS k3, cp.list_id
               FROM codes_0 c0
               JOIN codes_1 c1 USING (vec_id)
               JOIN codes_2 c2 USING (vec_id)
               JOIN codes_3 c3 USING (vec_id)
               JOIN corpus cp USING (vec_id)),
             $sqlIvfProbesCtes,
             est AS (
               SELECT p.pqid, w.vec_id,
                      ((q0.d + q1.d) + q2.d) + q3.d AS adist
               FROM codesw w
               JOIN probes p ON p.list_id = w.list_id
               JOIN qd_0 q0 ON q0.c = w.k0 AND q0.qid = p.pqid
               JOIN qd_1 q1 ON q1.c = w.k1 AND q1.qid = p.pqid
               JOIN qd_2 q2 ON q2.c = w.k2 AND q2.qid = p.pqid
               JOIN qd_3 q3 ON q3.c = w.k3 AND q3.qid = p.pqid
               WHERE w.vec_id <> p.pqid),
             ranked AS (
               SELECT pqid AS query_id, vec_id AS neighbor_id,
                      CAST(ROW_NUMBER() OVER (PARTITION BY pqid
                        ORDER BY adist ASC, vec_id ASC) AS BIGINT)
                        AS rank,
                      adist
               FROM est)
             SELECT query_id, neighbor_id, rank, adist FROM ranked
             WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => ClusterQueries.ivfPqTopK(s, d).orderBy("query_id", "rank"))


  /** TRUE IVFADC — residual-encoded IVF+PQ (X296, Jegou et al. 2011
    * §III.C: the PQ codebooks quantize RESIDUALS v − centroid[cell],
    * not raw vectors; residuals concentrate around the origin, so the
    * same 4-bit-per-subspace budget spends its codewords on the part
    * of the vector the coarse quantizer has not already explained —
    * the layout FAISS's IndexIVFPQ actually ships). Compared to X292:
    * the corpus residual is one exact element-wise zip lane off the
    * broadcast centroid map; the ADC tables become per (query, PROBED
    * CELL) — the query's residual changes with the cell — so qd rows
    * carry list_id and the scoring join matches on it (nprobe × 4
    * codes × 4 subspaces = 64 driver-literal rows per query). BOTH
    * trainings unrolled in the oracle as before, with the PQ chain
    * running under r-prefixed CTE names over residual slices. */
  val annIvfAdc = QueryDef(
    "q_ann_ivfadc",
    Some(s"""WITH $sqlIvfCorpusVCtes,
             corpusr AS MATERIALIZED (
               SELECT b.vec_id,
                      list_transform(range(1, 65),
                        i -> b.v[i] - ce.cv[i]) AS v,
                      cp.list_id
               FROM corpusv b
               JOIN corpus cp USING (vec_id)
               JOIN cents_5 ce ON ce.c = cp.list_id),
             ${ClusterQueries.pqSlicesSqlFor("corpusr", "r")},
             ${ClusterQueries.pqInitsSqlFor("r")},
             ${ClusterQueries.pqRoundsSqlFor("r")},
             ${ClusterQueries.pqCodesSqlFor("r")},
             rcodesw AS (
               SELECT c0.vec_id, c0.c AS k0, c1.c AS k1, c2.c AS k2,
                      c3.c AS k3, cp.list_id
               FROM rcodes_0 c0
               JOIN rcodes_1 c1 USING (vec_id)
               JOIN rcodes_2 c2 USING (vec_id)
               JOIN rcodes_3 c3 USING (vec_id)
               JOIN corpus cp USING (vec_id)),
             $sqlIvfProbesCtes,
             rq AS (
               SELECT q.vec_id AS qid, p.list_id,
                      list_transform(range(1, 65),
                        i -> q.v[i] - ce.cv[i]) AS rv
               FROM corpusv q
               JOIN probes p ON p.pqid = q.vec_id
               JOIN cents_5 ce ON ce.c = p.list_id),
             rqs AS MATERIALIZED (
               SELECT qid, list_id, rv[1:16] AS rv0, rv[17:32] AS rv1,
                      rv[33:48] AS rv2, rv[49:64] AS rv3
               FROM rq),
             rqd_0 AS (
               SELECT qid, list_id, pc.c,
                      ${ClusterQueries.dist16("pc.cv", "rv0")} AS d
               FROM rqs, rpc_0_2 pc),
             rqd_1 AS (
               SELECT qid, list_id, pc.c,
                      ${ClusterQueries.dist16("pc.cv", "rv1")} AS d
               FROM rqs, rpc_1_2 pc),
             rqd_2 AS (
               SELECT qid, list_id, pc.c,
                      ${ClusterQueries.dist16("pc.cv", "rv2")} AS d
               FROM rqs, rpc_2_2 pc),
             rqd_3 AS (
               SELECT qid, list_id, pc.c,
                      ${ClusterQueries.dist16("pc.cv", "rv3")} AS d
               FROM rqs, rpc_3_2 pc),
             rest AS (
               SELECT p.pqid, w.vec_id,
                      ((q0.d + q1.d) + q2.d) + q3.d AS adist
               FROM rcodesw w
               JOIN probes p ON p.list_id = w.list_id
               JOIN rqd_0 q0 ON q0.c = w.k0 AND q0.qid = p.pqid
                 AND q0.list_id = p.list_id
               JOIN rqd_1 q1 ON q1.c = w.k1 AND q1.qid = p.pqid
                 AND q1.list_id = p.list_id
               JOIN rqd_2 q2 ON q2.c = w.k2 AND q2.qid = p.pqid
                 AND q2.list_id = p.list_id
               JOIN rqd_3 q3 ON q3.c = w.k3 AND q3.qid = p.pqid
                 AND q3.list_id = p.list_id
               WHERE w.vec_id <> p.pqid),
             ranked AS (
               SELECT pqid AS query_id, vec_id AS neighbor_id,
                      CAST(ROW_NUMBER() OVER (PARTITION BY pqid
                        ORDER BY adist ASC, vec_id ASC) AS BIGINT)
                        AS rank,
                      adist
               FROM rest)
             SELECT query_id, neighbor_id, rank, adist FROM ranked
             WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) =>
      ClusterQueries.ivfPqResidualTopK(s, d).orderBy("query_id", "rank"))

  /** ANN recall@k CURVE (X291 — the tuning view X74's single @10
    * point hides: approximate-ranking quality at k = 1/5/10 on one
    * fixture, the operating curve an nprobe choice is actually made
    * against; a method can hold @10 while losing the top-1, and only
    * the curve shows it). Two method lanes: the IVF probe path and
    * the IVF+PQ composed path (VERDICT r14 #3 — the PQ lane prices
    * the 16x byte compression in recall on the SAME curve, so the
    * IVF→IVFPQ decision reads off one result), the residual IVFADC
    * path (X296 — raw-PQ vs residual-PQ quantization loss, separable
    * at a glance), and the full-scan raw-PQ and OPQ lanes (X301 —
    * VERDICT r15 #3: the variance-balanced allocation's measured
    * effect at the same byte budget; on this measured-isotropic
    * corpus the honest expected delta is ≈ 0, see
    * [[ClusterQueries.opqOrder]] — the curve REPORTS it rather than
    * assuming a gain), and the X315 graph lane (VERDICT r16 #4 —
    * beam search served from the committed NN-descent-built,
    * RNG-pruned index, so the graph family's serving trade is
    * measured in the same frame as the quantization family; the
    * index is built once per JVM and shared with the
    * q_ann_graph_index_* rows). All rankings are the
    * existing oracle-checked queries WITH their rank columns; hits at
    * each k are rank-windowed joins on the same (query, neighbor)
    * keys; recall lanes are exact-integer-fed rationals (hash raw).
    * Truth depth ≥ 10 ≥ k on this corpus, so k is the denominator. */
  val annRecallCurve = QueryDef(
    "q_ann_recall_curve",
    Some(s"""WITH bf AS (${SimilarityQueries.annBruteForce.oracle.get}),
             iv AS (${annIvf.oracle.get}),
             ipq AS (${annIvfPq.oracle.get}),
             iad AS (${annIvfAdc.oracle.get}),
             pqx AS (${ClusterQueries.pqRankSql}),
             opqx AS (${ClusterQueries.opqRankSql}),
             gph AS (${SimilarityQueries.graphLaneRankSql}),
             ks AS (SELECT CAST(k AS INT) AS k
                    FROM (VALUES (1), (5), (10)) t(k)),
             ap AS (
               SELECT 'ivf' AS method, query_id, neighbor_id, rank
               FROM iv
               UNION ALL
               SELECT 'ivfpq', query_id, neighbor_id, rank FROM ipq
               UNION ALL
               SELECT 'ivfadc', query_id, neighbor_id, rank FROM iad
               UNION ALL
               SELECT 'pq', query_id, neighbor_id, rank FROM pqx
               UNION ALL
               SELECT 'opq', query_id, neighbor_id, rank FROM opqx
               UNION ALL
               SELECT 'graph', query_id, neighbor_id, rank FROM gph),
             j AS (
               SELECT a.method, b.query_id, b.rank AS trank,
                      a.rank AS arank
               FROM bf b JOIN ap a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id),
             hits AS (
               SELECT j.method, j.query_id, ks.k,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM j CROSS JOIN ks
               WHERE j.trank <= ks.k AND j.arank <= ks.k
               GROUP BY j.method, j.query_id, ks.k),
             base AS (SELECT DISTINCT query_id FROM bf),
             ms AS (SELECT * FROM (VALUES ('graph'), ('ivf'),
                    ('ivfadc'), ('ivfpq'), ('opq'), ('pq')) t(method)),
             grid AS (SELECT method, query_id, k
                      FROM base CROSS JOIN ks CROSS JOIN ms)
             SELECT g.method, g.query_id, g.k,
                    COALESCE(h.n, 0) AS n_hits,
                    CAST(COALESCE(h.n, 0) AS DOUBLE) /
                      CAST(g.k AS DOUBLE) AS recall_at_k
             FROM grid g LEFT JOIN hits h
               ON h.method = g.method AND h.query_id = g.query_id
                 AND h.k = g.k
             ORDER BY g.method, g.query_id, g.k"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      // r20 (guide §2.4 — remove duplicate passes): the truth lane is
      // joined by all SIX method curves below, and a BNLJ subtree has
      // no exchange for ReuseExchange to dedup — uncheckpointed, the
      // final action ran the brute-force product six times
      val truth = Similarity.bruteForceTopK(e, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("trank"))
        .localCheckpoint(true)
      val index = ClusterQueries.ivf16Cached(s, d)
      val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 10, index, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("arank"))
      val ipq = ClusterQueries.ivfPqTopK(s, d, k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("arank"))
      val iad = ClusterQueries.ivfPqResidualTopK(s, d, k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("arank"))
      val pqx = ClusterQueries.pqTopK(s, d, k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("arank"))
      val opqx = ClusterQueries.opqTopK(s, d, k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("arank"))
      // X315 graph lane (VERDICT r16 #4): served from the committed
      // navigable-graph index — build-once via ensureBuilt, shared
      // with the q_ann_graph_index_* rows in this JVM
      val gph = SimilarityQueries.graphLaneRanks(s, d, qMax = 5L, k = 10)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("arank"))
      val ks = Seq(1, 5, 10)
      def curveOf(method: String,
          approx: org.apache.spark.sql.DataFrame) = {
        val hits = truth.join(approx, Seq("query_id", "neighbor_id"))
          .groupBy("query_id")
          .agg(ks.map(k => sum(when(col("trank") <= k &&
            col("arank") <= k, 1L).otherwise(0L)).as(s"h$k")).head,
            ks.tail.map(k => sum(when(col("trank") <= k &&
              col("arank") <= k, 1L).otherwise(0L)).as(s"h$k")): _*)
        q.select(col("vec_id").as("query_id"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"),
            explode(array(ks.map(k => struct(lit(k).as("k"),
              coalesce(col(s"h$k"), lit(0L)).as("n"))): _*)).as("r"))
          .select(lit(method).as("method"), col("query_id"),
            col("r.k").as("k"),
            col("r.n").as("n_hits"),
            (col("r.n").cast("double") / col("r.k").cast("double"))
              .as("recall_at_k"))
      }
      curveOf("ivf", ivf).unionAll(curveOf("ivfadc", iad))
        .unionAll(curveOf("ivfpq", ipq))
        .unionAll(curveOf("pq", pqx))
        .unionAll(curveOf("opq", opqx))
        .unionAll(curveOf("graph", gph))
        .orderBy("method", "query_id", "k")
    })

  /** IVF nprobe OPERATING CURVE (X298 — the knob the X291 k-curve
    * holds fixed: recall@10 at nprobe = 1/2/4/8 on one fixture; the
    * cost axis is exact — candidate volume ∝ probed-cell occupancy
    * (IvfPqSpec's pinned identity), so this table IS the
    * recall-vs-scan-fraction tradeoff an index deployment tunes, read
    * off one result set the way datasketch tunes banding off the X74
    * s-curve). ONE shared training + ONE probe ranking (rn over all
    * 16 cells); each lane filters rn ≤ n, rescores exactly within its
    * cells and ranks — composition of the oracle-checked q_ann_ivf
    * device at four cutoffs, denominator = per-query truth depth (the
    * X74 honest-denominator discipline). */
  val annNprobeCurve = QueryDef(
    "q_ann_nprobe_curve",
    Some(s"""WITH bf AS (${SimilarityQueries.annBruteForce.oracle.get}),
             $sqlIvfCorpusCtes,
             proben AS (
               SELECT q.vec_id AS query_id, c.c AS list_id,
                      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                        ORDER BY ${sqlDotD("c.cv",
                          "q.embedding")} DESC, c.c ASC) AS rn
               FROM (SELECT * FROM embeddings WHERE vec_id < 5) q,
                    cents_5 c),
             scored_1 AS (
               SELECT p.query_id, c.vec_id AS neighbor_id,
                      ${sqlCosineD("q.embedding", "c.embedding")} AS cosine
               FROM (SELECT query_id, list_id FROM proben
                     WHERE rn <= 1) p
               JOIN corpus c ON c.list_id = p.list_id
               JOIN embeddings q ON q.vec_id = p.query_id
               WHERE c.vec_id <> p.query_id),
             top_1 AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rnk
                 FROM scored_1) z1 WHERE rnk <= 10),
             h_1 AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN top_1 a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id),
             scored_2 AS (
               SELECT p.query_id, c.vec_id AS neighbor_id,
                      ${sqlCosineD("q.embedding", "c.embedding")} AS cosine
               FROM (SELECT query_id, list_id FROM proben
                     WHERE rn <= 2) p
               JOIN corpus c ON c.list_id = p.list_id
               JOIN embeddings q ON q.vec_id = p.query_id
               WHERE c.vec_id <> p.query_id),
             top_2 AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rnk
                 FROM scored_2) z2 WHERE rnk <= 10),
             h_2 AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN top_2 a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id),
             scored_4 AS (
               SELECT p.query_id, c.vec_id AS neighbor_id,
                      ${sqlCosineD("q.embedding", "c.embedding")} AS cosine
               FROM (SELECT query_id, list_id FROM proben
                     WHERE rn <= 4) p
               JOIN corpus c ON c.list_id = p.list_id
               JOIN embeddings q ON q.vec_id = p.query_id
               WHERE c.vec_id <> p.query_id),
             top_4 AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rnk
                 FROM scored_4) z4 WHERE rnk <= 10),
             h_4 AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN top_4 a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id),
             scored_8 AS (
               SELECT p.query_id, c.vec_id AS neighbor_id,
                      ${sqlCosineD("q.embedding", "c.embedding")} AS cosine
               FROM (SELECT query_id, list_id FROM proben
                     WHERE rn <= 8) p
               JOIN corpus c ON c.list_id = p.list_id
               JOIN embeddings q ON q.vec_id = p.query_id
               WHERE c.vec_id <> p.query_id),
             top_8 AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rnk
                 FROM scored_8) z8 WHERE rnk <= 10),
             h_8 AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN top_8 a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id),
             qs AS (SELECT vec_id AS query_id FROM embeddings
                    WHERE vec_id < 5),
             tc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS d
                    FROM bf GROUP BY query_id)
             SELECT * FROM (
             SELECT CAST(1 AS INT) AS nprobe, qs.query_id,
                    COALESCE(h_1.n, 0) AS n_hits,
                    CAST(COALESCE(h_1.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id)
             LEFT JOIN h_1 USING (query_id)
             UNION ALL
             SELECT CAST(2 AS INT) AS nprobe, qs.query_id,
                    COALESCE(h_2.n, 0) AS n_hits,
                    CAST(COALESCE(h_2.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id)
             LEFT JOIN h_2 USING (query_id)
             UNION ALL
             SELECT CAST(4 AS INT) AS nprobe, qs.query_id,
                    COALESCE(h_4.n, 0) AS n_hits,
                    CAST(COALESCE(h_4.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id)
             LEFT JOIN h_4 USING (query_id)
             UNION ALL
             SELECT CAST(8 AS INT) AS nprobe, qs.query_id,
                    COALESCE(h_8.n, 0) AS n_hits,
                    CAST(COALESCE(h_8.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id)
             LEFT JOIN h_8 USING (query_id)) u
             ORDER BY nprobe, query_id"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(e, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val index = ClusterQueries.ivf16Cached(s, d)
      Seq(1, 2, 4, 8).map { n =>
        recallRows(lit(n).as("nprobe"), q, truth,
          Similarity.ivfTopK(e, q, "vec_id", "embedding",
              "vec_id", "embedding", k = 10, index, nprobe = n)
            .select("query_id", "neighbor_id"))
      }.reduce(_.unionAll(_))
        .orderBy("nprobe", "query_id")
    })

  /** Quantization-loss recall (X159 — the X74 eval discipline applied
    * to the int8 scan path: int8TopK reads 4× fewer vector bytes, and
    * THIS row is the price tag — recall@10 of the quantized ranking
    * against the float brute-force ground truth; a rollout gates the
    * byte savings on this number the same way nprobe/plane counts are
    * gated). Composition only — both rankings are the existing
    * oracle-checked queries; the oracle nests their texts (X71). */
  val annRecallInt8 = QueryDef(
    "q_ann_recall_int8",
    Some(s"""WITH bf AS (${SimilarityQueries.annBruteForce.oracle.get}),
             i8 AS (${SimilarityQueries.annInt8.oracle.get}),
             qs AS (SELECT vec_id AS query_id FROM embeddings
                    WHERE vec_id < 5),
             tc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS d
                    FROM bf GROUP BY query_id),
             hq AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN i8 a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id)
             SELECT 'int8' AS method, qs.query_id,
                    COALESCE(hq.n, 0) AS n_hits,
                    CAST(COALESCE(hq.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM qs JOIN tc USING (query_id) LEFT JOIN hq USING (query_id)
             ORDER BY query_id"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(e, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val i8 = Similarity.int8TopK(e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      recallRows(lit("int8").as("method"), q, truth, i8)
        .orderBy("query_id")
    })

  /** Binary-quantization recall (X283 — the X74 eval discipline
    * applied to the 1-bit tier: [[Similarity.signPack64]] codes are
    * 32× smaller than float vectors and Hamming ranking is pure
    * integer ALU; THIS row is the price tag — recall@10 against the
    * float brute-force ground truth, next to X159's int8 and X236's
    * PQ numbers, completing the quantization-tier ladder). The oracle
    * replays the sign packing (same i = 0..63 shift fold), the
    * popcount(xor) distances, the (hamming ASC, id ASC) tie-breaks —
    * ties are COMMON at 64 bits, so the tie-break lane is genuinely
    * exercised — and the recall join. */
  val annRecallBinary = QueryDef(
    "q_ann_recall_binary",
    Some(s"""WITH bf AS (${SimilarityQueries.annBruteForce.oracle.get}),
             codes AS (
               SELECT vec_id,
                      list_reduce(list_transform(range(1, 65),
                        i -> CASE WHEN embedding[i] > 0
                             THEN (CASE WHEN i = 64
                                   THEN (-9223372036854775807::BIGINT - 1::BIGINT)
                                   ELSE (1::BIGINT << CAST(i - 1 AS INT))
                                   END)
                             ELSE 0::BIGINT END),
                        (a, b) -> a + b) AS code
               FROM embeddings),
             qs0 AS (SELECT vec_id AS query_id, code AS qcode
                     FROM codes WHERE vec_id < 5),
             sc AS (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                      bit_count(xor(q.qcode, c.code)) AS hamming
               FROM codes c JOIN qs0 q ON c.vec_id <> q.query_id),
             bin AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY hamming, neighbor_id) AS rn
                 FROM sc) r
               WHERE rn <= 10),
             tc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS d
                    FROM bf GROUP BY query_id),
             hq AS (
               SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM bf b JOIN bin a ON a.query_id = b.query_id
                 AND a.neighbor_id = b.neighbor_id
               GROUP BY b.query_id)
             SELECT 'binary' AS method, tc.query_id,
                    COALESCE(hq.n, 0) AS n_hits,
                    CAST(COALESCE(hq.n, 0) AS DOUBLE)
                      / CAST(tc.d AS DOUBLE) AS recall
             FROM tc LEFT JOIN hq USING (query_id)
             ORDER BY query_id"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(e, q,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint(true) // denominator + hit join share
      val bin = Similarity.binaryTopK(e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val truthCounts = truth.groupBy("query_id")
        .agg(count(lit(1)).as("d"))
      val hits = truth.join(bin, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n"))
      truthCounts
        .join(hits, Seq("query_id"), "left")
        .select(lit("binary").as("method"), col("query_id"),
          coalesce(col("n"), lit(0L)).as("n_hits"),
          (coalesce(col("n"), lit(0L)).cast("double") /
            col("d").cast("double")).as("recall"))
        .orderBy("query_id")
    })

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * cluster the embedding space with the SAME deterministic IVF fit
    * as q_ann_ivf, then drop any row with a lower-id duplicate
    * (cosine ≥ 0.95) in its cluster — pairwise within-cluster policy;
    * transitive-closure grouping is X6's q_dedup_clusters. The oracle
    * replays Lloyd training, cluster assignment, every within-cluster
    * cosine and the keep decision, so the approximate method is
    * hash-checked end to end.
    *
    * Scale design: candidate pairs form ONLY within a cluster (an
    * equi-join on cluster id — never all-pairs); nlist grows with the
    * corpus so per-cluster blocks stay bounded, and norms compute once
    * per row. */
  val semanticDedup = QueryDef(
    "q_semantic_dedup",
    Some(s"""WITH samp AS (
               SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS idx,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM (SELECT vec_id, embedding FROM embeddings
                     ORDER BY vec_id LIMIT 2048)),
             cents_0 AS (
               SELECT CAST(idx - 1 AS INT) AS c, ${sqlNormalize("v")} AS cv
               FROM samp WHERE idx <= 16),
             ${(0 until 5).map(ivfIterSql).mkString(",")},
             assigned AS (
               SELECT e.vec_id, e.embedding, c.c AS cluster_id,
                      ROW_NUMBER() OVER (PARTITION BY e.vec_id
                        ORDER BY ${sqlDotD("c.cv", "e.embedding")} DESC,
                                 c.c ASC) AS rn
               FROM embeddings e, cents_5 c),
             corpus AS (
               SELECT vec_id, embedding, cluster_id
               FROM assigned WHERE rn = 1),
             pairs AS (
               SELECT b.vec_id AS kb
               FROM corpus a
               JOIN corpus b ON a.cluster_id = b.cluster_id
                            AND a.vec_id < b.vec_id
               WHERE ${sqlCosineD("a.embedding", "b.embedding")} >= 0.95)
             SELECT c.vec_id, CAST(c.cluster_id AS INT) AS cluster_id,
                    c.vec_id NOT IN (SELECT kb FROM pairs) AS is_kept
             FROM corpus c ORDER BY vec_id"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val index = ClusterQueries.ivf16Cached(s, d)
      val assigned = e.select(col("vec_id"), col("embedding"),
        index.assignExpr(col("embedding")).as("cluster_id"),
        Similarity.norm(col("embedding")).as("nrm"))
      val a = assigned.select(col("cluster_id"), col("vec_id").as("ka"),
        col("embedding").as("va"), col("nrm").as("na"))
      val b = assigned.select(col("cluster_id"), col("vec_id").as("kb"),
        col("embedding").as("vb"), col("nrm").as("nb"))
      val dropped = a.join(b, Seq("cluster_id"))
        .filter(col("ka") < col("kb"))
        .filter(Similarity.cosineWithNorms(col("va"), col("vb"),
          col("na"), col("nb")) >= 0.95)
        .select(col("kb").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(true))
      assigned.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster_id"),
          not(coalesce(col("is_dropped"), lit(false))).as("is_kept"))
        .orderBy("vec_id")
    })

  // DuckDB twin of a Float32 feature slot: compute the double, round
  // it through REAL (IEEE round-to-nearest, same as Scala's .toFloat),
  // widen back to double — so the oracle replays the engine's
  // Array[Float] storage bit-for-bit.
  private def asF32(expr: String) = s"CAST(CAST($expr AS REAL) AS DOUBLE)"

  // Channel mean of a 16-pixel P6 raster whose bytes are sha256-hex
  // chars: chars at 1-based positions start, start+3, … (one per pixel).
  private def ppmChanSql(start: Int) = asF32(
    s"""CAST(list_reduce(list_transform(range(0,16),
          p -> ord(substring(hex, CAST($start+3*p AS INT), 1))),
          (a,b) -> a+b) AS DOUBLE) / (16*255)""")

  // PNG solid-fill channel mean: (w·h·v)/(w·h·255) — the decoder's
  // exact integer-sum-then-divide arithmetic (lossless codec).
  private def pngChanSql(c: Int) = asF32(
    s"""CAST(w*h*ord(substring(hex, $c, 1)) AS DOUBLE) /
        CAST(w*h*255 AS DOUBLE)""")

  /** Multimodal feature-extraction pipeline over the LOSSLESS formats
    * (P6 / PNG / PCM WAV): metadata pruning → batched decode →
    * per-mime feature sums, oracle-checked END TO END — DuckDB replays
    * each asset's Float32 feature vector (dims/rate/count exact, means
    * via the REAL-rounding twin above), the per-asset left-fold sum,
    * and both qround quantizations. The lossy formats (JPEG stills,
    * MJPEG video frames) live in q_multimodal_features_lossy. */
  val multimodalFeatures = QueryDef(
    "q_multimodal_features",
    Some(s"""WITH ids AS (
               SELECT CAST(id AS BIGINT) AS id,
                      sha256(CAST(id AS VARCHAR)) AS hex
               FROM range(0, 500) t(id)),
             ppm AS (
               SELECT 'image/x-portable-pixmap' AS mime,
                      ${Num.qroundSql(
                        s"8.0 + ${ppmChanSql(1)} + ${ppmChanSql(2)} + ${ppmChanSql(3)}",
                        4)} AS feat_sum
               FROM ids WHERE id % 4 = 0),
             png AS (
               SELECT 'image/png' AS mime,
                      ${Num.qroundSql(
                        s"""CAST(w AS DOUBLE) + CAST(h AS DOUBLE) +
                            ${pngChanSql(1)} + ${pngChanSql(2)} + ${pngChanSql(3)}""",
                        4)} AS feat_sum
               FROM (SELECT *, CAST(id % 512 + 16 AS INT) AS w,
                            CAST(id % 256 + 16 AS INT) AS h
                     FROM ids WHERE id % 8 = 1)),
             wav AS (
               SELECT 'audio/wav' AS mime,
                      ${Num.qroundSql(
                        s"""8054.0 + ${asF32(
                          """CAST(list_reduce(list_transform(range(1,49),
                               p -> ord(substring(hex, CAST(p AS INT), 1))),
                               (a,b) -> a+b) AS DOUBLE) / (48*255)""")}""",
                        4)} AS feat_sum
               FROM ids WHERE id % 4 = 2),
             u AS (SELECT * FROM ppm UNION ALL SELECT * FROM png
                   UNION ALL SELECT * FROM wav)
             SELECT mime, CAST(COUNT(*) AS BIGINT) AS n_assets,
                    ${Num.qroundSql("SUM(feat_sum)", 4)} AS total_feat
             FROM u GROUP BY mime ORDER BY mime"""),
    (s, _) => {
      val assets = Multimodal.syntheticAssets(s, 500)
        .filter(col("mime").isin(
          "image/x-portable-pixmap", "image/png", "audio/wav"))
      val feats = Multimodal.extractFeatures(assets)
      feats.select(col("asset_id"), col("mime"),
          Num.qround(aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")), 4).as("feat_sum"))
        .groupBy("mime")
        .agg(count(lit(1)).as("n_assets"),
          Num.qround(sum("feat_sum"), 4).as("total_feat"))
        .orderBy("mime")
    })

  /** The lossy-format residue of the feature pipeline — JPEG stills
    * and MJPEG video frames. JPEG quantization makes the decoded
    * channel means engine-real but not SQL-predictable, so the float
    * sums themselves cannot be oracled. The query therefore emits what
    * IS checkable (the `q_approx_distinct` tolerance-boolean device):
    * the deterministic feature components — decoded width+height (and
    * frame count for video), summed per mime as `total_dims`, exactly
    * predictable from the generator contract, proving real decodes
    * populated the vectors — plus `means_in_range`, a contract boolean
    * pinning every lossy channel mean to a finite value in [0,1]
    * (decoded pixel bytes are 0..255, so any NaN/Inf or out-of-range
    * mean is a decode bug; NaN fails the range compare on both
    * engines). Feature layout per [[Multimodal.extractFeatures]]:
    * images [w,h,r,g,b,…], video [w,h,n,r,g,b,…]. */
  val multimodalFeaturesLossy = QueryDef(
    "q_multimodal_features_lossy",
    Some("""WITH ids AS (SELECT CAST(id AS BIGINT) AS id
                         FROM range(0, 500) t(id)),
            jpg AS (
              SELECT 'image/jpeg' AS mime,
                     CAST(id % 512 + 16 AS BIGINT) +
                     CAST(id % 256 + 16 AS BIGINT) AS dims
              FROM ids WHERE id % 8 = 5),
            vid AS (
              SELECT 'video/avi' AS mime,
                     CAST(id % 128 + 16 AS BIGINT) +
                     CAST(id % 64 + 16 AS BIGINT) +
                     CAST(id % 3 + 2 AS BIGINT) AS dims
              FROM ids WHERE id % 4 = 3),
            u AS (SELECT * FROM jpg UNION ALL SELECT * FROM vid)
            SELECT mime, CAST(COUNT(*) AS BIGINT) AS n_assets,
                   CAST(SUM(dims) AS BIGINT) AS total_dims,
                   TRUE AS means_in_range
            FROM u GROUP BY mime ORDER BY mime"""),
    (s, _) => {
      val assets = Multimodal.syntheticAssets(s, 500)
        .filter(col("mime").isin("image/jpeg", "video/avi"))
      val feats = Multimodal.extractFeatures(assets)
      val isVideo = col("mime") === "video/avi"
      val dims = when(isVideo,
          element_at(col("features"), 1) + element_at(col("features"), 2) +
            element_at(col("features"), 3))
        .otherwise(
          element_at(col("features"), 1) + element_at(col("features"), 2))
        .cast("long")
      val means = when(isVideo, slice(col("features"), 4, 3))
        .otherwise(slice(col("features"), 3, 3))
      val meansOk =
        array_min(means) >= 0f && array_max(means) <= 1f
      feats.select(col("mime"), dims.as("dims"), meansOk.as("m_ok"))
        .groupBy("mime")
        .agg(count(lit(1)).as("n_assets"),
          sum("dims").as("total_dims"),
          bool_and(col("m_ok")).as("means_in_range"))
        .orderBy("mime")
    })

  /** REAL video frame decode, oracle-checked: the generator packs
    * `id%3+2` solid-fill JPEG frames into a RIFF/AVI (MJPEG) container
    * per video asset; the query walks the container and decodes every
    * frame through javax.imageio (Multimodal.videoStats), emitting one
    * row per frame. DuckDB predicts the frame COUNT (rows per asset)
    * and per-frame DIMENSIONS from the generator contract — proof a
    * real container walk + frame decode ran. Channel means are JPEG-
    * lossy and stay out of the oracled projection (their pipeline is
    * covered rows-only by q_multimodal_features_lossy). */
  val multimodalVideo = QueryDef(
    "q_multimodal_video",
    Some("""SELECT CAST(id AS BIGINT) AS asset_id, CAST(f AS INT) AS frame_idx,
                   CAST(id % 128 + 16 AS INT) AS decoded_width,
                   CAST(id % 64 + 16 AS INT) AS decoded_height
            FROM range(0, 500) t(id) CROSS JOIN range(0, 4) u(f)
            WHERE id % 4 = 3 AND f < id % 3 + 2
            ORDER BY asset_id, frame_idx"""),
    (s, _) => Multimodal.videoStats(
        Multimodal.syntheticAssets(s, 500)
          .filter(col("mime") === "video/avi")) // metadata prune first
      .select("asset_id", "frame_idx", "decoded_width", "decoded_height")
      .orderBy("asset_id", "frame_idx"))

  /** Strided frame sampling (decode once, keep every n-th frame — the
    * bounded-cost video preprocessing pattern), oracle-checked the
    * same way: kept indices + dims are exactly predictable. */
  val videoFrameSample = QueryDef(
    "q_video_frame_sample",
    Some("""SELECT CAST(id AS BIGINT) AS asset_id, CAST(f AS INT) AS frame_idx,
                   CAST(id % 128 + 16 AS INT) AS decoded_width,
                   CAST(id % 64 + 16 AS INT) AS decoded_height
            FROM range(0, 500) t(id) CROSS JOIN range(0, 4) u(f)
            WHERE id % 4 = 3 AND f < id % 3 + 2 AND f % 2 = 0
            ORDER BY asset_id, frame_idx"""),
    (s, _) => Multimodal.sampleFrames(
        Multimodal.syntheticAssets(s, 500)
          .filter(col("mime") === "video/avi"), everyN = 2)
      .select("asset_id", "frame_idx", "decoded_width", "decoded_height")
      .orderBy("asset_id", "frame_idx"))

  /** Time-based RANGE window frame: per event, how many of the same
    * user's events fall in the trailing hour — the event-time sliding
    * frame (RANGE, not ROWS, so same-instant peers always count
    * together and the result is order-deterministic). Integer counts →
    * exact oracle. */
  val rangeFrame = QueryDef(
    "q_range_frame",
    Some("""SELECT event_id, user_id,
                   CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS n_last_hour
            FROM events ORDER BY event_id"""),
    (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("rf_events")
      s.sql(
        """SELECT event_id, user_id,
                  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                      AND CURRENT ROW) AS n_last_hour
           FROM rf_events ORDER BY event_id""")
    })

  /** CUBE — all 2ⁿ grouping combinations (rollup's sibling; same
    * sentinel/level discipline for cross-engine ordering). */
  val cube_ = QueryDef(
    "q_cube",
    Some(s"""SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
                    COALESCE(l_linestatus, '<all>') AS linestatus,
                    CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                         AS BIGINT) AS lvl,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("SUM(l_extendedprice)", 2)} AS sum_price
             FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             ORDER BY lvl, returnflag, linestatus"""),
    (s, d) => Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping("l_returnflag").cast("long") * 2 +
          grouping("l_linestatus").cast("long") as "lvl",
        count(lit(1)).as("n"),
        Num.qround(sum("l_extendedprice"), 2).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("linestatus"),
        col("lvl"), col("n"), col("sum_price"))
      .orderBy("lvl", "returnflag", "linestatus"))

  /** GROUPING SETS — the explicit-sets form (the general construct
    * ROLLUP/CUBE desugar to): per-flag and per-status marginals in one
    * pass over the fact table. */
  val groupingSets = QueryDef(
    "q_grouping_sets",
    Some(s"""SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
                    COALESCE(l_linestatus, '<all>') AS linestatus,
                    CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                         AS BIGINT) AS lvl,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM lineitem
             GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             ORDER BY lvl, returnflag, linestatus"""),
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("gs_lineitem")
      s.sql(
        """SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
                  COALESCE(l_linestatus, '<all>') AS linestatus,
                  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                       AS BIGINT) AS lvl,
                  COUNT(*) AS n
           FROM gs_lineitem
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
           ORDER BY lvl, returnflag, linestatus""")
    })

  /** The REAL multimodal decode path, oracle-checked: P6 payloads are
    * decoded pixel-by-pixel on the Spark side (Multimodal.decodePpm via
    * imageStats — header parse + channel sums over the raster bytes),
    * while DuckDB predicts the result from first principles (the
    * generator pins pixel bytes = first 48 sha256-hex chars of the id,
    * so means = mean of those ASCII codes / 255). Exact integer sums →
    * exact double division → bit-identical cross-engine. */
  val multimodalStats = QueryDef(
    "q_multimodal_stats",
    Some("""WITH ppm AS (
              SELECT CAST(id AS BIGINT) AS asset_id,
                     sha256(CAST(id AS VARCHAR)) AS hex
              FROM range(0, 500) t(id) WHERE id % 4 = 0),
            chan AS (
              SELECT asset_id,
                CAST(list_reduce(list_transform(range(0,16),
                  p -> ord(substring(hex, CAST(1+3*p AS INT), 1))),
                  (a,b) -> a+b) AS DOUBLE) / (16*255) AS mean_r,
                CAST(list_reduce(list_transform(range(0,16),
                  p -> ord(substring(hex, CAST(2+3*p AS INT), 1))),
                  (a,b) -> a+b) AS DOUBLE) / (16*255) AS mean_g,
                CAST(list_reduce(list_transform(range(0,16),
                  p -> ord(substring(hex, CAST(3+3*p AS INT), 1))),
                  (a,b) -> a+b) AS DOUBLE) / (16*255) AS mean_b
              FROM ppm)
            SELECT asset_id, CAST(4 AS INT) AS decoded_width,
                   CAST(4 AS INT) AS decoded_height, mean_r, mean_g, mean_b
            FROM chan ORDER BY asset_id"""),
    (s, _) => Multimodal.imageStats(Multimodal.syntheticAssets(s, 500))
      .orderBy("asset_id"))

  /** The audio twin of q_multimodal_stats: genuine RIFF/PCM WAV
    * payloads decoded sample-by-sample (chunk walk + amplitude sums);
    * DuckDB predicts rate/length/duration from the generator contract
    * and the amplitudes from the sha256-hex sample bytes. */
  val multimodalAudio = QueryDef(
    "q_multimodal_audio",
    Some("""WITH wav AS (
              SELECT CAST(id AS BIGINT) AS asset_id,
                     sha256(CAST(id AS VARCHAR)) AS hex
              FROM range(0, 500) t(id) WHERE id % 4 = 2)
            SELECT asset_id, CAST(8000 AS INT) AS sample_rate,
                   CAST(48 AS INT) AS n_samples,
                   CAST(6.0 AS DOUBLE) AS duration_ms_decoded,
                   CAST(list_reduce(list_transform(range(1, 49),
                     p -> ord(substring(hex, CAST(p AS INT), 1))),
                     (a, b) -> a + b) AS DOUBLE) / (48*255)
                     AS mean_amplitude
            FROM wav ORDER BY asset_id"""),
    (s, _) => Multimodal.audioStats(Multimodal.syntheticAssets(s, 500))
      .orderBy("asset_id"))

  /** REAL JDK-codec decode, oracle-checked end to end: the generator
    * encodes each `image/png` asset (id ≡ 1 mod 8) as a solid
    * (id%512+16)×(id%256+16) fill via `ImageIO.write`, the query
    * decodes it back via `ImageIO.read` (Multimodal.decodeCodec) and
    * emits pixel stats; DuckDB predicts them from first principles —
    * PNG is lossless, so the decoded channel means are exactly
    * fill-color/255 computed with the same w·h·v / (w·h·255) integer-
    * exact double division the decoder uses. */
  val multimodalPng = QueryDef(
    "q_multimodal_png",
    Some("""WITH png AS (
              SELECT CAST(id AS BIGINT) AS asset_id,
                     CAST(id % 512 + 16 AS INT) AS w,
                     CAST(id % 256 + 16 AS INT) AS h,
                     sha256(CAST(id AS VARCHAR)) AS hex
              FROM range(0, 500) t(id) WHERE id % 8 = 1)
            SELECT asset_id, w AS decoded_width, h AS decoded_height,
                   CAST(w*h*ord(substring(hex, 1, 1)) AS DOUBLE) /
                     CAST(w*h*255 AS DOUBLE) AS mean_r,
                   CAST(w*h*ord(substring(hex, 2, 1)) AS DOUBLE) /
                     CAST(w*h*255 AS DOUBLE) AS mean_g,
                   CAST(w*h*ord(substring(hex, 3, 1)) AS DOUBLE) /
                     CAST(w*h*255 AS DOUBLE) AS mean_b
            FROM png ORDER BY asset_id"""),
    (s, _) => Multimodal.codecImageStats(
        Multimodal.syntheticAssets(s, 500)
          .filter(col("mime") === "image/png")) // metadata prune first
      .orderBy("asset_id"))

  /** The resize stage under the oracle: encode (ImageIO) → resize to
    * 8×8 (Graphics2D scale, re-encoded lossless) → decode → stats.
    * A solid fill survives any interpolation unchanged, so DuckDB
    * predicts the resized stats exactly: dims are the target, means
    * are fill/255 via the decoder's (w·h·v)/(w·h·255) division at the
    * NEW dimensions. Three real codec passes, one hash check. */
  val multimodalResize = QueryDef(
    "q_multimodal_resize",
    Some("""WITH png AS (
              SELECT CAST(id AS BIGINT) AS asset_id,
                     sha256(CAST(id AS VARCHAR)) AS hex
              FROM range(0, 500) t(id) WHERE id % 8 = 1)
            SELECT asset_id, CAST(8 AS INT) AS decoded_width,
                   CAST(8 AS INT) AS decoded_height,
                   CAST(64*ord(substring(hex, 1, 1)) AS DOUBLE) /
                     CAST(64*255 AS DOUBLE) AS mean_r,
                   CAST(64*ord(substring(hex, 2, 1)) AS DOUBLE) /
                     CAST(64*255 AS DOUBLE) AS mean_g,
                   CAST(64*ord(substring(hex, 3, 1)) AS DOUBLE) /
                     CAST(64*255 AS DOUBLE) AS mean_b
            FROM png ORDER BY asset_id"""),
    (s, _) => Multimodal.codecImageStats(
        Multimodal.resizeAssets(
          Multimodal.syntheticAssets(s, 500)
            .filter(col("mime") === "image/png"), 8, 8))
      .orderBy("asset_id"))

  /** The JPEG twin: same real encode/decode round trip through
    * javax.imageio. JPEG is lossy, so the oracle pins what IS exact —
    * the decoded dimensions (proof a real decode ran; the stub had no
    * dims) — while MultimodalSpec bounds the channel-mean quantization
    * error against the encoder's fill color. */
  val multimodalJpeg = QueryDef(
    "q_multimodal_jpeg",
    Some("""SELECT CAST(id AS BIGINT) AS asset_id,
                   CAST(id % 512 + 16 AS INT) AS decoded_width,
                   CAST(id % 256 + 16 AS INT) AS decoded_height
            FROM range(0, 500) t(id) WHERE id % 8 = 5
            ORDER BY asset_id"""),
    (s, _) => Multimodal.codecImageStats(
        Multimodal.syntheticAssets(s, 500)
          .filter(col("mime") === "image/jpeg"))
      .select("asset_id", "decoded_width", "decoded_height")
      .orderBy("asset_id"))

  /** Statistical aggregates: stddev/variance/correlation/covariance.
    * Both engines accumulate these differently (Welford vs sum-of-
    * squares), so results are qround-canonicalized like any aggregated
    * double. */
  val statsAgg = QueryDef(
    "q_stats_agg",
    Some(s"""SELECT l_returnflag,
                    ${Num.qroundSql("STDDEV_SAMP(l_quantity)", 6)} AS sd_qty,
                    ${Num.qroundSql("VAR_SAMP(l_discount)", 6)} AS var_disc,
                    ${Num.qroundSql("CORR(l_quantity, l_extendedprice)", 6)} AS corr_qty_price,
                    ${Num.qroundSql("COVAR_SAMP(l_quantity, l_discount)", 6)} AS covar_qty_disc
             FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        Num.qround(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        Num.qround(var_samp(col("l_discount")), 6).as("var_disc"),
        Num.qround(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        Num.qround(covar_samp(col("l_quantity"), col("l_discount")), 6)
          .as("covar_qty_disc"))
      .orderBy("l_returnflag"))

  /** PIVOT: per-user event-type counts as columns. The oracle uses the
    * portable CASE-aggregation form (identical semantics to Spark's
    * pivot with explicit values). */
  val pivot_ = QueryDef(
    "q_pivot",
    Some("""SELECT user_id,
                   CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
                   CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
                   CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
                   CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
                   CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
            FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, d) => Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      // fill only the pivoted counts — a blanket fill would rewrite a
      // NULL grouping key to 0 and merge it with real user 0
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id"))

  /** Exact interpolated percentiles (both engines implement the same
    * continuous-quantile definition; interpolation arithmetic is
    * qround-canonicalized). */
  val percentiles = QueryDef(
    "q_percentiles",
    Some(s"""SELECT l_returnflag,
                    ${Num.qroundSql(
                      "PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice)", 4)} AS p25,
                    ${Num.qroundSql(
                      "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice)", 4)} AS p50,
                    ${Num.qroundSql(
                      "PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY l_extendedprice)", 4)} AS p95
             FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      // one percentile aggregate with all three fractions: the exact
      // algorithm buffers each group's values ONCE instead of three
      // independent buffers (3× the state, 3× the sort at 100 TB)
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.95))).as("ps"))
      .select(col("l_returnflag"),
        Num.qround(element_at(col("ps"), 1), 4).as("p25"),
        Num.qround(element_at(col("ps"), 2), 4).as("p50"),
        Num.qround(element_at(col("ps"), 3), 4).as("p95"))
      .orderBy("l_returnflag"))

  /** Sample-sketched quantiles (X77 — the SCALE path next to
    * q_percentiles' exact sort: at 100 TB an exact percentile buffers
    * every group value, this buffers k longs). Two bounded passes:
    * (1) the k-th smallest 60-bit md5 row hash via the X28 BottomK
    *     mergeable aggregate → ONE driver-collected threshold (the
    *     PageRank bounded-scalar device);
    * (2) a shuffle-free filter scan keeps the ~k rows at-or-under the
    *     threshold — a uniform random sample because the hash is
    *     uniform on row identity — then one bounded aggregate sorts
    *     the k sampled values and reads the ceil(q·k) order
    *     statistics.
    * No global sort, no per-group value buffering, state is k values
    * whatever the corpus size. Everything is deterministic (md5
    * hashes, exact threshold compare, positional pick from the sorted
    * sample), so the oracle replays the SAMPLE itself — estimates
    * hash-match RAW, no tolerance contract needed.
    *
    * The sample key is (l_orderkey, l_linenumber), which this
    * synthetic corpus does NOT keep unique — rows sharing a key enter
    * or leave the sample together (cluster sampling: still unbiased,
    * slightly higher variance, and the realized sample can exceed k).
    * The order-statistic index is therefore ceil(q·n) over the
    * REALIZED sample size n, never the nominal k — with duplicate
    * keys a fixed ceil(q·k) index would systematically read LOW
    * quantiles (caught at birth: +30% sample → every estimate ~20%
    * under the exact value). */
  val quantileSketch = QueryDef(
    "q_quantile_sketch",
    Some("""WITH h AS (
              SELECT l_extendedprice AS v,
                     CAST('0x' || substring(md5('qq:'
                       || CAST(l_orderkey AS VARCHAR) || ':'
                       || CAST(l_linenumber AS VARCHAR)), 1, 15)
                       AS BIGINT) AS h
              FROM lineitem),
            thr AS (
              -- under 256 distinct hashes the k-th smallest does not
              -- exist: degrade to MaxLong = sample everything (exact
              -- quantiles on tiny inputs), same as the Spark guard
              SELECT COALESCE(
                (SELECT h FROM (SELECT DISTINCT h FROM h)
                 ORDER BY h LIMIT 1 OFFSET 255),
                9223372036854775807) AS h),
            samp AS (SELECT v FROM h, thr t WHERE h.h <= t.h),
            arr AS (
              SELECT list(v ORDER BY v) AS a,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM samp)
            SELECT CAST(t.q AS DOUBLE) AS q,
                   arr.a[CAST(ceil(CAST(t.q AS DOUBLE) * arr.n) AS INT)]
                     AS est,
                   arr.n AS n_sample
            FROM arr, (VALUES (0.25), (0.5), (0.75),
                              (0.9), (0.99)) t(q)
            ORDER BY q"""),
    (s, d) => {
      val K = 256
      val h = Tables.lineitem(s, d).select(
        col("l_extendedprice").as("v"),
        conv(substring(md5(concat(lit("qq:"),
            col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      // pass 1: k-th smallest distinct hash — bounded mergeable state,
      // ONE 1-row driver action for the threshold. Under K distinct
      // hashes the k-th value is null: degrade to MaxLong = sample
      // everything (exact quantiles on tiny inputs), matching the
      // oracle's COALESCE so both engines fail soft the same way
      val thrRow = h.agg(graft.functions.SketchFunctions
          .bottomK(col("h"), K).as("bk"))
        .select(element_at(col("bk"), K).as("t"))
        .head()
      val thr = if (thrRow.isNullAt(0)) Long.MaxValue
        else thrRow.getLong(0)
      // pass 2: shuffle-free sample filter + one bounded aggregate;
      // order-statistic index over the REALIZED sample size (see
      // scaladoc — duplicate sample keys make n exceed the nominal k)
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      h.filter(col("h") <= lit(thr))
        .agg(sort_array(collect_list(col("v"))).as("a"),
          count(lit(1)).as("n"))
        .select(explode(array(qs.map { q =>
          struct(lit(q).as("q"),
            element_at(col("a"),
              ceil(lit(q) * col("n")).cast("int")).as("est"),
            col("n").as("n_sample"))
        }: _*)).as("r"))
        .select(col("r.q"), col("r.est"), col("r.n_sample"))
        .orderBy("q")
    })

  /** Sample-sketch quantile ERROR evaluation (X281 — the X74
    * measure-don't-assume discipline applied to X77: how far are the
    * bottom-k-sample estimates from the EXACT order statistics?).
    * The estimate lane replays X77's portable bottom-256 hash sample
    * verbatim; the exact lane computes min v with cumcount ≥ ⌈q·N⌉
    * over the DISTINCT-value table via
    * [[graft.ops.PrefixSum.runningTotalsAsc]] — a two-pass exact
    * quantile with NO partition-less window and no global sort of row
    * data (the oracle, single-node, uses the plain window form).
    * Ranks ⌈q·N⌉ are driver-computed literals from exact ints; est,
    * exact and the error lanes are element-wise off identical values
    * — hash RAW. */
  val quantileSketchEval = QueryDef(
    "q_quantile_sketch_eval",
    Some("""WITH h AS (
              SELECT l_extendedprice AS v,
                     CAST('0x' || substring(md5('qq:'
                       || CAST(l_orderkey AS VARCHAR) || ':'
                       || CAST(l_linenumber AS VARCHAR)), 1, 15)
                       AS BIGINT) AS h
              FROM lineitem),
            thr AS (
              SELECT COALESCE(
                (SELECT h FROM (SELECT DISTINCT h FROM h)
                 ORDER BY h LIMIT 1 OFFSET 255),
                9223372036854775807) AS h),
            samp AS (SELECT v FROM h, thr t WHERE h.h <= t.h),
            arr AS (
              SELECT list(v ORDER BY v) AS a,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM samp),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h),
            dist AS (
              SELECT v, CAST(COUNT(*) AS BIGINT) AS c
              FROM h GROUP BY v),
            cum AS (
              SELECT v, CAST(SUM(c) OVER (ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
              FROM dist),
            qv AS (
              SELECT CAST(t.q AS DOUBLE) AS q,
                     arr.a[CAST(ceil(CAST(t.q AS DOUBLE) * arr.n)
                       AS INT)] AS est,
                     (SELECT MIN(v) FROM cum
                      WHERE cc >= CAST(ceil(CAST(t.q AS DOUBLE) * nn.n)
                        AS BIGINT)) AS exact
              FROM arr, nn, (VALUES (0.25), (0.5), (0.75),
                             (0.9), (0.99)) t(q))
            SELECT q, est, exact,
                   ABS(est - exact) AS abs_err,
                   ABS(est - exact) / exact AS rel_err
            FROM qv ORDER BY q"""),
    (s, d) => {
      val K = 256
      val h = Tables.lineitem(s, d).select(
        col("l_extendedprice").as("v"),
        conv(substring(md5(concat(lit("qq:"),
            col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
        .localCheckpoint(true) // sample lane + exact lane share
      val thrRow = h.agg(graft.functions.SketchFunctions
          .bottomK(col("h"), K).as("bk"))
        .select(element_at(col("bk"), K).as("t"))
        .head()
      val thr = if (thrRow.isNullAt(0)) Long.MaxValue
        else thrRow.getLong(0)
      val n = h.count()
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      val est = h.filter(col("h") <= lit(thr))
        .agg(sort_array(collect_list(col("v"))).as("a"),
          count(lit(1)).as("ns"))
        .select(explode(array(qs.map { q =>
          struct(lit(q).as("q"),
            element_at(col("a"),
              ceil(lit(q) * col("ns")).cast("int")).as("est"))
        }: _*)).as("r"))
        .select(col("r.q").as("q"), col("r.est").as("est"))
      val dist = h.groupBy("v").agg(count(lit(1)).as("c"))
      val cum = graft.ops.PrefixSum.runningTotalsAsc(
        dist, Seq("c"), "v", Seq("cc"))
      val exactCols = qs.zipWithIndex.map { case (q, i) =>
        val rank = math.ceil(q * n).toLong
        min(when(col("cc") >= rank, col("v"))).as(s"e$i")
      }
      val exact = cum.agg(exactCols.head, exactCols.tail: _*)
        .select(explode(array(qs.zipWithIndex.map { case (q, i) =>
          struct(lit(q).as("q"), col(s"e$i").as("exact"))
        }: _*)).as("r"))
        .select(col("r.q").as("qe"), col("r.exact").as("exact"))
      est.join(exact, col("qe") === col("q"))
        .select(col("q"), col("est"), col("exact"),
          abs(col("est") - col("exact")).as("abs_err"),
          (abs(col("est") - col("exact")) / col("exact")).as("rel_err"))
        .orderBy("q")
    })

  /** HLL approximate distinct counts — the 100 TB cardinality tool.
    * The raw sketch estimate is engine-specific, so what the oracle
    * pins is the sketch's CONTRACT: |estimate − exact| / exact ≤ 5%
    * (the rsd=0.02 configuration leaves headroom) emitted as a boolean
    * next to the exact count — both deterministically checkable in
    * DuckDB. A broken HLL (or a silent fallback to something wildly
    * off) flips `within_tol` and fails the hash. */
  val approxDistinct = QueryDef(
    "q_approx_distinct",
    Some("""SELECT l_returnflag,
                   CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                   TRUE AS within_tol,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          .cast("double") / col("exact_parts") <= 0.05).as("within_tol"),
        col("n_rows"))
      .orderBy("l_returnflag"))

  /** KMV approximate-distinct (custom BottomK TypedImperativeAggregate)
    * — the deterministic counterpart to q_approx_distinct's HLL: the
    * sketch is the k smallest distinct values of a PORTABLE md5-derived
    * 60-bit hash, so DuckDB replays the sketch, the (k−1)/u_k estimate,
    * and the tolerance check bit-for-bit. Where the HLL row can only
    * pin a tolerance contract, every value in this row hash-matches. */
  val kmvDistinct = QueryDef(
    "q_kmv_distinct",
    Some("""WITH h AS (
              SELECT l_returnflag, l_orderkey,
                     CAST('0x' || substring(md5('kmv:'
                       || CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT)
                       AS h
              FROM lineitem),
            d AS (SELECT DISTINCT l_returnflag, h FROM h),
            sk AS (
              SELECT l_returnflag, list(h ORDER BY h)[1:64] AS hs
              FROM d GROUP BY l_returnflag),
            e AS (
              SELECT l_returnflag,
                     CASE WHEN len(hs) < 64 THEN CAST(len(hs) AS DOUBLE)
                          ELSE 63.0 / (CAST(hs[64] AS DOUBLE)
                                       / 1152921504606846976.0) END
                       AS kmv_est
              FROM sk),
            x AS (
              SELECT l_returnflag,
                     CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact
              FROM lineitem GROUP BY l_returnflag)
            SELECT x.l_returnflag, x.n_exact, e.kmv_est,
                   ABS(e.kmv_est - CAST(x.n_exact AS DOUBLE))
                     / CAST(x.n_exact AS DOUBLE) <= 0.3 AS within_tol
            FROM x JOIN e ON e.l_returnflag = x.l_returnflag
            ORDER BY x.l_returnflag"""),
    (s, d) => {
      val k = 64
      val h = conv(substring(md5(concat(lit("kmv:"),
        col("l_orderkey").cast("string"))), 1, 15), 16, 10).cast("long")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), h.as("h"))
        .groupBy("l_returnflag")
        .agg(graft.functions.SketchFunctions.bottomK(col("h"), k)
            .as("sketch"),
          countDistinct(col("l_orderkey")).as("n_exact"))
        .select(col("l_returnflag"), col("n_exact"),
          graft.functions.SketchFunctions.kmvEstimate(col("sketch"), k)
            .as("kmv_est"))
        .withColumn("within_tol",
          abs(col("kmv_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") <= 0.3)
        .orderBy("l_returnflag")
    })

  /** WARC round-trip (X67 — the ISO 28500 Common Crawl container, the
    * ingest boundary of a crawl pipeline): each document is packed as
    * a two-record WARC blob (response payload = the text; metadata
    * payload = lang/source) by EXPRESSION, then parsed back by the
    * byte-level Content-Length-framed walker in [[graft.ops.Warc]] —
    * doc_id is recovered from the parsed Target-URI, so the oracle's
    * first-principles prediction (the Multimodal device: predict, not
    * re-parse) only matches if framing, headers, and payload slicing
    * all round-trip byte-exactly. Content-Length framing means the
    * parser never scans payloads for delimiters — a payload containing
    * `WARC/1.0` can't desync it (planted in WarcSpec). */
  /** USTAR / WebDataset tar-shard round-trip (X279 — modern training
    * data ships as tar shards of (sample.txt, sample.json, …) members
    * BECAUSE tar's fixed 512-byte block framing streams members with
    * zero seeks and splits shards across workers; the text-pipeline
    * sibling of the X67 WARC boundary, see [[graft.ops.Tar]]). Each
    * document becomes a 2-member archive (text + JSON sidecar, the
    * WebDataset convention) built AND re-parsed by the JVM byte
    * walkers (header checksum = raw byte sum — the accepted
    * non-Catalyst boundary, as X67b's gzip); the oracle predicts
    * every name, size, 512-block HEADER OFFSET and payload md5 from
    * first principles — only a byte-exact build → walk → extract
    * round trip matches it. chksum_ok pins the checksum lane. */
  val tarParse = QueryDef(
    "q_tar_parse",
    Some("""WITH m AS (
              SELECT doc_id, text,
                     '{"lang":"' || lang || '","source":"' || source
                       || '"}' AS meta
              FROM documents)
            SELECT doc_id, CAST(0 AS INT) AS member_no,
                   'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
                   CAST(strlen(text) AS BIGINT) AS size,
                   CAST(0 AS BIGINT) AS header_offset,
                   TRUE AS chksum_ok,
                   md5(text) AS payload_md5
            FROM m
            UNION ALL
            SELECT doc_id, CAST(1 AS INT),
                   'docs/' || CAST(doc_id AS VARCHAR) || '.json',
                   CAST(strlen(meta) AS BIGINT),
                   512 + CAST(FLOOR((strlen(text) + 511) / 512) * 512
                     AS BIGINT),
                   TRUE, md5(meta)
            FROM m
            ORDER BY doc_id, member_no"""),
    (s, d) => {
      import s.implicits._
      import graft.ops.{Tar, Warc}
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
        .flatMap { case (id, text, lang, source) =>
          val meta = s"""{"lang":"$lang","source":"$source"}"""
          val tarb = Tar.buildArchive(Seq(
            (s"docs/$id.txt", text.getBytes("UTF-8")),
            (s"docs/$id.json", meta.getBytes("UTF-8"))))
          Tar.parse(tarb).zipWithIndex.map { case (e, i) =>
            (id, i, e.name, e.size, e.headerOffset, e.chksumOk,
              Warc.md5Hex(e.payload))
          }
        }
        .toDF("doc_id", "member_no", "name", "size", "header_offset",
          "chksum_ok", "payload_md5")
        .orderBy("doc_id", "member_no")
    })

  /** Composed WebDataset build chain (X280 — the tar sibling of X71's
    * crawl chain, run AS ONE PIPELINE the way a shard-prep job
    * executes: per-doc tar shard build → byte re-parse (X279) →
    * sidecar-JSON language extract (X9's json device, applied to the
    * PARSED payload string, not the source column) → quality gate
    * (en + ≥200 bytes) → content-keyed shard assignment (X47) → shard
    * manifest). The Spark side genuinely round-trips every byte
    * through the container boundary; the oracle is the stages' SQL
    * composition over first-principles predictions — any drift at any
    * stage breaks the hash. Manifest lanes are exact integers. */
  val webdataset = QueryDef(
    "q_webdataset",
    Some("""WITH m AS (
              SELECT doc_id, text,
                     '{"lang":"' || lang || '","source":"' || source
                       || '"}' AS sidecar
              FROM documents),
            p AS (
              SELECT doc_id, CAST(strlen(text) AS BIGINT) AS txt_size,
                     sidecar
              FROM m),
            f AS (
              SELECT doc_id, txt_size
              FROM p
              WHERE json_extract_string(sidecar, '$.lang') = 'en'
                AND txt_size >= 200),
            s AS (
              SELECT doc_id, txt_size,
                     CAST('0x' || substring(md5('wds:'
                         || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 8 AS shard
              FROM f)
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(txt_size) AS BIGINT) AS sum_bytes,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc
            FROM s GROUP BY shard ORDER BY shard"""),
    (s, d) => {
      import s.implicits._
      import graft.ops.{Shard, Tar}
      val parsed = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
        .map { case (id, text, lang, source) =>
          val sidecar = s"""{"lang":"$lang","source":"$source"}"""
          val tarb = Tar.buildArchive(Seq(
            (s"docs/$id.txt", text.getBytes("UTF-8")),
            (s"docs/$id.json", sidecar.getBytes("UTF-8"))))
          val es = Tar.parse(tarb)
          // stage outputs come from the PARSED bytes, not the inputs
          (id, es(0).size, new String(es(1).payload, "UTF-8"))
        }
        .toDF("doc_id", "txt_size", "sidecar")
      parsed
        .filter(get_json_object(col("sidecar"), "$.lang") === "en" &&
          col("txt_size") >= 200)
        .withColumn("shard", Shard.shardId(col("doc_id"), 8, "wds:"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("txt_size").as("sum_bytes"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    })

  /** Each document as two WARC records (response = the text, metadata
    * = lang and source, both at the doc's URI): the oracle of both
    * WARC parse rows. */
  private val warcRecordsSql =
    """WITH m AS (
              SELECT doc_id, text,
                     'lang: ' || lang || chr(10) || 'source: ' || source
                       AS meta,
                     'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR)
                       AS uri
              FROM documents)
            SELECT doc_id, CAST(0 AS INT) AS rec_no,
                   'response' AS rec_type, uri AS target_uri,
                   CAST(strlen(text) AS BIGINT) AS content_length,
                   md5(text) AS payload_md5
            FROM m
            UNION ALL
            SELECT doc_id, CAST(1 AS INT), 'metadata', uri,
                   CAST(strlen(meta) AS BIGINT), md5(meta)
            FROM m
            ORDER BY doc_id, rec_no"""

  /** A parsed record as an output row: the doc id (the URI's last path
    * segment), record number, type, URI, length and payload md5. */
  private def warcRow(r: Warc.WarcRecord, i: Int) =
    (r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong,
      i, r.recType, r.targetUri, r.contentLength, Warc.md5Hex(r.payload))

  val warcParse = QueryDef(
    "q_warc_parse",
    Some(warcRecordsSql),
    (s, d) => {
      import s.implicits._
      val uri = concat(lit("http://corpus.local/doc/"),
        col("doc_id").cast("string"))
      val meta = concat(lit("lang: "), col("lang"),
        lit("\nsource: "), col("source"))
      val blob = concat(
        Warc.record("response", uri, col("text")),
        Warc.record("metadata", uri, meta)).cast("binary")
      Tables.documents(s, d).select(blob.as("warc")).as[Array[Byte]]
        .flatMap { b =>
          Warc.parse(b).zipWithIndex.map { case (r, i) => warcRow(r, i) }
        }
        .toDF("doc_id", "rec_no", "rec_type", "target_uri",
          "content_length", "payload_md5")
        .orderBy("doc_id", "rec_no")
    })

  /** Gzipped WARC members (X67b — the layout real Common Crawl
    * archives actually use): a `.warc.gz` is CONCATENATED PER-RECORD
    * GZIP MEMBERS, not one gzip stream — the member boundary is what
    * lets a 100 TB archive split across tasks and a reader seek to one
    * record without inflating the prefix. Each document becomes two
    * independently-gzipped record members (JVM builder — gzip has no
    * Catalyst expression; same accepted byte boundary as the
    * Multimodal codecs), and [[graft.ops.Warc.parseGz]] walks the
    * members with a manual RFC 1952 header/Inflater walk (GZIPInput-
    * Stream read-ahead hides member boundaries), then Content-Length-
    * frames each member's plain bytes. Oracle = the same
    * first-principles prediction as X67: only byte-exact compress →
    * member-walk → inflate → frame round-tripping matches it.
    * Truncation/desync/FNAME-flagged members are planted in WarcSpec. */
  val warcParseGz = QueryDef(
    "q_warc_parse_gz",
    Some(warcRecordsSql),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id").cast("long"), col("text"), col("lang"),
          col("source"))
        .as[(Long, String, String, String)]
        .map { case (id, text, lang, source) =>
          val uri = s"http://corpus.local/doc/$id"
          val meta = s"lang: $lang\nsource: $source"
          Warc.gzipMember(
            Warc.recordBytes("response", uri, text.getBytes("UTF-8"))) ++
            Warc.gzipMember(
              Warc.recordBytes("metadata", uri, meta.getBytes("UTF-8")))
        }
        .flatMap { b =>
          Warc.parseGz(b).zipWithIndex.map { case (r, i) => warcRow(r, i) }
        }
        .toDF("doc_id", "rec_no", "rec_type", "target_uri",
          "content_length", "payload_md5")
        .orderBy("doc_id", "rec_no")
    })

  /** Image perceptual-hash dedup (X68 — the standard multimodal-corpus
    * pass that dedups images AS IMAGES, not as bytes or embeddings):
    * decode real rasters → 8×8 integer average-hash
    * ([[graft.ops.PerceptualHash]]) → hamming-banded near-dup pairs
    * via the X3 SimHash blocking device
    * ([[graft.ops.Dedup.simhashPairsFromSig]] — 4×16-bit bands,
    * lossless for hamming ≤ 3 by pigeonhole). At scale only 8-byte
    * signatures shuffle, never pixels. The fixture plants, per scene,
    * a brightness-shifted copy (different bytes, IDENTICAL hash — the
    * case exact dedup X1 cannot see), a one-block patch (hamming ≤ 1),
    * and an unrelated raster (hamming ~32, never paired). Every hash
    * bit is integer arithmetic over sha256-derived block grays, so the
    * oracle predicts signatures AND the band join from first
    * principles. */
  val imageDedup = QueryDef(
    "q_image_dedup",
    Some("""WITH img AS (
              SELECT CAST(id AS BIGINT) AS asset_id,
                     CAST(id // 4 AS BIGINT) AS scene,
                     CAST(id % 4 AS INT) AS v
              FROM range(0, 500) t(id)),
            key AS (
              SELECT asset_id, v,
                     sha256(CASE WHEN v = 3
                              THEN CAST(scene AS VARCHAR) || 'x'
                              ELSE CAST(scene AS VARCHAR) END) AS hex
              FROM img),
            blocks AS (
              SELECT asset_id, CAST(b.b AS INT) AS b,
                     CASE WHEN v = 2 AND b.b = 0 THEN 255
                          ELSE ord(substring(hex, CAST(b.b AS INT) + 1, 1))
                               + CASE WHEN v = 1 THEN 10 ELSE 0 END
                     END AS val
              FROM key, range(0, 64) b(b)),
            tot AS (
              SELECT asset_id, SUM(val) AS total
              FROM blocks GROUP BY asset_id),
            sig AS (
              SELECT blocks.asset_id AS id,
                     SUM(CASE WHEN val * 64 > total
                              THEN CAST(1 AS HUGEINT) << b
                              ELSE CAST(0 AS HUGEINT) END) AS sig
              FROM blocks JOIN tot ON blocks.asset_id = tot.asset_id
              GROUP BY blocks.asset_id),
            chunked AS (
              SELECT id, sig, CAST(c.c AS INT) AS chunk_idx,
                     (sig >> (16 * CAST(c.c AS INT))) % 65536 AS chunk
              FROM sig, range(0, 4) c(c)),
            capped AS (
              SELECT id, sig, chunk_idx, chunk FROM chunked
              QUALIFY COUNT(*) OVER (PARTITION BY chunk_idx, chunk)
                        <= 1000),
            ham AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     CAST(bit_count(CAST(xor(a.sig, b.sig) % 65536 AS INT)) +
                          bit_count(CAST((xor(a.sig, b.sig) >> 16) % 65536 AS INT)) +
                          bit_count(CAST((xor(a.sig, b.sig) >> 32) % 65536 AS INT)) +
                          bit_count(CAST((xor(a.sig, b.sig) >> 48) % 65536 AS INT))
                          AS INT) AS hamming
              FROM capped a
              JOIN capped b ON a.chunk_idx = b.chunk_idx
                AND a.chunk = b.chunk AND a.id < b.id)
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
            ORDER BY id_a, id_b"""),
    (s, _) => {
      import s.implicits._
      val sig = graft.ops.PerceptualHash.syntheticImageCorpus(s, 500)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          graft.ops.PerceptualHash.aHash64(bytes).map(h => (id, h))
        })
        .toDF("id", "sig")
      graft.ops.Dedup.simhashPairsFromSig(sig, maxHamming = 2,
          bucketCap = 1000, bits = 64)
        .orderBy("id_a", "id_b")
    })

  /** Count-min sketch frequency estimation (X148 — Cormode &
    * Muthukrishnan 2005, the mergeable bounded-memory point-frequency
    * sketch next to KMV's distinct count (X76) and SpaceSaving-style
    * heavy hitters (X37): answers "how often did THIS key occur"
    * within εN with d·width counters, for keys a top-k table never
    * kept). Spark-first shape: the d×width counter matrix IS a
    * relational table — one keyed (row, cell) aggregate over the
    * event stream (explode is a fixed d=4 fan-out of 8-byte pairs,
    * map-side combined); merge across corpora/streams is union+sum by
    * construction. The eval (the X74/X138 discipline) grades the
    * sketch against the exact counts of the 20 largest users: one
    * d-way cell join, est = min over rows, overestimate = est − exact
    * ≥ 0 ALWAYS (the one-sided CMS guarantee — deterministic, not
    * probabilistic, so the spec asserts it row-by-row). Hash rows are
    * md5-derived, so the whole matrix replays in SQL. */
  val countminFreq = QueryDef(
    "q_countmin_freq", {
      val width = 256
      def hSql(j: Int, u: String) =
        s"CAST('0x' || substring(md5('cms$j:' || CAST($u AS VARCHAR)), " +
          s"1, 8) AS BIGINT) % $width"
      val rows = (0 until 4)
      Some(s"""WITH ev AS (SELECT user_id AS u FROM events),
              cells AS (
                ${rows.map(j =>
                  s"""SELECT $j AS j, ${hSql(j, "u")} AS cell,
                         CAST(COUNT(*) AS BIGINT) AS c
                     FROM ev GROUP BY 2""").mkString("\n UNION ALL\n")}),
              exact AS (
                SELECT u, CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM ev GROUP BY u),
              top20 AS (
                SELECT u, n_exact FROM exact
                ORDER BY n_exact DESC, u LIMIT 20),
              probes AS (
                ${rows.map(j =>
                  s"SELECT u, n_exact, $j AS j, ${hSql(j, "u")} AS cell " +
                    "FROM top20").mkString("\n UNION ALL\n")}),
              est AS (
                SELECT p.u, p.n_exact, MIN(cells.c) AS n_est
                FROM probes p
                JOIN cells ON cells.j = p.j AND cells.cell = p.cell
                GROUP BY 1, 2)
              SELECT u AS user_id, n_exact, n_est,
                     n_est - n_exact AS overestimate
              FROM est ORDER BY n_exact DESC, user_id""")
    },
    (s, d) => {
      val width = 256
      def h(j: Int, u: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit(s"cms$j:"), u.cast("string"))),
          1, 8), 16, 10).cast("long") % width
      val ev = Tables.events(s, d).select(col("user_id").as("u"))
      val cells = ev.select(explode(array((0 until 4).map(j =>
          struct(lit(j).as("j"), h(j, col("u")).as("cell"))): _*))
          .as("x"))
        .groupBy(col("x.j").as("j"), col("x.cell").as("cell"))
        .agg(count(lit(1)).as("c"))
      val top20 = ev.groupBy("u").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("u")).limit(20)
      val probes = top20.select(col("u"), col("n_exact"),
          explode(array((0 until 4).map(j =>
            struct(lit(j).as("j"), h(j, col("u")).as("cell"))): _*))
          .as("x"))
        .select(col("u"), col("n_exact"), col("x.j").as("j"),
          col("x.cell").as("cell"))
      probes.join(cells, Seq("j", "cell"))
        .groupBy("u", "n_exact")
        .agg(min("c").as("n_est"))
        .select(col("u").as("user_id"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overestimate"))
        .orderBy(col("n_exact").desc, col("user_id"))
    })

  /** Count-Sketch frequency estimation (X304 — Charikar, Chen &
    * Farach-Colton 2002, the SIGNED linear sketch completing the
    * frequency-sketch trio next to count-min's one-sided minimum
    * (X148) and AMS F2's moment estimate (X297): each of d=5 rows
    * hashes the key to one of w cells AND to a ±1 sign, the cell
    * accumulates sign-weighted counts, and the point estimate is the
    * MEDIAN over rows of sign·cell — unbiased per row (colliding keys
    * cancel in expectation instead of stacking), so the error is
    * two-sided, unlike CMS's deterministic overestimate. Being linear,
    * the sketch merges by element-wise ADD across corpora, streams,
    * and even deletions (turnstile model) — the property CMS shares
    * but AMS-style inner-product estimation additionally needs.
    * Spark-first shape: the d×w signed-counter matrix IS a relational
    * table — one keyed (row, cell) aggregate over a fixed d-way
    * fan-out of 8-byte pairs, map-side combined; the probe is a d-way
    * cell join + an exact odd-count median (sorted-array middle
    * element — integer, no interpolation, replayed verbatim in SQL).
    * Hash rows and signs are md5-derived, so the whole matrix and
    * every estimate replay cross-engine bit-for-bit; `err` keeps its
    * SIGN to exhibit the two-sided contract the spec asserts against
    * CMS's one-sided one. */
  val countSketch = QueryDef(
    "q_count_sketch", {
      val width = 128
      def hSql(j: Int, u: String) =
        s"CAST('0x' || substring(md5('cs$j:' || CAST($u AS VARCHAR)), " +
          s"1, 8) AS BIGINT) % $width"
      def sSql(j: Int, u: String) =
        s"(1 - 2 * (CAST('0x' || substring(md5('css$j:' " +
          s"|| CAST($u AS VARCHAR)), 1, 1) AS BIGINT) % 2))"
      val rows = (0 until 5)
      Some(s"""WITH ev AS (SELECT user_id AS u FROM events),
              cells AS (
                ${rows.map(j =>
                  s"""SELECT $j AS j, ${hSql(j, "u")} AS cell,
                         CAST(SUM(${sSql(j, "u")}) AS BIGINT) AS c
                     FROM ev GROUP BY 2""").mkString("\n UNION ALL\n")}),
              exact AS (
                SELECT u, CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM ev GROUP BY u),
              top20 AS (
                SELECT u, n_exact FROM exact
                ORDER BY n_exact DESC, u LIMIT 20),
              probes AS (
                ${rows.map(j =>
                  s"SELECT u, n_exact, $j AS j, ${hSql(j, "u")} AS cell, " +
                    s"CAST(${sSql(j, "u")} AS BIGINT) AS sgn FROM top20")
                  .mkString("\n UNION ALL\n")}),
              est AS (
                SELECT p.u, p.n_exact,
                       (list_sort(list(p.sgn * cells.c)))[3] AS n_est
                FROM probes p
                JOIN cells ON cells.j = p.j AND cells.cell = p.cell
                GROUP BY 1, 2)
              SELECT u AS user_id, n_exact,
                     CAST(n_est AS BIGINT) AS n_est,
                     CAST(n_est AS BIGINT) - n_exact AS err
              FROM est ORDER BY n_exact DESC, user_id""")
    },
    (s, d) => {
      val width = 128
      def h(j: Int, u: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit(s"cs$j:"), u.cast("string"))),
          1, 8), 16, 10).cast("long") % width
      def sgn(j: Int, u: org.apache.spark.sql.Column) =
        lit(1L) - lit(2L) * (conv(substring(md5(concat(lit(s"css$j:"),
          u.cast("string"))), 1, 1), 16, 10).cast("long") % 2)
      val ev = Tables.events(s, d).select(col("user_id").as("u"))
      val cells = ev.select(explode(array((0 until 5).map(j =>
          struct(lit(j).as("j"), h(j, col("u")).as("cell"),
            sgn(j, col("u")).as("sgn"))): _*)).as("x"))
        .groupBy(col("x.j").as("j"), col("x.cell").as("cell"))
        .agg(sum(col("x.sgn")).as("c"))
      val top20 = ev.groupBy("u").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("u")).limit(20)
      val probes = top20.select(col("u"), col("n_exact"),
          explode(array((0 until 5).map(j =>
            struct(lit(j).as("j"), h(j, col("u")).as("cell"),
              sgn(j, col("u")).as("sgn"))): _*)).as("x"))
        .select(col("u"), col("n_exact"), col("x.j").as("j"),
          col("x.cell").as("cell"), col("x.sgn").as("sgn"))
      probes.join(cells, Seq("j", "cell"))
        .groupBy("u", "n_exact")
        .agg(element_at(sort_array(collect_list(col("sgn") * col("c"))), 3)
          .as("n_est"))
        .select(col("u").as("user_id"), col("n_exact"),
          col("n_est").cast("long").as("n_est"),
          (col("n_est").cast("long") - col("n_exact")).as("err"))
        .orderBy(col("n_exact").desc, col("user_id"))
    })

  /** Items in at least this many orders enter the itemset rows. */
  private val ItemMin = 2

  /** The (order, item) baskets, the order count `n`, the frequent
    * items `ic` and the baskets `bf` cut to them: the head of both
    * itemset oracles. */
  private val basketsSql =
    s"""WITH b AS (
                SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS i
                FROM lineitem l),
              n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders
                    FROM b),
              ic AS (
                SELECT i, CAST(COUNT(*) AS BIGINT) AS c
                FROM b GROUP BY i HAVING COUNT(*) >= $ItemMin),
              bf AS (
                SELECT b.o, b.i FROM b JOIN ic ON b.i = ic.i)"""

  /** Frequent item-pair association rules (X157 — Agrawal & Srikant
    * 1994's Apriori at level 2, the market-basket support/confidence/
    * lift readout): baskets = orders, items = parts. The Apriori
    * property drives the plan: pair candidates are generated ONLY
    * from items that are themselves frequent (one keyed item count +
    * a semi-join gate before the within-basket self-join), and the
    * self-join is quadratic only within one basket's item list —
    * bounded by basket size, never a corpus cross product. All three
    * metrics are exact integer ratios (support, confidence in both
    * directions, lift = n·c_ab/(c_a·c_b)) — element-wise IEEE on
    * exact operands, hashed raw. Top pairs by (co-count DESC, a, b)
    * via TakeOrdered. */
  val itemsetPairs = QueryDef(
    "q_itemset_pairs", {
      val minPair = 2
      Some(s"""$basketsSql,
              pc AS (
                SELECT x.i AS a, y.i AS bb,
                       CAST(COUNT(*) AS BIGINT) AS c_ab
                FROM bf x JOIN bf y ON x.o = y.o AND x.i < y.i
                GROUP BY 1, 2 HAVING COUNT(*) >= $minPair)
              SELECT pc.a, pc.bb AS b, pc.c_ab,
                     ca.c AS c_a, cb.c AS c_b,
                     CAST(pc.c_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
                       AS support,
                     CAST(pc.c_ab AS DOUBLE) / CAST(ca.c AS DOUBLE)
                       AS conf_a_b,
                     CAST(pc.c_ab AS DOUBLE) / CAST(cb.c AS DOUBLE)
                       AS conf_b_a,
                     CAST(pc.c_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                       / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
                       AS lift
              FROM pc
              JOIN ic ca ON ca.i = pc.a
              JOIN ic cb ON cb.i = pc.bb
              CROSS JOIN n
              ORDER BY c_ab DESC, a, b LIMIT 50""")
    },
    (s, d) => {
      val minPair = 2
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
        .distinct()
      val nOrders = b.select("o").distinct().count()
      val ic = b.groupBy("i").agg(count(lit(1)).as("c"))
        .filter(col("c") >= ItemMin)
        .localCheckpoint(true) // feeds the gate + both metric joins
      val bf = b.join(ic.select("i"), Seq("i"), "left_semi")
      val pc = bf.as("x").join(bf.as("y"),
          col("x.o") === col("y.o") && col("x.i") < col("y.i"))
        .groupBy(col("x.i").as("a"), col("y.i").as("b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= minPair)
      pc
        .join(ic.select(col("i").as("a"), col("c").as("c_a")), "a")
        .join(ic.select(col("i").as("b"), col("c").as("c_b")), "b")
        .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
          (col("c_ab").cast("double") / lit(nOrders).cast("double"))
            .as("support"),
          (col("c_ab").cast("double") / col("c_a").cast("double"))
            .as("conf_a_b"),
          (col("c_ab").cast("double") / col("c_b").cast("double"))
            .as("conf_b_a"),
          (col("c_ab").cast("double") * lit(nOrders).cast("double") /
            (col("c_a").cast("double") * col("c_b").cast("double")))
            .as("lift"))
        .orderBy(col("c_ab").desc, col("a"), col("b")).limit(50)
    })

  // ------------------------------------------- X208 itemset triples

  /** Frequent item TRIPLES + two-antecedent association rules (X208 —
    * Agrawal & Srikant 1994's Apriori one level past X157's pairs:
    * {a,b} → c is where basket analysis earns its keep, pair rules
    * mostly restate popularity; support monotonicity c_abc ≤ c_ab
    * means every sub-pair of a kept triple is automatically frequent
    * at the same threshold — the pc joins are metric LOOKUPS, not
    * gates). The triple expansion is two order-keyed self-joins —
    * quadratic-free: per-order fan-out is C(items,3), basket-size-
    * bounded (the X80 wedge discipline, recorded); confidences and
    * support are EXACT integer ratios; deterministic
    * (c_abc DESC, a, b, c) top-50. */
  val itemsetTriples = QueryDef(
    "q_itemset_triples", {
      val minTriple = 2
      Some(s"""$basketsSql,
              pc AS (
                SELECT x.i AS a, y.i AS bb,
                       CAST(COUNT(*) AS BIGINT) AS c_ab
                FROM bf x JOIN bf y ON x.o = y.o AND x.i < y.i
                GROUP BY 1, 2),
              tc AS (
                SELECT x.i AS a, y.i AS bb, z.i AS cc,
                       CAST(COUNT(*) AS BIGINT) AS c_abc
                FROM bf x
                  JOIN bf y ON x.o = y.o AND x.i < y.i
                  JOIN bf z ON y.o = z.o AND y.i < z.i
                GROUP BY 1, 2, 3 HAVING COUNT(*) >= $minTriple)
              SELECT tc.a, tc.bb AS b, tc.cc AS c, tc.c_abc,
                     pab.c_ab, pac.c_ab AS c_ac, pbc.c_ab AS c_bc,
                     CAST(tc.c_abc AS DOUBLE) /
                       CAST(n.n_orders AS DOUBLE) AS support,
                     CAST(tc.c_abc AS DOUBLE) / CAST(pab.c_ab AS DOUBLE)
                       AS conf_ab_c,
                     CAST(tc.c_abc AS DOUBLE) / CAST(pac.c_ab AS DOUBLE)
                       AS conf_ac_b,
                     CAST(tc.c_abc AS DOUBLE) / CAST(pbc.c_ab AS DOUBLE)
                       AS conf_bc_a
              FROM tc
                JOIN pc pab ON pab.a = tc.a AND pab.bb = tc.bb
                JOIN pc pac ON pac.a = tc.a AND pac.bb = tc.cc
                JOIN pc pbc ON pbc.a = tc.bb AND pbc.bb = tc.cc
                CROSS JOIN n
              ORDER BY tc.c_abc DESC, tc.a, tc.bb, tc.cc LIMIT 50""")
    },
    (s, d) => {
      val minTriple = 2
      // r20 NEGATIVE RESULT: repartition(o) ahead of the distinct (to
      // share one exchange with the three o-keyed self-join arms) was
      // tried and REVERTED — the plain distinct's map-side partial
      // dedup is what keeps this exchange small, and the repartition
      // shipped every raw (o,i) row (shuffle 6 → 85 MiB, wall +0.7 s).
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
        .distinct()
      val nOrders = b.select("o").distinct().count()
      val ic = b.groupBy("i").agg(count(lit(1)).as("c"))
        .filter(col("c") >= ItemMin)
      val bf = b.join(ic.select("i"), Seq("i"), "left_semi")
        .localCheckpoint(true) // three self-join arms read it
      val pc = bf.as("x").join(bf.as("y"),
          col("x.o") === col("y.o") && col("x.i") < col("y.i"))
        .groupBy(col("x.i").as("a"), col("y.i").as("bb"))
        .agg(count(lit(1)).as("c_ab"))
        .localCheckpoint(true) // three metric lookups read it
      val tc = bf.as("x")
        .join(bf.as("y"),
          col("x.o") === col("y.o") && col("x.i") < col("y.i"))
        .join(bf.as("z"),
          col("y.o") === col("z.o") && col("y.i") < col("z.i"))
        .groupBy(col("x.i").as("a"), col("y.i").as("bb"),
          col("z.i").as("cc"))
        .agg(count(lit(1)).as("c_abc"))
        .filter(col("c_abc") >= minTriple)
      tc
        .join(pc.select(col("a"), col("bb"), col("c_ab")),
          Seq("a", "bb"))
        .join(pc.select(col("a"), col("bb").as("cc"),
          col("c_ab").as("c_ac")), Seq("a", "cc"))
        .join(pc.select(col("a").as("bb"), col("bb").as("cc"),
          col("c_ab").as("c_bc")), Seq("bb", "cc"))
        .select(col("a"), col("bb").as("b"), col("cc").as("c"),
          col("c_abc"), col("c_ab"), col("c_ac"), col("c_bc"),
          (col("c_abc").cast("double") / lit(nOrders).cast("double"))
            .as("support"),
          (col("c_abc").cast("double") / col("c_ab").cast("double"))
            .as("conf_ab_c"),
          (col("c_abc").cast("double") / col("c_ac").cast("double"))
            .as("conf_ac_b"),
          (col("c_abc").cast("double") / col("c_bc").cast("double"))
            .as("conf_bc_a"))
        .orderBy(col("c_abc").desc, col("a"), col("b"), col("c"))
        .limit(50)
    })

  // -------------------------------------------------- X194 rank-2 ALS

  private val AlsIters = 3
  private val AlsLambda = 0.1

  /** One ALS half-round as oracle CTEs — five qround(6) moment lanes
    * per entity, then the closed-form 2×2 solve (see
    * [[graft.ops.Als]]); `src`/`dst` are the join/group keys of this
    * half (item-key join + user group for the user half, vice versa
    * for the item half). */
  private def alsHalfSql(out: String, prev: String, joinKey: String,
      groupKey: String): String = {
    val det = s"((a11 + $AlsLambda) * (a22 + $AlsLambda) - a12 * a12)"
    s"""${out}m AS MATERIALIZED (
              SELECT rr.$groupKey AS k,
                     ${Num.qroundSql("SUM(p.f1 * p.f1)", 6)} AS a11,
                     ${Num.qroundSql("SUM(p.f1 * p.f2)", 6)} AS a12,
                     ${Num.qroundSql("SUM(p.f2 * p.f2)", 6)} AS a22,
                     ${Num.qroundSql("SUM(rr.r * p.f1)", 6)} AS b1,
                     ${Num.qroundSql("SUM(rr.r * p.f2)", 6)} AS b2
              FROM rr JOIN $prev p ON rr.$joinKey = p.k
              GROUP BY rr.$groupKey),
            $out AS MATERIALIZED (
              SELECT k,
                     ${Num.qroundSql(
                       s"((a22 + $AlsLambda) * b1 - a12 * b2) / $det",
                       6)} AS f1,
                     ${Num.qroundSql(
                       s"((a11 + $AlsLambda) * b2 - a12 * b1) / $det",
                       6)} AS f2
              FROM ${out}m)"""
  }

  /** Rank-2 ALS matrix factorization of the customer×part quantity
    * matrix (X194 — Zhou et al. 2008 / Koren et al. 2009, the
    * collaborative-filtering classic Spark MLlib ships, re-expressed
    * in the pinned-round discipline; see [[graft.ops.Als]]: rank 2
    * makes every normal-equation solve CLOSED FORM — four multiplies
    * and a determinant, no iterative inner solver to pin; det ≥ λ²
    * so no zero-divide lane exists). Each half-round is one shuffle
    * join + one keyed five-lane qround(6) aggregate; factors are
    * entity-sized tables localCheckpoint'ed per half-round (the
    * PageRank device), ratings stream through joins — the 100 TB
    * shape. Pinned as "3-round ALS from the (key%7−3)/10 item
    * start"; the readout is per-customer factors + reconstruction
    * RMSE over that customer's observed cells. */
  val als = QueryDef(
    "q_als", {
      val rounds = (1 to AlsIters).flatMap { t =>
        Seq(alsHalfSql(s"uf$t", if (t == 1) "vf0" else s"vf${t - 1}",
            "i", "u"),
          alsHalfSql(s"vf$t", s"uf$t", "u", "i"))
      }.mkString(",\n            ")
      Some(s"""WITH rr AS MATERIALIZED (
              SELECT o.o_custkey AS u, l.l_partkey AS i,
                     ${Num.qroundSql("SUM(l.l_quantity)", 6)} AS r
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY 1, 2),
            vf0 AS MATERIALIZED (
              SELECT p_partkey AS k, 1.0 AS f1,
                     CAST((p_partkey % 7) - 3 AS DOUBLE) / 10.0 AS f2
              FROM part),
            $rounds,
            pr AS (
              SELECT rr.u, rr.r,
                     u.f1 * v.f1 + u.f2 * v.f2 AS pred
              FROM rr JOIN uf$AlsIters u ON rr.u = u.k
                      JOIN vf$AlsIters v ON rr.i = v.k)
            SELECT u.k AS custkey, u.f1, u.f2,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   SQRT(${Num.qroundSql(
                     "AVG((pr.r - pr.pred) * (pr.r - pr.pred))", 6)})
                     AS rmse
            FROM pr JOIN uf$AlsIters u ON pr.u = u.k
            GROUP BY u.k, u.f1, u.f2
            ORDER BY custkey""")
    },
    (s, d) => {
      val ratings = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
        .agg(Num.qround(sum("l_quantity"), 6).as("r"))
        .localCheckpoint(true) // consumed every half-round + readout
      val (uF, vF) = graft.ops.Als.run(ratings, "u", "i",
        Tables.part(s, d).select(col("p_partkey").as("i")),
        AlsIters, AlsLambda)
      val pred = col("uf1") * col("vf1") + col("uf2") * col("vf2")
      val pr = ratings
        .join(uF.select(col("u"), col("f1").as("uf1"),
          col("f2").as("uf2")), "u")
        .join(vF.select(col("i"), col("f1").as("vf1"),
          col("f2").as("vf2")), "i")
        .select(col("u"), col("uf1"), col("uf2"), col("r"),
          pred.as("pred"))
      pr.groupBy(col("u").as("custkey"), col("uf1").as("f1"),
          col("uf2").as("f2"))
        .agg(count(lit(1)).as("n_items"),
          sqrt(Num.qround(
            avg((col("r") - col("pred")) * (col("r") - col("pred"))),
            6)).as("rmse"))
        .orderBy("custkey")
    })

  /** Sketch-based join-size estimation (X223 — Alon–Gibbons–Matias–
    * Szegedy 1999 / Cormode–Muthukrishnan 2005: |A ⋈ B| = Σ_k a_k·b_k
    * is the inner product of the two key-frequency vectors, estimated
    * as the MIN over hash rows of the sketch-counter inner product —
    * the cardinality estimate a cost-based optimizer wants BEFORE
    * running the join, from two O(d·w) sketches built in one pass per
    * table). Same d=4/w=256 portable-md5 sketch family as X148 (same
    * `cms j:` salts, so the two sketch rows provably share hashes).
    * Everything is exact integers — counters, per-row inner products,
    * the min, the exact replay — except the reported relative error
    * (exact-integer-fed division, hashes raw). Upward bias is
    * structural (collisions only ADD mass); the eval lane makes it
    * measurable, the X74 discipline. */
  val joinSizeCm = QueryDef(
    "q_join_size_cm", {
      val width = 256
      def hSql(j: Int, u: String) =
        s"CAST('0x' || substring(md5('cms$j:' || CAST($u AS VARCHAR)), " +
          s"1, 8) AS BIGINT) % $width"
      val rows = (0 until 4)
      Some(s"""WITH ea AS (SELECT user_id AS u FROM events),
              eb AS (SELECT o_custkey AS u FROM orders),
              ca AS (
                ${rows.map(j =>
                  s"""SELECT $j AS j, ${hSql(j, "u")} AS cell,
                         CAST(COUNT(*) AS BIGINT) AS a
                     FROM ea GROUP BY 2""").mkString("\n UNION ALL\n")}),
              cb AS (
                ${rows.map(j =>
                  s"""SELECT $j AS j, ${hSql(j, "u")} AS cell,
                         CAST(COUNT(*) AS BIGINT) AS b
                     FROM eb GROUP BY 2""").mkString("\n UNION ALL\n")}),
              ip AS (
                SELECT ca.j, CAST(SUM(ca.a * cb.b) AS BIGINT) AS est_j
                FROM ca JOIN cb ON ca.j = cb.j AND ca.cell = cb.cell
                GROUP BY ca.j),
              mn AS (SELECT CAST(MIN(est_j) AS BIGINT) AS est FROM ip),
              ex AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM ea JOIN eb ON ea.u = eb.u)
              SELECT ip.j, ip.est_j, mn.est, ex.n_exact,
                     CAST(mn.est - ex.n_exact AS DOUBLE) /
                       CAST(ex.n_exact AS DOUBLE) AS rel_overestimate
              FROM ip CROSS JOIN mn CROSS JOIN ex
              ORDER BY ip.j""")
    },
    (s, d) => {
      val width = 256
      def h(j: Int, u: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit(s"cms$j:"), u.cast("string"))),
          1, 8), 16, 10).cast("long") % width
      def sketch(df: org.apache.spark.sql.DataFrame, out: String) =
        df.select(explode(array((0 until 4).map(j =>
            struct(lit(j).as("j"), h(j, col("u")).as("cell"))): _*))
            .as("x"))
          .groupBy(col("x.j").as("j"), col("x.cell").as("cell"))
          .agg(count(lit(1)).as(out))
      val ea = Tables.events(s, d).select(col("user_id").as("u"))
      val eb = Tables.orders(s, d).select(col("o_custkey").as("u"))
      val ip = sketch(ea, "a").join(sketch(eb, "b"), Seq("j", "cell"))
        .groupBy("j").agg(sum(col("a") * col("b")).as("est_j"))
        .localCheckpoint(true) // 4 rows: min probe + final projection
      val est = ip.agg(min("est_j")).head().getLong(0)
      val nExact = ea.join(eb, Seq("u")).count()
      ip.select(col("j"), col("est_j"), lit(est).as("est"),
          lit(nExact).as("n_exact"),
          ((lit(est) - lit(nExact)).cast("double") /
            lit(nExact).cast("double")).as("rel_overestimate"))
        .orderBy("j")
    })

  /** Matryoshka truncation recall (X247 — Kusupati et al. 2022: MRL
    * embeddings are trained so PREFIXES are usable vectors; serving
    * then picks a truncation level per latency budget. This eval
    * measures exactly that tradeoff on the shipped embeddings:
    * brute-force top-10 by cosine over the first 32/16/8 dims,
    * recall against the full-64-dim truth — the dimension axis of
    * the quantization family, next to X24's int8 (precision axis)
    * and X236's PQ (codebook axis)). Slices are zero-copy prefix
    * `slice()` lanes; cosine per level is the same X7 raw-ranked
    * device (bit-identical element-wise folds, id ties); the
    * brute-force scans are declared BNLJ (QueriesSpec bnljByDesign,
    * the X74 eval contract). recall exact-integer ratio. */
  val matryoshka = QueryDef(
    "q_matryoshka", {
      def dotSlice(a: String, b: String, k: Int) =
        s"""list_reduce(list_transform(range(1, ${k + 1}),
              i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
            (x, y) -> x + y)"""
      def cosSlice(a: String, b: String, k: Int) =
        s"""(${dotSlice(a, b, k)} /
             NULLIF(SQRT(${dotSlice(a, a, k)}) *
                    SQRT(${dotSlice(b, b, k)}), 0.0))"""
      def rankCte(k: Int, name: String) = s"""
$name AS (
  SELECT qid, vec_id FROM (
    SELECT q.vec_id AS qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ${cosSlice("q.embedding", "e.embedding", k)} DESC,
                      e.vec_id ASC) AS rn
    FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, embeddings e
    WHERE e.vec_id <> q.vec_id) z$name WHERE rn <= 10)"""
      Some(s"""WITH ${rankCte(64, "truth")},
             ${(Seq(32, 16, 8).map(k => rankCte(k, s"lvl$k"))
               .mkString(","))},
             hits AS (
               ${Seq(32, 16, 8).map(k =>
                 s"""SELECT $k AS dims, a.qid,
                     CAST(COUNT(*) AS BIGINT) AS n_hit
                   FROM lvl$k a JOIN truth t
                     ON t.qid = a.qid AND t.vec_id = a.vec_id
                   GROUP BY a.qid""").mkString(" UNION ALL ")})
             SELECT q.dims, q.qid AS query_id,
                    COALESCE(h.n_hit, 0) AS n_hit,
                    CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0
                      AS recall10
             FROM (SELECT dims, vec_id AS qid
                   FROM (SELECT DISTINCT vec_id FROM embeddings
                         WHERE vec_id < 5) qq,
                        (SELECT unnest([32, 16, 8]) AS dims) dd) q
             LEFT JOIN hits h ON h.dims = q.dims AND h.qid = q.qid
             ORDER BY q.dims, query_id""")
    },
    (s, d) => {
      import graft.functions.ArrayFunctions.arrayDot
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
        .localCheckpoint(true) // 4 brute-force lanes share the frame
      val q = broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
      def topK(k: Int) = {
        def sl(c: org.apache.spark.sql.Column) =
          if (k == 64) c else slice(c, 1, k)
        val cos = arrayDot(sl(col("qv")), sl(col("embedding"))) /
          (sqrt(arrayDot(sl(col("qv")), sl(col("qv")))) *
           sqrt(arrayDot(sl(col("embedding")), sl(col("embedding")))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cos").desc,
            col("vec_id").asc)
        e.join(q, col("vec_id") =!= col("qid"))
          .withColumn("cos", cos)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).select("qid", "vec_id")
      }
      val truth = topK(64).localCheckpoint(true) // 3 levels join it
      val hits = Seq(32, 16, 8).map { k =>
        topK(k).join(truth, Seq("qid", "vec_id"))
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
          .withColumn("dims", lit(k))
      }.reduce(_ union _)
      val shell = q.select(col("qid"))
        .withColumn("dims", explode(array(lit(32), lit(16), lit(8))))
      shell.join(hits, Seq("dims", "qid"), "left")
        .select(col("dims"), col("qid").as("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0)
            .as("recall10"))
        .orderBy("dims", "query_id")
    })

  /** 2-D skyline / Pareto frontier (X260 — Börzsönyi et al. 2001's
    * SKYLINE OF operator, the multi-objective selection primitive:
    * keep every customer not dominated on (total spend, order count)
    * — "best tradeoffs" without collapsing the two objectives into
    * one score, the device behind quality-vs-coverage corpus picks).
    *
    * Scale shape — NO all-pairs: the classic sort-based identity
    * (a point is on the frontier iff its y exceeds the max y of all
    * STRICTLY larger x, and it holds the max y of its own x). The
    * strictly-larger-x max comes from
    * [[graft.ops.PrefixSum.runningMaxExclusiveDesc]] over the
    * DISTINCT-x table (two-pass bucketed device — no partition-less
    * window), and membership rejoins on x equality. The oracle states
    * the definition directly as NOT EXISTS over all pairs — fine at
    * oracle scale, the thing the distributed form must never do.
    * Spend is qround(2) (aggregated doubles) BEFORE it becomes the
    * key, so both engines' frontiers are boundary-stable. */
  val skyline = QueryDef(
    "q_skyline",
    Some(s"""WITH pts AS (
              SELECT o_custkey AS custkey,
                     ${Num.qroundSql("SUM(o_totalprice)", 2)} AS spend,
                     CAST(COUNT(*) AS BIGINT) AS n_orders
              FROM orders GROUP BY 1)
            SELECT custkey, spend, n_orders,
                   NOT EXISTS (
                     SELECT 1 FROM pts q
                     WHERE q.spend >= p.spend
                       AND q.n_orders >= p.n_orders
                       AND (q.spend > p.spend OR q.n_orders > p.n_orders))
                     AS on_frontier
            FROM pts p
            ORDER BY custkey"""),
    (s, d) => {
      val pts = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(Num.qround(sum("o_totalprice"), 2).as("spend"),
          count(lit(1)).as("n_orders"))
      val domain = pts.groupBy("spend").agg(max("n_orders").as("ymax"))
      val withGt = graft.ops.PrefixSum.runningMaxExclusiveDesc(
        domain, "ymax", "spend", "ygt")
      pts.join(withGt.select(col("spend").as("sp2"), col("ymax"),
          col("ygt")), col("spend") === col("sp2"))
        .select(col("custkey"), col("spend"), col("n_orders"),
          (col("n_orders") > col("ygt") &&
            col("n_orders") === col("ymax")).as("on_frontier"))
        .orderBy("custkey")
    })

  /** RFM customer segmentation (X274 — Hughes 1994's
    * recency/frequency/monetary quintile scoring, the warehouse
    * marketing-analytics staple): per customer R = last order's epoch
    * micros (exact int), F = order count (exact int), M = qround(2)
    * spend; each metric scored 1–5 against its own quintile fences.
    * Fences are ONE bounded `percentile` aggregate (exact
    * interpolating — ≡ DuckDB quantile_cont, the X201 device),
    * qround(6), riding back as literals in a foldLeft bucket
    * expression — no per-row rank window, no ntile, no global sort.
    * Scores and the combined RFM cell are exact integer lanes. */
  val rfm = QueryDef(
    "q_rfm",
    Some {
      val probs = Seq(0.2, 0.4, 0.6, 0.8)
      def fen(c: String) =
        s"""list_transform(quantile_cont($c,
              [${probs.mkString(", ")}]),
              v -> FLOOR(v * 1000000 + 0.5) / 1000000) AS f_$c"""
      def score(c: String) =
        s"CAST(len(list_filter(fen.f_$c, v -> b.$c > v)) + 1 AS INT)"
      s"""WITH b AS (
              SELECT o_custkey AS custkey,
                     CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS r_us,
                     CAST(COUNT(*) AS BIGINT) AS f,
                     ${Num.qroundSql("SUM(o_totalprice)", 2)} AS m
              FROM orders GROUP BY 1),
            fen AS MATERIALIZED (
              SELECT ${fen("r_us")},
                     ${fen("f")},
                     ${fen("m")}
              FROM b)
            SELECT b.custkey, b.r_us, b.f, b.m,
                   ${score("r_us")} AS r_score,
                   ${score("f")} AS f_score,
                   ${score("m")} AS m_score,
                   ${score("r_us")} * 100 + ${score("f")} * 10 +
                     ${score("m")} AS rfm_cell
            FROM b CROSS JOIN fen
            ORDER BY b.custkey"""
    },
    (s, d) => {
      val probs = Seq(0.2, 0.4, 0.6, 0.8)
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).as("r_us"),
          count(lit(1)).as("f"),
          Num.qround(sum("o_totalprice"), 2).as("m"))
        .localCheckpoint(true) // fence pass + scoring share the agg
      val pArr = array(probs.map(lit(_)): _*)
      val fRow = base.agg(percentile(col("r_us"), pArr),
        percentile(col("f"), pArr), percentile(col("m"), pArr)).head()
      val fences = (0 until 3).map(j =>
        fRow.getSeq[Double](j).map(Num.qround(_, 6)))
      def score(c: org.apache.spark.sql.Column, fen: Seq[Double]) =
        fen.foldLeft(lit(1)) { (acc, v) =>
          acc + when(c > v, 1).otherwise(0)
        }
      val (rs, fs, ms) = (score(col("r_us"), fences(0)),
        score(col("f"), fences(1)), score(col("m"), fences(2)))
      base.select(col("custkey"), col("r_us"), col("f"), col("m"),
        rs.as("r_score"), fs.as("f_score"), ms.as("m_score"),
        (rs * 100 + fs * 10 + ms).as("rfm_cell"))
        .orderBy("custkey")
    })

  // -------------------------------------- X300 persisted ANN index

  /** One index directory per (JVM, sf dir): concurrent sessions never
    * collide, and build/query queries in one run share the artifacts. */
  private def annIndexDir(d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ann_index_${ProcessHandle.current().pid()}_$key").getPath
  }

  /** ANN index BUILD as a committed artifact set (X300 — VERDICT r15
    * #1: [[graft.ops.AnnIndex.build]] trains the X292 IVF+PQ layout
    * and publishes centroids + codebooks + coded corpus through ONE
    * X299 manifest swap). The result is the index's occupancy audit
    * computed ONLY from artifacts READ BACK THROUGH THE MANIFEST —
    * per IVF list: member count, code-byte checksum (Σ k0..k3 over
    * members, tying every committed code to the predicted PQ fit),
    * and the committed centroid's first component (tying the
    * centroids table to the predicted IVF fit). The oracle replays
    * BOTH trainings from first principles (shared sqlIvfCorpusCtes +
    * pq*Sql fragments — the same index q_ann_ivf probes and the same
    * codebooks q_pq_recall audits) and predicts the artifact stats;
    * a file missing from the manifest, a code from a stale build, or
    * a drifted centroid all break the hash. Empty lists emit n = 0
    * (full list universe). */
  val annIndexBuild = QueryDef(
    "q_ann_index_build",
    Some(s"""WITH $sqlIvfCorpusVCtes,
             ${ClusterQueries.pqSlicesSql},
             ${ClusterQueries.pqInitsSql},
             ${ClusterQueries.pqRoundsSql},
             ${ClusterQueries.pqCodesSql},
             occ AS (
               SELECT cp.list_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                      CAST(SUM(j0.c + j1.c + j2.c + j3.c) AS BIGINT)
                        AS sum_codes
               FROM codes_0 j0
               JOIN codes_1 j1 USING (vec_id)
               JOIN codes_2 j2 USING (vec_id)
               JOIN codes_3 j3 USING (vec_id)
               JOIN corpus cp USING (vec_id)
               GROUP BY cp.list_id)
             SELECT ct.c AS list_id,
                    COALESCE(o.n_vecs, 0) AS n_vecs,
                    COALESCE(o.sum_codes, 0) AS sum_codes,
                    ct.cv[1] AS c1
             FROM cents_5 ct LEFT JOIN occ o ON o.list_id = ct.c
             ORDER BY list_id"""),
    (s, d) => {
      val dir = annIndexDir(d)
      graft.ops.AnnIndex.build(Tables.embeddings(s, d), dir,
        fitKey = s"annidxfits|$d")
      val codes = graft.ops.Shard.readTableViaManifest(s, dir, "codes")
      val cents = graft.ops.Shard.readTableViaManifest(s, dir, "centroids")
      val occ = codes.groupBy("list_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("k0") + col("k1") + col("k2") + col("k3"))
            .cast("long").as("sum_codes"))
      cents.select(col("c").as("list_id"),
          element_at(col("cv"), 1).as("c1"))
        .join(occ, Seq("list_id"), "left")
        .select(col("list_id"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          coalesce(col("sum_codes"), lit(0L)).as("sum_codes"),
          col("c1"))
        .orderBy("list_id")
    })

  /** ANN index QUERY — serve-only top-k (X300's second half: training
    * happens ZERO times here; [[graft.ops.AnnIndex.topK]] answers
    * from the committed centroids/codebooks/codes exclusively, via
    * the manifest — the build-once/serve-many contract, with
    * build-once ≡ train-inline rankings pinned by AnnIndexSpec and a
    * torn index write proven invisible there). ensureBuilt is the
    * serve path's only build trigger (absent manifest → one build);
    * the oracle is VERBATIM q_ann_ivfpq's — the served ranking must
    * equal the inline-trained ranking bit for bit, adist included. */
  val annIndexQuery = QueryDef(
    "q_ann_index_query",
    annIvfPq.oracle,
    (s, d) => {
      val dir = annIndexDir(d)
      val emb = Tables.embeddings(s, d)
      graft.ops.AnnIndex.ensureBuilt(emb, dir,
        fitKey = s"annidxfits|$d")
      val loaded = graft.ops.AnnIndex.load(s, dir)
      val qRows = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      graft.ops.AnnIndex.topK(loaded, qRows, k = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    })

  /** ANN index DELTA-INGEST (X311 — the corpus-growth path X300's
    * build-once contract implies: new vectors are encoded against the
    * FROZEN committed artifacts — assignment + PQ coding, ZERO
    * training, the FAISS add-after-train shape — and one APPEND
    * commit publishes them as a new codes SEGMENT (X317: existing
    * codes files are carried by manifest reference, never rewritten
    * — O(delta) at 100 TB), so readers atomically flip from the
    * pre-ingest to the post-ingest corpus and can never see a
    * half-ingested index; deltas must be vec_id-disjoint, enforced
    * by one anti-join — ADVICE r16). This run
    * exercises the full lifecycle: build with only the even half
    * coded, delta-ingest the odd half, serve top-k from the final
    * manifest. The oracle is VERBATIM q_ann_ivfpq's inline-trained
    * ranking — hash-green means encode-then-append-then-swap is
    * EXACTLY equivalent to having coded everything at build time
    * (per-vector encoding is training-independent, the invariance
    * the delta path rests on); Round16Spec additionally pins that a
    * crash between the two commits leaves readers on the consistent
    * half-coded index. */
  val annIndexDelta = QueryDef(
    "q_ann_index_delta",
    annIvfPq.oracle,
    (s, d) => {
      val dir = annIndexDir(d) + "_delta"
      val emb = Tables.embeddings(s, d)
      // phase 1: train on the corpus, commit with only the even half coded
      graft.ops.AnnIndex.build(emb, dir,
        codeEmb = emb.filter(col("vec_id") % 2 === 0),
        fitKey = s"annidxfits|$d")
      // phase 2: the odd half arrives — encode against frozen
      // artifacts, republish atomically
      graft.ops.AnnIndex.ingest(emb.filter(col("vec_id") % 2 === 1), dir)
      val loaded = graft.ops.AnnIndex.load(s, dir)
      val qRows = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      graft.ops.AnnIndex.topK(loaded, qRows, k = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    })

  /** ANN index COMPACTION (X317 — VERDICT r16 #5: X311's delta path
    * now appends SEGMENTS (the existing codes files are carried by
    * manifest reference, never rewritten — O(delta) at 100 TB), so
    * repeated deltas fragment the codes table into one prefix per
    * ingest; [[graft.ops.AnnIndex.compact]] folds base + deltas into
    * ONE codes table under a single manifest swap — readers see the
    * fragmented chain before the swap and the single segment after,
    * never a half state — and GC retires every superseded segment,
    * bounding disk). This run exercises the full lifecycle: build
    * with the even half coded, delta-ingest the odd half (asserting
    * the chain really fragmented), compact (asserting exactly one
    * live segment remains), serve top-k from the compacted manifest.
    * The oracle is VERBATIM q_ann_ivfpq's inline-trained ranking —
    * hash-green proves compaction is invisible to serving
    * (compacted ≡ union ≡ code-everything-at-build); Round17Spec
    * additionally pins that a crash mid-compaction leaves readers on
    * the fragmented-but-consistent chain, and that a re-ingested
    * (already-committed) delta is REFUSED (ADVICE r16 idempotence). */
  val annIndexCompact = QueryDef(
    "q_ann_index_compact",
    annIvfPq.oracle,
    (s, d) => {
      val dir = annIndexDir(d) + "_compact"
      val emb = Tables.embeddings(s, d)
      graft.ops.AnnIndex.build(emb, dir,
        codeEmb = emb.filter(col("vec_id") % 2 === 0),
        fitKey = s"annidxfits|$d")
      graft.ops.AnnIndex.ingest(emb.filter(col("vec_id") % 2 === 1), dir)
      require(graft.ops.Shard.livePrefixes(s, dir).size > 1,
        "delta-ingest should leave a fragmented segment chain")
      graft.ops.AnnIndex.compact(s, dir)
      require(graft.ops.Shard.livePrefixes(s, dir).size == 1,
        "compaction should leave exactly one live segment")
      val loaded = graft.ops.AnnIndex.load(s, dir)
      val qRows = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      graft.ops.AnnIndex.topK(loaded, qRows, k = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    })

  /** STREAMING vector ingest (X318 — VERDICT r16 #6: X302's
    * streaming discipline applied to the ANN index — new vectors
    * ARRIVE as a stream (two AvailableNow microbatches over a
    * drop-folder sharing one checkpoint, the scheduled-catch-up
    * pattern; the checkpoint guarantees batch 0's file is never
    * reprocessed), and EVERY microbatch runs the X311 delta path
    * inside `foreachBatch`: encode against the FROZEN committed
    * artifacts, append one codes segment, swap one manifest. State
    * between batches lives entirely in the committed index — the
    * stream job itself is stateless, so a crashed executor or a
    * restarted query resumes from the checkpoint against the last
    * consistent manifest (exactly the production shape: ingestion
    * workers are disposable, the manifest is the truth). The oracle
    * is VERBATIM q_ann_ivfpq's inline-trained ranking — hash-green
    * proves stream-ingested ≡ batch-delta ≡ code-everything-at-build
    * on the identical artifacts. */
  val annStreamIngest = QueryDef(
    "q_stream_ann_ingest",
    annIvfPq.oracle,
    (s, d) => {
      val dir = annIndexDir(d) + "_stream"
      graft.streaming.StreamWarm.ensure(s) // one-time engine warm (r18)
      val emb = Tables.embeddings(s, d).localCheckpoint(true)
      graft.ops.AnnIndex.build(emb, dir,
        codeEmb = emb.filter(col("vec_id") % 2 === 0),
        fitKey = s"annidxfits|$d")
      val drop = new SimilarityQueries.DropFolder(s, "graft-annstream")
      def ingestBatch(batch: org.apache.spark.sql.DataFrame,
          batchId: Long): Unit = {
        val b = batch.select("vec_id", "embedding").localCheckpoint(true)
        if (b.head(1).nonEmpty) graft.ops.AnnIndex.ingest(b, dir)
      }
      // arrival 1: half the odd vectors; arrival 2: the rest
      drop.stage(emb.filter(col("vec_id") % 4 === 1), "b0")
      drop.drain(emb.schema, ingestBatch)
      drop.stage(emb.filter(col("vec_id") % 4 === 3), "b1")
      drop.drain(emb.schema, ingestBatch)
      val loaded = graft.ops.AnnIndex.load(s, dir)
      val qRows = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      graft.ops.AnnIndex.topK(loaded, qRows, k = 10, nprobe = 4)
        .orderBy("query_id", "rank")
    })

  val all: Seq[QueryDef] = Seq(windowAnalytics, countDistinct_, rollup_,
    rfm,
    cube_, groupingSets, rangeFrame, annIvf, annIvfPq, annIvfAdc,
    annRecall, annNprobeCurve, annRecallInt8, kmeansReport,
    semanticDedup,
    multimodalFeatures,
    multimodalFeaturesLossy, multimodalVideo, videoFrameSample,
    multimodalStats, multimodalAudio, multimodalPng, multimodalJpeg,
    multimodalResize, statsAgg, pivot_, percentiles, quantileSketch, quantileSketchEval,
    approxDistinct, annRecallBinary, annRecallCurve, kmvDistinct, countminFreq, countSketch, itemsetPairs, warcParse, warcParseGz, tarParse, webdataset,
    imageDedup, als, itemsetTriples, joinSizeCm, matryoshka, skyline,
    annIndexBuild, annIndexQuery, annIndexDelta, annIndexCompact,
    annStreamIngest)
}
