package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{ArrayFunctions, Num}
import graft.ops.Lloyd
import org.apache.spark.sql.functions._

/** Round-13 corpus-organization operators (SURVEY §2l X212–X213):
  * full-corpus distributed k-means and greedy max-coverage document
  * selection — the two clustering/selection devices a curation
  * pipeline runs over the WHOLE corpus rather than a driver sample.
  */
object ClusterQueries {

  // DuckDB twins of the double-lane vector math (floats widened to
  // double up front so every element-wise lane is bit-identical).
  private def dotD(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
          i -> $a[i] * $b[i]), (x, y) -> x + y)"""
  private def normD(v: String) = {
    val n = s"sqrt(list_reduce(list_transform($v, x -> x*x), (a,b) -> a+b))"
    s"CASE WHEN $n = 0 THEN $v ELSE list_transform($v, x -> x / $n) END"
  }

  /** One full-corpus Lloyd round in SQL mirroring [[Lloyd.fit]]:
    * first-max assignment (dot DESC, c ASC), per-(cluster, dim)
    * qround(6) means (the aggregated lane — fold order differs, the
    * quantizer pins it), left-fold L2 normalization, empty clusters
    * keep their centroid. */
  private def lloydIterSql(i: Int): String = s"""
asg_$i AS (
  SELECT e.vec_id, e.v, c.c,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY ${dotD("c.cv", "e.v")} DESC, c.c ASC) AS rn
  FROM corpusv e, cents_$i c),
best_$i AS (SELECT vec_id, v, c FROM asg_$i WHERE rn = 1),
m_$i AS (
  SELECT c, t.d,
         FLOOR(SUM(v[t.d]) / COUNT(*) * 1000000 + 0.5) / 1000000 AS m
  FROM best_$i, range(1, 65) t(d) GROUP BY c, t.d),
cm_$i AS (SELECT c, list(m ORDER BY d) AS mv FROM m_$i GROUP BY c),
cents_${i + 1} AS (
  SELECT o.c, CASE WHEN n.mv IS NULL THEN o.cv
              ELSE ${normD("n.mv")} END AS cv
  FROM cents_$i o LEFT JOIN cm_$i n ON n.c = o.c)"""

  /** Distributed full-corpus spherical k-means (X212 — Lloyd 1982 run
    * the way a 1000-executor cluster has to; see [[Lloyd]] for the
    * one-pass-per-round / k·(dim+1)-doubles-to-driver shape). k = 8,
    * 3 pinned rounds, init = the 8 lowest vec_ids normalized. The
    * report is the X89 balance readout computed from THIS fit: per
    * cluster n, mean and min cosine-to-centroid — centroids are unit
    * vectors so cos = dot/|v|, an element-wise lane that hashes raw
    * except the fold-order AVG (qround(6)). Empty clusters emit n = 0
    * (full cluster universe). The oracle replays all 3 rounds from
    * the same init — training included in the hash, the q_ann_ivf
    * discipline. */
  val kmeansLloyd = QueryDef(
    "q_kmeans_lloyd",
    Some(s"""WITH corpusv AS (
             SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE))
                      AS v
             FROM embeddings),
           inits AS (
             SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
                      AS INTEGER) AS c, v
             FROM (SELECT vec_id, v FROM corpusv
                   ORDER BY vec_id LIMIT 8) i0),
           cents_0 AS (SELECT c, ${normD("v")} AS cv FROM inits),
           ${lloydIterSql(0)}, ${lloydIterSql(1)}, ${lloydIterSql(2)},
           fasg AS (
             SELECT e.vec_id, c.c,
                    ${dotD("c.cv", "e.v")} /
                      sqrt(${dotD("e.v", "e.v")}) AS cos,
                    ROW_NUMBER() OVER (PARTITION BY e.vec_id
                      ORDER BY ${dotD("c.cv", "e.v")} DESC, c.c ASC)
                      AS rn
             FROM corpusv e, cents_3 c),
           fbest AS (SELECT vec_id, c, cos FROM fasg WHERE rn = 1),
           rep AS (
             SELECT c, CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("AVG(cos)", 6)} AS avg_cos,
                    MIN(cos) AS min_cos
             FROM fbest GROUP BY c)
           SELECT u.c, COALESCE(r.n, 0) AS n, r.avg_cos, r.min_cos
           FROM (SELECT CAST(range AS INTEGER) AS c FROM range(0, 8)) u
           LEFT JOIN rep r ON r.c = u.c
           ORDER BY u.c"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Lloyd.fit(e, "embedding", "vec_id", k = 8, dim = 64,
        iters = 3)
      val dots = array(cents.map(ct =>
        ArrayFunctions.arrayDot(col("embedding"),
          typedLit(ct.toSeq))): _*)
      val assigned = e.select(
        ArrayFunctions.nearestCentroid(col("embedding"), cents).as("c"),
        (array_max(dots) / sqrt(ArrayFunctions.arrayDot(
          col("embedding"), col("embedding")))).as("cos"))
      val rep = assigned.groupBy("c")
        .agg(count(lit(1)).as("n"),
          Num.qround(avg("cos"), 6).as("avg_cos"),
          min("cos").as("min_cos"))
      val universe = s.range(0, 8)
        .select(col("id").cast("int").as("c"))
      universe.join(rep, Seq("c"), "left")
        .select(col("c"), coalesce(col("n"), lit(0L)).as("n"),
          col("avg_cos"), col("min_cos"))
        .orderBy("c")
    })

  /** Greedy max-coverage document selection (X213 — the classic
    * (1−1/e) greedy for submodular coverage, Nemhauser et al. 1978;
    * in LLM-data terms: "pick the k docs that together cover the most
    * distinct 3-gram shingles", the set-cover flavor of diversity
    * selection that SemDeDup (X42) approaches from the other side).
    * k = 5 pinned rounds; each round is ONE distributed anti-join of
    * the (doc, shingle) pair table against the covered-shingle set
    * plus a top-1 aggregate — never a materialized per-doc coverage
    * matrix. Ties break on lowest doc_id. All lanes are exact
    * integers (hash raw). The covered set is localCheckpoint'ed per
    * round so round r+1 doesn't replay rounds 1..r — at warehouse
    * scale: persist to storage. Oracle = the same 5 rounds unrolled
    * as CTE stages. */
  val coverageSelect = QueryDef(
    "q_coverage_select", {
      val rounds = (1 to 5).map { i =>
        val cov = s"cov_${i - 1}"
        val notPicked =
          if (i == 1) ""
          else s"AND p.doc_id NOT IN (SELECT doc_id FROM picked_${i - 1})"
        s"""g_$i AS (
             SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
             FROM pairs p LEFT JOIN $cov c ON p.sh = c.sh
             WHERE c.sh IS NULL $notPicked
             GROUP BY p.doc_id),
           w_$i AS (
             SELECT doc_id, gain FROM g_$i
             ORDER BY gain DESC, doc_id LIMIT 1),
           picked_$i AS (
             ${if (i == 1) s"SELECT doc_id FROM w_1"
               else s"SELECT doc_id FROM picked_${i - 1} UNION ALL " +
                 s"SELECT doc_id FROM w_$i"}),
           cov_$i AS (
             SELECT sh FROM $cov
             UNION
             SELECT p.sh FROM pairs p, w_$i w
             WHERE p.doc_id = w.doc_id)"""
      }.mkString(",\n")
      Some(s"""${SimilarityQueries.sqlShingleCte(3)},
             pairs AS (
               SELECT doc_id, unnest(shingles) AS sh FROM sh),
             cov_0 AS (SELECT sh FROM pairs WHERE false),
             $rounds
             SELECT * FROM (
               ${(1 to 5).map(i =>
                 s"""SELECT $i AS sel_round, w_$i.doc_id, w_$i.gain,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM cov_$i)
                       AS covered_total
                   FROM w_$i""").mkString(" UNION ALL ")}) uq
             ORDER BY sel_round""")
    },
    (s, d) => {
      // r20: widen the single-split documents scan — the shingle
      // explode is the row's one heavy compute stage (measured 4.9 s
      // as ONE task; Skew.widen is a no-op at corpus scale)
      val pairs = graft.ops.Skew.widen(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(graft.functions.Text.wordShingles(col("text"), 3))
            .as("sh"))
        .localCheckpoint() // 5 rounds re-scan the pair table
      // r20 (guide §1.2 — the greedy loop paid 3 actions per round:
      // the pick, a covered distinct+checkpoint, and a covered count).
      // The covered set is just the picked docs' shingles straight
      // off the CACHED pair table (the anti-join is set-semantics, so
      // no distinct needed), which leaves ONE action per round; the
      // five covered_total values then come from ONE final pass that
      // counts each covered shingle at its earliest pick round —
      // cum(r) = |distinct sh covered by picks 1..r| exactly as the
      // old distinct-union count measured.
      var pickedIds = Seq.empty[Long]
      val picks = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long)]
      for (r <- 1 to 5) {
        val gains =
          (if (pickedIds.isEmpty) pairs
           else pairs.filter(!col("doc_id").isin(pickedIds: _*))
             .join(pairs.filter(col("doc_id").isin(pickedIds: _*))
               .select("sh"), Seq("sh"), "left_anti"))
          .groupBy("doc_id").agg(count(lit(1)).as("gain"))
        val win = gains.orderBy(col("gain").desc, col("doc_id"))
          .limit(1).head()
        pickedIds = pickedIds :+ win.getLong(0)
        picks += ((r, win.getLong(0), win.getLong(1)))
      }
      val roundOf = typedLit(pickedIds.zipWithIndex
        .map { case (id, i) => id -> (i + 1) }.toMap)
      val perRound = pairs
        .select(element_at(roundOf, col("doc_id")).as("pr"), col("sh"))
        .filter(col("pr").isNotNull)
        .groupBy("sh").agg(min("pr").as("pr"))
        .groupBy("pr").agg(count(lit(1)).as("c"))
        .collect().map(r2 => r2.getInt(0) -> r2.getLong(1)).toMap
      var cum = 0L
      import s.implicits._
      picks.toSeq.map { case (r, id, g) =>
        cum += perRound.getOrElse(r, 0L)
        (r, id, g, cum)
      }.toDF("sel_round", "doc_id", "gain", "covered_total")
        .orderBy("sel_round")
    })

  // ------------------------------------------ product quantization

  // 16-dim L2 distance as the 0.0-init fold (bit-identical to the
  // Scala zip-fold; see Lloyd.sqDist)
  private[queries] def dist16(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, 17),
          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"""
  private def dist64(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, 65),
          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"""

  /** One plain-L2 Lloyd round over subspace `s` in SQL, mirroring
    * one lane of [[Lloyd.fitL2]]: first-min assignment (dist ASC, c ASC),
    * qround(6) per-dim means, NO normalization, empty codes keep
    * their centroid. */
  private def pqIterSql(s: Int, i: Int): String = pqIterSqlX(s, i, "")

  /** Prefix-parameterized variant — the residual (IVFADC) chain runs
    * the SAME rounds under `r`-prefixed names over residual slices. */
  private def pqIterSqlX(s: Int, i: Int, x: String): String = s"""
${x}pasg_${s}_$i AS (
  SELECT e.vec_id, e.v, c.c,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           ORDER BY ${dist16("c.cv", "e.v")} ASC, c.c ASC) AS rn
  FROM ${x}sv_$s e, ${x}pc_${s}_$i c),
${x}pbest_${s}_$i AS (SELECT vec_id, v, c FROM ${x}pasg_${s}_$i WHERE rn = 1),
${x}pm_${s}_$i AS (
  SELECT c, t.d,
         FLOOR(SUM(v[t.d]) / COUNT(*) * 1000000 + 0.5) / 1000000 AS m
  FROM ${x}pbest_${s}_$i, range(1, 17) t(d) GROUP BY c, t.d),
${x}pcm_${s}_$i AS (
  SELECT c, list(m ORDER BY d) AS mv FROM ${x}pm_${s}_$i GROUP BY c),
${x}pc_${s}_${i + 1} AS MATERIALIZED (
  SELECT o.c, COALESCE(n.mv, o.cv) AS cv
  FROM ${x}pc_${s}_$i o LEFT JOIN ${x}pcm_${s}_$i n ON n.c = o.c)"""

  /** Product-quantization ANN with asymmetric-distance recall eval
    * (X236 — Jégou et al. 2011: split the 64-dim space into M = 4
    * × 16-dim subspaces, k-means each (k = 4, 2 pinned L2 Lloyd
    * rounds), encode every corpus vector as 4 code bytes, and answer
    * queries by ADC — the query precomputes a 4×4 distance table and
    * each candidate costs 4 lookups + 3 adds. The memory-bound member
    * of the quantization family: X24's int8 keeps 64 bytes/vec, PQ
    * keeps 4 — the codebook trick behind FAISS-scale billion-vector
    * indexes). Codes are ONE projection over broadcast codebooks; the
    * ADC join is code-table equi-joins (the 4×4 tables are driver
    * literals, bit-identical on both engines because the fold order
    * is pinned); the one declared-BNLJ lane is the exact ground truth
    * (QueriesSpec bnljByDesign, the X74 eval discipline). recall@10
    * exact-integer ratio. */
  // PQ training/encode/ADC-table SQL fragments, shared verbatim by
  // q_pq_recall and q_ann_ivfpq (the composed index must quantize with
  // the SAME codebooks the standalone eval audits).
  private[queries] val pqSubs = 0 until 4
  private[queries] def pqSlicesSqlFor(src: String, x: String): String =
    pqSubs.map(s =>
      s"""${x}sv_$s AS MATERIALIZED (SELECT vec_id,
              v[${16 * s + 1}:${16 * s + 16}] AS v FROM $src)""")
      .mkString(",\n")
  private[queries] def pqInitsSqlFor(x: String): String = pqSubs.map(s =>
    s"""${x}pc_${s}_0 AS MATERIALIZED (
             SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
                      AS INTEGER) AS c, v AS cv
             FROM (SELECT vec_id, v FROM ${x}sv_$s
                   ORDER BY vec_id LIMIT 4) i$x$s)""").mkString(",\n")
  private[queries] def pqRoundsSqlFor(x: String): String =
    pqSubs.flatMap(s => (0 until 2).map(i =>
      pqIterSqlX(s, i, x))).mkString(",")
  private[queries] def pqCodesSqlFor(x: String): String = pqSubs.map(s =>
    s"""${x}codes_$s AS MATERIALIZED (
             SELECT vec_id, c FROM (
               SELECT e.vec_id, c.c,
                      ROW_NUMBER() OVER (PARTITION BY e.vec_id
                        ORDER BY ${dist16("c.cv", "e.v")} ASC, c.c ASC)
                        AS rn
               FROM ${x}sv_$s e, ${x}pc_${s}_2 c) z$x$s WHERE rn = 1)""")
    .mkString(",\n")
  private[queries] val pqSlicesSql = pqSlicesSqlFor("corpusv", "")
  private[queries] val pqInitsSql = pqInitsSqlFor("")
  private[queries] val pqRoundsSql = pqRoundsSqlFor("")
  private[queries] val pqCodesSql = pqCodesSqlFor("")
  private[queries] def pqQdsSqlFor(x: String): String = pqSubs.map(s =>
    s"""${x}qd_$s AS (
             SELECT q.vec_id AS qid, c.c, ${dist16("c.cv", "q.v")} AS d
             FROM (SELECT vec_id, v FROM ${x}sv_$s WHERE vec_id < 5) q,
                  ${x}pc_${s}_2 c)""").mkString(",\n")
  private[queries] val pqQdsSql = pqQdsSqlFor("")

  /** The ADC estimate + top-k tail under prefix `x`: 4 code-table
    * equi-joins, (adist ASC, vec_id ASC) ranking. */
  private[queries] def pqRankTailSqlFor(x: String, k: Int): String = s"""
${x}codesw_r AS (
  SELECT c0.vec_id, c0.c AS k0, c1.c AS k1, c2.c AS k2, c3.c AS k3
  FROM ${x}codes_0 c0
  JOIN ${x}codes_1 c1 USING (vec_id)
  JOIN ${x}codes_2 c2 USING (vec_id)
  JOIN ${x}codes_3 c3 USING (vec_id)),
${x}est_r AS (
  SELECT q0.qid, w.vec_id,
         ((q0.d + q1.d) + q2.d) + q3.d AS adist
  FROM ${x}codesw_r w
  JOIN ${x}qd_0 q0 ON q0.c = w.k0
  JOIN ${x}qd_1 q1 ON q1.c = w.k1 AND q1.qid = q0.qid
  JOIN ${x}qd_2 q2 ON q2.c = w.k2 AND q2.qid = q0.qid
  JOIN ${x}qd_3 q3 ON q3.c = w.k3 AND q3.qid = q0.qid
  WHERE w.vec_id <> q0.qid),
${x}ranked_r AS (
  SELECT qid AS query_id, vec_id AS neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
           ORDER BY adist ASC, vec_id ASC) AS BIGINT) AS rank
  FROM ${x}est_r)"""

  /** Standalone raw-PQ top-10 ranking (training unrolled) — nestable
    * as a curve lane the way annIvf/annIvfPq oracles are. */
  private[queries] val pqRankSql: String =
    s"""WITH corpusv AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        $pqSlicesSql,
        $pqInitsSql,
        $pqRoundsSql,
        $pqCodesSql,
        $pqQdsSql,
        ${pqRankTailSqlFor("", 10)}
        SELECT query_id, neighbor_id, rank FROM ranked_r
        WHERE rank <= 10"""

  // ------------------------------------------------- X301 OPQ

  /** The OPQ permutation chain in SQL (see [[opqOrder]]): per-dim
    * qround(6) moments (the X188 mu/cov lane restricted to the
    * diagonal), variance rank (vr DESC, i ASC), serpentine allocation
    * of ranked dims to the M = 4 subspaces, and the permuted corpus
    * via one list_transform over the inverse-permutation literal
    * list. `src` must expose (vec_id, v). */
  private[queries] def opqPermSqlFor(src: String): String = s"""
onn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM $src),
odims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
omom AS MATERIALIZED (
  SELECT d.i,
         ${Num.qroundSql("SUM(e.v[d.i]) / onn.n", 6)} AS mu,
         ${Num.qroundSql("SUM(e.v[d.i] * e.v[d.i]) / onn.n", 6)} AS m2
  FROM $src e CROSS JOIN odims d CROSS JOIN onn
  GROUP BY d.i, onn.n),
ork AS (
  SELECT i, CAST(ROW_NUMBER() OVER (
    ORDER BY m2 - mu * mu DESC, i ASC) - 1 AS INT) AS r0
  FROM omom),
oalloc AS (
  SELECT i,
         CASE WHEN (r0 // 4) % 2 = 0 THEN r0 % 4
              ELSE 3 - (r0 % 4) END AS b,
         r0 // 4 AS slot
  FROM ork),
oinvp AS MATERIALIZED (
  SELECT list(i ORDER BY b * 16 + slot) AS ord FROM oalloc),
corpusp AS MATERIALIZED (
  SELECT c.vec_id,
         list_transform(range(1, 65), p -> c.v[ip.ord[p]]) AS v
  FROM $src c CROSS JOIN oinvp ip)"""

  /** Standalone OPQ top-10 ranking: permutation chain + the verbatim
    * PQ chain over the permuted corpus (prefix `o`). Permutations are
    * orthogonal, so ADC distances in permuted space estimate the SAME
    * L2 the raw-PQ lane estimates — recall deltas are pure
    * codebook-allocation effects. */
  private[queries] val opqRankSql: String =
    s"""WITH corpusv AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        ${opqPermSqlFor("corpusv")},
        ${pqSlicesSqlFor("corpusp", "o")},
        ${pqInitsSqlFor("o")},
        ${pqRoundsSqlFor("o")},
        ${pqCodesSqlFor("o")},
        ${pqQdsSqlFor("o")},
        ${pqRankTailSqlFor("o", 10)}
        SELECT query_id, neighbor_id, rank FROM oranked_r
        WHERE rank <= 10"""

  /** Parametric OPQ dimension allocation (X301 — Ge et al., CVPR 2013
    * "Optimized Product Quantization", the rotation FAISS applies
    * before PQ; VERDICT r15 #3). Ge's parametric solution computes
    * the PCA eigenbasis and ALLOCATES eigen-directions to subspaces
    * balancing per-subspace variance products (their eigenvalue
    * allocation, §4). This corpus's covariance is measured
    * near-DIAGONAL and near-isotropic (off-diagonal mass 3.5% of the
    * diagonal at sf0.01; per-dim variance spread 1.31×; OpqSpec pins
    * the diagnostic), so the eigenbasis coincides with the coordinate
    * basis up to sampling noise and the rotation reduces EXACTLY to
    * its allocation step: a variance-balanced dimension PERMUTATION —
    * rank dims by variance, deal them to the M subspaces in
    * serpentine order (the greedy-balance schedule). A permutation IS
    * an orthogonal rotation, and restricting R to permutations keeps
    * every trained lane cross-engine exact (a 64-dim eigen-solve
    * cannot be hash-pinned through SQL at full basis width — X188
    * pins 2 components in 12 rounds); on anisotropic data the
    * allocation carries most of parametric OPQ's gain (OpqSpec
    * measures it on a variance-ramp fixture), while on THIS isotropic
    * corpus the honest expected gain is ≈ 0 — the recall-curve lane
    * REPORTS that number rather than assuming it.
    *
    * Determinism: variance lane = q6(Σx²/n) − q6(Σx/n)² (the X188
    * moment discipline, diagonal only); rank ties break on dim id;
    * the permutation itself is exact integers; permuted vectors are
    * element shuffles (no arithmetic). One map-side-combining moment
    * pass (128 + 1 doubles to the driver), permutation re-enters the
    * plan as a 64-literal projection — the X188 scale shape.
    *
    * @return order(p) = source dim (0-based) at permuted position p
    */
  private[queries] def opqOrder(frame: org.apache.spark.sql.DataFrame)
      : Array[Int] = {
    val row = frame.agg(count(lit(1)),
      graft.functions.VecAggregates.vecSum(col("v"), 64),
      graft.functions.VecAggregates.vecSum(
        transform(col("v"), x => x * x), 64)).head()
    val n = row.getLong(0).toDouble
    val sx = row.getSeq[Double](1)
    val sxx = row.getSeq[Double](2)
    val vr = Array.tabulate(64) { d0 =>
      val mu = Num.qround(sx(d0) / n, 6)
      Num.qround(sxx(d0) / n, 6) - mu * mu
    }
    val ranked = (0 until 64).sortBy(d0 => (-vr(d0), d0))
    val order = new Array[Int](64)
    ranked.zipWithIndex.foreach { case (dim, r0) =>
      val b = if ((r0 / 4) % 2 == 0) r0 % 4 else 3 - (r0 % 4)
      order(b * 16 + r0 / 4) = dim
    }
    order
  }

  /** Permute an array<double> column by [[opqOrder]]'s layout. */
  private[queries] def applyPerm(v: org.apache.spark.sql.Column,
      order: Array[Int]): org.apache.spark.sql.Column =
    array(order.map(d0 => element_at(v, d0 + 1)): _*)

  /** ADC top-k over a coded frame — the Spark twin of
    * [[pqRankTailSqlFor]]. */
  private def adcRank(codesw: org.apache.spark.sql.DataFrame,
      qd: IndexedSeq[org.apache.spark.sql.DataFrame], k: Int)
      : org.apache.spark.sql.DataFrame = {
    val est = codesw
      .join(qd(0), col("c0") === col("k0"))
      .join(qd(1), col("c1") === col("k1") && qd(1)("qid") === qd(0)("qid"))
      .join(qd(2), col("c2") === col("k2") && qd(2)("qid") === qd(0)("qid"))
      .join(qd(3), col("c3") === col("k3") && qd(3)("qid") === qd(0)("qid"))
      .where(col("vec_id") =!= qd(0)("qid"))
      .select(qd(0)("qid").as("query_id"),
        col("vec_id").as("neighbor_id"),
        (((col("d0") + col("d1")) + col("d2")) + col("d3")).as("adist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    est.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  // ---------------- VERDICT r16 #8: per-family shared ANN training.
  // Every fit below is a deterministic driver-sized artifact (pinned
  // samples, pinned rounds, integer tie-breaks), memoized per
  // (fit, sf dir) through graft.ops.FitCache — an eval session
  // (bench, verify: many ANN rows, one JVM) trains ONCE and every
  // row serves. Observationally invisible: with or without the memo,
  // each query's output is bit-identical and its oracle re-derives
  // the same fits from first principles. Bench warms the family
  // before timing and reports the one-time cost as ann_family_fit.

  /** The shared 16-list IVF index over `embeddings` — memoized. */
  private[graft] def ivf16Cached(s: org.apache.spark.sql.SparkSession,
      d: String): graft.ops.Similarity.IvfIndex =
    graft.ops.FitCache.memo(s"ivf16|$d") {
      graft.ops.Similarity.fitIvf(Tables.embeddings(s, d),
        "embedding", "vec_id", nlist = 16)
    }

  /** Raw / OPQ-permuted / IVF-residual PQ codebooks — memoized. */
  private def pqFitRawCached(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[Array[Array[Double]]] =
    graft.ops.FitCache.memo(s"pqraw|$d") { pqFit(pqFrame(s, d)) }

  private[queries] def opqOrderCached(
      s: org.apache.spark.sql.SparkSession, d: String): Array[Int] =
    graft.ops.FitCache.memo(s"opqord|$d") { opqOrder(pqFrame(s, d)) }

  /** The OPQ-permuted frame (checkpointed — codes + fit share it). */
  private def pqFramePerm(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    pqFrame(s, d)
      .select(col("vec_id"), applyPerm(col("v"), opqOrderCached(s, d))
        .as("v"))
      .localCheckpoint(true)

  private def pqFitPermCached(s: org.apache.spark.sql.SparkSession,
      d: String, framep: org.apache.spark.sql.DataFrame)
      : IndexedSeq[Array[Array[Double]]] =
    graft.ops.FitCache.memo(s"pqperm|$d") { pqFit(framep) }

  private def pqFitResCached(s: org.apache.spark.sql.SparkSession,
      d: String, frameRes: org.apache.spark.sql.DataFrame)
      : IndexedSeq[Array[Array[Double]]] =
    graft.ops.FitCache.memo(s"pqres|$d") { pqFit(frameRes) }

  /** Force every memoized ANN-family fit (Bench calls this once,
    * timed, before the per-query loop — the family's training cost
    * is then ONE disclosed figure instead of a hidden per-row tax). */
  private[graft] def warmAnnFits(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    ivf16Cached(s, d)
    pqFitRawCached(s, d)
    pqFitPermCached(s, d, pqFramePerm(s, d))
    pqFitResCached(s, d, pqFrameResidual(s, d))
    // the persisted-index lifecycle rows' shared build fit (r18 —
    // build/delta/compact/stream each re-trained the same IVF+PQ)
    graft.ops.AnnIndex.trainFits(graft.Tables.embeddings(s, d),
      fitKey = s"annidxfits|$d")
    ()
  }

  /** Raw-PQ top-k ranking (the q_pq_recall approx lane, factored as a
    * nestable method). */
  private[queries] def pqTopK(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int = 10): org.apache.spark.sql.DataFrame = {
    val frame = pqFrame(s, d)
    val cents = pqFitRawCached(s, d)
    adcRank(pqCodesW(frame, cents),
      pqQdTables(s, pqQueryRows(frame), cents), k)
  }

  /** OPQ top-k ranking: permutation fit + the verbatim PQ chain over
    * the permuted frame. */
  private[queries] def opqTopK(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int = 10): org.apache.spark.sql.DataFrame = {
    val framep = pqFramePerm(s, d)
    val cents = pqFitPermCached(s, d, framep)
    adcRank(pqCodesW(framep, cents),
      pqQdTables(s, pqQueryRows(framep), cents), k)
  }

  /** OPQ vs raw-PQ recall@10, side by side per query (X301's
    * deliverable: the allocation's measured effect at the SAME 4-byte
    * budget — both trainings and the rotation chain unrolled in the
    * oracle). On this measured-isotropic corpus the honest delta is
    * ≈ 0 (see [[opqOrder]]); OpqSpec carries the anisotropic fixture
    * where the allocation's gain is real and measured. */
  val annOpq = QueryDef(
    "q_ann_opq",
    Some(s"""WITH pqr AS ($pqRankSql),
             opqr AS ($opqRankSql),
             corpusx AS (
               SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE))
                        AS v
               FROM embeddings),
             exd AS (
               SELECT q.vec_id AS qid, e.vec_id,
                      ${dist64("q.v", "e.v")} AS dx
               FROM (SELECT vec_id, v FROM corpusx WHERE vec_id < 5) q,
                    corpusx e
               WHERE e.vec_id <> q.vec_id),
             exr AS (
               SELECT qid, vec_id FROM (
                 SELECT qid, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY dx ASC, vec_id ASC) AS rn
                 FROM exd) zx WHERE rn <= 10),
             hp AS (
               SELECT a.query_id AS qid, CAST(COUNT(*) AS BIGINT) AS n
               FROM pqr a JOIN exr x
                 ON x.qid = a.query_id AND x.vec_id = a.neighbor_id
               GROUP BY a.query_id),
             ho AS (
               SELECT a.query_id AS qid, CAST(COUNT(*) AS BIGINT) AS n
               FROM opqr a JOIN exr x
                 ON x.qid = a.query_id AND x.vec_id = a.neighbor_id
               GROUP BY a.query_id)
             SELECT q.qid AS query_id,
                    COALESCE(hp.n, 0) AS n_hit_pq,
                    COALESCE(ho.n, 0) AS n_hit_opq,
                    CAST(COALESCE(hp.n, 0) AS DOUBLE) / 10.0
                      AS recall10_pq,
                    CAST(COALESCE(ho.n, 0) AS DOUBLE) / 10.0
                      AS recall10_opq
             FROM (SELECT DISTINCT vec_id AS qid FROM embeddings
                   WHERE vec_id < 5) q
             LEFT JOIN hp ON hp.qid = q.qid
             LEFT JOIN ho ON ho.qid = q.qid
             ORDER BY query_id"""),
    (s, d) => {
      val pq = pqTopK(s, d).select("query_id", "neighbor_id")
      val opq = opqTopK(s, d).select("query_id", "neighbor_id")
      val frame = pqFrame(s, d)
      val qFrame = broadcast(frame.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv")))
      val exr = exactTop10(frame, qFrame)
      def hitsOf(approx: org.apache.spark.sql.DataFrame) =
        approx.join(exr,
            approx("query_id") === exr("qid") &&
              approx("neighbor_id") === exr("vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n"))
      val hp = hitsOf(pq).withColumnRenamed("n", "np")
      val ho = hitsOf(opq).withColumnRenamed("n", "no")
      qFrame.select(col("qid").as("query_id"))
        .join(hp, Seq("query_id"), "left")
        .join(ho, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("np"), lit(0L)).as("n_hit_pq"),
          coalesce(col("no"), lit(0L)).as("n_hit_opq"),
          (coalesce(col("np"), lit(0L)).cast("double") / 10.0)
            .as("recall10_pq"),
          (coalesce(col("no"), lit(0L)).cast("double") / 10.0)
            .as("recall10_opq"))
        .orderBy("query_id")
    })

  /** embeddings as (vec_id, v: array<double>), checkpointed — the
    * frame every PQ stage (4 subspace fits, codes, exact lane) reads. */
  private def pqFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("v"))
      .localCheckpoint(true)

  /** Fit the M=4 x 16-dim PQ codebooks (k=4, 2 pinned L2 Lloyd
    * rounds each) — [[Lloyd.fitL2]] with one lane per subspace slice:
    * one exploded aggregate per round across all 4 lanes, codebooks
    * bit-identical to 1-lane fits (LloydSpec). */
  private def pqFit(frame: org.apache.spark.sql.DataFrame)
      : IndexedSeq[Array[Array[Double]]] =
    Lloyd.fitL2(frame,
      pqSubs.map(sub => slice(col("v"), 16 * sub + 1, 16)),
      "vec_id", k = 4, dim = 16, iters = 2)

  /** Encode every row as its 4 code bytes k0..k3 (+ passthrough
    * columns) — ONE projection over broadcast codebook literals. */
  private def pqCodesW(frame: org.apache.spark.sql.DataFrame,
      cents: IndexedSeq[Array[Array[Double]]],
      passthrough: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    frame.select((col("vec_id") +: passthrough.map(col)) ++
      pqSubs.map(sub => Lloyd.assignL2(
        slice(col("v"), 16 * sub + 1, 16), cents(sub))
        .as(s"k$sub")): _*)

  /** The query vectors (vec_id < 5) as driver rows. */
  private def pqQueryRows(frame: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Array[Double])] =
    frame.filter(col("vec_id") < 5)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** [[Lloyd.sqDist]]'s pinned 0.0-init accumulation over one 16-dim
    * subspace — the driver-side twin of the SQL dist16 lane. */
  private def pqD16(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < 16) {
      val t = a(i) - b(i); acc = acc + t * t; i += 1
    }
    acc
  }

  /** Per-query 4x4 ADC tables (qid, c$sub, d$sub), broadcast — same
    * 0.0-init fold as the SQL lane. */
  /** The exact top-10 truth of the PQ recall rows: per query (qid, qv)
    * of `qFrame`, the 10 `frame` vectors (vec_id, v) nearest by
    * squared L2 (ties vec_id ASC), as (qid, vec_id). */
  private def exactTop10(frame: org.apache.spark.sql.DataFrame,
      qFrame: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val exd = frame.join(qFrame, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        aggregate(zip_with(col("qv"), col("v"),
          (x, y) => (x - y) * (x - y)), lit(0.0),
          (acc, t) => acc + t).as("dx"))
    val wX = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dx").asc, col("vec_id").asc)
    exd.withColumn("rn", row_number().over(wX))
      .filter(col("rn") <= 10).select("qid", "vec_id")
  }

  private def pqQdTables(s: org.apache.spark.sql.SparkSession,
      qRows: Seq[(Long, Array[Double])],
      cents: IndexedSeq[Array[Array[Double]]])
      : IndexedSeq[org.apache.spark.sql.DataFrame] = {
    import s.implicits._
    pqSubs.map { sub =>
      val rows = for {
        (qid, qv) <- qRows
        c <- 0 until 4
      } yield (qid, c,
        pqD16(qv.slice(16 * sub, 16 * sub + 16), cents(sub)(c)))
      broadcast(rows.toDF("qid", s"c$sub", s"d$sub"))
    }
  }

  val pqRecall = QueryDef(
    "q_pq_recall", {
      val (slices, inits, rounds, codes, qds) =
        (pqSlicesSql, pqInitsSql, pqRoundsSql, pqCodesSql, pqQdsSql)
      Some(s"""WITH corpusv AS (
               SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE))
                        AS v
               FROM embeddings),
             $slices,
             $inits,
             $rounds,
             $codes,
             $qds,
             codesw AS (
               SELECT c0.vec_id, c0.c AS k0, c1.c AS k1,
                      c2.c AS k2, c3.c AS k3
               FROM codes_0 c0
               JOIN codes_1 c1 USING (vec_id)
               JOIN codes_2 c2 USING (vec_id)
               JOIN codes_3 c3 USING (vec_id)),
             est AS (
               SELECT q0.qid, w.vec_id,
                      ((q0.d + q1.d) + q2.d) + q3.d AS adist
               FROM codesw w
               JOIN qd_0 q0 ON q0.c = w.k0
               JOIN qd_1 q1 ON q1.c = w.k1 AND q1.qid = q0.qid
               JOIN qd_2 q2 ON q2.c = w.k2 AND q2.qid = q0.qid
               JOIN qd_3 q3 ON q3.c = w.k3 AND q3.qid = q0.qid
               WHERE w.vec_id <> q0.qid),
             approx AS (
               SELECT qid, vec_id FROM (
                 SELECT qid, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY adist ASC, vec_id ASC) AS rn
                 FROM est) za WHERE rn <= 10),
             exd AS (
               SELECT q.vec_id AS qid, e.vec_id,
                      ${dist64("q.v", "e.v")} AS d
               FROM (SELECT vec_id, v FROM corpusv WHERE vec_id < 5) q,
                    corpusv e
               WHERE e.vec_id <> q.vec_id),
             exr AS (
               SELECT qid, vec_id FROM (
                 SELECT qid, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY d ASC, vec_id ASC) AS rn
                 FROM exd) zx WHERE rn <= 10),
             hits AS (
               SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
               FROM approx a JOIN exr x
                 ON x.qid = a.qid AND x.vec_id = a.vec_id
               GROUP BY a.qid)
             SELECT q.qid AS query_id,
                    COALESCE(h.n_hit, 0) AS n_hit,
                    CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0
                      AS recall10
             FROM (SELECT DISTINCT vec_id AS qid FROM corpusv
                   WHERE vec_id < 5) q
             LEFT JOIN hits h ON h.qid = q.qid
             ORDER BY query_id""")
    },
    (s, d) => {
      val frame = pqFrame(s, d)
      val cents = pqFitRawCached(s, d)
      val codesw = pqCodesW(frame, cents)
      val qRows = pqQueryRows(frame)
      val qd = pqQdTables(s, qRows, cents)
      val est = codesw
        .join(qd(0), col("c0") === col("k0"))
        .join(qd(1), col("c1") === col("k1") && qd(1)("qid") === qd(0)("qid"))
        .join(qd(2), col("c2") === col("k2") && qd(2)("qid") === qd(0)("qid"))
        .join(qd(3), col("c3") === col("k3") && qd(3)("qid") === qd(0)("qid"))
        .where(col("vec_id") =!= qd(0)("qid"))
        .select(qd(0)("qid").as("qid"), col("vec_id"),
          (((col("d0") + col("d1")) + col("d2")) + col("d3"))
            .as("adist"))
      val wA = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("adist").asc, col("vec_id").asc)
      val approx = est.withColumn("rn", row_number().over(wA))
        .filter(col("rn") <= 10).select("qid", "vec_id")
      val qFrame = broadcast(frame.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv")))
      val exr = exactTop10(frame, qFrame)
      val hits = approx.join(exr, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      qFrame.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid").as("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0)
            .as("recall10"))
        .orderBy("query_id")
    })

  /** The Spark lane of [[annIvfPq]], reusable at any k (the recall
    * curve reads it at k = 10): IVF assignment rides the PQ frame as a
    * passthrough column, probes/ADC tables are driver-built broadcast
    * literals, candidate generation is the probe equi-join, scoring is
    * 4 code-table equi-joins. */
  private[queries] def ivfPqTopK(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int = 10, nprobe: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
    val index = ivf16Cached(s, d)
    val frame = e
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        index.assignExpr(col("embedding")).as("list_id"))
      .localCheckpoint(true)
    // same codebooks as the raw-PQ lane: Lloyd.fitL2 reads only
    // (vec_id, v) and this frame's v is the identical raw cast
    val cents = pqFitRawCached(s, d)
    val codesw = pqCodesW(frame, cents, passthrough = Seq("list_id"))
    val qRows = pqQueryRows(frame)
    val qd = pqQdTables(s, qRows, cents)
    import s.implicits._
    val probes = broadcast(qRows.flatMap { case (qid, qv) =>
      index.probeLists(qv, nprobe).map(l => (qid, l))
    }.toDF("pqid", "list_id"))
    graft.ops.AnnIndex.adcTopK(codesw, probes, qd, k)
  }

  /** The Spark lane of q_ann_ivfadc (X296 — TRUE IVFADC: PQ codebooks
    * fit on RESIDUALS v − centroid[cell], Jegou et al. 2011 §III.C;
    * residuals concentrate around the origin so the same 4-bit budget
    * quantizes finer than raw vectors). Differences from [[ivfPqTopK]]:
    * the PQ frame's v column is the exact element-wise residual
    * (centroid literals ride in as a map, one zip_with), and the ADC
    * tables are per (query, PROBED CELL) — the query's residual
    * changes with the cell it probes, so qd rows carry list_id and the
    * est join matches on it. */
  /** The IVF-residual frame (vec_id, v = vector − cell centroid,
    * list_id), checkpointed — residual codes + fit share it. */
  private def pqFrameResidual(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val index = ivf16Cached(s, d)
    val centMap: Map[Int, Seq[Double]] = index.centroids.zipWithIndex
      .map { case (c, i) => i -> c.toSeq }.toMap
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        index.assignExpr(col("embedding")).as("list_id"))
      .withColumn("v", zip_with(col("v"),
        element_at(typedLit(centMap), col("list_id")), (a, b) => a - b))
      .localCheckpoint(true)
  }

  private[queries] def ivfPqResidualTopK(
      s: org.apache.spark.sql.SparkSession, d: String, k: Int = 10,
      nprobe: Int = 4): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
    val index = ivf16Cached(s, d)
    val frame = pqFrameResidual(s, d)
    val cents = pqFitResCached(s, d, frame) // codebooks on residuals
    val codesw = pqCodesW(frame, cents, passthrough = Seq("list_id"))
    val qVecs = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    import s.implicits._
    val probePairs = qVecs.flatMap { case (qid, qv) =>
      index.probeLists(qv, nprobe).map(l => (qid, l))
    }
    val probes = broadcast(probePairs.toSeq.toDF("pqid", "list_id"))
    // per-(query, probed cell) residual ADC tables: rv = qv − cell
    // centroid, same element-wise subtraction as the corpus lane
    val qd = pqSubs.map { sub =>
      val rows = for {
        (qid, l) <- probePairs.toSeq
        rv = qVecs.collectFirst { case (q, v) if q == qid => v }.get
          .zip(index.centroids(l)).map { case (a, b) => a - b }
        c <- 0 until 4
      } yield (qid, l, c,
        pqD16(rv.slice(16 * sub, 16 * sub + 16), cents(sub)(c)))
      broadcast(rows.toDF("qid", s"ld$sub", s"c$sub", s"d$sub"))
    }
    val est = codesw
      .join(probes, Seq("list_id"))
      .join(qd(0), col("c0") === col("k0") &&
        qd(0)("qid") === col("pqid") && col("ld0") === col("list_id"))
      .join(qd(1), col("c1") === col("k1") &&
        qd(1)("qid") === col("pqid") && col("ld1") === col("list_id"))
      .join(qd(2), col("c2") === col("k2") &&
        qd(2)("qid") === col("pqid") && col("ld2") === col("list_id"))
      .join(qd(3), col("c3") === col("k3") &&
        qd(3)("qid") === col("pqid") && col("ld3") === col("list_id"))
    graft.ops.AnnIndex.adcRank(est, k)
  }

  /** DuckDB twin of [[Lloyd.sqDist]]'s 0.0-init zip-fold (the
    * recorded fold-equivalence: list_reduce's first-element seed ≡
    * aggregate's 0.0 init because 0.0 + e₁ ≡ e₁). */
  private def sqD(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, 65),
          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"""

  private val KcRounds = 6

  /** One greedy k-center round in SQL: every vector's min squared
    * distance to the current center set (cross join over ≤k centers,
    * keyed MIN), farthest point wins (d DESC, vec_id ASC). */
  private def kcenterRoundSql(r: Int): String = s"""
md_$r AS (
  SELECT e.vec_id, MIN(${sqD("c.v", "e.v")}) AS d
  FROM corpusv e, cents_${r - 1} c GROUP BY e.vec_id),
pick_$r AS MATERIALIZED (
  SELECT vec_id, d FROM md_$r ORDER BY d DESC, vec_id LIMIT 1),
cents_$r AS MATERIALIZED (
  SELECT vec_id, v FROM cents_${r - 1}
  UNION ALL
  SELECT p.vec_id, cv.v FROM pick_$r p
  JOIN corpusv cv ON cv.vec_id = p.vec_id)"""

  /** Greedy k-center coreset selection (X263 — Gonzalez 1985
    * farthest-point traversal, the 2-approximation every diversity-
    * aware data-selection pipeline uses as the geometric sibling of
    * X213's coverage greedy: pick the point FARTHEST from the chosen
    * set, k−1 times from the lowest-id seed). Scale shape (the
    * X212/X189 pinned-round discipline): per round ONE distributed
    * pass — min-distance against ≤k centroid literals (a per-row
    * element-wise expression) into a TakeOrdered top-1 (per-partition
    * heaps + driver merge, no global sort, no corpus shuffle); the
    * driver holds only the k picked vectors. Distances are
    * element-wise zip-folds of exact doubles — bit-identical
    * cross-engine (the Lloyd.sqDist contract), so ranks and emitted
    * d hash RAW with (d DESC, vec_id ASC) tie-breaks. */
  val kcenter = QueryDef(
    "q_kcenter",
    Some(s"""WITH corpusv AS MATERIALIZED (
             SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE))
                      AS v
             FROM embeddings),
           seedv AS MATERIALIZED (
             SELECT vec_id, v FROM corpusv ORDER BY vec_id LIMIT 1),
           cents_1 AS MATERIALIZED (SELECT vec_id, v FROM seedv),
           ${(2 to KcRounds).map(kcenterRoundSql).mkString(",")}
           SELECT CAST(1 AS INT) AS sel_rank, vec_id,
                  CAST(NULL AS DOUBLE) AS d
           FROM seedv
           ${(2 to KcRounds).map(r =>
             s"UNION ALL SELECT CAST($r AS INT), vec_id, d FROM pick_$r")
             .mkString("\n           ")}
           ORDER BY sel_rank"""),
    (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")).persist()
      try {
        val seed = emb.orderBy("vec_id").limit(1)
          .select("vec_id", "v").collect()(0)
        var centers =
          Vector(seed.getSeq[Double](1).toArray)
        val picks = Seq.newBuilder[(Int, Long, Option[Double])]
        picks += ((1, seed.getLong(0), None))
        for (r <- 2 to KcRounds) {
          val dists = array(centers.map(c =>
            Lloyd.sqDist(col("v"), c)): _*)
          val top = emb
            .select(col("vec_id"), col("v"), array_min(dists).as("d"))
            .orderBy(col("d").desc, col("vec_id")).limit(1)
            .collect()(0) // 1 row: bounded driver metadata
          picks += ((r, top.getLong(0), Some(top.getDouble(2))))
          centers :+= top.getSeq[Double](1).toArray
        }
        import s.implicits._
        picks.result().toDF("sel_rank", "vec_id", "d")
          .orderBy("sel_rank")
      } finally emb.unpersist()
    })

  val all: Seq[QueryDef] = Seq(kmeansLloyd, coverageSelect, pqRecall,
    kcenter, annOpq)
}
