package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Num, SketchFunctions, Text}
import graft.ops.{Bloom, Profile}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation operators: bloom-filter join pruning, bounded-memory
  * frequency estimation, BM25 relevance scoring, per-domain caps, and
  * column profiling — the policy/stat passes a 100 TB training-data
  * build runs between dedup and packing. All oracle-checked: every
  * sketch here is built from portable md5-derived hashes so DuckDB
  * replays estimates (and false positives) bit-for-bit.
  */
object CurationQueries {

  // DuckDB-side token list, mirroring Text.tokens (same as TextQueries)
  private val sqlToks =
    """list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)"""

  // ---------------------------------------------------------------- bloom

  private val BloomM = 1024 // bits
  private val BloomJ = 3    // hash functions

  /** DuckDB list literal of a key's bloom bit positions. */
  private def posListSql(key: String): String =
    (0 until BloomJ)
      .map(i => Bloom.hashModSql(s"bloom$i:", key, BloomM))
      .mkString("[", ", ", "]")

  /** Bloom-filter join pruning: build a 1024-bit filter over the
    * suppliers of nations 0–4, probe every distinct lineitem supplier
    * join-free (the bitset is a literal; membership tests are
    * codegen'd md5 + bit ops AT the scan). The oracle replays the
    * exact bit positions, so true members AND false positives both
    * hash-match — the pruning decision itself is verified, not just
    * its effect. */
  val bloomPrune = QueryDef(
    "q_bloom_prune",
    Some(s"""WITH build AS (
               SELECT DISTINCT s_suppkey AS k FROM supplier
               WHERE s_nationkey < 5),
             bl AS (
               SELECT list(DISTINCT p) AS bset
               FROM (SELECT unnest(${posListSql("k")}) AS p FROM build)),
             probe AS (SELECT DISTINCT l_suppkey AS suppkey FROM lineitem)
             SELECT p.suppkey,
                    len(list_filter(${posListSql("p.suppkey")},
                        x -> list_contains(bl.bset, x))) = $BloomJ
                      AS bloom_pass,
                    p.suppkey IN (SELECT k FROM build) AS member
             FROM probe p CROSS JOIN bl
             ORDER BY suppkey"""),
    (s, d) => {
      val build = Tables.supplier(s, d).filter(col("s_nationkey") < 5)
      val words = Bloom.buildBits(build, col("s_suppkey"), BloomM, BloomJ)
      val marks = build.select(col("s_suppkey").as("suppkey")).distinct()
        .withColumn("member", lit(true))
      Tables.lineitem(s, d)
        .select(col("l_suppkey").as("suppkey")).distinct()
        .withColumn("bloom_pass",
          Bloom.mightContain(col("suppkey"), words, BloomM, BloomJ))
        .join(broadcast(marks), Seq("suppkey"), "left")
        .select(col("suppkey"), col("bloom_pass"),
          coalesce(col("member"), lit(false)).as("member"))
        .orderBy("suppkey")
    })

  // ------------------------------------------------------------------ cms

  private val CmsD = 4   // sketch rows
  private val CmsW = 256 // counters per row

  /** Count-Min frequency estimation (custom cms_sketch aggregate): one
    * 8 KB sketch over all events, then per-user point estimates (min
    * over the d probed counters) next to exact counts for a
    * deterministic probe set. The oracle recomputes every counter as a
    * collision-group count, so the ESTIMATES hash-match — including
    * their overestimation error, whose one-sidedness (est ≥ exact, the
    * CMS guarantee) rides along as a checked boolean. */
  val heavyHitters = QueryDef(
    "q_heavy_hitters", {
      val posUnion = (0 until CmsD).map { r =>
        s"""SELECT $r AS r, ${Bloom.hashModSql(s"cms$r:", "user_id", CmsW)}
              AS c FROM events"""
      }.mkString(" UNION ALL ")
      val probeJoin = (0 until CmsD).map { r =>
        s"""(cl.r = $r AND
             cl.c = ${Bloom.hashModSql(s"cms$r:", "e.user_id", CmsW)})"""
      }.mkString(" OR ")
      Some(s"""WITH pos AS ($posUnion),
               cells AS (
                 SELECT r, c, CAST(COUNT(*) AS BIGINT) AS n
                 FROM pos GROUP BY r, c),
               ex AS (
                 SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
                 FROM events WHERE user_id % 10 = 0 GROUP BY user_id),
               pe AS (
                 SELECT e.user_id, e.n_exact, MIN(cl.n) AS cms_est
                 FROM ex e JOIN cells cl ON ($probeJoin)
                 GROUP BY e.user_id, e.n_exact)
               SELECT user_id, n_exact, cms_est,
                      cms_est >= n_exact AS over_ok
               FROM pe ORDER BY user_id""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      def cellOf(r: Int) = Bloom.hashMod(s"cms$r:", col("user_id"), CmsW)
      val cells = array((0 until CmsD).map(cellOf): _*)
      // the sketch: one bounded matrix, collected (8 KB, metadata-sized
      // by construction) and probed as a literal — same shape as the
      // bloom bitset
      val sketch: Array[Long] = ev
        .agg(SketchFunctions.cmsSketch(cells, CmsD, CmsW).as("sk"))
        .collect()(0).getAs[scala.collection.Seq[Long]](0).toArray
      val est = least((0 until CmsD).map { r =>
        element_at(lit(sketch), (lit(r * CmsW) + cellOf(r)).cast("int") + 1)
      }: _*)
      ev.filter(col("user_id") % 10 === 0)
        .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .withColumn("cms_est", est)
        .withColumn("over_ok", col("cms_est") >= col("n_exact"))
        .orderBy("user_id")
    })

  // ----------------------------------------------------------------- bm25

  private val Bm25Terms = Seq("spark", "vector", "stream")

  /** BM25 relevance scoring (Robertson–Spärck Jones; k1=1.2, b=0.75)
    * of every document against a fixed term set — the ranking pass of
    * search-style curation. Corpus stats (N, Σdl, per-term df — all
    * integer-exact, so order-independent) reduce in one aggregation
    * and return as literals; the per-doc score is then pure codegen'd
    * arithmetic. Top 20 by (rounded score, doc_id) so the ranking
    * itself is cross-engine deterministic. */
  val bm25 = QueryDef(
    "q_bm25", {
      val tfCols = Bm25Terms.map(t =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$t")
        .mkString(", ")
      val dfCols = Bm25Terms.map(t =>
        s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
        .mkString(", ")
      // mirrors the Spark expression tree exactly:
      //   idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
      val scoreSql = Bm25Terms.map(t =>
        s"""ln(1 + (g.n - g.df_$t + 0.5) / (g.df_$t + 0.5)) *
            (b.tf_$t * 2.2) /
            (b.tf_$t + 1.2 * (0.25 + (0.75 * b.dl) / (g.sdl / g.n)))""")
        .mkString(" + ")
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
               base AS (
                 SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, $tfCols
                 FROM t),
               g AS (
                 SELECT CAST(SUM(dl) AS DOUBLE) AS sdl,
                        CAST(COUNT(*) AS DOUBLE) AS n, $dfCols
                 FROM base),
               sc AS (
                 SELECT b.doc_id, $scoreSql AS score
                 FROM base b CROSS JOIN g)
               SELECT doc_id, ${Num.qroundSql("score", 4)} AS bm25
               FROM sc WHERE ${Num.qroundSql("score", 4)} > 0
               ORDER BY bm25 DESC, doc_id LIMIT 20""")
    },
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id") +: size(toks).cast("double").as("dl") +:
          Bm25Terms.map(t =>
            size(filter(toks, x => x === lit(t))).cast("double")
              .as(s"tf_$t")): _*)
      // corpus stats: integer-valued sums/counts — exact in double at
      // any aggregation order, so driver literals replay in SQL
      val statAggs = sum("dl").as("sdl") +:
        count(lit(1)).cast("double").as("n") +:
        Bm25Terms.map(t =>
          sum((col(s"tf_$t") > 0).cast("long")).cast("double").as(s"df_$t"))
      val st = base.agg(statAggs.head, statAggs.tail: _*).collect()(0)
      val sdl = st.getAs[Double]("sdl")
      val n = st.getAs[Double]("n")
      val avgdl = sdl / n
      val score = Bm25Terms.map { t =>
        val dfT = st.getAs[Double](s"df_$t")
        val idf = math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
        lit(idf) * (col(s"tf_$t") * lit(2.2)) /
          (col(s"tf_$t") +
            lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / lit(avgdl)))
      }.reduce(_ + _)
      base.select(col("doc_id"), Num.qround(score, 4).as("bm25"))
        .filter(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    })

  // ----------------------------------------------------------- domain cap

  /** Per-domain document caps (the RefinedWeb/C4 "at most N pages per
    * host" heuristic): keep ≤ 10 docs per source, chosen by a
    * deterministic md5 order so the kept set is reproducible across
    * engines, partitionings and reruns — never "first N seen". */
  val domainCap = QueryDef(
    "q_domain_cap",
    Some("""SELECT doc_id, source, keep_rank FROM (
              SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS BIGINT) AS keep_rank
              FROM documents)
            WHERE keep_rank <= 10 ORDER BY doc_id"""),
    (s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("cap:"), col("doc_id").cast("string"))),
          col("doc_id"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .withColumn("keep_rank", row_number().over(w).cast("long"))
        .filter(col("keep_rank") <= 10)
        .orderBy("doc_id")
    })

  // -------------------------------------------------------------- profile

  private val ProfileCols = Seq("o_custkey", "o_orderkey", "o_orderpriority",
    "o_orderstatus", "o_totalprice")

  /** Column profiling over `orders` (null counts, cardinalities,
    * extrema) — one aggregation pass for all columns, stacked tall. */
  val profileOrders = QueryDef(
    "q_profile", {
      val perCol = ProfileCols.map { c =>
        s"""SELECT '$c' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
                   CAST(MIN($c) AS VARCHAR) AS min_s,
                   CAST(MAX($c) AS VARCHAR) AS max_s
            FROM orders"""
      }.mkString(" UNION ALL ")
      Some(s"SELECT * FROM ($perCol) ORDER BY column_name")
    },
    (s, d) => Profile.profile(Tables.orders(s, d), ProfileCols)
      .orderBy("column_name"))

  // ----------------------------------------------------------- domain mix

  private val MixTarget = 200L

  /** Weighted training-mixture sampling: apportion a fixed 200-doc
    * budget across sources by weight (largest-remainder method, the
    * exact apportionment a data-mixing recipe needs — floors sum short,
    * so the highest fractional remainders get the leftovers), then
    * fill each source's quota by deterministic md5 rank. Source
    * weights derive from the source name (suffix % 4 + 1) so the whole
    * allocation — quotas, tie-breaks, picks — replays in SQL.
    *
    * Scale design: the allocation runs on the per-source profile
    * (domain-count-sized, collected by contract like the dictionary
    * rows); the corpus-side pass is one window rank + a broadcast
    * quota join — no global sort, no second scan. */
  val domainMix = QueryDef(
    "q_domain_mix",
    Some(s"""WITH sw AS (
               SELECT source,
                      CAST(TRY_CAST(regexp_extract(source, '(\\d+)', 1)
                        AS BIGINT) % 4 + 1 AS DOUBLE) AS w
               FROM documents GROUP BY source),
             tot AS (SELECT SUM(w) AS sumw FROM sw),
             q AS (SELECT source, (w * 200.0) / sumw AS qe
                   FROM sw CROSS JOIN tot),
             a AS (SELECT source, CAST(FLOOR(qe) AS BIGINT) AS base,
                          qe - FLOOR(qe) AS rem FROM q),
             l AS (SELECT $MixTarget - SUM(base) AS leftover FROM a),
             rk AS (SELECT source, base,
                           ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                             AS rr
                    FROM a),
             alloc AS (
               SELECT source,
                      base + CASE WHEN rr <= (SELECT leftover FROM l)
                                  THEN 1 ELSE 0 END AS quota
               FROM rk),
             sel AS (
               SELECT doc_id, d.source,
                      CAST(ROW_NUMBER() OVER (PARTITION BY d.source
                        ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)),
                                 doc_id) AS BIGINT) AS pick_rank
               FROM documents d)
             SELECT s.doc_id, s.source, s.pick_rank
             FROM sel s JOIN alloc a ON a.source = s.source
             WHERE s.pick_rank <= a.quota ORDER BY s.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      // allocation over the per-source profile: domain-count rows,
      // driver-side by contract; arithmetic is floor/remainder-exact so
      // it replays in SQL
      val srcRows = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .select(col("source"),
          (regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 4 + 1)
            .cast("double").as("w"))
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      val sumw = srcRows.map(_._2).sum // integer-valued doubles: exact
      val quotas = srcRows.map { case (src, w) =>
        val qe = (w * 200.0) / sumw
        (src, math.floor(qe).toLong, qe - math.floor(qe))
      }
      val leftover = (MixTarget - quotas.map(_._2).sum).toInt
      val bumped = quotas.sortBy { case (src, _, rem) => (-rem, src) }
        .zipWithIndex
        .map { case ((src, base, _), i) =>
          (src, if (i < leftover) base + 1 else base)
        }
      import s.implicits._
      val alloc = broadcast(bumped.toSeq.toDF("source", "quota"))
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("mix:"), col("doc_id").cast("string"))),
          col("doc_id"))
      docs.select(col("doc_id"), col("source"))
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .join(alloc, Seq("source"))
        .filter(col("pick_rank") <= col("quota"))
        .select(col("doc_id"), col("source"), col("pick_rank"))
        .orderBy("doc_id")
    })

  /** Temperature-scaled source mixing (X78 — mT5's α-sampling, Xue et
    * al. 2021: sampling probability p_s ∝ n_s^α with α<1 upweights
    * low-resource sources; the multilingual counterpart of X40's
    * given-weight apportionment, with the weights LEARNED from corpus
    * statistics instead of handed in). The apportionment is
    * integer-exact end to end: the only float step is
    * w_s = floor(n_s^0.3 · 10⁶ + 0.5) (the qround device cast to
    * BIGINT — libm pow agrees across engines to ≪ the 0.5 boundary),
    * after which quotas are integer division and the largest-remainder
    * bump ranks INTEGER remainders (200·w mod Σw) with a source
    * tie-break — no float compare anywhere near a rounding boundary.
    * Per-group counts are one groupBy; the allocation is
    * |groups|-sized driver metadata by contract (the X40 device).
    *
    * The corpus's 20 sources are uniform (25 docs each — temperature
    * would be a no-op), so the mix runs over a skewed deterministic
    * grouping: sources 0–11 pool into 'high', 12–17 'mid', 18+ 'low'
    * (60/30/10% of the corpus) — at α = 0.3 the low-resource pool's
    * share rises from its raw 10% to ~25%, the exact effect the
    * operator exists for (and what EvalQueriesSpec pins). */
  val temperatureMix = QueryDef(
    "q_temperature_mix",
    Some(s"""WITH sc AS (
               SELECT CASE
                        WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1)
                          AS INT) < 12 THEN 'high'
                        WHEN TRY_CAST(regexp_extract(source, '(\\d+)', 1)
                          AS INT) < 18 THEN 'mid'
                        ELSE 'low' END AS grp,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY 1),
             iw AS (
               SELECT grp, n,
                      CAST(FLOOR(pow(CAST(n AS DOUBLE), 0.3) * 1000000
                        + 0.5) AS BIGINT) AS w
               FROM sc),
             tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw,
                            CAST(SUM(n) AS BIGINT) AS sumn FROM iw),
             a AS (
               SELECT grp, n, w,
                      (200 * w) // tot.sumw AS base,
                      (200 * w) % tot.sumw AS rem
               FROM iw CROSS JOIN tot),
             l AS (
               SELECT 200 - CAST(SUM(base) AS BIGINT) AS leftover FROM a),
             rk AS (
               SELECT grp, n, w, base,
                      ROW_NUMBER() OVER (ORDER BY rem DESC, grp) AS rr
               FROM a)
             SELECT rk.grp, rk.n AS n_docs,
                    ${Num.qroundSql("CAST(rk.n AS DOUBLE) / tot.sumn", 6)}
                      AS raw_share,
                    ${Num.qroundSql("CAST(rk.w AS DOUBLE) / tot.sumw", 6)}
                      AS share,
                    CAST(rk.base + CASE WHEN rk.rr <= l.leftover
                      THEN 1 ELSE 0 END AS BIGINT) AS quota
             FROM rk CROSS JOIN tot CROSS JOIN l
             ORDER BY rk.grp"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      // per-group profile: 3 rows, driver-side by contract
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
      val counts = docs
        .groupBy(when(srcNum < 12, "high").when(srcNum < 18, "mid")
          .otherwise("low").as("grp"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val iw = counts.map { case (g, n) =>
        (g, n,
          math.floor(math.pow(n.toDouble, 0.3) * 1000000 + 0.5).toLong)
      }
      val sumw = iw.map(_._3).sum
      val sumn = iw.map(_._2).sum
      val based = iw.map { case (g, n, w) =>
        (g, n, w, 200L * w / sumw, 200L * w % sumw)
      }
      val leftover = (200L - based.map(_._4).sum).toInt
      val rows = based.sortBy { case (g, _, _, _, rem) => (-rem, g) }
        .zipWithIndex
        .map { case ((g, n, w, base, _), i) =>
          (g, n,
            Num.qround(n.toDouble / sumn, 6),
            Num.qround(w.toDouble / sumw, 6),
            if (i < leftover) base + 1 else base)
        }
        .sortBy(_._1)
      import s.implicits._
      rows.toSeq.toDF("grp", "n_docs", "raw_share", "share", "quota")
    })

  /** Neyman-allocation stratified sampling (X85 — Neyman 1934's
    * optimal allocation, the statistics-driven third member of the
    * apportionment family: X40 splits by GIVEN weights, X78 by
    * corpus-SIZE temperature, this by size × within-stratum
    * VARIABILITY, n_s ∝ N_s·σ_s — high-variance strata need more
    * samples for the same estimator precision, uniform strata fewer).
    * σ_s is the population stddev of n_chars from EXACT integer sums
    * (Σx, Σx² as BIGINTs — one grouped aggregate), so the single
    * sqrt((sq − s²/n)/n) expression tree is bit-identical across
    * engines; the weight then drops onto the X78 integer grid
    * (floor(N·σ·10³ + 0.5)) and quotas are the same integer
    * largest-remainder apportionment — no float compare near a
    * boundary. A zero-variance stratum gets weight 0 (the classic
    * Neyman caveat, recorded rather than patched). */
  val neymanAlloc = QueryDef(
    "q_neyman_alloc",
    Some(s"""WITH sc AS (
               SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(n_chars) AS BIGINT) AS s,
                      CAST(SUM(n_chars * n_chars) AS BIGINT) AS sq
               FROM documents GROUP BY source),
             sg AS (
               SELECT source, n,
                      sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                        / CAST(n AS DOUBLE)) AS sigma
               FROM sc),
             iw AS (
               SELECT source, n, sigma,
                      CAST(FLOOR(CAST(n AS DOUBLE) * sigma * 1000
                        + 0.5) AS BIGINT) AS w
               FROM sg),
             tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM iw),
             a AS (
               SELECT source, n, sigma, w,
                      (100 * w) // tot.sumw AS base,
                      (100 * w) % tot.sumw AS rem
               FROM iw CROSS JOIN tot),
             l AS (
               SELECT 100 - CAST(SUM(base) AS BIGINT) AS leftover FROM a),
             rk AS (
               SELECT source, n, sigma, base,
                      ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr
               FROM a)
             SELECT rk.source, rk.n AS n_docs,
                    ${Num.qroundSql("rk.sigma", 6)} AS sigma,
                    CAST(rk.base + CASE WHEN rk.rr <= l.leftover
                      THEN 1 ELSE 0 END AS BIGINT) AS quota
             FROM rk CROSS JOIN l
             ORDER BY rk.source"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val rows = docs.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("s"),
          sum(col("n_chars") * col("n_chars")).as("sq"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      val sg = rows.map { case (src, n, sm, sq) =>
        // the EXACT expression tree the oracle evaluates
        (src, n, math.sqrt((sq.toDouble - sm.toDouble * sm.toDouble
          / n.toDouble) / n.toDouble))
      }
      val iw = sg.map { case (src, n, sigma) =>
        (src, n, sigma,
          math.floor(n.toDouble * sigma * 1000 + 0.5).toLong)
      }
      val sumw = iw.map(_._4).sum
      val based = iw.map { case (src, n, sigma, w) =>
        (src, n, sigma, w, 100L * w / sumw, 100L * w % sumw)
      }
      val leftover = (100L - based.map(_._5).sum).toInt
      val out = based
        .sortBy { case (src, _, _, _, _, rem) => (-rem, src) }
        .zipWithIndex
        .map { case ((src, n, sigma, _, base, _), i) =>
          (src, n, Num.qround(sigma, 6),
            if (i < leftover) base + 1 else base)
        }
        .sortBy(_._1)
      import s.implicits._
      out.toSeq.toDF("source", "n_docs", "sigma", "quota")
    })

  /** Composed curation audit (X79 — the decision-provenance pass a
    * production corpus build ships next to the corpus itself: every
    * document gets its keep/drop verdict AND the first policy that
    * dropped it, so "why did my page disappear" is a lookup, not an
    * investigation). Priority chain over three existing
    * oracle-checked stages: benchmark contamination (X13, >5%
    * 8-gram overlap) → quality filter (X20) → near-dup cluster loser
    * (X6, canonical ≠ self). Pure composition: the stage verdicts
    * join on doc_id (fixed-width keys), so the audit adds one
    * broadcast-scale join layer over already-audited plans. */
  val curationAudit = QueryDef(
    "q_curation_audit",
    Some(s"""WITH ct AS (${TextQueries.contamination.oracle.get}),
             qf AS (${TextQueries.qualityFilter.oracle.get}),
             dc AS (${SimilarityQueries.dedupClusters.oracle.get})
             SELECT d.doc_id,
                    (ct.contamination > 0.05) AS contaminated,
                    (qf.doc_id IS NOT NULL) AS quality_ok,
                    (dc.canonical_id <> d.doc_id) AS dup_loser,
                    CASE WHEN ct.contamination > 0.05 THEN 'contaminated'
                         WHEN qf.doc_id IS NULL THEN 'quality'
                         WHEN dc.canonical_id <> d.doc_id THEN 'duplicate'
                         ELSE 'kept' END AS reason,
                    (ct.contamination <= 0.05 AND qf.doc_id IS NOT NULL
                      AND dc.canonical_id = d.doc_id) AS kept
             FROM documents d
               JOIN ct ON ct.doc_id = d.doc_id
               JOIN dc ON dc.doc_id = d.doc_id
               LEFT JOIN qf ON qf.doc_id = d.doc_id
             ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id")
      val ct = TextQueries.contamination.fn(s, d)
        .select(col("doc_id"), col("contamination"))
      val qf = TextQueries.qualityFilter.fn(s, d)
        .select(col("doc_id"), lit(true).as("__q"))
      val dc = SimilarityQueries.dedupClusters.fn(s, d)
        .select(col("doc_id"), col("canonical_id"))
      docs.join(ct, "doc_id").join(dc, "doc_id")
        .join(qf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("contamination") > 0.05).as("contaminated"),
          col("__q").isNotNull.as("quality_ok"),
          (col("canonical_id") =!= col("doc_id")).as("dup_loser"),
          when(col("contamination") > 0.05, "contaminated")
            .when(col("__q").isNull, "quality")
            .when(col("canonical_id") =!= col("doc_id"), "duplicate")
            .otherwise("kept").as("reason"),
          (col("contamination") <= 0.05 && col("__q").isNotNull &&
            col("canonical_id") === col("doc_id")).as("kept"))
        .orderBy("doc_id")
    })

  // ------------------------------------------------------------- snapshot

  /** Incremental corpus refresh (X32): diff two snapshots of the
    * corpus and label every doc_id added / removed / changed /
    * unchanged — the delta classifier that lets a 100 TB rebuild
    * process only the changed slice. The two snapshots are carved
    * deterministically out of `documents`: the old snapshot is missing
    * doc_id % 10 = 7 (→ those come back `added`), the new one drops
    * doc_id % 10 = 3 (→ `removed`) and revises the text of doc_id %
    * 5 = 0 (→ `changed`). Text never crosses the shuffle: each side
    * reduces to (doc_id, md5) before the full-outer join
    * ([[graft.ops.Snapshot]]). */
  /** The two deterministically carved snapshots, shared by the diff
    * and incremental-dedup oracles. */
  private val SnapshotCtes =
    """snap_old AS (
              SELECT doc_id, md5(text) AS old_fp
              FROM documents WHERE doc_id % 10 <> 7),
            snap_new AS (
              SELECT doc_id,
                     md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                              ELSE text END) AS new_fp
              FROM documents WHERE doc_id % 10 <> 3)"""

  /** Spark twins of [[SnapshotCtes]]. */
  private def snapshots(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 10 =!= 7)
    val newSnap = docs.filter(col("doc_id") % 10 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    (oldSnap, newSnap)
  }

  val snapshotDiff = QueryDef(
    "q_snapshot_diff",
    Some(s"""WITH $SnapshotCtes
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   o.old_fp, n.new_fp,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN n.new_fp IS NULL THEN 'removed'
                        WHEN o.old_fp <> n.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM snap_old o FULL OUTER JOIN snap_new n
              ON o.doc_id = n.doc_id
            ORDER BY doc_id"""),
    (s, d) => {
      val (oldSnap, newSnap) = snapshots(s, d)
      graft.ops.Snapshot.diff(oldSnap, newSnap, "doc_id", md5(col("text")))
        .orderBy("doc_id")
    })

  /** Incremental dedup: the refresh delta (added+changed docs) checked
    * against the EXISTING corpus's content fingerprints — only `novel`
    * rows re-enter the expensive dedup/quality pipeline; non-novel
    * rows are re-crawls of content the corpus already holds. Composes
    * X32 → X1: diff classifies by KEY, this pass dedups by CONTENT.
    * The probe join is md5-to-md5 — fixed-width keys, text never
    * shuffles.
    *
    * The new snapshot here extends [[snapshots]]' derivation with
    * planted re-crawls: half the re-added docs (doc_id % 20 = 17)
    * come back carrying doc_id−1's text — content the old corpus
    * already holds — so BOTH `novel` outcomes occur and the probe
    * join's verdict is what the oracle checks. */
  val incrementalDedup = QueryDef(
    "q_incremental_dedup",
    Some(s"""WITH $SnapshotCtes,
            donor AS (
              SELECT doc_id + 1 AS doc_id, text AS donor_text
              FROM documents),
            renew AS (
              SELECT b.doc_id,
                     md5(CASE WHEN b.doc_id % 20 = 17
                              THEN COALESCE(d.donor_text, b.text)
                              WHEN b.doc_id % 5 = 0 THEN b.text || ' rev2'
                              ELSE b.text END) AS new_fp
              FROM documents b LEFT JOIN donor d ON b.doc_id = d.doc_id
              WHERE b.doc_id % 10 <> 3),
            delta AS (
              SELECT n.doc_id, n.new_fp,
                     CASE WHEN o.old_fp IS NULL THEN 'added'
                          ELSE 'changed' END AS status
              FROM renew n LEFT JOIN snap_old o ON n.doc_id = o.doc_id
              WHERE o.old_fp IS NULL OR o.old_fp <> n.new_fp),
            oldfps AS (SELECT DISTINCT old_fp AS fp FROM snap_old)
            SELECT d.doc_id, d.status, f.fp IS NULL AS novel
            FROM delta d LEFT JOIN oldfps f ON d.new_fp = f.fp
            ORDER BY doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val (oldSnap, newSnap0) = snapshots(s, d)
      val donor = docs.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("donor_text"))
      // %20=17 and %5=0 are disjoint, so layering over newSnap0 (which
      // already applied the rev2 edit) matches the oracle's CASE order
      val newSnap = newSnap0.join(donor, Seq("doc_id"), "left_outer")
        .withColumn("text",
          when(col("doc_id") % 20 === 17,
            coalesce(col("donor_text"), col("text")))
            .otherwise(col("text")))
        .drop("donor_text")
      val delta = graft.ops.Snapshot
        .diff(oldSnap, newSnap, "doc_id", md5(col("text")))
        .filter(col("status").isin("added", "changed"))
      val oldFps = oldSnap.select(md5(col("text")).as("fp")).distinct()
      delta.join(oldFps, delta("new_fp") === oldFps("fp"), "left_outer")
        .select(col("doc_id"), col("status"), col("fp").isNull.as("novel"))
        .orderBy("doc_id")
    })

  // -------------------------------------------------------------- banlist

  /** The blocklist phrases; includes a pattern ("key") that is a
    * suffix of another ("fast key") to exercise the automaton's
    * failure-link outputs. */
  private val BanPatterns = Seq("table table", "fast key", "scan query",
    "value table", "key", "slow slow")

  /** Banlist phrase filter (X34): count every (overlapping) occurrence
    * of each blocklist phrase per document with ONE Aho–Corasick pass
    * ([[graft.functions.MultiMatchCounts]]) — the safety/content
    * filter pass of a corpus build. A per-pattern `contains` chain
    * rescans 100 TB once per phrase; the automaton's cost is
    * independent of blocklist size. The oracle recomputes overlapping
    * occurrence counts per pattern positionally, so the automaton's
    * exact hit counts (suffix-output links included) hash-match. */
  val banlist = QueryDef(
    "q_banlist",
    Some {
      val vals = BanPatterns.map(p => s"('$p')").mkString(", ")
      s"""WITH pats AS (SELECT * FROM (VALUES $vals) p(pattern)),
          hits AS (
            SELECT d.doc_id, p.pattern,
                   CAST(len(list_filter(
                     range(1, len(d.text) - len(p.pattern) + 2),
                     i -> substr(d.text, i, len(p.pattern)) = p.pattern))
                     AS BIGINT) AS n_hits
            FROM documents d CROSS JOIN pats p)
          SELECT doc_id, pattern, n_hits
          FROM hits WHERE n_hits > 0
          ORDER BY doc_id, pattern"""
    },
    (s, d) => {
      val patternLit = array(BanPatterns.map(lit): _*)
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(graft.functions.MatchFunctions.multiMatchCounts(
            col("text"), BanPatterns)))
        .filter(col("col") > 0)
        .select(col("doc_id"),
          element_at(patternLit, col("pos") + 1).as("pattern"),
          col("col").as("n_hits"))
        .orderBy("doc_id", "pattern")
    })

  /** Deterministic output sharding (ops.Shard): the corpus split into
    * 16 content-keyed shards for training consumption — membership is
    * a portable md5 bucket of doc_id, so any re-run, partitioning, or
    * second engine derives the identical shard layout (the oracle
    * does exactly that). The stats row per shard is what a shard
    * manifest records: cardinality, byte budget, id range. The actual
    * partitioned writer (`Shard.writeSharded` — repartition on the
    * shard key, reproducible intra-shard order) is spec-covered in
    * ShardSpec. */
  val shardStats = QueryDef(
    "q_shard_stats",
    Some("""WITH s AS (
              SELECT doc_id, n_chars,
                     CAST('0x' || substring(md5('shard:'
                       || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 16 AS shard
              FROM documents)
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc
            FROM s GROUP BY shard ORDER BY shard"""),
    (s, d) => graft.ops.Shard.assign(Tables.documents(s, d), "doc_id", 16)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard"))

  // ------------------------------ X100 bootstrap confidence intervals

  private[queries] val BootReplicas = 32

  /** Cumulative Poisson(1) CDF P(X ≤ k), k = 0..6 — the replicate
    * weight is the count of thresholds at or below u (inverse-CDF
    * sampling), capping at 7. Computed ONCE here; both engines'
    * expressions interpolate the identical doubles via
    * Double.toString (which round-trips exactly; the SQL side parses
    * through CAST('…' AS DOUBLE) because a bare SQL decimal literal
    * is DECIMAL-lane — the Dsir hashUniform lesson). */
  private[queries] val PoissonCum: Seq[Double] = {
    var p = math.exp(-1.0); var c = p
    (0 to 6).map { k =>
      if (k > 0) { p = p / k; c = c + p }
      c
    }
  }

  /** Deterministic Poisson(1) bootstrap CI (X100 — Efron 1979 via the
    * Poisson/online bootstrap of Oza–Russell 2001, the form that
    * needs NO resampling pass over the data: replicate weight w ~
    * Poisson(1) per (doc, replicate), drawn here from the portable
    * md5 uniform by inverse CDF, so every engine and every re-run
    * draws the SAME "random" replicas. The curation use: error bars
    * on per-source corpus statistics — "is source A's mean doc length
    * REALLY above source B's, or is that noise?" — the uncertainty
    * line every X41/X58-style monitor should carry). Scale shape:
    * docs × B fixed-width (source, b, w, n_chars) rows — text never
    * replicates; per-(source, replicate) means are EXACT-integer
    * Σ(w·chars)/Σw divides (no qround anywhere — the X60 raw-hash
    * discipline); the 2.5/97.5-ish percentile bounds are ranks 2 and
    * 31 of the 32 replicate means via a PARTITIONED window. */
  val bootstrapCi = QueryDef(
    "q_bootstrap_ci",
    Some {
      val wChain = PoissonCum.map(t =>
        s"CASE WHEN u >= CAST('${t.toString}' AS DOUBLE) " +
          "THEN 1 ELSE 0 END").mkString("(0 + ", " + ", ")")
      s"""WITH reps AS (
              SELECT source, n_chars, doc_id, t.b
              FROM documents, range($BootReplicas) t(b)),
            uw AS (
              SELECT source, b, n_chars,
                     CAST(CAST('0x' || substring(md5('boot:'
                         || CAST(b AS VARCHAR) || ':'
                         || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                       * 2 + 1 AS DOUBLE) / 9007199254740992.0 AS u
              FROM reps),
            wts AS (SELECT source, b, n_chars, $wChain AS w FROM uw),
            rm AS (
              SELECT source, b, CAST(SUM(w * n_chars) AS BIGINT) AS sw,
                     CAST(SUM(w) AS BIGINT) AS ww
              FROM wts GROUP BY source, b),
            means AS (
              SELECT source, b,
                     CAST(sw AS DOUBLE) / CAST(ww AS DOUBLE) AS m
              FROM rm WHERE ww > 0),
            rk AS (
              SELECT source, b, m, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY m, b) AS rn
              FROM means),
            ci AS (
              SELECT source,
                     MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
                     MAX(CASE WHEN rn = ${BootReplicas - 1} THEN m END)
                       AS ci_hi
              FROM rk GROUP BY source),
            st AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_chars) AS DOUBLE) /
                       CAST(COUNT(*) AS DOUBLE) AS mean_chars
              FROM documents GROUP BY source)
            SELECT st.source, st.n_docs, st.mean_chars,
                   ci.ci_lo, ci.ci_hi
            FROM st JOIN ci USING (source) ORDER BY source"""
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val reps = docs.select(col("source"), col("n_chars"), col("doc_id"),
        explode(sequence(lit(0), lit(BootReplicas - 1))).as("b"))
      val u = graft.ops.Dsir.hashUniform(
        concat(col("b").cast("string"), lit(":"),
          col("doc_id").cast("string")), "boot:")
      val w = PoissonCum.foldLeft(lit(0)) { (acc, t) =>
        acc + when(col("u") >= lit(t), 1).otherwise(0)
      }
      val rm = reps.withColumn("u", u).withColumn("w", w)
        .groupBy("source", "b")
        .agg(sum(col("w") * col("n_chars")).as("sw"),
          sum("w").as("ww"))
      val means = rm.where(col("ww") > 0)
        .select(col("source"), col("b"),
          (col("sw").cast("double") / col("ww").cast("double")).as("m"))
      val rk = means.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("m"), col("b"))))
      val ci = rk.groupBy("source").agg(
        max(when(col("rn") === 2, col("m"))).as("ci_lo"),
        max(when(col("rn") === (BootReplicas - 1), col("m")))
          .as("ci_hi"))
      val st = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        (sum("n_chars").cast("double") /
          count(lit(1)).cast("double")).as("mean_chars"))
      st.join(ci, "source")
        .select(col("source"), col("n_docs"), col("mean_chars"),
          col("ci_lo"), col("ci_hi"))
        .orderBy("source")
    })

  // ------------------------------- X104 DP-noised count release

  private val DpEpsilon = 0.1

  /** Differentially-private count release (X104 — Dwork et al. 2006's
    * Laplace mechanism: per-source counts + Lap(1/ε) noise, the shape
    * every "share corpus composition without leaking membership"
    * report takes. Noise is drawn DETERMINISTICALLY from the portable
    * md5 uniform by inverse CDF — Lap(b) = −b·sign(u−½)·ln(1−2|u−½|)
    * — so the release is replayable across engines and re-runs: the
    * privacy accounting treats the salt as the mechanism's random
    * seed (one release per salt — re-salting would compose ε's, which
    * the scaladoc contract records). True counts ride along for the
    * oracle; a real release drops that column. Float discipline: the
    * one ln is qround(6)'d (X63), everything around it is elementwise
    * IEEE off exact integers, so noised counts hash raw. */
  val dpCounts = QueryDef(
    "q_dp_counts",
    Some {
      val b = (1.0 / DpEpsilon).toString
      s"""WITH c AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
              FROM documents GROUP BY source),
            u AS (
              SELECT source, n_true,
                     CAST(CAST('0x' || substring(md5('dp:' || source),
                         1, 13) AS BIGINT) * 2 + 1 AS DOUBLE)
                       / 9007199254740992.0 AS u
              FROM c),
            v AS (SELECT source, n_true, u - 0.5 AS v FROM u)
            SELECT source, n_true,
                   CAST(n_true AS DOUBLE) +
                     (0.0 - CAST('$b' AS DOUBLE)) *
                     (CASE WHEN v < 0.0 THEN -1.0 ELSE 1.0 END) *
                     (${Num.qroundSql("LN(1.0 - 2.0 * ABS(v))", 6)})
                     AS n_released,
                   CAST('$DpEpsilon' AS DOUBLE) AS epsilon
            FROM v ORDER BY source"""
    },
    (s, d) => {
      val c = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_true"))
      val u = graft.ops.Dsir.hashUniform(col("source"), "dp:")
      val v = u - lit(0.5)
      c.withColumn("v", v)
        .select(col("source"), col("n_true"),
          (col("n_true").cast("double") +
            (lit(0.0) - lit(1.0 / DpEpsilon)) *
            when(col("v") < 0.0, lit(-1.0)).otherwise(lit(1.0)) *
            Num.qround(log(lit(1.0) - lit(2.0) * abs(col("v"))), 6))
            .as("n_released"),
          lit(DpEpsilon).as("epsilon"))
        .orderBy("source")
    })

  /** Bloom-filter false-positive-rate evaluation (X271 — the X74
    * recall-rigor discipline applied to X36's pruning filter: a bloom
    * prune is only safe if it NEVER drops members, and only useful if
    * its FPR matches the design point — this row measures both
    * instead of assuming them). Build side = BUILDING-segment
    * customers into an m = 2048, j = 3 filter (the X36 portable-md5
    * device, so the oracle replays every bit); probe = ALL customers.
    * n_missed is an exact-integer lane that MUST be 0 (no false
    * negatives — the bloom contract); observed FPR is an
    * exact-integer-fed divide (hash raw); the sharp theory lane uses
    * the KNOWN bits-set count: fpr = (bits_set/m)³, element-wise as
    * (p·p)·p. Probe is join-free — the bitset rides as a literal into
    * the scan (the X36 scale shape). */
  val bloomFpr = QueryDef(
    "q_bloom_fpr",
    Some {
      val m = 2048
      val hs = (0 until 3).map(i =>
        Bloom.hashModSql(s"bloom$i:", "c_custkey", m))
      s"""WITH build AS (
              SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING'),
            bits AS MATERIALIZED (
              SELECT DISTINCT pos FROM (
                SELECT unnest([${hs.mkString(", ")}]) AS pos
                FROM build) u),
            probe AS (
              SELECT c_custkey,
                     c_mktsegment = 'BUILDING' AS member,
                     ${hs.zipWithIndex.map { case (h, i) =>
                       s"($h) IN (SELECT pos FROM bits) AS hit$i"
                     }.mkString(",\n                     ")}
              FROM customer),
            agg AS (
              SELECT
                CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_build,
                CAST(SUM(CASE WHEN NOT member THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_nonmembers,
                CAST(SUM(CASE WHEN hit0 AND hit1 AND hit2
                    AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_false_pos,
                CAST(SUM(CASE WHEN NOT (hit0 AND hit1 AND hit2)
                    AND member THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_missed,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set
              FROM probe)
            SELECT CAST($m AS BIGINT) AS m, CAST(3 AS INT) AS j,
                   n_build, bits_set, n_nonmembers, n_false_pos,
                   n_missed,
                   CAST(n_false_pos AS DOUBLE) /
                     CAST(n_nonmembers AS DOUBLE) AS fpr_observed,
                   ((CAST(bits_set AS DOUBLE) / $m.0) *
                    (CAST(bits_set AS DOUBLE) / $m.0)) *
                    (CAST(bits_set AS DOUBLE) / $m.0) AS fpr_theory
            FROM agg"""
    },
    (s, d) => {
      val m = 2048
      val cust = Tables.customer(s, d).localCheckpoint(true)
      val build = cust.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val words = Bloom.buildBits(build, col("k"), m, 3)
      val bitsSet = words.map(java.lang.Long.bitCount).sum.toLong
      val p = bitsSet.toDouble / m
      cust.select(
          (col("c_mktsegment") === "BUILDING").as("member"),
          Bloom.mightContain(col("c_custkey"), words, m, 3).as("hit"))
        .agg(
          sum(when(col("member"), 1L).otherwise(0L)).as("n_build"),
          sum(when(!col("member"), 1L).otherwise(0L))
            .as("n_nonmembers"),
          sum(when(col("hit") && !col("member"), 1L).otherwise(0L))
            .as("n_false_pos"),
          sum(when(!col("hit") && col("member"), 1L).otherwise(0L))
            .as("n_missed"))
        .select(lit(m.toLong).as("m"), lit(3).as("j"),
          col("n_build"), lit(bitsSet).as("bits_set"),
          col("n_nonmembers"), col("n_false_pos"), col("n_missed"),
          (col("n_false_pos").cast("double") /
            col("n_nonmembers").cast("double")).as("fpr_observed"),
          lit((p * p) * p).as("fpr_theory"))
    })

  /** md5-hex head as a 60-bit long, driver-side — the Scala twin of
    * the repo's portable in-plan hash ('0x'||substring(md5(k),1,15)),
    * for constants computed ONCE and interpolated into both engines
    * (the PoissonCum device applied to hash-derived ring positions). */
  private def md5Head60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Consistent-hashing rebalance audit (X284 — Karger et al. 1997:
    * when the shard count changes 16 → 20, WHAT FRACTION of keys
    * move? mod-hashing reassigns ~80% (kp%16 = kp%20 only when
    * kp%80 < 16); a vnode ring moves ~the 4/20 the new shards must
    * absorb — the number that decides whether a resharding is a blip
    * or a full cache/locality flush). Rings = 8 vnodes/shard at
    * driver-computed md5 positions interpolated into BOTH engines as
    * sorted literal struct arrays; per-key assignment is a pure
    * filter-first expression over that array (clockwise successor,
    * wraparound to ring[0]) — NO join, NO shuffle beyond the final
    * 2-row aggregate. All lanes exact integers / exact rationals. */
  val hashRebalance = QueryDef(
    "q_hash_rebalance", {
      // vnode positions depend ONLY on (shard, replica) — adding
      // shards must not move existing vnodes, or nothing is
      // "consistent" about the scheme
      def ring(n: Int): Seq[(Long, Int)] =
        (0 until n).flatMap(sh => (0 until 8).map(r =>
          (md5Head60(s"ring:$sh:$r"), sh))).sortBy(_._1)
      def ringSql(n: Int): String =
        ring(n).map { case (p, sh) => s"{'pos': ${p}::BIGINT, " +
          s"'shard': $sh}" }.mkString("[", ", ", "]")
      def asgSql(n: Int): String =
        s"""COALESCE(
            (list_filter(${ringSql(n)}, r -> r.pos >= kp))[1].shard,
            ${ring(n).head._2})"""
      Some(s"""WITH k AS (
              SELECT c_custkey,
                     CAST('0x' || substring(md5('key:'
                         || CAST(c_custkey AS VARCHAR)), 1, 15)
                       AS BIGINT) AS kp
              FROM customer),
            a AS (
              SELECT c_custkey,
                     kp % 16 AS mod16, kp % 20 AS mod20,
                     ${asgSql(16)} AS ring16,
                     ${asgSql(20)} AS ring20
              FROM k)
            SELECT 'mod' AS scheme,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(CASE WHEN mod16 <> mod20 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_moved,
                   CAST(SUM(CASE WHEN mod16 <> mod20 THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_moved
            FROM a
            UNION ALL
            SELECT 'ring',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN ring16 <> ring20 THEN 1 ELSE 0 END)
                     AS BIGINT),
                   CAST(SUM(CASE WHEN ring16 <> ring20 THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            FROM a
            ORDER BY scheme""")
    },
    (s, d) => {
      def ring(n: Int): Seq[(Long, Int)] =
        (0 until n).flatMap(sh => (0 until 8).map(r =>
          (md5Head60(s"ring:$sh:$r"), sh))).sortBy(_._1)
      def asg(n: Int): org.apache.spark.sql.Column = {
        val rg = ring(n)
        val ringLit = array(rg.map { case (p, sh) =>
          struct(lit(p).as("pos"), lit(sh).as("shard"))
        }: _*)
        val cand = filter(ringLit, r => r("pos") >= col("kp"))
        when(size(cand) > 0, element_at(cand, 1)("shard"))
          .otherwise(lit(rg.head._2))
      }
      val kp = conv(substring(md5(concat(lit("key:"),
        col("c_custkey").cast("string"))), 1, 15), 16, 10).cast("long")
      val a = Tables.customer(s, d)
        .select(col("c_custkey"), kp.as("kp"))
        .select(col("c_custkey"),
          pmod(col("kp"), lit(16L)).as("mod16"),
          pmod(col("kp"), lit(20L)).as("mod20"),
          asg(16).as("ring16"), asg(20).as("ring20"))
        .localCheckpoint(true) // both scheme lanes share the scan
      def lane(scheme: String, moved: org.apache.spark.sql.Column) =
        a.agg(count(lit(1)).as("n_keys"),
          sum(when(moved, 1L).otherwise(0L)).as("n_moved"))
          .select(lit(scheme).as("scheme"), col("n_keys"),
            col("n_moved"),
            (col("n_moved").cast("double") /
              col("n_keys").cast("double")).as("frac_moved"))
      lane("mod", col("mod16") =!= col("mod20"))
        .unionAll(lane("ring", col("ring16") =!= col("ring20")))
        .orderBy("scheme")
    })

  private val DpClip = 4000L

  /** Differentially-private MEAN release (X270 — the Laplace
    * mechanism on a CLIPPED sum, the other standard release next to
    * X104's counts: mean doc length per source with values clipped to
    * [0, C] so the sum's sensitivity is C, budget split ε/2 between
    * the sum (scale C/(ε/2)) and the count (sensitivity 1, scale
    * 2/ε). Same deterministic noise device as X104 — per-(source,
    * lane) md5 uniforms through the inverse Laplace CDF, so both
    * engines draw the SAME noise; the ln is the one quantized lane
    * (q6). Clipped sums and true counts are exact integers; released
    * lanes are element-wise off those. ONE keyed aggregate. */
  val dpMean = QueryDef(
    "q_dp_mean",
    Some {
      val b1 = (DpClip.toDouble / (DpEpsilon / 2)).toString
      val b2 = (1.0 / (DpEpsilon / 2)).toString
      def lap(salt: String, b: String) =
        s"""((0.0 - CAST('$b' AS DOUBLE)) *
            (CASE WHEN (CAST(CAST('0x' || substring(md5('$salt' || source),
                1, 13) AS BIGINT) * 2 + 1 AS DOUBLE)
                / 9007199254740992.0) - 0.5 < 0.0
              THEN -1.0 ELSE 1.0 END) *
            (${Num.qroundSql(
              s"""LN(1.0 - 2.0 * ABS((CAST(CAST('0x' ||
                  substring(md5('$salt' || source), 1, 13) AS BIGINT)
                  * 2 + 1 AS DOUBLE) / 9007199254740992.0) - 0.5))""",
              6)}))"""
      s"""WITH c AS (
              SELECT source,
                     CAST(SUM(LEAST(n_chars, $DpClip)) AS BIGINT)
                       AS clip_sum,
                     CAST(COUNT(*) AS BIGINT) AS n_true
              FROM documents GROUP BY source),
            r AS (
              SELECT source, clip_sum, n_true,
                     CAST(clip_sum AS DOUBLE) + ${lap("dpm:s:", b1)}
                       AS sum_released,
                     CAST(n_true AS DOUBLE) + ${lap("dpm:n:", b2)}
                       AS n_released
              FROM c)
            SELECT source, clip_sum, n_true, sum_released, n_released,
                   sum_released / n_released AS mean_released,
                   CAST('$DpEpsilon' AS DOUBLE) AS epsilon
            FROM r ORDER BY source"""
    },
    (s, d) => {
      val b1 = DpClip.toDouble / (DpEpsilon / 2)
      val b2 = 1.0 / (DpEpsilon / 2)
      def lap(salt: String, b: Double) = {
        val v = graft.ops.Dsir.hashUniform(col("source"), salt) - lit(0.5)
        (lit(0.0) - lit(b)) *
          when(v < 0.0, lit(-1.0)).otherwise(lit(1.0)) *
          Num.qround(log(lit(1.0) - lit(2.0) * abs(v)), 6)
      }
      Tables.documents(s, d)
        .groupBy("source")
        .agg(sum(least(col("n_chars"), lit(DpClip))).as("clip_sum"),
          count(lit(1)).as("n_true"))
        .select(col("source"), col("clip_sum"), col("n_true"),
          (col("clip_sum").cast("double") + lap("dpm:s:", b1))
            .as("sum_released"),
          (col("n_true").cast("double") + lap("dpm:n:", b2))
            .as("n_released"))
        .select(col("source"), col("clip_sum"), col("n_true"),
          col("sum_released"), col("n_released"),
          (col("sum_released") / col("n_released")).as("mean_released"),
          lit(DpEpsilon).as("epsilon"))
        .orderBy("source")
    })

  // --------------------------------- X101 chi-square drift partition

  /** Per-source chi-square partition (X101 — Pearson 1900; the
    * SIGNIFICANCE companion to the X58 KL monitors: KL says how far a
    * source's language mix sits from the corpus norm, chi² says
    * whether that distance is explainable by sampling noise at this
    * source's size — the gate before a drift alarm pages anyone).
    * Observed = (source, lang) counts; expected e = r·c/N off exact
    * integer margins; each source's partial χ² adds the closed-form
    * mass of its EMPTY cells (Σ_missing e = r − Σ_observed e — no
    * cross-join materializes the full grid, which would be the banned
    * product join). N and the lang-alphabet size are bounded 1-row
    * driver actions (the X38 device). Only the per-source Σ is
    * qround(6)'d (fold-order aggregate); everything else is
    * elementwise-exact off integers. */
  val chisqDrift = QueryDef(
    "q_chisq_drift",
    Some {
      val contrib = "((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e"
      s"""WITH c AS (
              SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
              FROM documents GROUP BY source, lang),
            rt AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
                   FROM c GROUP BY source),
            ct AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS cl
                   FROM c GROUP BY lang),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
            nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS l FROM ct),
            x AS (
              SELECT c.source, c.lang, c.o, rt.r,
                     (CAST(rt.r AS DOUBLE) * CAST(ct.cl AS DOUBLE)) /
                       CAST(nn.n AS DOUBLE) AS e
              FROM c JOIN rt USING (source) JOIN ct USING (lang)
                CROSS JOIN nn)
            SELECT x.source, CAST(MAX(x.r) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_langs_obs,
                   ${Num.qroundSql(
                     s"SUM($contrib) + (CAST(MAX(x.r) AS DOUBLE) - SUM(e))",
                     6)} AS chi2,
                   CAST(nl.l - 1 AS BIGINT) AS df
            FROM x CROSS JOIN nl
            GROUP BY x.source, nl.l ORDER BY x.source"""
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val c = docs.groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val rt = c.groupBy("source").agg(sum("o").as("r"))
      val ct = c.groupBy("lang").agg(sum("o").as("cl"))
      // bounded driver actions: corpus size + lang-alphabet size
      val n = docs.count()
      val nLangs = ct.count()
      val x = c.join(rt, "source").join(broadcast(ct), "lang")
        .withColumn("e",
          (col("r").cast("double") * col("cl").cast("double")) /
            lit(n).cast("double"))
      val o = col("o").cast("double")
      x.groupBy("source").agg(
          max("r").as("n_docs"),
          count(lit(1)).as("n_langs_obs"),
          Num.qround(
            sum(((o - col("e")) * (o - col("e"))) / col("e")) +
              (max("r").cast("double") - sum("e")), 6).as("chi2"))
        .select(col("source"), col("n_docs"), col("n_langs_obs"),
          col("chi2"), lit(nLangs - 1).as("df"))
        .orderBy("source")
    })

  /** TIMED sharded-write round-trip (X47b — the write path itself on
    * the bench surface: q_shard_stats above verifies the assignment
    * ARITHMETIC without writing, so a write-path regression
    * (partitioned-writer sort, output committer, per-shard file
    * explosion) was invisible round-over-round; this query pays the
    * real `Shard.writeSharded` cost — repartition on the shard key,
    * within-partition sort, 16 parquet directory partitions — every
    * time it runs). The returned rows are computed from the FILES
    * READ BACK, so membership landing in a wrong `shard=K/` directory
    * breaks the hash, not just the timing; `first_doc` (arg-min by
    * the reproducible order key, recomputed from content) pins the
    * intra-shard shuffle order the writer must preserve. The oracle
    * replays assignment + order from `documents` directly —
    * determinism of the content-keyed split IS the contract. Output
    * lands under java.io.tmpdir at a fixed path (mode overwrite:
    * bounded disk across bench's best-of-2 reruns). */
  val shardWrite = QueryDef(
    "q_shard_write",
    Some("""WITH s AS (
              SELECT doc_id, n_chars,
                     CAST('0x' || substring(md5('shard:'
                       || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 16 AS shard,
                     md5('ord:' || CAST(doc_id AS VARCHAR)) AS ord
              FROM documents)
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(MIN_BY(doc_id, ord) AS BIGINT) AS first_doc
            FROM s GROUP BY shard ORDER BY shard"""),
    (s, d) => {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_shard_write").getPath
      graft.ops.Shard.writeSharded(
        Tables.documents(s, d), "doc_id", 16, dir)
      s.read.parquet(dir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"),
          min_by(col("doc_id"),
            graft.ops.Shard.orderKey(col("doc_id"), "ord:"))
            .as("first_doc"))
        .orderBy("shard")
    })

  /** Manifest-committed sharded write round-trip (X293 — VERDICT r14
    * #5, the atomic-commit completion of X47b: `writeShardedAtomic`
    * writes shard files under a commit prefix, fsyncs ONE manifest
    * naming them, and swaps it into place with an atomic rename;
    * `readViaManifest` resolves files exclusively through that
    * manifest, so torn writes and abandoned commits are invisible —
    * ShardSpec simulates both). The returned rows are computed from
    * the files READ BACK THROUGH THE MANIFEST, so a file missing from
    * (or extra in) the manifest breaks the hash; the oracle replays
    * the content-keyed assignment from `documents` directly — the
    * manifest stats replayed from first principles. Output lands
    * under a pid-scoped java.io.tmpdir path with a FRESH commit id
    * per invocation (ADVICE r15: commit ids are single-use — reusing
    * one would overwrite files the live manifest still references);
    * superseded commits are GC'd after each swap, so disk stays
    * bounded across bench's best-of-2 reruns. */
  val shardManifest = QueryDef(
    "q_shard_manifest",
    Some("""WITH s AS (
              SELECT doc_id, n_chars,
                     CAST('0x' || substring(md5('manifest:'
                       || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 8 AS shard
              FROM documents)
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS max_doc
            FROM s GROUP BY shard ORDER BY shard"""),
    (s, d) => {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_shard_manifest_${ProcessHandle.current().pid()}")
        .getPath
      graft.ops.Shard.writeShardedAtomic(
        Tables.documents(s, d), "doc_id", 8, dir,
        commitId = graft.ops.Shard.newCommitId(), salt = "manifest:")
      graft.ops.Shard.gcOldCommits(s, dir)
      graft.ops.Shard.readViaManifest(s, dir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"),
          min("doc_id").cast("long").as("min_doc"),
          max("doc_id").cast("long").as("max_doc"))
        .orderBy("shard")
    })

  /** Token-budget corpus selection (X52a): rank the corpus by quality
    * and keep the best documents until a token budget is exhausted —
    * "the best 10B tokens", the curation decision every budgeted
    * training run makes. Quality is the element-wise q_text_quality
    * score (bit-identical across engines), ties broken by doc_id, the
    * running total an exact integer cumsum; the kept set is therefore
    * exactly reproducible. The cumsum runs as the two-pass distributed
    * prefix sum ([[graft.ops.PrefixSum.runningTotalDesc]]: quantile-
    * bucketed partitioned windows + driver-collected bucket offsets) —
    * bit-identical to the global window the oracle mirrors, with no
    * single-partition stage in the plan. */
  val tokenBudget = QueryDef(
    "q_token_budget",
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                       t -> len(t) > 0) AS toks,
                     text
              FROM documents),
            q AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     (LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.3 +
                      GREATEST(0.0, 1.0 -
                        CAST(len(text) - len(regexp_replace(text,
                          '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) /
                          NULLIF(CAST(len(text) AS DOUBLE), 0.0) * 4.0)
                        * 0.2) AS score
              FROM t),
            r AS (
              SELECT doc_id, n_tokens, score,
                     SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
              FROM q)
            SELECT doc_id, n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens,
                   (cum_tokens <= 15000) AS kept
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      val toks = graft.functions.Text.tokens(col("text"))
      val nToks = size(toks).cast("long")
      // the length + punctuation terms of Text.qualityScore — element-
      // wise doubles, bit-identical in the oracle's mirror
      val punct = graft.functions.Text.punctRatio(col("text"))
      val score = least(nToks.cast("double") / 50.0, lit(1.0)) * 0.3 +
        greatest(lit(0.0), lit(1.0) - punct * 4.0) * 0.2
      val ranked = Tables.documents(s, d)
        .select(col("doc_id"), nToks.as("n_tokens"), score.as("score"))
      graft.ops.PrefixSum
        .runningTotalDesc(ranked, "n_tokens", "score", "doc_id",
          "cum_tokens")
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
          (col("cum_tokens") <= 15000L).as("kept"))
        .orderBy("doc_id")
    })

  /** Deterministic source-interleave schedule (X52b): the training
    * reading order that cycles across sources (round-robin over
    * per-source shuffled streams) so no source clumps at any point of
    * an epoch. The in-source order is a portable md5 shuffle; the
    * GLOBAL position is computed in CLOSED FORM from the per-source
    * counts — ord(r, s) = Σ_s' min(r−1, c_s') + |{s' < s : c_s' ≥ r}|
    * + 1 — with the counts collected to the driver (a bounded source
    * dimension) and inlined as literals, so no single-partition global
    * window ever runs; the oracle computes the same positions WITH the
    * global window, pinning the closed form against the definition. */
  val interleaveMix = QueryDef(
    "q_interleave_mix",
    Some("""WITH r AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5('il:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rank
              FROM documents)
            SELECT doc_id, source, CAST(rank AS BIGINT) AS rank,
                   CAST(row_number() OVER (ORDER BY rank, source)
                        AS BIGINT) AS ord
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .sortBy(_._1)
      val w = Window.partitionBy("source")
        .orderBy(md5(concat(lit("il:"), col("doc_id").cast("string"))),
          col("doc_id"))
      val ranked = docs
        .select(col("doc_id"), col("source"),
          row_number().over(w).cast("long").as("rank"))
      val ord = counts.foldLeft(lit(1L)) { case (acc, (src, c)) =>
        acc +
          least(col("rank") - 1L, lit(c)) +
          when(lit(src) < col("source") && lit(c) >= col("rank"), 1L)
            .otherwise(0L)
      }
      ranked.withColumn("ord", ord).orderBy("doc_id")
    })

  /** DSIR importance resampling (X54 — Xie et al. 2023): select raw
    * documents toward a TARGET domain (here: 'en'/'src0', the curated
    * stand-in) by the log likelihood ratio of hashed unigram+bigram
    * bucket distributions, accepting each doc with probability
    * min(1, e^{λ−τ}) under a deterministic md5 uniform. The oracle
    * re-derives the whole fit — identical conditional counts, add-1
    * smoothing over the same occupied buckets — and replays scoring
    * and the acceptance gate. λ is an aggregated float sum → both
    * sides qround(6) for the report and gate acceptance on the coarser
    * qround(4) grid (the q_hash_classifier device, so fold-order noise
    * near a fine-grid boundary can't flip kept between engines). */
  val dsirResample = QueryDef(
    "q_dsir_resample",
    Some(s"""WITH base AS (
              SELECT doc_id, text,
                     (lang = 'en' AND source = 'src0') AS t
              FROM documents),
            ${TextQueries.hashedFeaturesSql("base")},
            fb AS (
              SELECT doc_id,
                     CAST('0x' || substring(md5('qc:' || f), 1, 8)
                          AS BIGINT) % 1024 AS bucket
              FROM fl),
            cc AS (
              SELECT fb.bucket,
                     CAST(SUM(CASE WHEN b.t THEN 1 ELSE 0 END)
                          AS BIGINT) AS ct,
                     CAST(SUM(CASE WHEN NOT b.t THEN 1 ELSE 0 END)
                          AS BIGINT) AS cr
              FROM fb JOIN base b USING (doc_id) GROUP BY fb.bucket),
            tot AS (
              SELECT CAST(SUM(ct) AS DOUBLE) AS nt,
                     CAST(SUM(cr) AS DOUBLE) AS nr,
                     CAST(COUNT(*) AS DOUBLE) AS nb
              FROM cc),
            w AS (
              SELECT cc.bucket,
                     ln((cc.ct + 1.0) / (tot.nt + tot.nb)) -
                     ln((cc.cr + 1.0) / (tot.nr + tot.nb)) AS w
              FROM cc, tot),
            sc AS (
              SELECT fb.doc_id, SUM(w.w) AS s,
                     CAST(COUNT(*) AS BIGINT) AS nf
              FROM fb JOIN w USING (bucket) GROUP BY fb.doc_id)
            SELECT b.doc_id,
                   COALESCE(sc.nf, 0) AS n_feats,
                   ${Num.qroundSql("COALESCE(sc.s, 0.0)", 6)} AS log_w,
                   CAST(CAST('0x' || substring(md5('dsir:'
                      || CAST(b.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                     * 2 + 1 AS DOUBLE) / 9007199254740992.0 AS u,
                   (CAST(CAST('0x' || substring(md5('dsir:'
                       || CAST(b.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                      * 2 + 1 AS DOUBLE) / 9007199254740992.0
                    < LEAST(exp(
                        ${Num.qroundSql("COALESCE(sc.s, 0.0)", 4)} - 1.0),
                        1.0)) AS kept
            FROM base b LEFT JOIN sc USING (doc_id)
            ORDER BY b.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val m = graft.ops.Dsir.fit(docs, col("text"),
        col("lang") === "en" && col("source") === "src0", 1024)
      val lw = element_at(col("__st"), 1)
      docs.select(col("doc_id"),
          graft.ops.Dsir.logWeightStats(col("text"), m).as("__st"),
          graft.ops.Dsir.hashUniform(col("doc_id"), "dsir:").as("u"))
        .select(col("doc_id"),
          greatest(element_at(col("__st"), 2).cast("long") * 2 - 1,
            lit(0L)).as("n_feats"),
          Num.qround(lw, 6).as("log_w"),
          col("u"),
          (col("u") <
            least(exp(Num.qround(lw, 4) - lit(1.0)), lit(1.0))).as("kept"))
        .orderBy("doc_id")
    })

  /** Corpus drift monitor (X58): KL(new‖old) of token-class
    * distributions between two crawl snapshots — the distribution-
    * shift alarm a continuously-refreshed training corpus runs after
    * every crawl (the CCNet/C4 practice of tracking per-snapshot
    * statistics, made quantitative). The class alphabet is the OLD
    * snapshot's top-K tokens + <unk> (the X44/X51 device: a bounded
    * alphabet keeps every count a (K+1)-cell driver quantity at any
    * corpus size); both snapshots' class counts are one fixed-width
    * shuffle each, add-1 smoothed over the same alphabet, and each
    * class's KL contribution p_new·log2(p_new/p_old) is reported —
    * the total is their sum, the per-class rows say WHAT drifted.
    * Ratios are integer-exact operands, so only the final log2 is
    * float — qround(6) canonicalizes. */
  val corpusDrift = QueryDef(
    "q_corpus_drift", {
      val pOld = "(CAST(j.c_old AS DOUBLE) + 1.0) / (t.n_old + 25.0)"
      val pNew = "(CAST(j.c_new AS DOUBLE) + 1.0) / (t.n_new + 25.0)"
      Some(s"""WITH po AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
            pn AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 10 <> 3),
            otk AS (
              SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                t -> len(t) > 0)) AS tok FROM po),
            ntk AS (
              SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                t -> len(t) > 0)) AS tok FROM pn),
            topk AS (
              SELECT tok FROM (
                SELECT tok, COUNT(*) AS c FROM otk GROUP BY tok)
              ORDER BY c DESC, tok ASC LIMIT 24),
            oc AS (
              SELECT CASE WHEN tok IN (SELECT tok FROM topk) THEN tok
                          ELSE '<unk>' END AS cls,
                     CAST(COUNT(*) AS BIGINT) AS c_old
              FROM otk GROUP BY 1),
            nc AS (
              SELECT CASE WHEN tok IN (SELECT tok FROM topk) THEN tok
                          ELSE '<unk>' END AS cls,
                     CAST(COUNT(*) AS BIGINT) AS c_new
              FROM ntk GROUP BY 1),
            j AS (
              SELECT COALESCE(o.cls, n.cls) AS cls,
                     COALESCE(o.c_old, 0) AS c_old,
                     COALESCE(n.c_new, 0) AS c_new
              FROM oc o FULL OUTER JOIN nc n ON o.cls = n.cls),
            t AS (
              SELECT CAST((SELECT SUM(c_old) FROM j) AS DOUBLE) AS n_old,
                     CAST((SELECT SUM(c_new) FROM j) AS DOUBLE) AS n_new)
            SELECT j.cls, j.c_old, j.c_new,
                   ${Num.qroundSql(s"$pNew * log2(($pNew) / ($pOld))", 6)}
                     AS kl_contrib
            FROM j, t ORDER BY j.cls""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 7)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      val m = graft.ops.Scoring.fitUnigram(oldSnap, col("text"), 24)
      val topTokens = m.top.map(_._1)
      def classCounts(df: org.apache.spark.sql.DataFrame, out: String) =
        df.select(explode(Text.tokens(col("text"))).as("tok"))
          .select(when(col("tok").isin(topTokens: _*), col("tok"))
            .otherwise("<unk>").as("cls"))
          .groupBy("cls").agg(count(lit(1)).as(out))
      val oc = classCounts(oldSnap, "c_old")
      val nc = classCounts(newSnap, "c_new")
      // (K+1) = 25 rows — localCheckpoint before the totals action so
      // the two full token explode+groupBy scans (old AND new snapshot)
      // run ONCE; without it the totals `.head` and the final KL
      // projection each re-evaluate the whole lineage (r8 verdict:
      // 1.7 s → 8.2 s on byte-identical code)
      val j = oc.join(nc, Seq("cls"), "full_outer")
        .select(col("cls"),
          coalesce(col("c_old"), lit(0L)).as("c_old"),
          coalesce(col("c_new"), lit(0L)).as("c_new"))
        .localCheckpoint()
      val tot = j.agg(sum("c_old"), sum("c_new")).head
      val nOld = tot.getLong(0).toDouble
      val nNew = tot.getLong(1).toDouble
      val k1 = topTokens.size + 1.0 // alphabet size incl. <unk>
      val pOld = (col("c_old").cast("double") + 1.0) / (nOld + k1)
      val pNew = (col("c_new").cast("double") + 1.0) / (nNew + k1)
      j.select(col("cls"), col("c_old"), col("c_new"),
          Num.qround(pNew * log2(pNew / pOld), 6).as("kl_contrib"))
        .orderBy("cls")
    })

  /** Per-domain corpus drift (X58b — the r8 verdict's suggested second
    * monitor over the drift surface): the q_corpus_drift KL computed
    * WITHIN each source, so a re-crawl that shifts one domain's
    * distribution is visible even when the global mix stays flat (the
    * way production drift dashboards slice). Reuses the X59 device:
    * all per-source class alphabets fit in ONE grouped count shuffle
    * ([[graft.ops.Scoring.fitUnigramByGroup]], ≤ (K+1)·|sources|
    * driver cells); class assignment is a shuffle-free literal-map
    * scan (the injective "source token" key — tokens cannot contain
    * spaces); the joined class table is |sources|·(K+1) rows,
    * localCheckpoint'ed before reuse (the q_corpus_drift lesson).
    * Per-source KL sums are qround(6)'d after aggregation (fold-order
    * discipline). */
  val domainDrift = QueryDef(
    "q_domain_drift", {
      val pOld = "(CAST(j.c_old AS DOUBLE) + 1.0) / " +
        "(CAST(t.n_old AS DOUBLE) + kk.kk)"
      val pNew = "(CAST(j.c_new AS DOUBLE) + 1.0) / " +
        "(CAST(t.n_new AS DOUBLE) + kk.kk)"
      Some(s"""WITH po AS (
              SELECT source, text FROM documents WHERE doc_id % 10 <> 7),
            pn AS (
              SELECT source,
                     CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 10 <> 3),
            otk AS (
              SELECT source, unnest(list_filter(string_split_regex(text,
                '\\s+'), t -> len(t) > 0)) AS tok FROM po),
            ntk AS (
              SELECT source, unnest(list_filter(string_split_regex(text,
                '\\s+'), t -> len(t) > 0)) AS tok FROM pn),
            topk AS (
              SELECT source, tok FROM (
                SELECT source, tok,
                       row_number() OVER (PARTITION BY source
                         ORDER BY c DESC, tok ASC) AS rn
                FROM (SELECT source, tok, COUNT(*) AS c
                      FROM otk GROUP BY source, tok))
              WHERE rn <= 16),
            oc AS (
              SELECT o.source,
                     CASE WHEN t.tok IS NOT NULL THEN o.tok
                          ELSE '<unk>' END AS cls,
                     CAST(COUNT(*) AS BIGINT) AS c_old
              FROM otk o LEFT JOIN topk t
                ON o.source = t.source AND o.tok = t.tok
              GROUP BY 1, 2),
            nc AS (
              SELECT o.source,
                     CASE WHEN t.tok IS NOT NULL THEN o.tok
                          ELSE '<unk>' END AS cls,
                     CAST(COUNT(*) AS BIGINT) AS c_new
              FROM ntk o LEFT JOIN topk t
                ON o.source = t.source AND o.tok = t.tok
              GROUP BY 1, 2),
            j AS (
              SELECT COALESCE(o.source, n.source) AS source,
                     COALESCE(o.cls, n.cls) AS cls,
                     COALESCE(o.c_old, 0) AS c_old,
                     COALESCE(n.c_new, 0) AS c_new
              FROM oc o FULL OUTER JOIN nc n
                ON o.source = n.source AND o.cls = n.cls),
            kk AS (
              SELECT source, CAST(COUNT(*) + 1 AS DOUBLE) AS kk
              FROM topk GROUP BY source),
            t AS (
              SELECT source, SUM(c_old) AS n_old, SUM(c_new) AS n_new
              FROM j GROUP BY source)
            SELECT j.source, CAST(t.n_old AS BIGINT) AS n_old,
                   CAST(t.n_new AS BIGINT) AS n_new,
                   ${Num.qroundSql(
                     s"SUM($pNew * log2(($pNew) / ($pOld)))", 6)} AS kl
            FROM j
              JOIN kk ON j.source = kk.source
              JOIN t ON j.source = t.source
            GROUP BY 1, 2, 3 ORDER BY j.source""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 7)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      val models = graft.ops.Scoring.fitUnigramByGroup(
        oldSnap, col("source"), col("text"), 16)
      val ms = models.toSeq.sortBy(_._1)
      // "source token" -> token: injective because tokens can't
      // contain spaces (the X59 collision argument)
      val lut = map(ms.flatMap { case (g, m) =>
        m.top.flatMap { case (tok, _) => Seq(lit(g + " " + tok), lit(tok)) }
      }: _*)
      val kmap = map(ms.flatMap { case (g, m) =>
        Seq(lit(g), lit(m.top.size + 1.0)) }: _*)
      def classCounts(df: org.apache.spark.sql.DataFrame, out: String) =
        df.select(col("source"),
            explode(Text.tokens(col("text"))).as("tok"))
          .select(col("source"),
            coalesce(element_at(lut,
              concat(col("source"), lit(" "), col("tok"))),
              lit("<unk>")).as("cls"))
          .groupBy("source", "cls").agg(count(lit(1)).as(out))
      val j = classCounts(oldSnap, "c_old")
        .join(classCounts(newSnap, "c_new"), Seq("source", "cls"),
          "full_outer")
        .select(col("source"), col("cls"),
          coalesce(col("c_old"), lit(0L)).as("c_old"),
          coalesce(col("c_new"), lit(0L)).as("c_new"))
        .localCheckpoint()
      val tot = j.groupBy("source")
        .agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"))
      val kk = element_at(kmap, col("source"))
      val pOld = (col("c_old").cast("double") + 1.0) /
        (col("n_old").cast("double") + kk)
      val pNew = (col("c_new").cast("double") + 1.0) /
        (col("n_new").cast("double") + kk)
      // only sources WITH an old-snapshot baseline get a KL row (no
      // model -> KL undefined; a brand-new domain is X32 snapshot-diff
      // territory, not drift) — mirrors the oracle's inner join on the
      // fitted alphabet
      j.filter(col("source").isInCollection(ms.map(_._1)))
        .join(tot, Seq("source"))
        .select(col("source"), col("n_old"), col("n_new"),
          (pNew * log2(pNew / pOld)).as("contrib"))
        .groupBy("source", "n_old", "n_new")
        .agg(Num.qround(sum("contrib"), 6).as("kl"))
        .orderBy("source")
    })

  /** Per-domain score calibration (X57): raw quality scores are not
    * comparable across sources (a crawl's 0.6 and a curated set's 0.6
    * mean different things — the reason CCNet buckets per-snapshot and
    * Dolma filters per-source), so selection replaces the raw score
    * with its WITHIN-DOMAIN percentile and applies one global
    * percentile cut — every domain contributes its own top 20%, no
    * domain crowds another out. percent_rank = (rank−1)/(n−1) is a
    * ratio of integers over a bit-identical element-wise score order
    * (ties broken by doc_id), so the percentile itself hash-matches
    * raw. Windows partition by domain (the X39 shape); at extreme
    * single-domain skew the two-pass PrefixSum device generalizes
    * per-key, but domain-partitioned rank is the honest default. */
  val domainCalibrate = QueryDef(
    "q_domain_calibrate",
    Some("""WITH t AS (
              SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'),
                       t -> len(t) > 0) AS toks,
                     text
              FROM documents),
            q AS (
              SELECT doc_id, source,
                     (LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.3 +
                      GREATEST(0.0, 1.0 -
                        CAST(len(text) - len(regexp_replace(text,
                          '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) /
                          NULLIF(CAST(len(text) AS DOUBLE), 0.0) * 4.0)
                        * 0.2) AS score
              FROM t)
            SELECT doc_id, source, score,
                   percent_rank() OVER (PARTITION BY source
                     ORDER BY score, doc_id) AS pct,
                   (percent_rank() OVER (PARTITION BY source
                     ORDER BY score, doc_id) >= 0.8) AS kept
            FROM q ORDER BY doc_id"""),
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val nToks = size(toks).cast("long")
      val punct = Text.punctRatio(col("text"))
      val score = least(nToks.cast("double") / 50.0, lit(1.0)) * 0.3 +
        greatest(lit(0.0), lit(1.0) - punct * 4.0) * 0.2
      val w = Window.partitionBy("source")
        .orderBy(col("score"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), score.as("score"))
        .withColumn("pct", percent_rank().over(w))
        .withColumn("kept", col("pct") >= 0.8)
        .orderBy("doc_id")
    })

  // ------------------------------------------------ X66 domain PageRank

  // package-visible: UrlQueries reuses the same unrolled PageRank
  // oracle over its URL-derived domain graph (X70 → X66 composition)
  private[queries] val PrIters = 5
  private[queries] val PrDamping = 0.85
  // 1−d computed in BINARY and interpolated (0.15000000000000002…), so
  // DuckDB parses the exact double Spark's `lit(1.0 - damping)` holds —
  // a decimal 0.15 literal would be a DIFFERENT double.
  private[queries] val PrTeleport = 1.0 - PrDamping

  /** The synthetic domain graph every domain-graph row reads: src =
    * doc_id mod 50, dst = an md5 bucket of doc_id — a deterministic
    * multigraph over 50 domain ids. */
  private[queries] val domainEdgeSql =
    """SELECT doc_id % 50 AS src,
                     CAST('0x' || substring(md5('pr:'
                         || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 50 AS dst
              FROM documents"""

  /** The Spark side of [[domainEdgeSql]], over any documents frame. */
  private[queries] def domainEdges(docs: DataFrame): DataFrame =
    docs.select(
      (col("doc_id") % 50).as("src"),
      (conv(substring(md5(concat(lit("pr:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 50).as("dst"))

  /** One unrolled power-iteration round as oracle CTEs (the X7/X42
    * Lloyd-unroll device): contributions keyed by dst, qround'd
    * dangling mass, teleport + damped update, qround'd rank. */
  private[queries] def prRoundSql(t: Int): String = {
    val p = t - 1
    s"""c$t AS (
              SELECT e.dst AS v, SUM(r$p.pr / CAST(e.deg AS DOUBLE)) AS c
              FROM e JOIN r$p ON e.src = r$p.v GROUP BY e.dst),
            d$t AS (
              SELECT ${Num.qroundSql(
                s"COALESCE((SELECT SUM(r.pr) FROM r$p r LEFT JOIN deg " +
                  "ON r.v = deg.src WHERE deg.src IS NULL), 0.0)", 6)}
                AS dm),
            r$t AS MATERIALIZED (
              -- r$p has two readers (contribution join + dangling
              -- mass); inlined CTEs re-run 2^rounds times
              SELECT nodes.v,
                     ${Num.qroundSql(
                       s"$PrTeleport / nn.n + $PrDamping * " +
                         s"(COALESCE(c$t.c, 0.0) + d$t.dm / nn.n)", 6)}
                       AS pr
              FROM nodes CROSS JOIN nn CROSS JOIN d$t
                LEFT JOIN c$t ON nodes.v = c$t.v)"""
  }

  /** The rounds and readout of PageRank over an `e0` (src, dst) edge
    * CTE: node ranks after [[PrIters]] rounds with each node's out
    * degree. */
  private[queries] val pagerankSql =
    s"""nodes AS MATERIALIZED (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e0
                UNION ALL SELECT dst AS v FROM e0)),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            deg AS MATERIALIZED (
              SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
              FROM e0 GROUP BY src),
            e AS MATERIALIZED (
              SELECT e0.src, e0.dst, deg.deg
              FROM e0 JOIN deg USING (src)),
            r0 AS (SELECT v, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
            ${(1 to PrIters).map(prRoundSql).mkString(",\n            ")}
            SELECT nodes.v AS node,
                   COALESCE(deg.deg, 0) AS out_deg,
                   r$PrIters.pr AS pr
            FROM nodes
              LEFT JOIN deg ON nodes.v = deg.src
              JOIN r$PrIters ON nodes.v = r$PrIters.v
            ORDER BY node"""

  /** The Spark side of [[pagerankSql]]: (node, out_deg, pr). */
  private[queries] def pagerank(edges: DataFrame): DataFrame = {
    val pr = graft.ops.PageRank.run(edges, "src", "dst", PrIters, PrDamping)
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    pr.join(deg, Seq("v"), "left")
      .select(col("v").as("node"),
        coalesce(col("deg"), lit(0L)).as("out_deg"), col("pr"))
      .orderBy("node")
  }

  /** Domain-graph PageRank (X66 — the crawl-curation authority signal;
    * Page et al. 1999, the Common Crawl domain-ranking recipe): a
    * deterministic 50-node domain multigraph carved from documents
    * (src = doc_id mod 50, dst = an md5 bucket), 5 damped power-
    * iteration rounds from the uniform start. Per round: one shuffle
    * keyed src (ranks→edges join), one keyed dst (contribution agg) —
    * fixed-width (node, double) rows only; the whole computation is a
    * single lazy plan (scalar node-count/dangling aggregates ride as
    * broadcast 1-row cross joins, no driver actions between rounds).
    * The oracle unrolls all 5 rounds as CTEs; each round's ranks are
    * qround(6)-canonicalized so round t+1 starts from bit-identical
    * doubles on both engines. */
  val domainPagerank = QueryDef(
    "q_domain_pagerank",
    Some(s"""WITH e0 AS MATERIALIZED (
              $domainEdgeSql),
            $pagerankSql"""),
    (s, d) => {
      val edges = domainEdges(Tables.documents(s, d))
      pagerank(edges)
    })

  /** The recursive-CTE BFS both harmonic oracles replay: distinct
    * edges `e`, `nodes`, and the radius-6 pair distances `md`
    * (u, v, d). */
  private val harmonicDistSql =
    s"""e0 AS (
              $domainEdgeSql),
            e AS (SELECT DISTINCT src, dst FROM e0),
            nodes AS (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM e
                UNION ALL SELECT dst AS v FROM e)),
            bfs(u, v, d) AS (
              SELECT v, v, 0 FROM nodes
              UNION
              SELECT bfs.u, e.dst, bfs.d + 1
              FROM bfs JOIN e ON bfs.v = e.src
              WHERE bfs.d < 6),
            md AS (SELECT u, v, MIN(d) AS d FROM bfs GROUP BY u, v)"""

  /** Domain harmonic centrality (X69 — the OTHER public Common Crawl
    * ranking signal next to PageRank, Boldi & Vigna 2014): radius-6
    * truncated H(v) = Σ 1/d(u,v) over nodes u that reach v, computed
    * as iterated frontier expansion under the X66 round discipline
    * (per-round localCheckpoint, empty-frontier short-circuit; see
    * [[graft.ops.Centrality]]). Same synthetic 50-domain link graph
    * as q_domain_pagerank, so the two rankings are directly
    * comparable. The oracle replays the BFS as a recursive CTE with
    * the same level cap and takes MIN(d) per pair — distances are
    * exact integers, only the final 1/d sum needs the qround(6)
    * canonicalization (fold-order-sensitive double sum). */
  val domainHarmonic = QueryDef(
    "q_domain_harmonic",
    Some(s"""WITH RECURSIVE $harmonicDistSql,
            h AS (
              SELECT v AS node,
                     ${graft.functions.Num.qroundSql(
                       "SUM(CAST(1 AS DOUBLE) / d)", 6)} AS harmonic
              FROM md WHERE d > 0 GROUP BY v)
            SELECT nodes.v AS node,
                   COALESCE(h.harmonic, CAST(0 AS DOUBLE)) AS harmonic
            FROM nodes LEFT JOIN h ON nodes.v = h.node
            ORDER BY node"""),
    (s, d) => {
      val edges = domainEdges(Tables.documents(s, d))
      graft.ops.Centrality.harmonic(edges, "src", "dst", radius = 6)
        .orderBy("node")
    })

  /** HyperBall approximate harmonic centrality (X69b — the scale path
    * next to X69's exact BFS, Boldi & Vigna 2013): per-node state is a
    * bounded 16-long KMV sketch of the reached ball instead of the
    * ball itself, unioned through edges each round (explode + the X28
    * mergeable bottom-k — see [[graft.ops.Centrality.harmonicHyperball]]),
    * ĥ accumulating (|B̂_r|−|B̂_{r-1}|)/r per round. The approximation
    * is deterministic (md5 node hashes, k-min sketch, one-division
    * estimator), so the oracle replays it EXACTLY: exact balls from
    * the recursive-CTE BFS, the same 60-bit hashes, the same k-th-min
    * estimator arithmetic — approximate ≠ sloppy. k=16 < 50 nodes, so
    * sketches genuinely saturate and the estimator path is exercised
    * (CentralitySpec separately pins k > |V| ⟹ estimate ≡ exact). */
  val domainHarmonicHb = QueryDef(
    "q_domain_harmonic_hb",
    Some(s"""WITH RECURSIVE $harmonicDistSql,
            balls AS (
              SELECT md.v, CAST(r.r AS INT) AS r,
                     CAST('0x' || substring(md5('hb:'
                         || CAST(md.u AS VARCHAR)), 1, 15) AS BIGINT)
                       AS hv
              FROM md, range(0, 7) r(r)
              WHERE md.d <= r.r),
            ranked AS (
              SELECT v, r, hv,
                     ROW_NUMBER() OVER (PARTITION BY v, r ORDER BY hv)
                       AS rk,
                     COUNT(*) OVER (PARTITION BY v, r) AS c
              FROM balls),
            est AS (
              SELECT v, r,
                     CASE WHEN MAX(c) < 16 THEN CAST(MAX(c) AS DOUBLE)
                          ELSE CAST(15 AS DOUBLE) /
                               (CAST(MAX(CASE WHEN rk = 16 THEN hv END)
                                      AS DOUBLE) /
                                CAST((CAST(1 AS BIGINT) << 60) AS DOUBLE))
                     END AS est
              FROM ranked GROUP BY v, r),
            terms AS (
              SELECT a.v, (a.est - b.est) / CAST(a.r AS DOUBLE) AS t
              FROM est a JOIN est b ON a.v = b.v AND b.r = a.r - 1
              WHERE a.r >= 1)
            SELECT v AS node,
                   ${graft.functions.Num.qroundSql("SUM(t)", 6)}
                     AS harmonic_est
            FROM terms GROUP BY v ORDER BY node"""),
    (s, d) => {
      val edges = domainEdges(Tables.documents(s, d))
      graft.ops.Centrality.harmonicHyperball(edges, "src", "dst",
          radius = 6, k = 16)
        .orderBy("node")
    })

  /** Duplication-debiased corpus statistics (X245 — the estimator fix
    * BEFORE anyone reports "mean doc length" on a crawl: duplicated
    * documents over-weight their cluster's value, so every per-doc
    * mean is biased toward whatever gets copied most. The standard
    * correction weights each row by 1/|its duplicate cluster| — each
    * cluster then contributes exactly once, the Horvitz–Thompson view
    * of the X1 near-exact dedup). Clusters = the X1 md5 fingerprint
    * (one keyed aggregate); weights are exact rationals joined back
    * on the fingerprint (never a row explosion); the weighted and
    * naive means are the only qround(6) lanes; the bias column makes
    * the duplication distortion a measurable number per source. */
  val dedupWeightedStats = QueryDef(
    "q_dedup_weighted_stats",
    Some(s"""WITH f AS (
             SELECT source, n_chars,
                    md5(trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
                      AS fp
             FROM documents),
           cs AS (
             SELECT fp, CAST(COUNT(*) AS BIGINT) AS csize
             FROM f GROUP BY fp),
           j AS (
             SELECT f.source, f.n_chars,
                    CAST(f.n_chars AS DOUBLE) /
                      CAST(cs.csize AS DOUBLE) AS wx,
                    1.0 / CAST(cs.csize AS DOUBLE) AS w
             FROM f JOIN cs ON cs.fp = f.fp)
           SELECT source,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  ${Num.qroundSql(
                    "CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)", 6)}
                    AS naive_mean,
                  ${Num.qroundSql("SUM(wx) / SUM(w)", 6)}
                    AS weighted_mean,
                  ${Num.qroundSql("SUM(w)", 6)} AS effective_docs
           FROM j GROUP BY source
           ORDER BY source"""),
    (s, d) => {
      val f = Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          Text.fingerprintMd5(col("text")).as("fp"))
        .localCheckpoint(true) // cluster sizes + the weighted join
      val cs = f.groupBy("fp").agg(count(lit(1)).as("csize"))
      f.join(cs, Seq("fp"))
        .select(col("source"), col("n_chars"),
          (col("n_chars").cast("double") / col("csize").cast("double"))
            .as("wx"),
          (lit(1.0) / col("csize").cast("double")).as("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          Num.qround(sum("n_chars").cast("double") / count(lit(1)), 6)
            .as("naive_mean"),
          Num.qround(sum("wx") / sum("w"), 6).as("weighted_mean"),
          Num.qround(sum("w"), 6).as("effective_docs"))
        .orderBy("source")
    })

  /** Per-source WEIGHTED median + quartiles of document length (X262
    * — the token-weighted view of the corpus: "the median CHARACTER
    * sits in a doc of length X", which is what a training budget
    * actually consumes, vs X160's per-document quantiles where a
    * 10-token stub counts as much as a 10k-token article). Weighted
    * quantile q = the smallest value whose cumulative weight reaches
    * q·total — all comparisons kept in EXACT integer arithmetic
    * (4·cumw ≥ total etc., no rational thresholds). Shape: ONE
    * source-partitioned cumulative window over the (value, doc_id)
    * total order + one keyed aggregate; weights are token counts
    * (exact longs). No partition-less window; per-source sorts are
    * the minimum any exact weighted quantile needs (at 100 TB,
    * sketch-based X77 is the approximate sibling). */
  val weightedMedian = QueryDef(
    "q_weighted_median",
    Some(s"""WITH t AS (
              SELECT source, n_chars, doc_id,
                     CAST(len($sqlToks) AS BIGINT) AS wgt
              FROM documents),
            c AS (
              SELECT source, n_chars, wgt,
                     CAST(SUM(wgt) OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
                     CAST(SUM(wgt) OVER (PARTITION BY source)
                       AS BIGINT) AS total
              FROM t)
            SELECT source,
                   MIN(CASE WHEN cumw * 4 >= total THEN n_chars END)
                     AS wp25,
                   MIN(CASE WHEN cumw * 2 >= total THEN n_chars END)
                     AS wmedian,
                   MIN(CASE WHEN cumw * 4 >= total * 3 THEN n_chars END)
                     AS wp75,
                   MAX(total) AS total_weight
            FROM c GROUP BY source ORDER BY source"""),
    (s, d) => {
      val t = Tables.documents(s, d).select(col("source"),
        col("n_chars"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("wgt"))
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cw = Window.partitionBy("source")
      t.withColumn("cumw", sum("wgt").over(w))
        .withColumn("total", sum("wgt").over(cw))
        .groupBy("source")
        .agg(
          min(when(col("cumw") * 4 >= col("total"), col("n_chars")))
            .as("wp25"),
          min(when(col("cumw") * 2 >= col("total"), col("n_chars")))
            .as("wmedian"),
          min(when(col("cumw") * 4 >= col("total") * 3, col("n_chars")))
            .as("wp75"),
          max("total").as("total_weight"))
        .orderBy("source")
    })

  /** k-anonymity / l-diversity audit (X268 — Sweeney 2002 / Machanavajjhala
    * et al. 2006, the release-readiness check before any
    * quasi-identifier projection ships, completing the privacy family
    * next to X26's PII scrub, X104's DP counts and X230's RTBF
    * cascade): every (nation, segment) equivalence class with its
    * size, the distinct-value count of the sensitive attribute
    * (in-debt flag), and the k≥5 / l≥2 verdicts — the rows a
    * suppression pass would act on. ONE keyed aggregate over the
    * quasi-identifier key; all lanes exact integers/booleans. */
  val kAnon = QueryDef(
    "q_k_anon",
    Some("""SELECT c_nationkey AS nation, c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS class_size,
                   CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS l_sensitive,
                   COUNT(*) >= 5 AS meets_k5,
                   COUNT(DISTINCT CASE WHEN c_acctbal < 0
                     THEN 1 ELSE 0 END) >= 2 AS meets_l2
            FROM customer
            GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(when(col("c_acctbal") < 0, 1).otherwise(0))
          .as("l_sensitive"))
      .select(col("nation"), col("segment"), col("class_size"),
        col("l_sensitive"),
        (col("class_size") >= 5).as("meets_k5"),
        (col("l_sensitive") >= 2).as("meets_l2"))
      .orderBy("nation", "segment"))

  /** Online data mixing by multiplicative weights (X306 — Hedge:
    * Freund & Schapire 1997 / Littlestone & Warmuth 1994's weighted
    * majority, the full-information core that EXP3 importance-weights
    * for the bandit case, framed as Albalak et al. 2023's online data
    * mixing: re-weight training domains ROUND BY ROUND from observed
    * batch quality instead of fixing the X96/X171 static mixture up
    * front). Arms = document sources; rounds = T=8 md5-bucketed
    * corpus batches standing in for arrival order; reward r(a,t) =
    * the arm's mean quality in that batch (length-saturating score,
    * qrounded so the order-dependent AVG can't drift cross-engine);
    * w(a) = Π_t (1 + η·r(a,t)) with η=0.5 — the polynomial-weights
    * update, chosen over exp(η·r) because a product of exact IEEE
    * factors replays bit-for-bit where transcendental exp does not.
    * Every fold (per-arm weight product, per-arm reward sum, the
    * across-arms normalizer) runs LEFT-TO-RIGHT over a pinned sort
    * order, so final_weight and p_final hash-match raw. At 100 TB:
    * ONE fixed-width groupBy(source, round) pass over the corpus;
    * everything downstream is alphabet-bounded list arithmetic — the
    * whole weight trajectory costs no more than the reward table.
    * Missing (arm, round) cells read as reward 0 via a dense
    * explode-built grid (no cross join on the Spark side). */
  val onlineMix = QueryDef(
    "q_online_mix", {
      val T = 8
      Some(s"""WITH dd AS (
                SELECT source,
                       CAST('0x' || substring(md5('mix:'
                         || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                         % $T AS t,
                       LEAST(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS sc
                FROM documents),
              r AS (
                SELECT source, t, ${Num.qroundSql("AVG(sc)", 6)} AS r
                FROM dd GROUP BY 1, 2),
              grid AS (
                SELECT a.source, tt.t
                FROM (SELECT DISTINCT source FROM documents) a
                CROSS JOIN (SELECT unnest(range(0, $T)) AS t) tt),
              cells AS (
                SELECT g.source, g.t, COALESCE(r.r, 0.0) AS r
                FROM grid g
                LEFT JOIN r ON r.source = g.source AND r.t = g.t),
              w AS (
                SELECT source,
                       list_reduce(list_prepend(0.0, list_transform(
                         list(struct_pack(t := t, r := r) ORDER BY t),
                         x -> x.r)), (a, b) -> a + b) AS total_reward,
                       list_reduce(list_prepend(1.0, list_transform(
                         list(struct_pack(t := t, r := r) ORDER BY t),
                         x -> 1.0 + 0.5 * x.r)), (a, b) -> a * b)
                         AS final_weight
                FROM cells GROUP BY source),
              norm AS (
                SELECT list_reduce(list_prepend(0.0, list_transform(
                         list(struct_pack(s := source, w := final_weight)
                           ORDER BY source), x -> x.w)), (a, b) -> a + b) AS z
                FROM w)
              SELECT w.source, w.total_reward, w.final_weight,
                     w.final_weight / norm.z AS p_final
              FROM w CROSS JOIN norm ORDER BY source""")
    },
    (s, d) => {
      val T = 8
      val docs = Tables.documents(s, d)
      val t = conv(substring(md5(concat(lit("mix:"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long") % T
      val rewards = docs.select(col("source"), t.as("t"),
          least(lit(1.0), col("n_chars").cast("double") / 2000.0).as("sc"))
        .groupBy("source", "t").agg(Num.qround(avg("sc"), 6).as("r"))
      val grid = docs.select("source").distinct()
        .select(col("source"), explode(array((0 until T).map(j =>
          lit(j.toLong)): _*)).as("t"))
      val w = grid.join(rewards, Seq("source", "t"), "left")
        .select(col("source"), col("t"),
          coalesce(col("r"), lit(0.0)).as("r"))
        .groupBy("source")
        .agg(sort_array(collect_list(struct(col("t"), col("r"))))
          .as("trs"))
        .select(col("source"),
          aggregate(col("trs"), lit(0.0),
            (acc, x) => acc + x.getField("r")).as("total_reward"),
          aggregate(col("trs"), lit(1.0),
            (acc, x) => acc * (lit(1.0) + lit(0.5) * x.getField("r")))
            .as("final_weight"))
        .localCheckpoint(true) // alphabet-bounded; reused for normalizer
      // across-arms normalizer: left fold in source order (bounded
      // driver action — one double over the source alphabet)
      val z = w
        .agg(aggregate(sort_array(collect_list(struct(col("source"),
            col("final_weight")))), lit(0.0),
          (acc, x) => acc + x.getField("final_weight")))
        .head().getDouble(0)
      w.select(col("source"), col("total_reward"), col("final_weight"),
          (col("final_weight") / lit(z)).as("p_final"))
        .orderBy("source")
    })

  val all: Seq[QueryDef] =
    Seq(bloomPrune, bloomFpr, heavyHitters, bm25, domainCap, profileOrders, domainMix,
      weightedMedian, kAnon,
      dedupWeightedStats,
      temperatureMix, curationAudit, neymanAlloc,
      snapshotDiff, incrementalDedup, banlist, shardStats, shardWrite,
      shardManifest,
      bootstrapCi, chisqDrift, dpCounts, dpMean, hashRebalance, tokenBudget,
      interleaveMix, dsirResample, domainCalibrate, corpusDrift,
      domainDrift, domainPagerank, domainHarmonic, domainHarmonicHb,
      onlineMix)
}
