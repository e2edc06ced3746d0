package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{Num, Text}
import graft.ops.Bloom
import graft.{QueryDef, Tables}

/** Distribution diagnostics and robust statistics — the measurement
  * layer a 100 TB corpus build runs over its own outputs before
  * trusting them (ref: the capstone's profiling/QA passes, e.g.
  * reference/shareOurStrengthSQLCodev4.sql's INTERSECT QA harness and
  * sanity SELECTs; re-expressed here as first-class operators over
  * the synthetic tables).
  *
  * House float discipline throughout (see [[graft.QueryDef]]):
  * integer counts stay exact and hash raw; per-group percentile
  * aggregates are qround(4)-canonicalized BEFORE any downstream
  * arithmetic so every derived per-row value is element-wise IEEE and
  * hash-exact; transcendental constants cross the engine boundary as
  * `Double.toString` literals (`CAST('…' AS DOUBLE)` on the SQL side —
  * the Dsir decimal-lane device).
  */
object DiagnosticsQueries {

  // ------------------------------------------------------- mad outliers

  /** Robust per-source document-length outliers (X106 — Iglewicz &
    * Hoaglin 1993's modified z-score: med/MAD instead of mean/stddev,
    * so a handful of megadocs can't mask themselves by inflating the
    * very stddev that should flag them — the failure mode of a naive
    * z-score on heavy-tailed web-doc lengths). Two grouped exact
    * percentile aggregates (median, then median absolute deviation)
    * each return one row per source — metadata-sized by construction —
    * and re-attach via broadcast hash joins on the source key; the
    * per-doc z = 0.6745·(x − med)/MAD is then pure codegen arithmetic.
    * A zero MAD (over half the source identical lengths) degrades the
    * z to NULL identically on both engines instead of ±inf. Scale
    * note: the exact per-source percentile buffers that source's
    * values (the documented q_percentiles trade-off); the sketched
    * X77 path is the swap-in when a single source outgrows an
    * executor. */
  val madOutliers = QueryDef(
    "q_mad_outliers",
    Some(s"""WITH m AS (
              SELECT source,
                     ${Num.qroundSql("PERCENTILE_CONT(0.5) WITHIN GROUP " +
                       "(ORDER BY n_chars)", 4)} AS med
              FROM documents GROUP BY source),
            dv AS (
              SELECT d.source, CAST(d.n_chars AS DOUBLE) AS x, m.med,
                     ABS(CAST(d.n_chars AS DOUBLE) - m.med) AS dev
              FROM documents d JOIN m USING (source)),
            md AS (
              SELECT source,
                     ${Num.qroundSql("PERCENTILE_CONT(0.5) WITHIN GROUP " +
                       "(ORDER BY dev)", 4)} AS mad
              FROM dv GROUP BY source),
            z AS (
              SELECT dv.source, dv.x, dv.med, md.mad,
                     CASE WHEN md.mad = 0 THEN NULL
                          ELSE 0.6745 * (dv.x - dv.med) / md.mad END AS z
              FROM dv JOIN md USING (source))
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   MIN(med) AS med, MIN(mad) AS mad,
                   CAST(COUNT(CASE WHEN ABS(z) > 3.5 THEN 1 END) AS BIGINT)
                     AS n_outliers,
                   ${Num.qroundSql("MAX(ABS(z))", 6)} AS max_abs_z
            FROM z GROUP BY source ORDER BY source"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val m = docs.groupBy("source")
        .agg(Num.qround(percentile(col("n_chars"), lit(0.5)), 4).as("med"))
      val dv = docs.join(broadcast(m), "source")
        .select(col("source"), col("n_chars").cast("double").as("x"),
          col("med"),
          abs(col("n_chars").cast("double") - col("med")).as("dev"))
      val md = dv.groupBy("source")
        .agg(Num.qround(percentile(col("dev"), lit(0.5)), 4).as("mad"))
      dv.join(broadcast(md), "source")
        .withColumn("z", when(col("mad") === 0, lit(null))
          .otherwise(lit(0.6745) * (col("x") - col("med")) / col("mad")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min("med").as("med"), min("mad").as("mad"),
          count(when(abs(col("z")) > 3.5, 1)).as("n_outliers"),
          Num.qround(max(abs(col("z"))), 6).as("max_abs_z"))
        .orderBy("source")
    })

  // --------------------------------------------------- trimmed means

  /** Trimmed + winsorized means (X107 — the robust-location pair every
    * metrics pipeline reports next to the raw mean once it has seen
    * one corrupt feed drag an average: trim DROPS the tails, winsorize
    * CLAMPS them — both referenced to the same p05/p95 fences). The
    * per-group fences are one exact percentile aggregate, qround(4)'d
    * so the inclusion predicate compares both engines against the
    * IDENTICAL constants (an un-rounded fence that differs in one ulp
    * flips rows in or out of the trim — a whole-row divergence, not a
    * float ulp), then re-attached via broadcast. */
  val trimmedMean = QueryDef(
    "q_trimmed_mean",
    Some(s"""WITH f AS (
              SELECT l_returnflag,
                     ${Num.qroundSql("PERCENTILE_CONT(0.05) WITHIN GROUP " +
                       "(ORDER BY l_extendedprice)", 4)} AS lo,
                     ${Num.qroundSql("PERCENTILE_CONT(0.95) WITHIN GROUP " +
                       "(ORDER BY l_extendedprice)", 4)} AS hi
              FROM lineitem GROUP BY l_returnflag)
            SELECT l.l_returnflag, f.lo, f.hi,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(CASE WHEN l.l_extendedprice >= f.lo
                     AND l.l_extendedprice <= f.hi THEN 1 END) AS BIGINT)
                     AS n_kept,
                   ${Num.qroundSql("AVG(l.l_extendedprice)", 4)} AS mean_raw,
                   ${Num.qroundSql("AVG(CASE WHEN l.l_extendedprice >= f.lo " +
                     "AND l.l_extendedprice <= f.hi " +
                     "THEN l.l_extendedprice END)", 4)} AS mean_trimmed,
                   ${Num.qroundSql("AVG(GREATEST(f.lo, " +
                     "LEAST(f.hi, l.l_extendedprice)))", 4)} AS mean_winsor
            FROM lineitem l JOIN f USING (l_returnflag)
            GROUP BY l.l_returnflag, f.lo, f.hi
            ORDER BY l.l_returnflag"""),
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val f = li.groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.05), lit(0.95))).as("ps"))
        .select(col("l_returnflag"),
          Num.qround(element_at(col("ps"), 1), 4).as("lo"),
          Num.qround(element_at(col("ps"), 2), 4).as("hi"))
      val inFence = col("l_extendedprice") >= col("lo") &&
        col("l_extendedprice") <= col("hi")
      li.join(broadcast(f), "l_returnflag")
        .groupBy("l_returnflag", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          count(when(inFence, 1)).as("n_kept"),
          Num.qround(avg("l_extendedprice"), 4).as("mean_raw"),
          Num.qround(avg(when(inFence, col("l_extendedprice"))), 4)
            .as("mean_trimmed"),
          Num.qround(avg(greatest(col("lo"),
            least(col("hi"), col("l_extendedprice")))), 4).as("mean_winsor"))
        .orderBy("l_returnflag")
    })

  // --------------------------------------------------------- benford

  /** Benford's-law first-digit audit (X108 — Benford 1938 / Hill 1995:
    * organically-grown magnitudes put digit d first with probability
    * log10(1+1/d); synthetic or tampered numeric feeds don't — the
    * classic forensic screen for generated/duplicated records arriving
    * through an ingest). The first digit is extracted through INTEGER
    * formatting (floor → bigint → string → first char) — no
    * `log10`-of-a-double in the per-row path, because libm log10 is
    * not correctly-rounded and a one-ulp difference at a power-of-ten
    * boundary would misfile a row cross-engine. One 9-group keyed
    * aggregate; the expected shares are Scala-computed
    * `Double.toString` literals; each χ² term is element-wise off the
    * exact counts. (TPC-H totalprice is a sum of uniform draws, NOT
    * Benford — the query measures the misfit, χ² ≈ 2·10⁴ at sf0.01:
    * the audit firing on synthetic data is the demo working.) */
  val benford = QueryDef(
    "q_benford", {
      val shares = (1 to 9).map(dd => math.log10(1 + 1.0 / dd))
      val shareSql = (1 to 9).map { dd =>
        s"WHEN $dd THEN CAST('${shares(dd - 1)}' AS DOUBLE)"
      }.mkString(" ")
      Some(s"""WITH src AS (
                SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
                FROM orders WHERE o_totalprice >= 1),
              g AS (
                SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
                FROM src GROUP BY digit),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM src)
              SELECT g.digit, g.n,
                     CAST(g.n AS DOUBLE) / CAST(nn.total AS DOUBLE) AS share,
                     CASE g.digit $shareSql END AS exp_share,
                     ((CAST(g.n AS DOUBLE) - CAST(nn.total AS DOUBLE) *
                        (CASE g.digit $shareSql END)) *
                      (CAST(g.n AS DOUBLE) - CAST(nn.total AS DOUBLE) *
                        (CASE g.digit $shareSql END))) /
                     (CAST(nn.total AS DOUBLE) *
                        (CASE g.digit $shareSql END)) AS chi2_term
              FROM g CROSS JOIN nn ORDER BY g.digit""")
    },
    (s, d) => {
      val shares = (1 to 9).map(dd => math.log10(1 + 1.0 / dd))
      val src = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .cast("int").as("digit"))
      // total: ONE bounded 1-row driver action at plan build (the
      // X38/BM25 corpus-stats device) — the same exact long on both
      // engines, so the IEEE divides below match bit-for-bit
      val total = src.count()
      val expShare = (1 to 9).foldLeft(lit(null).cast("double")) {
        (acc, dd) => when(col("digit") === dd, lit(shares(dd - 1)))
          .otherwise(acc)
      }
      src.groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("share",
          col("n").cast("double") / lit(total).cast("double"))
        .withColumn("exp_share", expShare)
        .withColumn("chi2_term",
          ((col("n").cast("double") -
            lit(total).cast("double") * col("exp_share")) *
           (col("n").cast("double") -
            lit(total).cast("double") * col("exp_share"))) /
          (lit(total).cast("double") * col("exp_share")))
        .orderBy("digit")
    })

  // ----------------------------------------------------------- kappa

  /** Cohen's κ inter-annotator agreement (X109 — Cohen 1960: agreement
    * between two labelers CORRECTED for the agreement their marginal
    * label rates would produce by chance; the gate double-annotation
    * QA batches are scored with before a labeling vendor is trusted).
    * Annotator A = the corpus `lang` label, annotator B = the X8
    * n-gram detector — i.e. κ is computed off the EXISTING
    * oracle-green X84 confusion matrix (the X71 composition device:
    * the oracle nests q_langid_eval's own SQL). po and pe come from
    * integer cell counts and marginal products (exact, order-free);
    * the three output ratios are element-wise IEEE divides, so the row
    * hashes raw. Marginal products Σ rowᵢ·colᵢ stay in longs — exact
    * until N ~ 3·10⁹ per label pair (2⁶³ headroom); past that the
    * production swap is DECIMAL(38) lanes, recorded here rather than
    * silently absorbed. */
  val annotatorKappa = QueryDef(
    "q_annotator_kappa",
    Some(s"""WITH c AS (${TextQueries.langidEval.oracle.get}),
            t AS (
              SELECT CAST(SUM(n) AS BIGINT) AS total,
                     CAST(SUM(CASE WHEN lang_labeled = lang_detected
                       THEN n ELSE 0 END) AS BIGINT) AS agree
              FROM c),
            r AS (SELECT lang_labeled AS k, CAST(SUM(n) AS BIGINT) AS rn
                  FROM c GROUP BY 1),
            cc AS (SELECT lang_detected AS k, CAST(SUM(n) AS BIGINT) AS cn
                   FROM c GROUP BY 1),
            e AS (SELECT CAST(SUM(r.rn * cc.cn) AS BIGINT) AS chance
                  FROM r JOIN cc USING (k))
            SELECT t.total, t.agree,
                   CAST(t.agree AS DOUBLE) / CAST(t.total AS DOUBLE) AS po,
                   CAST(e.chance AS DOUBLE) /
                     (CAST(t.total AS DOUBLE) * CAST(t.total AS DOUBLE))
                     AS pe,
                   (CAST(t.agree AS DOUBLE) / CAST(t.total AS DOUBLE) -
                    CAST(e.chance AS DOUBLE) /
                      (CAST(t.total AS DOUBLE) * CAST(t.total AS DOUBLE))) /
                   (1.0 - CAST(e.chance AS DOUBLE) /
                      (CAST(t.total AS DOUBLE) * CAST(t.total AS DOUBLE)))
                     AS kappa
            FROM t CROSS JOIN e"""),
    (s, d) => {
      // the confusion matrix is alphabet²-bounded driver METADATA (the
      // q_heavy_hitters sketch-collect device; a 1-row frame joined on
      // a constant key would fold into the banned BNLJ instead) — ONE
      // bounded collect, exact long marginals in Scala, and the final
      // row re-enters the plan as literals under the oracle's exact
      // expression tree
      val cells = TextQueries.langidEval.fn(s, d)
        .select("lang_labeled", "lang_detected", "n")
        .collect()
      val total = cells.map(_.getLong(2)).sum
      val agree = cells.filter(r => r.getString(0) == r.getString(1))
        .map(_.getLong(2)).sum
      val rn = cells.groupBy(_.getString(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
      val cn = cells.groupBy(_.getString(1))
        .map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
      val chance = rn.keysIterator
        .map(k => rn(k) * cn.getOrElse(k, 0L)).sum
      val po = col("agree").cast("double") / col("total").cast("double")
      val pe = col("chance").cast("double") /
        (col("total").cast("double") * col("total").cast("double"))
      s.range(1)
        .select(lit(total).as("total"), lit(agree).as("agree"),
          lit(chance).as("chance"))
        .select(col("total"), col("agree"), po.as("po"), pe.as("pe"),
          ((po - pe) / (lit(1.0) - pe)).as("kappa"))
    })

  // ------------------------------------------------------------ ewma

  private val EwmaLambda = 0.3
  private val EwmaWin = 8 // current day + 7 lags

  /** EWMA control chart over daily event volumes (X110 — Roberts 1959,
    * the small-persistent-shift monitor next to X88's spike-oriented
    * z-score: a z-score needs one big day to fire, an EWMA accumulates
    * a run of slightly-elevated days). The recursive filter is
    * unrolled to its 8-term truncated form — weights λ(1−λ)ʲ down to
    * 0.7⁷ ≈ 8% of w₀, renormalized over the lags actually present so
    * the series head isn't biased low — because the truncated form is
    * ELEMENT-WISE (8 lag() reads + a fixed left-assoc sum tree) where
    * the infinite recursion would thread engine-ordered state. Weights
    * cross as Double.toString literals. Scale shape: the heavy input
    * is one keyed (type, day) count; the lag window runs over the
    * aggregated daily table — calendar-bounded rows per type, the
    * standard small-series-after-big-reduce shape. */
  val ewmaChart = QueryDef(
    "q_ewma_chart", {
      val ws = (0 until EwmaWin)
        .map(j => EwmaLambda * math.pow(1 - EwmaLambda, j))
      def w(j: Int) = s"CAST('${ws(j)}' AS DOUBLE)"
      val lagCols = (1 until EwmaWin)
        .map(j => s"LAG(x, $j) OVER w AS x$j").mkString(", ")
      val num = (s"${w(0)} * CAST(x AS DOUBLE)" +:
        (1 until EwmaWin).map(j =>
          s"CASE WHEN x$j IS NULL THEN 0.0 ELSE ${w(j)} * " +
            s"CAST(x$j AS DOUBLE) END")).mkString(" + ")
      val den = (w(0) +: (1 until EwmaWin).map(j =>
        s"CASE WHEN x$j IS NULL THEN 0.0 ELSE ${w(j)} END")).mkString(" + ")
      Some(s"""WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(COUNT(*) AS BIGINT) AS x
                FROM events GROUP BY 1, 2),
              lg AS (
                SELECT event_type, day, x, $lagCols
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
              e AS (
                SELECT event_type, day, x, ($num) / ($den) AS ewma
                FROM lg)
              SELECT event_type, day, x, ewma,
                     CAST(x AS DOUBLE) / ewma AS ratio,
                     CAST(x AS DOUBLE) / ewma > 1.5 AS spike
              FROM e ORDER BY event_type, day""")
    },
    (s, d) => {
      val ws = (0 until EwmaWin)
        .map(j => EwmaLambda * math.pow(1 - EwmaLambda, j))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lagged = daily.select(
        (Seq(col("event_type"), col("day"), col("x")) ++
          (1 until EwmaWin).map(j => lag("x", j).over(w).as(s"x$j"))): _*)
      val num = (1 until EwmaWin).foldLeft(
        lit(ws(0)) * col("x").cast("double")) { (acc, j) =>
        acc + when(col(s"x$j").isNull, lit(0.0))
          .otherwise(lit(ws(j)) * col(s"x$j").cast("double"))
      }
      val den = (1 until EwmaWin).foldLeft(lit(ws(0)): Column) { (acc, j) =>
        acc + when(col(s"x$j").isNull, lit(0.0)).otherwise(lit(ws(j)))
      }
      lagged.withColumn("ewma", num / den)
        .select(col("event_type"), col("day"), col("x"), col("ewma"),
          (col("x").cast("double") / col("ewma")).as("ratio"),
          (col("x").cast("double") / col("ewma") > 1.5).as("spike"))
        .orderBy("event_type", "day")
    })

  // ------------------------------------------------------------ gini

  /** Gini concentration of per-user engagement (X111 — the Lorenz/Gini
    * summary every corpus-composition review reads next to the X78
    * mixing weights: "is this stream's volume a broad base or three
    * whales?" — the same statistic the X57 domain-cap policy exists to
    * push down). Computed WITHOUT ranking individual users: users
    * compress to (activity-level, multiplicity) rows first — one keyed
    * aggregate — and the rank-weighted sum Σ rank·x uses the closed
    * form for tied blocks (m·R_prev + m(m+1)/2, all exact longs; the
    * halving is a shiftright, never a float divide), so the only
    * window runs over the DISTINCT-LEVEL table ordered by level —
    * cardinality = distinct activity counts, collapsed by orders of
    * magnitude from the user universe (the X75 rank-statistic shape).
    * Gini = 2Σrx/(nΣx) − (n+1)/n, element-wise off exact integers →
    * hashes raw. */
  val engagementGini = QueryDef(
    "q_engagement_gini",
    Some("""WITH g AS (
              SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            v AS (
              SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS m
              FROM g GROUP BY 1, 2),
            w AS (
              SELECT event_type, cnt, m,
                     COALESCE(SUM(m) OVER (PARTITION BY event_type
                       ORDER BY cnt ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS rprev
              FROM v),
            t AS (
              SELECT event_type,
                     CAST(SUM(m) AS BIGINT) AS n_users,
                     CAST(SUM(cnt * m) AS BIGINT) AS total_events,
                     CAST(SUM(cnt * (m * rprev + (m * (m + 1)) // 2))
                       AS BIGINT) AS srx
              FROM w GROUP BY 1)
            SELECT event_type, n_users, total_events,
                   (2.0 * CAST(srx AS DOUBLE)) /
                     (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE))
                   - (CAST(n_users AS DOUBLE) + 1.0) /
                     CAST(n_users AS DOUBLE) AS gini
            FROM t ORDER BY event_type"""),
    (s, d) => {
      val g = Tables.events(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      graft.ops.Concentration.giniByGroup(g, "event_type", "cnt")
        .withColumnRenamed("n_members", "n_users")
        .withColumnRenamed("total", "total_events")
        .orderBy("event_type")
    })

  // ------------------------------------------------------- heaps' law

  /** Heaps'-law vocabulary-growth curve (X112 — Heaps 1978: V(N) ≈
    * k·N^β; the corpus-side twin of X103's per-doc novelty. The fitted
    * β is what a tokenizer-capacity plan reads — a β holding near 0.5+
    * says new text still mints new vocabulary, a collapsing β says the
    * crawl went stale before the vocab budget was spent). The
    * vocabulary UNIT is the word 3-shingle (the X2/X103 unit): this
    * synthetic corpus draws words from a closed ~31-term pool, so
    * word-level V saturates inside the first decile and fits β = 0 —
    * shingle combinations are where the corpus actually mints types
    * (X103's novelty decay measures the same thing per-doc). Shape:
    * ONE shingling pass → per-shingle first-occurrence (min doc_id —
    * one keyed aggregate, the X103 device) and per-doc shingle counts;
    * both reduce through a single 20-column conditional aggregate over
    * the 10 doc-id decile cutoffs (exact integer driver literals off
    * one bounded min/max action), so the curve costs two bounded
    * rows — no per-decile rescans. β is the closed-form OLS slope over
    * the 10 log-log points, built as a FIXED left-assoc sum tree over
    * qround(6)'d logs (the X63 ln lane) — element-wise, no
    * engine-ordered aggregation anywhere past the integer counts. The
    * Spark side explodes 60-bit md5 shingle KEYS where the oracle
    * shingles strings (the X81/X103 hash-invariance device: identical
    * counts modulo negligible 60-bit collisions). */
  val heapsLaw = QueryDef(
    "q_heaps_law", {
      val ks = 1 to 10
      def cut(k: Int) = s"(b.mn + ((b.mx - b.mn + 1) * $k) // 10)"
      val vCols = ks.map(k =>
        s"CAST(SUM(CASE WHEN fd < ${cut(k)} THEN 1 ELSE 0 END) AS BIGINT)" +
          s" AS v$k").mkString(", ")
      val nCols = ks.map(k =>
        s"CAST(SUM(CASE WHEN doc_id < ${cut(k)} THEN nt ELSE 0 END)" +
          s" AS BIGINT) AS n$k").mkString(", ")
      val cutCols = ks.map(k => s"${cut(k)} AS c$k").mkString(", ")
      def lx(k: Int) = Num.qroundSql(s"LN(CAST(NULLIF(n$k, 0) AS DOUBLE))", 6)
      def ly(k: Int) = Num.qroundSql(s"LN(CAST(NULLIF(v$k, 0) AS DOUBLE))", 6)
      val logCols = ks.map(k =>
        s"${lx(k)} AS lx$k, ${ly(k)} AS ly$k").mkString(", ")
      val sx = ks.map(k => s"lx$k").mkString(" + ")
      val sy = ks.map(k => s"ly$k").mkString(" + ")
      val sxy = ks.map(k => s"lx$k * ly$k").mkString(" + ")
      val sxx = ks.map(k => s"lx$k * lx$k").mkString(" + ")
      val beta = Num.qroundSql(
        s"(10.0 * ($sxy) - ($sx) * ($sy)) / " +
          s"(10.0 * ($sxx) - ($sx) * ($sx))", 6)
      val rows = ks.map(k =>
        s"SELECT $k AS decile, c$k AS cutoff, n$k AS n_shingles, " +
          s"v$k AS vocab, lx$k AS ln_shingles, ly$k AS ln_vocab, " +
          s"beta FROM s").mkString(" UNION ALL ")
      Some(s"""${SimilarityQueries.sqlShingleCte(3)},
              ex AS (SELECT doc_id, unnest(shingles) AS w FROM sh),
              b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
                    FROM documents),
              fo AS (SELECT w, MIN(doc_id) AS fd FROM ex GROUP BY w),
              pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
                     FROM ex GROUP BY doc_id),
              dn AS (SELECT d.doc_id, COALESCE(pd.nt, 0) AS nt
                     FROM documents d LEFT JOIN pd USING (doc_id)),
              vr AS (SELECT $vCols, $cutCols FROM fo CROSS JOIN b GROUP BY ALL),
              nr AS (SELECT $nCols FROM dn CROSS JOIN b GROUP BY ALL),
              lg AS (SELECT *, $logCols FROM vr CROSS JOIN nr),
              s AS (SELECT *, $beta AS beta FROM lg)
              $rows ORDER BY decile""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ex = docs.select(col("doc_id"),
        explode(graft.functions.ShingleFunctions
          .md5ShingleKeys(col("text"), 3)).as("w"))
      // decile cutoffs: exact integer arithmetic off one bounded
      // min/max driver action (the X38 corpus-stats device)
      val b = docs.agg(min("doc_id"), max("doc_id")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      def cut(k: Int): Long = mn + ((mx - mn + 1) * k) / 10
      val fo = ex.groupBy("w").agg(min("doc_id").as("fd"))
      val pd = ex.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val dn = docs.join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nt"), lit(0L)).as("nt"))
      val ks = 1 to 10
      val vr = fo.agg(
        sum(when(col("fd") < cut(1), 1L).otherwise(0L)).as("v1"),
        ks.tail.map(k =>
          sum(when(col("fd") < cut(k), 1L).otherwise(0L)).as(s"v$k")): _*)
      val nr = dn.agg(
        sum(when(col("doc_id") < cut(1), col("nt")).otherwise(0L)).as("n1"),
        ks.tail.map(k =>
          sum(when(col("doc_id") < cut(k), col("nt")).otherwise(0L))
            .as(s"n$k")): _*)
      def lnq(c: Column) =
        Num.qround(log(when(c === 0, lit(null)).otherwise(c)
          .cast("double")), 6)
      // the two 1-row curve aggregates are bounded driver scalars (10
      // longs each — the X38 device; a constant-key 1-row join would
      // fold into the banned BNLJ), re-entering the plan as literals
      // under the oracle's exact log/OLS expression tree
      val vRow = vr.head()
      val nRow = nr.head()
      val lg = s.range(1)
        .select((ks.map(k => lit(vRow.getLong(k - 1)).as(s"v$k")) ++
          ks.map(k => lit(nRow.getLong(k - 1)).as(s"n$k"))): _*)
        .select((ks.map(k => col(s"v$k")) ++ ks.map(k => col(s"n$k")) ++
          ks.map(k => lnq(col(s"n$k")).as(s"lx$k")) ++
          ks.map(k => lnq(col(s"v$k")).as(s"ly$k"))): _*)
      val sx = ks.map(k => col(s"lx$k")).reduce(_ + _)
      val sy = ks.map(k => col(s"ly$k")).reduce(_ + _)
      val sxy = ks.map(k => col(s"lx$k") * col(s"ly$k")).reduce(_ + _)
      val sxx = ks.map(k => col(s"lx$k") * col(s"lx$k")).reduce(_ + _)
      val beta = Num.qround(
        (lit(10.0) * sxy - sx * sy) / (lit(10.0) * sxx - sx * sx), 6)
      lg.withColumn("beta", beta)
        .select(explode(array(ks.map { k =>
          struct(lit(k).as("decile"), lit(cut(k)).as("cutoff"),
            col(s"n$k").as("n_shingles"), col(s"v$k").as("vocab"),
            col(s"lx$k").as("ln_shingles"), col(s"ly$k").as("ln_vocab"),
            col("beta"))
        }: _*)).as("r"))
        .select(col("r.decile"), col("r.cutoff"), col("r.n_shingles"),
          col("r.vocab"), col("r.ln_shingles"), col("r.ln_vocab"),
          col("r.beta"))
        .orderBy("decile")
    })

  // -------------------------------------------------------------- ks

  /** Two-sample Kolmogorov–Smirnov test (X113 — Kolmogorov 1933 /
    * Smirnov 1939: max ECDF gap, the distribution-FREE "did this
    * cohort's length profile shift?" screen that needs no binning
    * choice, unlike χ²/PSI — here: English vs non-English document
    * lengths). Scale shape: values compress to a DISTINCT-VALUE table
    * with per-sample multiplicities (one keyed aggregate), then BOTH
    * cumulative counts run in ONE [[graft.ops.PrefixSum.runningTotalsAsc]]
    * two-pass sweep — no partition-less window, no second shuffle for
    * the second sample. D-statistic rows are element-wise off exact
    * integer cumulatives; the α=0.05 critical value
    * 1.358·√((m+n)/(m·n)) is exact-integer-fed IEEE (sqrt is
    * correctly rounded by IEEE 754 — one of the few libm calls that
    * may cross the engine boundary unrounded). Top-20 gap rows by
    * (D desc, v) via TakeOrdered — the full ECDF never sorts
    * globally. */
  val ksTest = QueryDef(
    "q_ks_test", {
      // empty-sample guard (ADVICE r11): a corpus with zero docs on
      // either side degrades ECDF/crit to NULL identically on both
      // engines (the q_ab_test NULLIF discipline) instead of DuckDB
      // inf/NaN vs Spark null divergence
      val da = "CAST(c.ca AS DOUBLE) / NULLIF(CAST(nn.n_a AS DOUBLE), 0)"
      val db = "CAST(c.cb AS DOUBLE) / NULLIF(CAST(nn.n_b AS DOUBLE), 0)"
      val crit = "CAST('1.358' AS DOUBLE) * " +
        "SQRT(CAST(nn.n_a + nn.n_b AS DOUBLE) / " +
        "NULLIF(CAST(nn.n_a AS DOUBLE) * CAST(nn.n_b AS DOUBLE), 0))"
      Some(s"""WITH t AS (
                SELECT n_chars AS v,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ina,
                       CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS inb
                FROM documents),
              g AS (
                SELECT v, CAST(SUM(ina) AS BIGINT) AS na,
                       CAST(SUM(inb) AS BIGINT) AS nb
                FROM t GROUP BY v),
              c AS (
                SELECT v, CAST(SUM(na) OVER (ORDER BY v) AS BIGINT) AS ca,
                       CAST(SUM(nb) OVER (ORDER BY v) AS BIGINT) AS cb
                FROM g),
              nn AS (
                SELECT CAST(SUM(ina) AS BIGINT) AS n_a,
                       CAST(SUM(inb) AS BIGINT) AS n_b
                FROM t)
              SELECT c.v, c.ca, c.cb, $da AS ecdf_a, $db AS ecdf_b,
                     ABS($da - $db) AS d, nn.n_a, nn.n_b,
                     $crit AS ks_crit,
                     ABS($da - $db) > $crit AS exceeds
              FROM c CROSS JOIN nn
              ORDER BY d DESC, v LIMIT 20""")
    },
    (s, d) => {
      val t = Tables.documents(s, d).select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("ina"),
        when(col("lang") === "en", 0L).otherwise(1L).as("inb"))
      val g = t.groupBy("v")
        .agg(sum("ina").as("na"), sum("inb").as("nb"))
      val c = graft.ops.PrefixSum
        .runningTotalsAsc(g, Seq("na", "nb"), "v", Seq("ca", "cb"))
      // sample sizes: one bounded 2-long driver action (X38 device)
      val nRow = t.agg(sum("ina"), sum("inb")).head()
      val (nA, nB) = (nRow.getLong(0), nRow.getLong(1))
      // empty-sample guard (ADVICE r11): either side empty → NULL
      // ECDF/crit on both engines, never driver-side Infinity
      def over(c0: org.apache.spark.sql.Column, n: Long) =
        if (n == 0L) lit(null).cast("double")
        else c0.cast("double") / lit(n).cast("double")
      val ea = over(col("ca"), nA)
      val eb = over(col("cb"), nB)
      val crit: Any =
        if (nA == 0L || nB == 0L) null
        else 1.358 *
          math.sqrt((nA + nB).toDouble / (nA.toDouble * nB.toDouble))
      val critC = lit(crit).cast("double")
      c.select(col("v"), col("ca"), col("cb"),
          ea.as("ecdf_a"), eb.as("ecdf_b"), abs(ea - eb).as("d"),
          lit(nA).as("n_a"), lit(nB).as("n_b"), critC.as("ks_crit"),
          (abs(ea - eb) > critC).as("exceeds"))
        .orderBy(col("d").desc, col("v")).limit(20)
    })

  // ------------------------------------------------------------- psi

  private val PsiFences = (1 to 9).map(_ / 10.0)

  /** Population stability index (X114 — the banded drift score every
    * model-ops rollout gates on, next to the X58 KL and X101 χ²
    * monitors: PSI ≥ 0.2 is the canonical "retrain" alarm; unlike χ²
    * it is symmetric-ish in the two periods and insensitive to n).
    * Period split = midpoint of the event time range (exact integer
    * epoch-micros arithmetic off one bounded min/max action); bands =
    * deciles of the BASELINE value distribution, qround(6)'d so both
    * engines band against IDENTICAL fences (the X107 fence lesson),
    * entering the Spark plan as driver literals (bounded stats
    * action) and the oracle as a replayed 1-row percentile CTE.
    * Counting is ONE keyed (type, band) aggregate with conditional
    * period sums — no join between periods, no second scan. Laplace
    * (+1/+10) smoothing keeps empty-in-one-period bands finite;
    * bands empty in BOTH periods contribute nothing (absent
    * identically on both engines — recorded, not hidden). */
  val psiDrift = QueryDef(
    "q_psi_drift", {
      val fSql = PsiFences.zipWithIndex.map { case (p, i) =>
        s"${Num.qroundSql(s"PERCENTILE_CONT($p) WITHIN GROUP " +
          "(ORDER BY value)", 6)} AS f${i + 1}"
      }.mkString(", ")
      val bucketSql = (1 to 9).map(i =>
        s"(CASE WHEN value > f.f$i THEN 1 ELSE 0 END)").mkString(" + ")
      val mid = "(b.mn + (b.mx - b.mn) // 2)"
      Some(s"""WITH b AS (
                SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
                FROM events WHERE value IS NOT NULL),
              e2 AS (
                SELECT event_type, value, epoch_us(ts) AS us
                FROM events WHERE value IS NOT NULL),
              f AS (
                SELECT $fSql FROM e2 CROSS JOIN b WHERE us < $mid),
              g AS (
                SELECT event_type, $bucketSql AS band,
                       CAST(SUM(CASE WHEN us < $mid THEN 1 ELSE 0 END)
                         AS BIGINT) AS cb,
                       CAST(SUM(CASE WHEN us >= $mid THEN 1 ELSE 0 END)
                         AS BIGINT) AS cc
                FROM e2 CROSS JOIN b CROSS JOIN f
                GROUP BY 1, 2),
              t AS (
                SELECT event_type, CAST(SUM(cb) AS BIGINT) AS nb,
                       CAST(SUM(cc) AS BIGINT) AS nc
                FROM g GROUP BY 1),
              terms AS (
                SELECT g.event_type, t.nb, t.nc,
                       CAST(g.cb + 1 AS DOUBLE) / CAST(t.nb + 10 AS DOUBLE)
                         AS p,
                       CAST(g.cc + 1 AS DOUBLE) / CAST(t.nc + 10 AS DOUBLE)
                         AS q
                FROM g JOIN t USING (event_type))
              SELECT event_type, nb AS n_base, nc AS n_cur,
                     ${Num.qroundSql(
                       "SUM((q - p) * " +
                         Num.qroundSql("LN(q / p)", 6) + ")", 6)} AS psi
              FROM terms GROUP BY event_type, nb, nc
              ORDER BY event_type""")
    },
    (s, d) => {
      val e2 = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
      // period split + baseline fences: two bounded driver actions
      // (min/max epoch micros; 9 decile doubles) — the X38 device
      val bRow = e2.agg(min("us"), max("us")).head()
      val mid = bRow.getLong(0) + (bRow.getLong(1) - bRow.getLong(0)) / 2
      val fences = e2.filter(col("us") < mid)
        .agg(percentile(col("value"),
          array(PsiFences.map(lit(_)): _*)).as("f"))
        .head().getSeq[Double](0)
        .map(Num.qround(_, 6))
      val band = fences.foldLeft(lit(0)) { (acc, fv) =>
        acc + when(col("value") > fv, 1).otherwise(0)
      }
      val g = e2.groupBy(col("event_type"), band.as("band"))
        .agg(sum(when(col("us") < mid, 1L).otherwise(0L)).as("cb"),
          sum(when(col("us") >= mid, 1L).otherwise(0L)).as("cc"))
      val t = g.groupBy("event_type")
        .agg(sum("cb").as("nb"), sum("cc").as("nc"))
      val p = (col("cb") + 1).cast("double") / (col("nb") + 10).cast("double")
      val q = (col("cc") + 1).cast("double") / (col("nc") + 10).cast("double")
      g.join(broadcast(t), "event_type")
        .select(col("event_type"), col("nb"), col("nc"),
          ((q - p) * Num.qround(log(q / p), 6)).as("term"))
        .groupBy(col("event_type"), col("nb").as("n_base"),
          col("nc").as("n_cur"))
        .agg(Num.qround(sum("term"), 6).as("psi"))
        .orderBy("event_type")
    })

  // ---------------------------------------------------- markov chain

  /** Event-transition matrix (X115 — the first-order Markov chain of
    * the product-analytics path report: which step follows which, the
    * row-normalized version being what journey-drop-off dashboards
    * and next-event predictors both read; the X9 sessionizer's
    * aggregate twin). Consecutive pairs via one lag() over the
    * per-user partition (ties broken by event_id — a deterministic
    * total order), transition counts one keyed aggregate, the
    * from-marginal a 5-row broadcast join; probabilities one IEEE
    * divide off exact counts. */
  val markovTransitions = QueryDef(
    "q_markov_transitions",
    Some("""WITH o AS (
              SELECT event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
              FROM events),
            p AS (
              SELECT prev AS from_type, event_type AS to_type,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
            t AS (
              SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
              FROM p GROUP BY 1)
            SELECT p.from_type, p.to_type, p.n, t.n_from,
                   CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS prob
            FROM p JOIN t USING (from_type)
            ORDER BY from_type, to_type"""),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val o = Tables.events(s, d)
        .select(col("event_type"), lag("event_type", 1).over(w).as("prev"))
      transitionMatrix(o.filter(col("prev").isNotNull)
        .select(col("prev").as("from_type"),
          col("event_type").as("to_type")))
    })

  /** Shared by the batch and streaming transition twins: pair rows →
    * row-normalized matrix (counts one keyed aggregate, from-marginal
    * a bounded broadcast join). */
  private def transitionMatrix(pairs: DataFrame): DataFrame = {
    val p = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val t = p.groupBy("from_type").agg(sum("n").as("n_from"))
    p.join(broadcast(t), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("prob"))
      .orderBy("from_type", "to_type")
  }

  /** The STATEFUL streaming twin of q_markov_transitions (X115b — the
    * X99/X15 device: one (lastTs, lastId, lastType) triple per user in
    * `flatMapGroupsWithState`, emitting append-only (from, to) pairs;
    * see [[graft.streaming.EventStream.transitionStream]]). The
    * driver's hash check replays the bounded events table through the
    * real streaming runtime and the oracle is the BATCH matrix's SQL
    * verbatim — a green row IS stream/batch transition parity. */
  val streamTransitions = QueryDef(
    "q_stream_transitions",
    markovTransitions.oracle,
    (s, d) => {
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/events.parquet")
      val pairs = EventStream.runAvailableNow(s,
        EventStream.transitionStream(EventStream.readEvents(s, src)),
        "q_stream_transitions_sink", outputMode = "append",
        statePartitions = 4)
      // fresh attribute ids: the memory-sink View resolves to the SAME
      // expression ids on both sides of the marginal self-join, which
      // the analyzer rejects ("conflicting references") — re-rooting
      // the sink output gives the join two distinct lineages
      transitionMatrix(s.createDataFrame(pairs.rdd, pairs.schema))
    })

  // ----------------------------------------------- streaming ewma

  private val StreamEwmaLambda = 0.3

  /** STREAMING EWMA anomaly chart (X179 — the streaming member of the
    * X110 control-chart family, see
    * [[graft.streaming.EventStream.ewmaStream]]: recursive e₁ = x₁,
    * e = (1−λ)e + λx over per-type daily counts, each day graded
    * against the ewma BEFORE it — one (lastDay, ewma) pair of state
    * per type, constant at any stream length). The oracle replays the
    * recursion as a DuckDB list_reduce prefix fold in the SAME IEEE
    * op order ((1−λ)·acc + λ·x, both factors the same interpolated
    * Scala doubles), so every per-day ewma/ratio/spike hashes RAW —
    * a green row is stream/batch recursion parity, not just a
    * smoke check. First day per type carries NULL ratio/spike on
    * both engines. */
  val streamEwma = QueryDef(
    "q_stream_ewma", {
      val l = StreamEwmaLambda
      val fold = s"(${1.0 - l}) * acc + ($l) * x"
      Some(s"""WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(COUNT(*) AS BIGINT) AS x
                FROM events GROUP BY 1, 2),
              lst AS (
                SELECT event_type,
                       list(CAST(x AS DOUBLE) ORDER BY day) AS xs,
                       list(day ORDER BY day) AS ds
                FROM daily GROUP BY 1),
              e AS (
                SELECT event_type, ds, xs,
                       list_transform(range(1, len(xs) + 1), t ->
                         list_reduce(xs[1:t], (acc, x) -> $fold)) AS es
                FROM lst),
              u AS (
                SELECT event_type, ds, xs, es,
                       unnest(range(1, len(ds) + 1)) AS t
                FROM e)
              SELECT event_type, ds[t] AS day,
                     CAST(xs[t] AS BIGINT) AS x, es[t] AS ewma,
                     CASE WHEN t = 1 THEN NULL
                          ELSE xs[t] / es[t - 1] END AS ratio,
                     CASE WHEN t = 1 THEN NULL
                          ELSE xs[t] / es[t - 1] > 1.5 END AS spike
              FROM u ORDER BY event_type, day""")
    },
    (s, d) => {
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/events.parquet")
      EventStream.runAvailableNow(s,
          EventStream.ewmaStream(EventStream.readEvents(s, src),
            StreamEwmaLambda),
          "q_stream_ewma_sink", outputMode = "append",
          statePartitions = 4)
        .orderBy("event_type", "day")
    })

  // ------------------------------------------------------ burstiness

  /** Inter-arrival burstiness (X116 — Goh & Barabási 2008's
    * B = (σ−μ)/(σ+μ) over inter-event gaps: −1 = metronome, 0 =
    * Poisson, →1 = bursty; the traffic-shape diagnostic next to
    * X110's volume chart — two streams with identical daily volume
    * can be a drip and a stampede). Gaps are exact integer
    * epoch-micros diffs via one lag() over the (user, type) partition
    * — the per-user keyed order, never a global per-type sequence
    * (which would funnel each type's whole stream through one task);
    * per-type μ/σ are qround(6)'d aggregates, B and CV element-wise
    * off the rounded pair. σ of a single gap is NULL by explicit
    * guard on BOTH engines (Spark's stddev_samp yields NaN, DuckDB's
    * NULL — the guard replaces the divergence). */
  val burstiness = QueryDef(
    "q_burstiness",
    Some(s"""WITH o AS (
              SELECT event_type, epoch_us(ts) AS us,
                     LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS pus
              FROM events),
            g AS (
              SELECT event_type,
                     CAST(us - pus AS DOUBLE) / 1000000.0 AS gap
              FROM o WHERE pus IS NOT NULL),
            a AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                     ${Num.qroundSql("AVG(gap)", 6)} AS mu,
                     CASE WHEN COUNT(*) > 1 THEN
                       ${Num.qroundSql("STDDEV_SAMP(gap)", 6)} END AS sigma
              FROM g GROUP BY 1)
            SELECT event_type, n_gaps, mu, sigma,
                   sigma / NULLIF(mu, 0) AS cv,
                   (sigma - mu) / NULLIF(sigma + mu, 0) AS burstiness
            FROM a ORDER BY event_type"""),
    (s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val o = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          lag(unix_micros(col("ts")), 1).over(w).as("pus"))
      val a = o.filter(col("pus").isNotNull)
        .select(col("event_type"),
          ((col("us") - col("pus")).cast("double") / lit(1000000.0))
            .as("gap"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          Num.qround(avg("gap"), 6).as("mu"),
          when(count(lit(1)) > 1, Num.qround(stddev_samp(col("gap")), 6))
            .as("sigma"))
      a.select(col("event_type"), col("n_gaps"), col("mu"), col("sigma"),
          (col("sigma") / when(col("mu") === 0, lit(null))
            .otherwise(col("mu"))).as("cv"),
          ((col("sigma") - col("mu")) /
            when(col("sigma") + col("mu") === 0, lit(null))
              .otherwise(col("sigma") + col("mu"))).as("burstiness"))
        .orderBy("event_type")
    })

  // ------------------------------------------------------- ooo depth

  /** Out-of-order depth histogram (X117 — the watermark-sizing study a
    * Structured Streaming deployment runs BEFORE picking
    * `withWatermark`: lateness = running max of event time over
    * ARRIVAL order minus own event time; the histogram's tail says
    * how much state a given watermark abandons). The synthetic table
    * arrives PERFECTLY ordered (event_id is ts-sorted — zero
    * inversions, a one-band histogram), so the arrival sequence is
    * DRESSED with a deterministic block-16 reversal (the X76
    * corpus-dressing device: a stand-in for the reordering a
    * distributed multi-source ingest actually produces; the integer
    * permutation replays identically in SQL). The running max is the
    * two-pass [[graft.ops.PrefixSum.runningMaxAsc]] — never a
    * partition-less window; banding is a CASE chain on exact integer
    * micros (no float in the classification path); shares divide by
    * one bounded count action. */
  val oooDepth = QueryDef(
    "q_ooo_depth", {
      val bandSql = """CASE WHEN late_us <= 0 THEN 0
                            WHEN late_us <= 1000000 THEN 1
                            WHEN late_us <= 10000000 THEN 2
                            WHEN late_us <= 60000000 THEN 3
                            WHEN late_us <= 600000000 THEN 4
                            WHEN late_us <= 3600000000 THEN 5
                            ELSE 6 END"""
      val labelSql = """CASE WHEN late_us <= 0 THEN 'on_time'
                             WHEN late_us <= 1000000 THEN 'le_1s'
                             WHEN late_us <= 10000000 THEN 'le_10s'
                             WHEN late_us <= 60000000 THEN 'le_1m'
                             WHEN late_us <= 600000000 THEN 'le_10m'
                             WHEN late_us <= 3600000000 THEN 'le_1h'
                             ELSE 'gt_1h' END"""
      Some(s"""WITH o AS (
                SELECT (event_id // 16) * 16 + (15 - event_id % 16)
                         AS arrival,
                       epoch_us(ts) AS us
                FROM events),
              m AS (
                SELECT us, MAX(us) OVER (ORDER BY arrival
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
                FROM o),
              l AS (SELECT mx - us AS late_us FROM m),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM o)
              SELECT $bandSql AS band, $labelSql AS band_label,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(*) AS DOUBLE) / CAST(nn.total AS DOUBLE)
                       AS share,
                     CAST(MAX(late_us) AS DOUBLE) / 1000000.0
                       AS max_late_s
              FROM l CROSS JOIN nn
              GROUP BY band, band_label, nn.total ORDER BY band""")
    },
    (s, d) => {
      val o = Tables.events(s, d)
        .select((shiftright(col("event_id"), 4) * 16 +
            (lit(15) - col("event_id") % 16)).as("arrival"),
          unix_micros(col("ts")).as("us"))
      val m = graft.ops.PrefixSum.runningMaxAsc(o, "us", "arrival", "mx")
      val late = m.select((col("mx") - col("us")).as("late_us"))
      val total = o.count() // bounded 1-long driver action (X38 device)
      val bandThresholds =
        Seq(0L, 1000000L, 10000000L, 60000000L, 600000000L, 3600000000L)
      val bandLabels = Seq("on_time", "le_1s", "le_10s", "le_1m",
        "le_10m", "le_1h")
      def chain(outs: Seq[Column], default: Column): Column =
        bandThresholds.zip(outs).foldRight(default) {
          case ((th, out), acc) => when(col("late_us") <= th, out)
            .otherwise(acc)
        }
      val band = chain((0 to 5).map(lit(_)), lit(6))
      val label = chain(bandLabels.map(lit(_)), lit("gt_1h"))
      late.groupBy(band.as("band"), label.as("band_label"))
        .agg(count(lit(1)).as("n"),
          (count(lit(1)).cast("double") / lit(total).cast("double"))
            .as("share"),
          (max("late_us").cast("double") / lit(1000000.0))
            .as("max_late_s"))
        .orderBy("band")
    })

  // ------------------------------------------------------- top paths

  /** Top session paths (X118 — the full-journey report next to X115's
    * one-step matrix: the exact ordered event-type sequence per
    * 30-minute session, counted across sessions — what a funnel
    * DESIGNER reads before deciding which stages to even put in the
    * X95 funnel). Sessions reuse the X9 sessionizer's definition
    * verbatim (lag + running flag sum over the per-user partition);
    * each session's path is an ordered fold of its OWN events
    * (array_sort on (ts, event_id, type) structs — bounded by session
    * length, never a cross-session collect); top-20 by (sessions
    * desc, path) via TakeOrdered. */
  val topPaths = QueryDef(
    "q_top_paths",
    Some(s"""WITH g AS (
              SELECT user_id, event_id, ts, event_type,
                     ${EventQueries.newSessionSql}
              FROM events),
            se AS (
              SELECT user_id, event_type, ts, event_id,
                     CAST(SUM(new_session) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS session_id
              FROM g),
            p AS (
              SELECT user_id, session_id,
                     string_agg(event_type, '>' ORDER BY ts, event_id)
                       AS path
              FROM se GROUP BY 1, 2),
            c AS (
              SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM p GROUP BY path)
            SELECT path, CAST(len(string_split(path, '>')) AS INT) AS steps,
                   n_sessions, n_users
            FROM c ORDER BY n_sessions DESC, path LIMIT 20"""),
    (s, d) => {
      val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val se = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag("us", 1).over(order))
        .withColumn("new_session",
          when(col("us") - col("prev_us") > 1800000000L, 1)
            .when(col("prev_us").isNull, 1).otherwise(0))
        .withColumn("session_id",
          sum("new_session").over(order.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).cast("long"))
      val p = se.groupBy("user_id", "session_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(
              struct(col("us"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
      p.groupBy("path")
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("path"),
          size(split(col("path"), ">")).cast("int").as("steps"),
          col("n_sessions"), col("n_users"))
        .orderBy(col("n_sessions").desc, col("path")).limit(20)
    })

  // ------------------------------------------------------ silhouette

  /** Centroid-based simplified silhouette per label (X119 — Rousseeuw
    * 1987's silhouette in its LINEAR centroid form, the variant that
    * survives scale: true silhouette is O(n²) pairwise, the
    * centroid form is one distance per (vector, cluster) — the
    * embedding-space quality gate next to X89's balance report: "do
    * these labels occupy separable regions at all?"). Centroids are
    * per-(label, dim) means — one keyed aggregate over the posexploded
    * coordinates, qround(6)'d per coordinate so both engines measure
    * against IDENTICAL centroids — collected as label-alphabet-bounded
    * driver metadata and re-entering the Spark plan as literal arrays
    * (NO join at all on the Spark side; the oracle replays them as a
    * bounded cross join). Distances are the ArrayDot left-to-right
    * kernel (bit-identical to DuckDB's list_reduce), sqrt is
    * IEEE-correctly-rounded; s = (b−a)/max(a,b) element-wise; only
    * the per-label mean is qround(6)'d. */
  val silhouette = QueryDef(
    "q_silhouette", {
      val dist =
        """SQRT(list_reduce(list_transform(range(1, len(x.embedding) + 1),
             i -> (CAST(x.embedding[i] AS DOUBLE) - c.cvec[i]) *
                  (CAST(x.embedding[i] AS DOUBLE) - c.cvec[i])),
           (p, q) -> p + q))"""
      Some(s"""WITH x AS (SELECT vec_id, label, embedding FROM embeddings),
              e1 AS (
                SELECT label, i.i AS i,
                       ${Num.qroundSql(
                         "AVG(CAST(embedding[i.i] AS DOUBLE))", 6)} AS c
                FROM x CROSS JOIN
                  (SELECT UNNEST(range(1, 65)) AS i) AS i
                GROUP BY label, i.i),
              cents AS (
                SELECT label, list(c ORDER BY i) AS cvec
                FROM e1 GROUP BY label),
              dd AS (
                SELECT x.vec_id, x.label AS own, c.label AS cl,
                       $dist AS dist
                FROM x CROSS JOIN cents c),
              sil AS (
                SELECT vec_id, own,
                       MIN(CASE WHEN cl = own THEN dist END) AS a,
                       MIN(CASE WHEN cl <> own THEN dist END) AS b
                FROM dd GROUP BY 1, 2)
              SELECT own AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                     ${Num.qroundSql(
                       "AVG(CASE WHEN GREATEST(a, b) > 0 THEN " +
                         "(b - a) / GREATEST(a, b) END)", 6)} AS mean_sil,
                     CAST(COUNT(CASE WHEN b < a THEN 1 END) AS BIGINT)
                       AS n_misfit
              FROM sil GROUP BY own ORDER BY label""")
    },
    (s, d) => {
      import graft.functions.ArrayFunctions.arrayDot
      val e = Tables.embeddings(s, d)
      // centroids: label-alphabet × dim bounded driver metadata (the
      // q_heavy_hitters sketch-collect device)
      val centRows = e
        .select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg(Num.qround(avg(col("col").cast("double")), 6).as("c"))
        .collect()
      val cents: Seq[(Int, Array[Double])] = centRows
        .groupBy(_.getInt(0))
        .map { case (l, rs) =>
          l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2))
        }
        .toSeq.sortBy(_._1)
      def distTo(c: Array[Double]): Column = {
        val diffs = zip_with(col("embedding"), lit(c),
          (x, cc) => x.cast("double") - cc)
        sqrt(arrayDot(diffs, diffs))
      }
      val a = cents.foldLeft(lit(null).cast("double")) { case (acc, (l, c)) =>
        when(col("label") === l, distTo(c)).otherwise(acc)
      }
      val b = least(cents.map { case (l, c) =>
        when(col("label") =!= l, distTo(c))
      }: _*)
      val sil = e.select(col("label"), a.as("a"), b.as("b"))
      sil.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          Num.qround(avg(when(greatest(col("a"), col("b")) > 0,
            (col("b") - col("a")) / greatest(col("a"), col("b")))), 6)
            .as("mean_sil"),
          count(when(col("b") < col("a"), 1)).as("n_misfit"))
        .orderBy("label")
    })

  // -------------------------------------------------------- ri audit

  /** Referential-integrity audit (X120 — the foreign-key orphan scan
    * every warehouse load gate runs: a child key with no parent row is
    * how a partial load or out-of-order ingest announces itself; the
    * star-schema twin of the X41 curation monitors). Five relations in
    * one plan: each is a child-key aggregate LEFT-joined to the
    * parent's distinct key set (equi-joins — AQE picks broadcast for
    * the small dims, shuffle-hash for orders at scale) counting
    * null-parent hits; the five 1-row summaries union. This corpus
    * ships CLEAN — all-zero orphans IS the audit's pass state (the
    * inverse of q_benford, whose firing is the demo), and the spec
    * pins that contract. */
  val riAudit = QueryDef(
    "q_ri_audit", {
      def rel(name: String, child: String, ck: String, parent: String,
          pk: String) =
        s"""SELECT '$name' AS relation,
              CAST(COUNT(*) AS BIGINT) AS n_child,
              CAST(COUNT(DISTINCT c.$ck) AS BIGINT) AS n_child_keys,
              CAST(COUNT(CASE WHEN p.$pk IS NULL THEN 1 END) AS BIGINT)
                AS n_orphans,
              CAST(COUNT(CASE WHEN p.$pk IS NULL THEN 1 END) AS DOUBLE) /
                CAST(COUNT(*) AS DOUBLE) AS orphan_rate
            FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
              ON c.$ck = p.$pk"""
      Some(Seq(
        rel("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        rel("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        rel("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        rel("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        rel("events.user_id->customer", "events", "user_id",
          "customer", "c_custkey"))
        .mkString(" UNION ALL ") + " ORDER BY relation")
    },
    (s, d) => {
      def rel(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val p = parent.select(col(pk).as("__pk")).distinct()
        child.select(col(ck).as("__ck"))
          .join(p, col("__ck") === col("__pk"), "left")
          .agg(count(lit(1)).as("n_child"),
            countDistinct(col("__ck")).as("n_child_keys"),
            count(when(col("__pk").isNull, 1)).as("n_orphans"),
            (count(when(col("__pk").isNull, 1)).cast("double") /
              count(lit(1)).cast("double")).as("orphan_rate"))
          .select(lit(name).as("relation"), col("n_child"),
            col("n_child_keys"), col("n_orphans"), col("orphan_rate"))
      }
      val li = Tables.lineitem(s, d)
      Seq(
        rel("lineitem.orderkey->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        rel("lineitem.partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        rel("lineitem.suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        rel("orders.custkey->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        rel("events.user_id->customer", Tables.events(s, d), "user_id",
          Tables.customer(s, d), "c_custkey"))
        .reduce(_ unionAll _)
        .orderBy("relation")
    })

  // --------------------------------------------------------- islands

  /** Gaps-and-islands run-length profile (X121 — the value-change
    * islands pattern next to X9's time-gap sessions: maximal runs of
    * the SAME event type per user in event order; run-length shapes
    * are how bot/replay traffic shows up — humans interleave, scripts
    * repeat). Island ids = running sum of change flags over the
    * per-user partition (the sessionize device with a value-change
    * trigger instead of a time gap); the profile aggregates islands
    * by (type, length) so output stays alphabet×length bounded
    * whatever the corpus size. */
  val islands = QueryDef(
    "q_islands",
    Some("""WITH g AS (
              SELECT user_id, event_type, ts, event_id,
                     CASE WHEN LAG(event_type) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                            IS DISTINCT FROM event_type THEN 1
                          ELSE 0 END AS chg
              FROM events),
            i AS (
              SELECT user_id, event_type,
                     CAST(SUM(chg) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS island_id
              FROM g),
            r AS (
              SELECT user_id, island_id, event_type,
                     CAST(COUNT(*) AS BIGINT) AS run_len
              FROM i GROUP BY 1, 2, 3)
            SELECT event_type, run_len,
                   CAST(COUNT(*) AS BIGINT) AS n_islands
            FROM r GROUP BY 1, 2 ORDER BY event_type, run_len"""),
    (s, d) => {
      val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val g = Tables.events(s, d)
        .withColumn("chg",
          when(lag("event_type", 1).over(order).isNull ||
            lag("event_type", 1).over(order) =!= col("event_type"), 1)
            .otherwise(0))
      // first row: LAG NULL IS DISTINCT FROM type → 1 (both engines)
      g.withColumn("island_id",
          sum("chg").over(order.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .groupBy("user_id", "island_id", "event_type")
        .agg(count(lit(1)).as("run_len"))
        .groupBy("event_type", "run_len")
        .agg(count(lit(1)).as("n_islands"))
        .orderBy("event_type", "run_len")
    })

  // -------------------------------------------------- funnel latency

  /** Funnel conversion latency (X122 — the TIME dimension of the X95
    * funnel: the ordered view→click→purchase definition, but reporting
    * how LONG each converting user took per leg — the metric that
    * separates "conversion works" from "conversion takes three
    * weeks"). Stage entries are the X95 keyed min-aggregates (first
    * qualifying event at-or-after the prior stage's entry — three
    * user-keyed joins, no windows, no per-user event lists); leg
    * durations are exact integer micros diffs; per-leg mean/p50/p90
    * are qround'd aggregates over the converting cohort. */
  val funnelLatency = QueryDef(
    "q_funnel_latency", {
      def leg(name: String, fromT: String, toT: String) =
        s"""SELECT '$name' AS leg, CAST(COUNT(*) AS BIGINT) AS n_users,
              ${Num.qroundSql(s"AVG(($toT - $fromT) / 1000000.0)", 4)}
                AS mean_s,
              ${Num.qroundSql("PERCENTILE_CONT(0.5) WITHIN GROUP " +
                s"(ORDER BY ($toT - $fromT) / 1000000.0)", 4)} AS p50_s,
              ${Num.qroundSql("PERCENTILE_CONT(0.9) WITHIN GROUP " +
                s"(ORDER BY ($toT - $fromT) / 1000000.0)", 4)} AS p90_s
            FROM j WHERE $toT IS NOT NULL"""
      Some(s"""WITH v AS (
                SELECT user_id, MIN(epoch_us(ts)) AS v_us
                FROM events WHERE event_type = 'view' GROUP BY user_id),
              c AS (
                SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.v_us
                GROUP BY e.user_id),
              p AS (
                SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
                GROUP BY e.user_id),
              j AS (
                SELECT v.user_id, v.v_us, c.c_us, p.p_us
                FROM v LEFT JOIN c ON v.user_id = c.user_id
                       LEFT JOIN p ON v.user_id = p.user_id)
              ${leg("1_view_to_click", "v_us", "c_us")}
              UNION ALL ${leg("2_click_to_purchase", "c_us", "p_us")}
              UNION ALL ${leg("3_view_to_purchase", "v_us", "p_us")}
              ORDER BY leg""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("us") >= col("v_us"))
        .groupBy("user_id").agg(min("us").as("c_us"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("us") >= col("c_us"))
        .groupBy("user_id").agg(min("us").as("p_us"))
      val j = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      def leg(name: String, fromC: String, toC: String): DataFrame = {
        val dur = (col(toC) - col(fromC)) / lit(1000000.0)
        j.filter(col(toC).isNotNull)
          .agg(count(lit(1)).as("n_users"),
            Num.qround(avg(dur), 4).as("mean_s"),
            Num.qround(percentile(dur, lit(0.5)), 4).as("p50_s"),
            Num.qround(percentile(dur, lit(0.9)), 4).as("p90_s"))
          .select(lit(name).as("leg"), col("n_users"), col("mean_s"),
            col("p50_s"), col("p90_s"))
      }
      leg("1_view_to_click", "v_us", "c_us")
        .unionAll(leg("2_click_to_purchase", "c_us", "p_us"))
        .unionAll(leg("3_view_to_purchase", "v_us", "p_us"))
        .orderBy("leg")
    })

  // --------------------------------------------------- recency score

  /** Recency-decayed engagement score (X123 — the exponentially-
    * time-decayed sum every ranking/retention feature store keeps:
    * score = Σ value·2^(−age/τ), half-life τ = 7 days; a click last
    * night outweighs a spree last quarter — the streaming-friendly
    * alternative to windowed recounts, since the decay composes
    * multiplicatively across snapshots). Reference "now" = max event
    * time (one bounded action); ages are exact integer micros; each
    * 2^(−age/τ) weight is qround(6)'d (the X63 transcendental lane —
    * pow is not correctly-rounded libm), the weighted terms are
    * element-wise, only the per-user sum takes the final qround. Top
    * 20 via TakeOrdered on the canonicalized score (cross-engine
    * deterministic ranking, user-id tie-break). */
  val recencyScore = QueryDef(
    "q_recency_score", {
      val halfLifeUs = "604800000000.0" // 7 days in micros
      Some(s"""WITH mx AS (SELECT MAX(epoch_us(ts)) AS now_us FROM events),
              t AS (
                SELECT user_id, value,
                       ${Num.qroundSql("POWER(2.0, " +
                         s"-((mx.now_us - epoch_us(ts)) / $halfLifeUs))", 6)}
                         AS w
                FROM events CROSS JOIN mx),
              sc AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                       ${Num.qroundSql("SUM(value * w)", 6)} AS score
                FROM t GROUP BY user_id)
              SELECT user_id, n_events, score FROM sc
              ORDER BY score DESC, user_id LIMIT 20""")
    },
    (s, d) => {
      val halfLifeUs = 604800000000.0
      val ev = Tables.events(s, d)
      // reference instant: one bounded 1-long driver action
      val nowUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val w = Num.qround(
        pow(lit(2.0),
          -((lit(nowUs) - unix_micros(col("ts"))) / lit(halfLifeUs))), 6)
      ev.select(col("user_id"), (col("value") * w).as("term"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          Num.qround(sum("term"), 6).as("score"))
        .select(col("user_id"), col("n_events"), col("score"))
        .orderBy(col("score").desc, col("user_id")).limit(20)
    })

  // --------------------------------------------------------- ab test

  /** Two-proportion A/B z-test (X124 — the experiment readout every
    * growth team runs: did treatment move conversion beyond what the
    * pooled rate explains? The SIGNIFICANCE sibling of the X95
    * funnel's raw rates). Cohort assignment is the portable md5
    * hash-split ([[graft.ops.Bloom.hashMod]] — the same deterministic
    * device as the X44 leakage split, replayed by the oracle from the
    * hash definition itself, so assignment is auditable not just
    * reproducible); conversion is one per-user keyed aggregate; the
    * whole readout reduces in ONE conditional aggregate (no cohort
    * join), z element-wise off exact integer counts (sqrt
    * IEEE-correctly-rounded). */
  val abTest = QueryDef(
    "q_ab_test", {
      val coh = Bloom.hashModSql("ab:", "user_id", 2)
      val pa = "CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
      val pb = "CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
      val pp = "CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"
      // NULLIF: a degenerate cohort (everyone or no one converted →
      // pooled variance 0) must yield NULL on BOTH engines — Spark's
      // non-ANSI divide already nulls on a zero divisor, DuckDB would
      // emit ±inf without the guard
      val z = s"""(($pb) - ($pa)) /
        NULLIF(SQRT(($pp) * (1.0 - ($pp)) *
          (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0)"""
      Some(s"""WITH u AS (
                SELECT user_id, $coh AS cohort,
                       MAX(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS conv
                FROM events GROUP BY user_id),
              s AS (
                SELECT CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN cohort = 0 THEN conv ELSE 0 END)
                         AS BIGINT) AS conv_a,
                       CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                       CAST(SUM(CASE WHEN cohort = 1 THEN conv ELSE 0 END)
                         AS BIGINT) AS conv_b
                FROM u)
              SELECT n_a, conv_a, $pa AS p_a, n_b, conv_b, $pb AS p_b,
                     $z AS z, ABS($z) > 1.96 AS significant
              FROM s""")
    },
    (s, d) => {
      val u = Tables.events(s, d)
        .groupBy(col("user_id"),
          Bloom.hashMod("ab:", col("user_id"), 2).as("cohort"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
      val agg = u.agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 0, col("conv").cast("long"))
          .otherwise(0L)).as("conv_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("cohort") === 1, col("conv").cast("long"))
          .otherwise(0L)).as("conv_b"))
      val pa = col("conv_a").cast("double") / col("n_a").cast("double")
      val pb = col("conv_b").cast("double") / col("n_b").cast("double")
      val pp = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val z = (pb - pa) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double")))
      agg.select(col("n_a"), col("conv_a"), pa.as("p_a"),
        col("n_b"), col("conv_b"), pb.as("p_b"),
        z.as("z"), (abs(z) > 1.96).as("significant"))
    })

  // ----------------------------------------------------- followed by

  /** Eventual-follow support matrix (X125 — the NON-consecutive
    * companion to X115's adjacent transitions: for each type pair
    * (a, b), how many users ever did a STRICTLY BEFORE their last b?
    * Sequential-pattern mining's length-2 support, the input a
    * market-basket "people who viewed eventually purchased" claim is
    * built on). Per-(user, type) first/last times are ONE keyed
    * aggregate; the pair expansion is a user-keyed self-join whose
    * per-user output is alphabet²-bounded (25 rows — an equi-join,
    * never a product); support and per-antecedent rates reduce
    * keyed. */
  val followedBy = QueryDef(
    "q_followed_by",
    Some("""WITH s AS (
              SELECT user_id, event_type,
                     MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
              FROM events GROUP BY 1, 2),
            pr AS (
              SELECT a.event_type AS from_type, b.event_type AS to_type,
                     CAST(COUNT(CASE WHEN a.mn < b.mx THEN 1 END)
                       AS BIGINT) AS n_users
              FROM s a JOIN s b ON a.user_id = b.user_id
              GROUP BY 1, 2),
            ante AS (
              SELECT event_type AS from_type,
                     CAST(COUNT(*) AS BIGINT) AS n_users_from
              FROM s GROUP BY 1)
            SELECT pr.from_type, pr.to_type, pr.n_users, ante.n_users_from,
                   CAST(pr.n_users AS DOUBLE) /
                     CAST(ante.n_users_from AS DOUBLE) AS support
            FROM pr JOIN ante USING (from_type)
            ORDER BY from_type, to_type"""),
    (s, d) => {
      val st = Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx"))
      val a = st.select(col("user_id"), col("event_type").as("from_type"),
        col("mn"))
      val b = st.select(col("user_id"), col("event_type").as("to_type"),
        col("mx"))
      val pr = a.join(b, "user_id")
        .groupBy("from_type", "to_type")
        .agg(count(when(col("mn") < col("mx"), 1)).as("n_users"))
      val ante = st.groupBy(col("event_type").as("from_type"))
        .agg(count(lit(1)).as("n_users_from"))
      pr.join(broadcast(ante), "from_type")
        .select(col("from_type"), col("to_type"), col("n_users"),
          col("n_users_from"),
          (col("n_users").cast("double") /
            col("n_users_from").cast("double")).as("support"))
        .orderBy("from_type", "to_type")
    })

  // ----------------------------------------------------- corr matrix

  /** Pearson correlation matrix over the lineitem measures (X126 —
    * the first page of any feature-engineering EDA: which measures
    * carry independent signal; also the collinearity screen a linear
    * quality-model fit needs). All six pairwise correlations reduce
    * in ONE aggregate pass over the scan (Spark's corr is the
    * numerically-stable co-moment form, same definition as DuckDB's);
    * each is qround(6)'d — correlation is an aggregate, not
    * element-wise. */
  val corrMatrix = QueryDef(
    "q_corr_matrix", {
      def c(x: String, y: String) =
        Num.qroundSql(s"CORR($x, $y)", 6)
      Some(s"""SELECT ${c("l_quantity", "l_extendedprice")} AS qty_price,
                      ${c("l_quantity", "l_discount")} AS qty_disc,
                      ${c("l_quantity", "l_tax")} AS qty_tax,
                      ${c("l_extendedprice", "l_discount")} AS price_disc,
                      ${c("l_extendedprice", "l_tax")} AS price_tax,
                      ${c("l_discount", "l_tax")} AS disc_tax
               FROM lineitem""")
    },
    (s, d) => Tables.lineitem(s, d).agg(
      Num.qround(corr(col("l_quantity"), col("l_extendedprice")), 6)
        .as("qty_price"),
      Num.qround(corr(col("l_quantity"), col("l_discount")), 6)
        .as("qty_disc"),
      Num.qround(corr(col("l_quantity"), col("l_tax")), 6).as("qty_tax"),
      Num.qround(corr(col("l_extendedprice"), col("l_discount")), 6)
        .as("price_disc"),
      Num.qround(corr(col("l_extendedprice"), col("l_tax")), 6)
        .as("price_tax"),
      Num.qround(corr(col("l_discount"), col("l_tax")), 6).as("disc_tax")))

  // ------------------------------------------------- pareto coverage

  /** Pareto concentration coverage (X127 — "how many top users carry
    * 50/80/95% of the traffic", the actionable readout of X111's Gini:
    * a capacity plan caps THESE users, an outreach plan calls them).
    * Per-user counts rank through the X52 two-pass
    * [[graft.ops.PrefixSum.runningTotalDesc]] (busiest first, user-id
    * tie-break — no partition-less window); coverage thresholds are
    * EXACT integer ceilings (⌈p·total⌉ via (k·t + k)/d integer
    * arithmetic — no float in the cut); the three counts reduce in one
    * conditional aggregate over the cumulative column. */
  val paretoCoverage = QueryDef(
    "q_pareto_coverage",
    Some("""WITH g AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY user_id),
            c AS (
              SELECT cnt, CAST(SUM(cnt) OVER (ORDER BY cnt DESC, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
              FROM g),
            nn AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                     CAST(SUM(cnt) AS BIGINT) AS n_events
              FROM g)
            SELECT nn.n_users, nn.n_events,
                   CAST(SUM(CASE WHEN cum < (nn.n_events + 1) // 2
                     THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n50,
                   CAST(SUM(CASE WHEN cum < (4 * nn.n_events + 4) // 5
                     THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n80,
                   CAST(SUM(CASE WHEN cum < (19 * nn.n_events + 19) // 20
                     THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n95
            FROM c CROSS JOIN nn GROUP BY nn.n_users, nn.n_events"""),
    (s, d) => {
      val g = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val c = graft.ops.PrefixSum.runningTotalDesc(g, "cnt", "cnt",
        "user_id", "cum")
      // totals: one bounded 2-long driver action (X38 device)
      val nn = g.agg(count(lit(1)), sum("cnt")).head()
      val (nUsers, nEvents) = (nn.getLong(0), nn.getLong(1))
      def th(num: Long, den: Long) = (num * nEvents + num) / den
      c.agg(
        (sum(when(col("cum") < th(1, 2), 1L).otherwise(0L)) + 1).as("n50"),
        (sum(when(col("cum") < th(4, 5), 1L).otherwise(0L)) + 1).as("n80"),
        (sum(when(col("cum") < th(19, 20), 1L).otherwise(0L)) + 1)
          .as("n95"))
        .select(lit(nUsers).as("n_users"), lit(nEvents).as("n_events"),
          col("n50"), col("n80"), col("n95"))
    })

  // ---------------------------------------------------- window ranks

  /** Relative-rank window completion (X128 — ntile / percent_rank /
    * cume_dist, the three relative-position window functions the W1
    * inventory didn't yet carry: quartile assignment for binned
    * reporting, percentile position for score normalization, CDF
    * position for threshold tuning). All three share one PARTITIONED
    * window over a UNIQUE compound order (price, orderkey — ties in
    * the float key alone would make ntile/row-dependent ranks
    * nondeterministic); definitions are identical across engines
    * (ntile: first buckets take the remainder; percent_rank:
    * (rank−1)/(n−1); cume_dist: peers-inclusive). The rank ratios are
    * element-wise exact integer divides. */
  val windowRanks = QueryDef(
    "q_window_ranks",
    Some("""SELECT o_orderpriority, o_orderkey, o_totalprice,
                   CAST(NTILE(4) OVER w AS INT) AS quartile,
                   PERCENT_RANK() OVER w AS pct_rank,
                   CUME_DIST() OVER w AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_orderpriority, o_totalprice, o_orderkey"""),
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      Tables.orders(s, d).select(
          col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    })

  // --------------------------------------------------------- boxplot

  /** Grouped exact quantile profile / boxplot (X160 — per-source
    * p25/median/p75, IQR, Tukey 1.5·IQR fences and outlier counts:
    * the distribution profile a corpus intake dashboard shows per
    * source). The POINT is the plan shape: Spark's `percentile`
    * aggregate buffers every group value in memory (the per-group
    * collect anti-pattern — a 20M-row group OOMs an executor); here
    * quantiles come from the DISTINCT-VALUE counting device — one
    * keyed (source, value) count, a source-partitioned cumulative
    * (each partition holds only the source's distinct values —
    * alphabet-bounded), and each quantile is one conditional-min
    * lookup. With quarter quantiles the interpolation is EXACT
    * integer arithmetic end-to-end: h = (n−1)·k/4 splits into an
    * integer rank and a frac ∈ {0, ¼, ½, ¾} (exact in IEEE), values
    * are integers, so every output — quantiles, IQR, fences, outlier
    * counts — hashes RAW with no qround anywhere. */
  val boxplot = QueryDef(
    "q_boxplot",
    Some("""WITH g AS (
              SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS m
              FROM documents GROUP BY 1, 2),
            c AS (
              SELECT source, v, m,
                     CAST(SUM(m) OVER (PARTITION BY source ORDER BY v)
                       AS BIGINT) AS cum
              FROM g),
            n AS (SELECT source, CAST(SUM(m) AS BIGINT) AS n
                  FROM g GROUP BY 1),
            r AS (
              SELECT n.source, n.n,
                     (n.n - 1) * 1 // 4 + 1 AS lo1,
                     ((n.n - 1) * 1 % 4) AS f1,
                     (n.n - 1) * 2 // 4 + 1 AS lo2,
                     ((n.n - 1) * 2 % 4) AS f2,
                     (n.n - 1) * 3 // 4 + 1 AS lo3,
                     ((n.n - 1) * 3 % 4) AS f3
              FROM n),
            q AS (
              SELECT r.source, r.n,
                     MIN(CASE WHEN c.cum >= r.lo1 THEN c.v END) AS a1,
                     MIN(CASE WHEN c.cum >= r.lo1 + 1 THEN c.v END) AS b1,
                     r.f1,
                     MIN(CASE WHEN c.cum >= r.lo2 THEN c.v END) AS a2,
                     MIN(CASE WHEN c.cum >= r.lo2 + 1 THEN c.v END) AS b2,
                     r.f2,
                     MIN(CASE WHEN c.cum >= r.lo3 THEN c.v END) AS a3,
                     MIN(CASE WHEN c.cum >= r.lo3 + 1 THEN c.v END) AS b3,
                     r.f3
              FROM r JOIN c ON c.source = r.source
              GROUP BY r.source, r.n, r.f1, r.f2, r.f3),
            p AS (
              SELECT source, n,
                     CAST(a1 AS DOUBLE) + (CAST(f1 AS DOUBLE) / 4.0) *
                       (CAST(COALESCE(b1, a1) AS DOUBLE)
                        - CAST(a1 AS DOUBLE)) AS p25,
                     CAST(a2 AS DOUBLE) + (CAST(f2 AS DOUBLE) / 4.0) *
                       (CAST(COALESCE(b2, a2) AS DOUBLE)
                        - CAST(a2 AS DOUBLE)) AS p50,
                     CAST(a3 AS DOUBLE) + (CAST(f3 AS DOUBLE) / 4.0) *
                       (CAST(COALESCE(b3, a3) AS DOUBLE)
                        - CAST(a3 AS DOUBLE)) AS p75
              FROM q),
            f AS (
              SELECT source, n, p25, p50, p75, p75 - p25 AS iqr,
                     p25 - 1.5 * (p75 - p25) AS lo_fence,
                     p75 + 1.5 * (p75 - p25) AS hi_fence
              FROM p)
            SELECT f.source, f.n, f.p25, f.p50, f.p75, f.iqr,
                   f.lo_fence, f.hi_fence,
                   CAST(COALESCE(SUM(CASE WHEN CAST(g.v AS DOUBLE)
                       < f.lo_fence OR CAST(g.v AS DOUBLE) > f.hi_fence
                     THEN g.m END), 0) AS BIGINT) AS n_outliers
            FROM f JOIN g ON g.source = f.source
            GROUP BY f.source, f.n, f.p25, f.p50, f.p75, f.iqr,
                     f.lo_fence, f.hi_fence
            ORDER BY f.source"""),
    (s, d) => {
      val g = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("m"))
        .localCheckpoint(true) // feeds cum, totals, and outlier count
      val c = g.withColumn("cum",
        sum("m").over(Window.partitionBy("source").orderBy("v")))
      val n = g.groupBy("source").agg(sum("m").as("n"))
      val r = n.select(col("source"), col("n"),
        ((col("n") - 1) * 1 / 4).cast("long").as("lo1"),
        pmod((col("n") - 1) * 1, lit(4)).as("f1"),
        ((col("n") - 1) * 2 / 4).cast("long").as("lo2"),
        pmod((col("n") - 1) * 2, lit(4)).as("f2"),
        ((col("n") - 1) * 3 / 4).cast("long").as("lo3"),
        pmod((col("n") - 1) * 3, lit(4)).as("f3"))
      val joined = r.join(c.withColumnRenamed("source", "src2"),
        col("source") === col("src2"))
      val q = joined.groupBy("source", "n", "f1", "f2", "f3")
        .agg(
          min(when(col("cum") >= col("lo1") + 1, col("v"))).as("a1"),
          min(when(col("cum") >= col("lo1") + 2, col("v"))).as("b1"),
          min(when(col("cum") >= col("lo2") + 1, col("v"))).as("a2"),
          min(when(col("cum") >= col("lo2") + 2, col("v"))).as("b2"),
          min(when(col("cum") >= col("lo3") + 1, col("v"))).as("a3"),
          min(when(col("cum") >= col("lo3") + 2, col("v"))).as("b3"))
      def interp(k: Int) =
        col(s"a$k").cast("double") +
          (col(s"f$k").cast("double") / lit(4.0)) *
          (coalesce(col(s"b$k"), col(s"a$k")).cast("double") -
            col(s"a$k").cast("double"))
      val p = q.select(col("source"), col("n"),
        interp(1).as("p25"), interp(2).as("p50"), interp(3).as("p75"))
      val f = p
        .withColumn("iqr", col("p75") - col("p25"))
        .withColumn("lo_fence", col("p25") - lit(1.5) * col("iqr"))
        .withColumn("hi_fence", col("p75") + lit(1.5) * col("iqr"))
      f.join(g.withColumnRenamed("source", "gs"),
          col("source") === col("gs"))
        .groupBy("source", "n", "p25", "p50", "p75", "iqr",
          "lo_fence", "hi_fence")
        .agg(coalesce(sum(when(
            col("v").cast("double") < col("lo_fence") ||
            col("v").cast("double") > col("hi_fence"), col("m"))),
          lit(0L)).as("n_outliers"))
        .orderBy("source")
    })

  // ----------------------------------------------------- cdc compact

  /** CDC latest-wins compaction (X129 — the change-log → current-state
    * merge every lakehouse MERGE INTO / upsert pipeline performs:
    * each user's event stream is a change log, the compacted table
    * keeps only the newest version per key plus its version count).
    * One partitioned row_number + count window pass over the keyed
    * partition (the deterministic (ts, event_id) DESC order), filter
    * rn = 1 — never a self-join against a max-ts subquery (the
    * classic twice-the-scan anti-pattern this operator replaces). */
  val cdcCompact = QueryDef(
    "q_cdc_compact",
    Some(EventQueries.cdcLatestSql),
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val cw = Window.partitionBy("user_id")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_versions", count(lit(1)).over(cw))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"),
          col("n_versions"))
        .orderBy("user_id")
    })

  // ------------------------------------------------------- kmv union

  private val KmvK = 64

  /** The per-type KMV sketches of the two KMV rows as CTEs: salted
    * 60-bit user hashes `h`, distinct (event_type, h) `d`, and each
    * type's KmvK smallest hashes `sk` (event_type, hs). */
  private def kmvSketchSql(salt: String): String = {
    val hash = s"""CAST('0x' || substring(md5('$salt'
        || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"""
    s"""h AS (
                SELECT event_type, user_id, $hash AS h FROM events),
              d AS (SELECT DISTINCT event_type, h FROM h),
              sk AS (
                SELECT event_type, list(h ORDER BY h)[1:$KmvK] AS hs
                FROM d GROUP BY event_type)"""
  }

  /** The KMV estimate over a sketch `hs`: its size below KmvK, else
    * (KmvK − 1) / (KmvK-th smallest hash / 2^60). */
  private val kmvEstSql =
    s"""CASE WHEN len(hs) < $KmvK THEN CAST(len(hs) AS DOUBLE)
             ELSE ${KmvK - 1}.0 / (CAST(hs[$KmvK] AS DOUBLE)
                                / 1152921504606846976.0) END"""

  /** KMV sketch merge-union (X130 — the associativity a 1000-executor
    * distinct-count rollup RELIES on: per-partition sketches must
    * merge to the same sketch a single pass would build. The gate
    * PROVES it: the Spark side computes the union estimate by MERGING
    * the five per-type sketches — explode + one more bounded bottom-k
    * aggregate — while the oracle computes it DIRECTLY from the
    * all-rows distinct hash set; a hash-green row is a cross-engine
    * proof that merge ≡ direct, not just that both numbers look
    * close). Per-type rows replay the q_kmv_distinct device; the
    * portable 60-bit md5 hash keeps every value bit-exact. */
  val kmvUnion = QueryDef(
    "q_kmv_union", {
      Some(s"""WITH ${kmvSketchSql("kmvu:")},
              pt AS (
                SELECT event_type AS scope, $kmvEstSql AS kmv_est FROM sk),
              du AS (SELECT DISTINCT h FROM h),
              su AS (SELECT list(h ORDER BY h)[1:$KmvK] AS hs FROM du),
              un AS (SELECT '<union>' AS scope, $kmvEstSql AS kmv_est FROM su),
              ex AS (
                SELECT event_type AS scope,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
                FROM events GROUP BY event_type
                UNION ALL
                SELECT '<union>', CAST(COUNT(DISTINCT user_id) AS BIGINT)
                FROM events)
              SELECT ex.scope, ex.n_exact, e.kmv_est,
                     ABS(e.kmv_est - CAST(ex.n_exact AS DOUBLE))
                       / CAST(ex.n_exact AS DOUBLE) <= 0.3 AS within_tol
              FROM ex JOIN (SELECT * FROM pt UNION ALL SELECT * FROM un) e
                ON e.scope = ex.scope
              ORDER BY ex.scope""")
    },
    (s, d) => {
      import graft.functions.SketchFunctions
      val h = conv(substring(md5(concat(lit("kmvu:"),
        col("user_id").cast("string"))), 1, 15), 16, 10).cast("long")
      val ev = Tables.events(s, d).select(col("event_type"),
        col("user_id"), h.as("h"))
      val perType = ev.groupBy("event_type")
        .agg(SketchFunctions.bottomK(col("h"), KmvK).as("sketch"),
          countDistinct(col("user_id")).as("n_exact"))
      // the MERGE path: per-type sketches explode back to hash rows
      // and re-reduce through the same bounded bottom-k aggregate —
      // 5×64 longs, the shape of an executor-level rollup
      val merged = perType
        .select(explode(col("sketch")).as("h"))
        .agg(SketchFunctions.bottomK(col("h"), KmvK).as("sketch"))
      val unionExact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
        .head().getLong(0) // bounded 1-long action for the union row
      val pt = perType.select(col("event_type").as("scope"),
        col("n_exact"),
        SketchFunctions.kmvEstimate(col("sketch"), KmvK).as("kmv_est"))
      val un = merged.select(
        SketchFunctions.kmvEstimate(col("sketch"), KmvK).as("kmv_est"))
        .select(lit("<union>").as("scope"), lit(unionExact).as("n_exact"),
          col("kmv_est"))
      pt.unionAll(un)
        .withColumn("within_tol",
          abs(col("kmv_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") <= 0.3)
        .orderBy("scope")
    })

  // ---------------------------------------------------- html extract

  /** HTML → text extraction (X131 — THE first transform of every
    * crawl pipeline: strip markup, decode entities, normalize
    * whitespace; trafilatura/jusText's baseline layer re-expressed as
    * pure codegen'd regex/replace chains — shuffle-free, scan-shaped).
    * The corpus is plain text, so each doc is DRESSED into an HTML
    * page (title/h1/p wrapper + planted entities — the X76 dressing
    * device, replayed by the oracle) and then extracted BACK: tag
    * strip via `<[^>]*>` (a literal-class regex java.util.regex and
    * RE2 agree on), entity decode in the canonical order (&amp; LAST,
    * so planted `&amp;lt;` decodes to the literal `&lt;` not `<`),
    * whitespace collapse + trim. The ok column pins the round-trip:
    * extracted text == the same normalization applied to the raw
    * text + planted suffix. */
  val htmlExtract = QueryDef(
    "q_html_extract", {
      Some("""WITH h AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                         || '</title></head><body><h1>Doc '
                         || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
                         || '</p><p>tail &amp; &lt;raw&gt; &quot;q&#39;</p>'
                         || '</body></html>' AS html,
                       text
                FROM documents),
              x AS (
                SELECT doc_id, html,
                       trim(regexp_replace(
                         replace(replace(replace(replace(replace(
                           regexp_replace(html, '<[^>]*>', ' ', 'g'),
                           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                           '&#39;', ''''), '&amp;', '&'),
                         '\s+', ' ', 'g')) AS extracted,
                       trim(regexp_replace(
                         'Doc ' || CAST(doc_id AS VARCHAR) || ' Doc '
                           || CAST(doc_id AS VARCHAR) || ' ' || text
                           || ' tail & <raw> "q''',
                         '\s+', ' ', 'g')) AS expected
                FROM h)
              SELECT doc_id, CAST(length(html) AS BIGINT) AS n_chars_html,
                     CAST(length(extracted) AS BIGINT) AS n_chars_text,
                     extracted = expected AS ok
              FROM x ORDER BY doc_id""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idStr = col("doc_id").cast("string")
      val html = concat(lit("<html><head><title>Doc "), idStr,
        lit("</title></head><body><h1>Doc "), idStr, lit("</h1><p>"),
        col("text"),
        lit("</p><p>tail &amp; &lt;raw&gt; &quot;q&#39;</p>"),
        lit("</body></html>"))
      def normalize(c: Column): Column =
        trim(regexp_replace(c, "\\s+", " "))
      val extracted = normalize(
        regexp_replace( // decode &amp; LAST — canonical entity order
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(html, "<[^>]*>", " "),
            "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
            "&#39;", "'"), "&amp;", "&"))
      val expected = normalize(concat(lit("Doc "), idStr, lit(" Doc "),
        idStr, lit(" "), col("text"), lit(" tail & <raw> \"q'")))
      docs.select(col("doc_id"),
        length(html).cast("long").as("n_chars_html"),
        length(extracted).cast("long").as("n_chars_text"),
        (extracted === expected).as("ok"))
        .orderBy("doc_id")
    })

  // -------------------------------------------------- vocab coverage

  /** Tokenizer vocabulary coverage curve (X132 — coverage@k, the
    * metric a vocab-size decision is actually made on: what share of
    * token INSTANCES do the top-k types cover? The frequency-side
    * twin of X112's type-growth curve, and the X127 Pareto device
    * applied to vocabulary). Scale shape: type counts compress to a
    * (frequency, multiplicity) table — bounded by DISTINCT frequency
    * values, collapsed by orders of magnitude from the type universe —
    * then BOTH running totals (types, instances) rank through the
    * two-pass [[graft.ops.PrefixSum.runningTotalDesc]] over that
    * compressed table. Coverage at each k is EXACT integer arithmetic:
    * within a frequency bucket all types tie, so the partial bucket
    * contributes (k − types_before)·freq — no per-type ranking
    * anywhere. */
  val vocabCoverage = QueryDef(
    "q_coverage_at_k", {
      val ks = Seq(10, 100, 1000)
      val rows = ks.map { k =>
        s"""SELECT $k AS k,
              CAST(SUM(CASE WHEN ct <= $k THEN inst
                WHEN ct - m < $k THEN ($k - (ct - m)) * cnt
                ELSE 0 END) AS BIGINT) AS covered
            FROM c"""
      }.mkString(" UNION ALL ")
      Some(s"""WITH tl AS (
                SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> len(t) > 0) AS toks
                FROM documents),
              u AS (SELECT unnest(toks) AS w FROM tl),
              tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                     FROM u GROUP BY w),
              v AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS m,
                           CAST(cnt * COUNT(*) AS BIGINT) AS inst
                    FROM tc GROUP BY cnt),
              c AS (
                SELECT cnt, m, inst,
                       CAST(SUM(m) OVER (ORDER BY cnt DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS ct
                FROM v),
              nn AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
                       CAST(SUM(cnt) AS BIGINT) AS n_instances
                FROM tc),
              kk AS ($rows)
              SELECT kk.k, nn.n_types, nn.n_instances,
                     LEAST(kk.covered, nn.n_instances) AS covered,
                     CAST(LEAST(kk.covered, nn.n_instances) AS DOUBLE) /
                       CAST(nn.n_instances AS DOUBLE) AS coverage
              FROM kk CROSS JOIN nn ORDER BY kk.k""")
    },
    (s, d) => {
      val tc = Tables.documents(s, d)
        .select(explode(Text.tokens(lower(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      val v = tc.groupBy("cnt")
        .agg(count(lit(1)).as("m"), (col("cnt") * count(lit(1))).as("inst"))
      val c = graft.ops.PrefixSum.runningTotalDesc(v, "m", "cnt", "cnt",
        "ct")
      // corpus totals: one bounded 2-long driver action (X38 device)
      val nn = tc.agg(count(lit(1)), sum("cnt")).head()
      val (nTypes, nInstances) = (nn.getLong(0), nn.getLong(1))
      val ks = Seq(10, 100, 1000)
      val covAgg = c.agg(
        sum(when(col("ct") <= ks.head, col("inst"))
          .when(col("ct") - col("m") < ks.head,
            (lit(ks.head.toLong) - (col("ct") - col("m"))) * col("cnt"))
          .otherwise(0L)).as(s"cov${ks.head}"),
        ks.tail.map { k =>
          sum(when(col("ct") <= k, col("inst"))
            .when(col("ct") - col("m") < k,
              (lit(k.toLong) - (col("ct") - col("m"))) * col("cnt"))
            .otherwise(0L)).as(s"cov$k")
        }: _*)
      covAgg.select(explode(array(ks.map { k =>
          struct(lit(k).as("k"), lit(nTypes).as("n_types"),
            lit(nInstances).as("n_instances"),
            least(col(s"cov$k"), lit(nInstances)).as("covered"),
            (least(col(s"cov$k"), lit(nInstances)).cast("double") /
              lit(nInstances).cast("double")).as("coverage"))
        }: _*)).as("r"))
        .select(col("r.k"), col("r.n_types"), col("r.n_instances"),
          col("r.covered"), col("r.coverage"))
        .orderBy("k")
    })

  // -------------------------------------------------- interval union

  /** Interval-union dwell time (X134 — the overlapping-interval merge
    * every engagement metric with a "time on site" number performs:
    * each event opens a 30-minute presence interval, overlaps must
    * count ONCE — summing per-event durations would double-count
    * bursts exactly where engagement is highest). Classic
    * sweep-line-as-windows: per-user running max of interval ends
    * (1-preceding frame) marks gap starts, a running flag sum labels
    * the merged islands (the X9/X121 device family), island spans are
    * exact integer micros. All windows are user-partitioned. */
  val intervalUnion = QueryDef(
    "q_interval_union",
    Some("""WITH o AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     epoch_us(ts) + 1800000000 AS en
              FROM events),
            w1 AS (
              SELECT user_id, event_id, us, en,
                     MAX(en) OVER (PARTITION BY user_id
                       ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS pmax
              FROM o),
            f AS (
              SELECT user_id, event_id, us, en,
                     CASE WHEN pmax IS NULL OR us > pmax THEN 1 ELSE 0 END
                       AS new_island
              FROM w1),
            i AS (
              SELECT user_id, us, en,
                     CAST(SUM(new_island) OVER (PARTITION BY user_id
                       ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS island
              FROM f),
            isl AS (
              SELECT user_id, island, MIN(us) AS s, MAX(en) AS e
              FROM i GROUP BY 1, 2)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
                   CAST(SUM(e - s) AS BIGINT) AS active_us,
                   CAST(SUM(e - s) AS DOUBLE) / 1000000.0 AS active_s
            FROM isl GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      val order = Window.partitionBy("user_id").orderBy("us", "event_id")
      val o = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          (unix_micros(col("ts")) + 1800000000L).as("en"))
      val f = o
        .withColumn("pmax", max("en").over(order.rowsBetween(
          Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("pmax").isNull || col("us") > col("pmax"), 1)
            .otherwise(0))
      f.withColumn("island",
          sum("new_island").over(order.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .groupBy("user_id", "island")
        .agg(min("us").as("s"), max("en").as("e"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("e") - col("s")).as("active_us"),
          (sum(col("e") - col("s")).cast("double") / lit(1000000.0))
            .as("active_s"))
        .orderBy("user_id")
    })

  // --------------------------------------------------- prefix setjoin

  /** Prefix-filtered exact set-similarity join (X135 — see
    * [[graft.ops.SetJoin.prefixJaccardPairs]] for the PPJoin-lite
    * pruning theorem). The CONTRACT here is the lossless-pruning
    * proof, the q_kmv_union device: the Spark side runs the pruned
    * algorithm (df-ordered prefixes → equi-join candidates → exact
    * verify), the oracle computes the naive ALL-PAIRS ground truth —
    * a hash-green row means the prefix filter dropped NOTHING, per
    * run, on real data. Intersection counts are hash-invariant
    * between shingle strings (oracle) and 60-bit md5 keys (Spark) —
    * the X81 note. */
  val setjoinPrefix = QueryDef(
    "q_setjoin_prefix", {
      val jac = "CAST(inter AS DOUBLE) / " +
        "CAST(size_a + size_b - inter AS DOUBLE)"
      Some(s"""${SimilarityQueries.sqlShingleCte(3)},
              p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(len(list_intersect(a.shingles, b.shingles))
                         AS BIGINT) AS inter,
                       CAST(len(a.shingles) AS BIGINT) AS size_a,
                       CAST(len(b.shingles) AS BIGINT) AS size_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              SELECT id_a, id_b, inter, size_a, size_b, $jac AS jaccard
              FROM p WHERE $jac >= 0.6
              ORDER BY id_a, id_b""")
    },
    (s, d) => graft.ops.SetJoin
      .prefixJaccardPairs(Tables.documents(s, d), "doc_id", "text", 3)
      .orderBy("id_a", "id_b"))

  // ----------------------------------------------------- welch ttest

  /** Welch's unequal-variance t-test on dwell-time uplift (X136 —
    * the CONTINUOUS-metric experiment readout next to X124's
    * proportion z-test: conversion is binary, "did treatment change
    * time-on-site?" needs a mean test, and Welch (1947) is the
    * default because cohort variances are never equal in practice).
    * The metric is the X134 interval-union dwell time (nested
    * verbatim — the X71 composition device), cohorts the same md5
    * hash-split as X124. One conditional aggregate produces both
    * cohorts' n/mean/variance (means and variances qround(6)'d — they
    * are aggregates); t and the Welch–Satterthwaite df are
    * element-wise off the canonicalized six. */
  val welchTtest = QueryDef(
    "q_welch_ttest", {
      val coh = Bloom.hashModSql("ab:", "user_id", 2)
      val va = "va / CAST(n_a AS DOUBLE)"
      val vb = "vb / CAST(n_b AS DOUBLE)"
      Some(s"""WITH dw AS (${intervalUnion.oracle.get}),
              u AS (
                SELECT user_id, active_s, $coh AS cohort FROM dw),
              s AS (
                SELECT CAST(COUNT(CASE WHEN cohort = 0 THEN 1 END)
                         AS BIGINT) AS n_a,
                       ${Num.qroundSql(
                         "AVG(CASE WHEN cohort = 0 THEN active_s END)", 6)}
                         AS mean_a,
                       ${Num.qroundSql(
                         "VAR_SAMP(CASE WHEN cohort = 0 THEN active_s END)",
                         6)} AS va,
                       CAST(COUNT(CASE WHEN cohort = 1 THEN 1 END)
                         AS BIGINT) AS n_b,
                       ${Num.qroundSql(
                         "AVG(CASE WHEN cohort = 1 THEN active_s END)", 6)}
                         AS mean_b,
                       ${Num.qroundSql(
                         "VAR_SAMP(CASE WHEN cohort = 1 THEN active_s END)",
                         6)} AS vb
                FROM u)
              SELECT n_a, mean_a, va AS var_a, n_b, mean_b, vb AS var_b,
                     (mean_b - mean_a) / NULLIF(SQRT($va + $vb), 0.0) AS t,
                     (($va + $vb) * ($va + $vb)) /
                       NULLIF(($va) * ($va) / (CAST(n_a AS DOUBLE) - 1.0)
                         + ($vb) * ($vb) / (CAST(n_b AS DOUBLE) - 1.0), 0.0)
                       AS df_welch
              FROM s""")
    },
    (s, d) => {
      val dw = intervalUnion.fn(s, d)
      val u = dw.select(col("user_id"), col("active_s"),
        Bloom.hashMod("ab:", col("user_id"), 2).as("cohort"))
      val agg = u.agg(
        count(when(col("cohort") === 0, 1)).as("n_a"),
        Num.qround(avg(when(col("cohort") === 0, col("active_s"))), 6)
          .as("mean_a"),
        Num.qround(var_samp(when(col("cohort") === 0, col("active_s"))), 6)
          .as("va"),
        count(when(col("cohort") === 1, 1)).as("n_b"),
        Num.qround(avg(when(col("cohort") === 1, col("active_s"))), 6)
          .as("mean_b"),
        Num.qround(var_samp(when(col("cohort") === 1, col("active_s"))), 6)
          .as("vb"))
      val va = col("va") / col("n_a").cast("double")
      val vb = col("vb") / col("n_b").cast("double")
      val den = sqrt(va + vb)
      val dfDen = va * va / (col("n_a").cast("double") - lit(1.0)) +
        vb * vb / (col("n_b").cast("double") - lit(1.0))
      agg.select(col("n_a"), col("mean_a"), col("va").as("var_a"),
        col("n_b"), col("mean_b"), col("vb").as("var_b"),
        ((col("mean_b") - col("mean_a")) /
          when(den === 0, lit(null)).otherwise(den)).as("t"),
        (((va + vb) * (va + vb)) /
          when(dfDen === 0, lit(null)).otherwise(dfDen)).as("df_welch"))
    })

  // ---------------------------------------------------- mann-whitney

  /** Mann–Whitney U rank-sum test (X177 — Mann & Whitney 1947: the
    * NONPARAMETRIC twin of X136's Welch t on the same dwell-time
    * uplift — rank-based, so a heavy-tailed dwell distribution (which
    * engagement time always is) can't mislead it the way it biases a
    * means test; the pair is the standard A/B readout). Scale shape:
    * dwell values compress to a DISTINCT-VALUE table with per-cohort
    * multiplicities (one keyed aggregate), the pooled cumulative runs
    * through [[graft.ops.PrefixSum.runningTotalsAsc]] (no global
    * window), and tied values take their average rank by the closed
    * form 2·rank_avg = 2·cum − m + 1 — an exact LONG lane, so the
    * doubled rank sum Σ na·(2cum−m+1) is integer-exact and every
    * downstream statistic (U, tie-corrected σ, z) is exact-integer-
    * fed element-wise IEEE — the single output row hashes RAW. σ = 0
    * (all values tied) degrades z to NULL on both engines. */
  val mannWhitney = QueryDef(
    "q_mannwhitney", {
      val coh = Bloom.hashModSql("ab:", "user_id", 2)
      val na = "CAST(t.n_a AS DOUBLE)"
      val nb = "CAST(t.n_b AS DOUBLE)"
      val nn = s"($na + $nb)"
      val ua = s"(CAST(r.r2a AS DOUBLE) - $na * ($na + 1.0)) / 2.0"
      val sg = s"SQRT($na * $nb / 12.0 * (($nn + 1.0) - " +
        s"CAST(t.tie_term AS DOUBLE) / ($nn * ($nn - 1.0))))"
      Some(s"""WITH dw AS (${intervalUnion.oracle.get}),
              u AS (SELECT user_id, active_us, $coh AS cohort FROM dw),
              g AS (
                SELECT active_us AS v,
                       CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS na,
                       CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS nb,
                       CAST(COUNT(*) AS BIGINT) AS m
                FROM u GROUP BY 1),
              c AS (
                SELECT v, na, m,
                       CAST(SUM(m) OVER (ORDER BY v) AS BIGINT) AS cum
                FROM g),
              t AS (
                SELECT CAST(SUM(na) AS BIGINT) AS n_a,
                       CAST(SUM(nb) AS BIGINT) AS n_b,
                       CAST(SUM(m * m * m - m) AS BIGINT) AS tie_term
                FROM g),
              r AS (
                SELECT CAST(SUM(na * (2 * cum - m + 1)) AS BIGINT) AS r2a
                FROM c)
              SELECT t.n_a, t.n_b, t.tie_term,
                     CAST(r.r2a AS DOUBLE) / 2.0 AS rank_sum_a,
                     $ua AS u_a,
                     $na * $nb - ($ua) AS u_b,
                     (($ua) - $na * $nb / 2.0) / NULLIF($sg, 0.0) AS z
              FROM t CROSS JOIN r""")
    },
    (s, d) => {
      val dw = intervalUnion.fn(s, d)
      val u = dw.select(col("active_us"),
        Bloom.hashMod("ab:", col("user_id"), 2).as("cohort"))
      val g = u.groupBy(col("active_us").as("v")).agg(
          sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("nb"),
          count(lit(1)).as("m"))
        .localCheckpoint(true) // totals action + the cumulative sweep
      val c = graft.ops.PrefixSum
        .runningTotalsAsc(g, Seq("m"), "v", Seq("cum"))
      // two bounded driver actions → one literal row (X109 device)
      val tRow = g.agg(sum("na"), sum("nb"),
        sum(col("m") * col("m") * col("m") - col("m"))).head()
      val (nA, nB, tie) =
        (tRow.getLong(0), tRow.getLong(1), tRow.getLong(2))
      val r2a = c.agg(sum(col("na") * (lit(2) * col("cum") - col("m") + 1)))
        .head().getLong(0)
      val na = lit(nA).cast("double")
      val nb = lit(nB).cast("double")
      val nn = na + nb
      val ua = (lit(r2a).cast("double") - na * (na + lit(1.0))) / lit(2.0)
      val sg = sqrt(na * nb / lit(12.0) * ((nn + lit(1.0)) -
        lit(tie).cast("double") / (nn * (nn - lit(1.0)))))
      s.range(1).select(lit(nA).as("n_a"), lit(nB).as("n_b"),
        lit(tie).as("tie_term"),
        (lit(r2a).cast("double") / lit(2.0)).as("rank_sum_a"),
        ua.as("u_a"),
        (na * nb - ua).as("u_b"),
        ((ua - na * nb / lit(2.0)) /
          when(sg === 0.0, lit(null)).otherwise(sg)).as("z"))
    })

  // ----------------------------------------------------- item cosine

  /** Item-item cosine similarity (X137 — the collaborative-filtering
    * primitive: event types as items, per-user activity counts as the
    * implicit-rating vectors, cosine over the user dimension — the
    * item-based kNN recommender's entire model (Sarwar et al. 2001),
    * and at corpus scale the "users who X also Y" co-occurrence
    * strength). Scale shape: the rating matrix is one keyed (user,
    * item) aggregate; pair dots expand through a user-keyed equi
    * self-join (alphabet²-bounded per user — never a product); norms
    * one keyed aggregate, attached via bounded broadcast joins. Dot
    * products and squared norms are exact integers; cosine is
    * sqrt+divide element-wise (IEEE-exact sqrt), so rows hash RAW. */
  val itemCosine = QueryDef(
    "q_item_cosine",
    Some("""WITH c AS (
              SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            d AS (
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                     CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot,
                     CAST(COUNT(*) AS BIGINT) AS n_users_both
              FROM c a JOIN c b ON a.user_id = b.user_id
                AND a.event_type < b.event_type
              GROUP BY 1, 2),
            nrm AS (
              SELECT event_type, CAST(SUM(cnt * cnt) AS BIGINT) AS sq
              FROM c GROUP BY 1)
            SELECT d.type_a, d.type_b, d.dot, d.n_users_both,
                   CAST(d.dot AS DOUBLE) /
                     (SQRT(CAST(na.sq AS DOUBLE)) *
                      SQRT(CAST(nb.sq AS DOUBLE))) AS cosine
            FROM d JOIN nrm na ON na.event_type = d.type_a
                   JOIN nrm nb ON nb.event_type = d.type_b
            ORDER BY type_a, type_b"""),
    (s, d) => {
      val c = Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      val a = c.select(col("user_id"), col("event_type").as("type_a"),
        col("cnt").as("ca"))
      val b = c.select(col("user_id"), col("event_type").as("type_b"),
        col("cnt").as("cb"))
      val dots = a.join(b, "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(sum(col("ca") * col("cb")).as("dot"),
          count(lit(1)).as("n_users_both"))
      val nrm = c.groupBy("event_type").agg(sum(col("cnt") * col("cnt"))
        .as("sq"))
      dots
        .join(broadcast(nrm.select(col("event_type").as("type_a"),
          col("sq").as("sqa"))), "type_a")
        .join(broadcast(nrm.select(col("event_type").as("type_b"),
          col("sq").as("sqb"))), "type_b")
        .select(col("type_a"), col("type_b"), col("dot"),
          col("n_users_both"),
          (col("dot").cast("double") /
            (sqrt(col("sqa").cast("double")) *
              sqrt(col("sqb").cast("double")))).as("cosine"))
        .orderBy("type_a", "type_b")
    })

  // --------------------------------------------------- lsh dedup eval

  /** LSH-dedup precision/recall evaluation (X138 — the X74 eval
    * discipline applied to the dedup family: q_dedup_minhash's
    * ESTIMATED-jaccard ≥ 0.4 pairs graded against the EXACT ≥ 0.4
    * ground truth — the numbers a dedup-pipeline rollout is actually
    * gated on; precision misses are estimate noise around the
    * threshold, recall misses are banding. Composition only: the LSH
    * side IS the oracle-green q_dedup_minhash, the exact side the
    * X135 prefix join at τ = 2/5 (exact integer fraction — the
    * all-pairs scan never runs on the Spark side); the oracle nests
    * the minhash oracle's recursive replay verbatim (X71 device).
    * Both sides read ONE shared shingle pass (the production
    * ShingleHashes keys — the prefix join's pair set is keying-
    * independent, see SetJoin.prefixJaccardPairsFromSets), so the
    * corpus is tokenized/shingled once per eval, not per side. */
  val lshDedupEval = QueryDef(
    "q_lsh_dedup_eval", {
      val exact =
        s"""${SimilarityQueries.sqlShingleCte(3).replace("WITH ", "")},
           ${SimilarityQueries.sqlExactJaccardPairs(0.4)}"""
      // lshp/exactp each feed two readers (count + hit join):
      // MATERIALIZED, or each reference re-runs the ENTIRE embedded
      // minhash / all-pairs pipeline (r18 selfcheck-wall fix)
      Some(s"""WITH lsh0 AS (${SimilarityQueries.dedupMinhash.oracle.get}),
              lshp AS MATERIALIZED (SELECT id_a, id_b FROM lsh0),
              $exact,
              nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM lshp),
              ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
                     FROM exactp),
              nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
                     FROM lshp JOIN exactp USING (id_a, id_b))
              SELECT nl.n_lsh, ne.n_exact, nh.n_hit,
                     CAST(nh.n_hit AS DOUBLE) /
                       NULLIF(CAST(nl.n_lsh AS DOUBLE), 0) AS precision,
                     CAST(nh.n_hit AS DOUBLE) /
                       NULLIF(CAST(ne.n_exact AS DOUBLE), 0) AS recall
              FROM nl CROSS JOIN ne CROSS JOIN nh""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      // ONE shingle pass feeds both pipelines (the corpus's heaviest
      // projection — tokenize + 3-shingle + hash — used to run twice,
      // once per side; the shared frame is materialized once and both
      // the banding and the prefix join read it from block storage)
      // r20: widen the raw docs first — the one-split eval scan ran
      // this heaviest projection serial (no-op at corpus scale)
      val sh = graft.ops.Skew.widen(docs)
        .select(col("doc_id").as("id"),
          graft.functions.ShingleFunctions
            .shingleHashes(col("text"), 3).as("shingles"))
        .localCheckpoint(true)
      val lsh = graft.ops.Dedup.minhashPairsFromShingles(sh,
        numHashes = 128, threshold = 0.4).select("id_a", "id_b")
      val exact = graft.ops.SetJoin.prefixJaccardPairsFromSets(
          sh.select(col("id"), col("shingles").as("sh")),
          tauNum = 2, tauDen = 5).select("id_a", "id_b")
        .localCheckpoint(true) // reused for count + hit join
      // three bounded pair-count actions → one literal row (X109)
      val lshCk = lsh.localCheckpoint(true)
      val nL = lshCk.count()
      val nE = exact.count()
      val nH = lshCk.join(exact, Seq("id_a", "id_b")).count()
      // degenerate corpora (zero candidate pairs on a side) degrade
      // the ratio to NULL on both engines, not Infinity/NaN (the
      // q_ab_test NULLIF discipline)
      def ratio(num: Long, den: Long) =
        when(lit(den) === 0L, lit(null).cast("double"))
          .otherwise(lit(num).cast("double") / lit(den).cast("double"))
      s.range(1).select(lit(nL).as("n_lsh"), lit(nE).as("n_exact"),
        lit(nH).as("n_hit"),
        ratio(nH, nL).as("precision"), ratio(nH, nE).as("recall"))
    })

  // ---------------------------------------------------- kaplan-meier

  /** The risk table Kaplan–Meier and Nelson–Aalen both read, as oracle
    * CTEs up to `r`: subjects = users, origin = first event, event =
    * first purchase, censored at the corpus max timestamp; per day t
    * the events d, censorings c and the at-risk count n_risk. */
  private val riskSetSql =
    """WITH e2 AS (
              SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
            mx AS (SELECT MAX(us) AS m FROM e2),
            o AS (SELECT user_id, MIN(us) AS o_us FROM e2 GROUP BY 1),
            p AS (SELECT user_id, MIN(us) AS p_us FROM e2
                  WHERE event_type = 'purchase' GROUP BY 1),
            subj AS (
              SELECT o.user_id,
                     CASE WHEN p.p_us IS NOT NULL
                          THEN (p.p_us - o.o_us) // 86400000000
                          ELSE (mx.m - o.o_us) // 86400000000 END AS t,
                     p.p_us IS NOT NULL AS ev
              FROM o LEFT JOIN p USING (user_id) CROSS JOIN mx),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subj FROM subj),
            g AS (
              SELECT t,
                     CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                       AS d,
                     CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
                       AS c
              FROM subj GROUP BY t),
            w1 AS (
              SELECT *, CAST(SUM(d + c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
              FROM g),
            r AS (
              SELECT t, d, c, nn.n_subj - (cum - (d + c)) AS n_risk
              FROM w1 CROSS JOIN nn)"""

  /** The Spark side of [[riskSetSql]]: (t, d, c, rm = d + c, cum,
    * n_risk), after two bounded actions (the horizon and the subject
    * count). */
  private def riskSet(s: SparkSession, d: String): DataFrame = {
    val e2 = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val o = e2.groupBy("user_id").agg(min("us").as("o_us"))
    val p = e2.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("us").as("p_us"))
    val maxUs = e2.agg(max("us")).head().getLong(0) // bounded action
    val dayUs = 86400000000L
    val subj = o.join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("p_us").isNotNull,
          ((col("p_us") - col("o_us")) / dayUs).cast("long"))
          .otherwise(((lit(maxUs) - col("o_us")) / dayUs).cast("long"))
          .as("t"),
        col("p_us").isNotNull.as("ev"))
    val nSubj = subj.count() // bounded action
    val g = subj.groupBy("t")
      .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("d"),
        sum(when(col("ev"), 0L).otherwise(1L)).as("c"))
      .withColumn("rm", col("d") + col("c"))
    graft.ops.PrefixSum.runningTotalsAsc(g, Seq("rm"), "t", Seq("cum"))
      .withColumn("n_risk", lit(nSubj) - (col("cum") - col("rm")))
  }

  /** Kaplan–Meier survival curve (X139 — Kaplan & Meier 1958, the
    * censoring-aware time-to-event estimator every churn/conversion
    * lifetime readout uses: subjects without the event by observation
    * end are CENSORED, not dropped — dropping them biases survival
    * down). Subjects = users, origin = first event, event = first
    * purchase, censor time = corpus max timestamp (one bounded
    * action); day-resolution times are exact integer micros floors.
    * The risk table is alphabet-of-days bounded; BOTH cumulative
    * lanes (at-risk depletion, then the zero-flag + fixed-point
    * log-survival) run through
    * [[graft.ops.PrefixSum.runningTotalsAsc]] — the ln factors cross
    * the integer-only prefix device as FLOOR(ln·10⁶ + 0.5) fixed-point
    * longs (the device requires exact addition; a float cumsum would
    * be fold-order-sensitive), and S = exp(Σ/10⁶) reconstructs
    * element-wise, qround(6). A risk set fully consumed (d = n) pins
    * survival to EXACTLY 0 from that time on via the flag lane — no
    * ln(0) in either engine. */
  val kaplanMeier = QueryDef(
    "q_kaplan_meier",
    Some(s"""$riskSetSql,
            l AS (
              SELECT *,
                     CASE WHEN d = n_risk THEN CAST(1 AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END AS zf,
                     CASE WHEN d = n_risk THEN CAST(0 AS BIGINT)
                          ELSE CAST(FLOOR(LN(1.0 - CAST(d AS DOUBLE)
                            / CAST(n_risk AS DOUBLE)) * 1000000 + 0.5)
                            AS BIGINT) END AS li
              FROM r),
            w2 AS (
              SELECT *, CAST(SUM(zf) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cz,
                CAST(SUM(li) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cl
              FROM l)
            SELECT t AS t_day, n_risk, d AS n_events, c AS n_censored,
                   CASE WHEN cz > 0 THEN 0.0
                        ELSE FLOOR(EXP(CAST(cl AS DOUBLE) / 1000000.0)
                          * 1000000 + 0.5) / 1000000 END AS survival
            FROM w2 ORDER BY t_day"""),
    (s, d) => {
      val l = riskSet(s, d)
        .withColumn("zf", when(col("d") === col("n_risk"), 1L)
          .otherwise(0L))
        .withColumn("li", when(col("d") === col("n_risk"), 0L)
          .otherwise(floor(log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double")) * 1000000 + 0.5).cast("long")))
      val w2 = graft.ops.PrefixSum.runningTotalsAsc(l, Seq("zf", "li"),
        "t", Seq("cz", "cl"))
      w2.select(col("t").as("t_day"), col("n_risk"),
          col("d").as("n_events"), col("c").as("n_censored"),
          when(col("cz") > 0, lit(0.0))
            .otherwise(Num.qround(
              exp(col("cl").cast("double") / lit(1000000.0)), 6))
            .as("survival"))
        .orderBy("t_day")
    })

  // --------------------------------------------------- log-rank test

  /** Two-cohort log-rank test (X184 — Mantel 1966 / Peto 1972: the
    * censoring-aware "do these survival curves differ?" test, the
    * inferential companion to X139's Kaplan–Meier DESCRIPTION — an
    * A/B on time-to-purchase must compare curves at every risk set,
    * not mean times, or censored users bias the answer; the X124/
    * X136/X177 A/B family's survival member). Same subject table as
    * X139 (origin = first event, event = first purchase, censor =
    * corpus max ts) split by the X124 md5 cohort draw; per event day:
    * at-risk by cohort from ONE two-lane
    * [[graft.ops.PrefixSum.runningTotalsAsc]] removal sweep (the X139
    * device — no global window), expected events E₁ = d·n₁/n and
    * hypergeometric variance per day element-wise off exact longs;
    * O/E/V sums are bounded-alphabet aggregates → driver literals
    * (X109), E/V sums qround(6) (fold order), χ² and z element-wise
    * after. A zero variance (degenerate risk sets) degrades χ²/z to
    * NULL on both engines. */
  val logRank = QueryDef(
    "q_logrank", {
      val coh = Bloom.hashModSql("ab:", "o.user_id", 2)
      val e1 = "CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)"
      val vt = """CASE WHEN n <= 1 THEN 0.0
                 ELSE CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                      * CAST(n2 AS DOUBLE) * CAST(n - d AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) - 1.0)) END"""
      Some(s"""WITH e2 AS (
                SELECT user_id, event_type, epoch_us(ts) AS us
                FROM events),
              mx AS (SELECT MAX(us) AS m FROM e2),
              o AS (SELECT user_id, MIN(us) AS o_us FROM e2 GROUP BY 1),
              p AS (SELECT user_id, MIN(us) AS p_us FROM e2
                    WHERE event_type = 'purchase' GROUP BY 1),
              subj AS (
                SELECT o.user_id, $coh AS cohort,
                       CASE WHEN p.p_us IS NOT NULL
                            THEN (p.p_us - o.o_us) // 86400000000
                            ELSE (mx.m - o.o_us) // 86400000000 END AS t,
                       p.p_us IS NOT NULL AS ev
                FROM o LEFT JOIN p USING (user_id) CROSS JOIN mx),
              nn AS (
                SELECT CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_1,
                       CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_2
                FROM subj),
              g AS (
                SELECT t,
                       CAST(SUM(CASE WHEN cohort = 0 AND ev
                         THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                       CAST(SUM(CASE WHEN cohort = 1 AND ev
                         THEN 1 ELSE 0 END) AS BIGINT) AS d2,
                       CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS r1,
                       CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS r2
                FROM subj GROUP BY t),
              w1 AS (
                SELECT *,
                       CAST(SUM(r1) OVER w AS BIGINT) AS cu1,
                       CAST(SUM(r2) OVER w AS BIGINT) AS cu2
                FROM g
                WINDOW w AS (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              r AS (
                SELECT t, d1, d2, d1 + d2 AS d,
                       nn.n_1 - (cu1 - r1) AS n1,
                       nn.n_2 - (cu2 - r2) AS n2,
                       (nn.n_1 - (cu1 - r1)) + (nn.n_2 - (cu2 - r2)) AS n
                FROM w1 CROSS JOIN nn),
              sums AS (
                SELECT CAST(SUM(d1) AS BIGINT) AS o_1,
                       CAST(SUM(d2) AS BIGINT) AS o_2,
                       ${Num.qroundSql(s"SUM($e1)", 6)} AS e_1,
                       ${Num.qroundSql(s"SUM($vt)", 6)} AS var_sum
                FROM r)
              SELECT nn.n_1, nn.n_2, s.o_1 AS observed_1,
                     s.o_2 AS observed_2, s.e_1 AS expected_1,
                     s.var_sum,
                     (CAST(s.o_1 AS DOUBLE) - s.e_1) *
                     (CAST(s.o_1 AS DOUBLE) - s.e_1) /
                       NULLIF(s.var_sum, 0.0) AS chi2,
                     (CAST(s.o_1 AS DOUBLE) - s.e_1) /
                       NULLIF(SQRT(s.var_sum), 0.0) AS z
              FROM sums s CROSS JOIN nn""")
    },
    (s, d) => {
      val e2 = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val o = e2.groupBy("user_id").agg(min("us").as("o_us"))
      val p = e2.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("us").as("p_us"))
      val maxUs = e2.agg(max("us")).head().getLong(0) // bounded action
      val dayUs = 86400000000L
      val subj = o.join(p, Seq("user_id"), "left")
        .select(Bloom.hashMod("ab:", col("user_id"), 2).as("cohort"),
          when(col("p_us").isNotNull,
            ((col("p_us") - col("o_us")) / dayUs).cast("long"))
            .otherwise(((lit(maxUs) - col("o_us")) / dayUs).cast("long"))
            .as("t"),
          col("p_us").isNotNull.as("ev"))
        .localCheckpoint(true) // cohort totals + the day table
      val nRow = subj.agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)),
        sum(when(col("cohort") === 1, 1L).otherwise(0L))).head()
      val (n1T, n2T) = (nRow.getLong(0), nRow.getLong(1))
      val g = subj.groupBy("t").agg(
        sum(when(col("cohort") === 0 && col("ev"), 1L).otherwise(0L))
          .as("d1"),
        sum(when(col("cohort") === 1 && col("ev"), 1L).otherwise(0L))
          .as("d2"),
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("r1"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("r2"))
      val w1 = graft.ops.PrefixSum.runningTotalsAsc(g, Seq("r1", "r2"),
        "t", Seq("cu1", "cu2"))
      val n1 = lit(n1T) - (col("cu1") - col("r1"))
      val n2 = lit(n2T) - (col("cu2") - col("r2"))
      val r = w1.select(col("d1"), col("d2"),
        (col("d1") + col("d2")).as("d"),
        n1.as("n1"), n2.as("n2"), (n1 + n2).as("n"))
      def dd(c: Column) = c.cast("double")
      val e1 = dd(col("d")) * dd(col("n1")) / dd(col("n"))
      val vt = when(col("n") <= 1, lit(0.0))
        .otherwise(dd(col("d")) * dd(col("n1")) * dd(col("n2")) *
          dd(col("n") - col("d")) /
          (dd(col("n")) * dd(col("n")) * (dd(col("n")) - lit(1.0))))
      // day-alphabet-bounded sums → one literal row (X109)
      val sRow = r.agg(sum("d1"), sum("d2"),
        Num.qround(sum(e1), 6), Num.qround(sum(vt), 6)).head()
      val (o1, o2) = (sRow.getLong(0), sRow.getLong(1))
      val (e1s, vs) = (sRow.getDouble(2), sRow.getDouble(3))
      val diff = lit(o1).cast("double") - lit(e1s)
      s.range(1).select(lit(n1T).as("n_1"), lit(n2T).as("n_2"),
        lit(o1).as("observed_1"), lit(o2).as("observed_2"),
        lit(e1s).as("expected_1"), lit(vs).as("var_sum"),
        (diff * diff / when(lit(vs) === 0.0, lit(null))
          .otherwise(lit(vs))).as("chi2"),
        (diff / when(sqrt(lit(vs)) === 0.0, lit(null))
          .otherwise(sqrt(lit(vs)))).as("z"))
    })

  // ----------------------------------------------------- mutual info

  /** Categorical mutual information (X140 — Shannon MI between event
    * type and ISO weekday, the feature-selection / dependence screen:
    * lift says WHICH cells co-occur, MI says HOW MUCH structure the
    * pair carries overall; the symmetric cousin of X93's PMI, summed
    * to one number). Cell and marginal counts are keyed aggregates
    * (alphabet²-bounded output); N is one bounded action; per-cell
    * lift = (n_xy·N)/(n_x·n_y) with its ln qround(6)'d (X63 lane);
    * MI = Σ p_xy·ln-lift over the bounded cells — computed as a
    * driver action over the cell table and re-emitted as a literal
    * column (the X109 device). */
  val mutualInfo = QueryDef(
    "q_mutual_info",
    Some(s"""WITH e2 AS (
              SELECT event_type,
                     CAST(isodow(ts) AS INT) AS dow
              FROM events),
            xy AS (
              SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
              FROM e2 GROUP BY 1, 2),
            x AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nx
                  FROM xy GROUP BY 1),
            y AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS ny
                  FROM xy GROUP BY 1),
            nn AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM xy),
            cells AS (
              SELECT xy.event_type, xy.dow, xy.n, x.nx, y.ny, nn.total,
                     ${Num.qroundSql(
                       "LN((CAST(xy.n AS DOUBLE) * CAST(nn.total AS DOUBLE))" +
                         " / (CAST(x.nx AS DOUBLE) * CAST(y.ny AS DOUBLE)))",
                       6)} AS ln_lift
              FROM xy JOIN x USING (event_type) JOIN y USING (dow)
              CROSS JOIN nn),
            mi AS (
              SELECT ${Num.qroundSql(
                "SUM((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * ln_lift)",
                6)} AS mi
              FROM cells)
            SELECT c.event_type, c.dow, c.n, c.ln_lift, mi.mi
            FROM cells c CROSS JOIN mi
            ORDER BY c.event_type, c.dow"""),
    (s, d) => {
      val dowIso = (pmod(dayofweek(col("ts")) + lit(5), lit(7)) + 1)
        .cast("int")
      val xy = Tables.events(s, d)
        .groupBy(col("event_type"), dowIso.as("dow"))
        .agg(count(lit(1)).as("n"))
      val x = xy.groupBy("event_type").agg(sum("n").as("nx"))
      val y = xy.groupBy("dow").agg(sum("n").as("ny"))
      val total = Tables.events(s, d).count() // bounded action
      val lnLift = Num.qround(
        log((col("n").cast("double") * lit(total).cast("double")) /
          (col("nx").cast("double") * col("ny").cast("double"))), 6)
      val cells = xy.join(broadcast(x), "event_type")
        .join(broadcast(y), "dow")
        .select(col("event_type"), col("dow"), col("n"),
          lnLift.as("ln_lift"))
        .localCheckpoint(true) // alphabet²-bounded; reused for MI + rows
      val mi = cells
        .agg(Num.qround(sum((col("n").cast("double") /
          lit(total).cast("double")) * col("ln_lift")), 6))
        .head().getDouble(0)
      cells.select(col("event_type"), col("dow"), col("n"),
          col("ln_lift"), lit(mi).as("mi"))
        .orderBy("event_type", "dow")
    })

  // ------------------------------------------------------ stream kmv

  /** STREAMING KMV distinct-count (X141 — the X130 sketch pushed
    * through the real streaming runtime: the bottom-k
    * TypedImperativeAggregate runs inside a streaming `groupBy.agg`
    * in complete mode, exercising the partial/merge machinery the
    * incremental execution actually uses. A green row proves the
    * MERGEABLE aggregate is streaming-safe — the property that lets
    * one sketch pipeline serve both the batch rollup and the live
    * dashboard). Per-type estimates + exact counts replay the
    * q_kmv_distinct device; the oracle is pure batch SQL, so the hash
    * check IS stream/batch sketch parity. */
  val streamKmv = QueryDef(
    "q_stream_kmv", {
      Some(s"""WITH ${kmvSketchSql("kmvs:")},
              ex AS (
                SELECT event_type,
                       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
                FROM events GROUP BY event_type)
              SELECT ex.event_type, ex.n_exact, e.kmv_est,
                     ABS(e.kmv_est - CAST(ex.n_exact AS DOUBLE))
                       / CAST(ex.n_exact AS DOUBLE) <= 0.3 AS within_tol
              FROM ex JOIN (SELECT event_type, $kmvEstSql AS kmv_est FROM sk) e
                USING (event_type)
              ORDER BY ex.event_type""")
    },
    (s, d) => {
      import graft.functions.SketchFunctions
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/events.parquet")
      val h = conv(substring(md5(concat(lit("kmvs:"),
        col("user_id").cast("string"))), 1, 15), 16, 10).cast("long")
      val plan = EventStream.readEvents(s, src)
        .select(col("event_type"), h.as("h"))
        .groupBy("event_type")
        .agg(SketchFunctions.bottomK(col("h"), KmvK).as("sketch"))
      val sk = EventStream.runAvailableNow(s, plan, "q_stream_kmv_sink",
        outputMode = "complete", statePartitions = 4)
      val exact = Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact
        .join(broadcast(s.createDataFrame(sk.rdd, sk.schema)),
          "event_type")
        .select(col("event_type"), col("n_exact"),
          SketchFunctions.kmvEstimate(col("sketch"), KmvK).as("kmv_est"))
        .withColumn("within_tol",
          abs(col("kmv_est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double") <= 0.3)
        .orderBy("event_type")
    })

  // ------------------------------------------------ stream quantile

  /** STREAMING quantile estimation from a bottom-k-by-hash sample
    * (X305 — the value-carrying sibling of X141's streaming KMV: the
    * same bottom-k frontier, but keeping each sampled key's payload
    * turns the sketch into a uniform without-replacement sample of
    * the distinct-key population (Cohen & Kaplan 2007's bottom-k
    * sampling), and quantiles fall out as order statistics of the
    * sample). The mergeable BottomKPairs TypedImperativeAggregate
    * runs inside a streaming groupBy in complete mode — a green row
    * proves the partial/merge machinery the incremental runtime uses
    * yields the IDENTICAL sample a batch pass yields, because the
    * sketch is a pure function of the input set (hash collisions
    * deterministically keep MIN v). Estimates are exact order-stat
    * picks (ceil(q·n), no interpolation) so every output double is a
    * picked element and hash-matches raw — the approximate PATH is
    * exact-replayable even though the estimate is approximate. The
    * exact_p* lanes are the eval oracle, not the scale path: at
    * 100 TB only the K-row sample ever leaves the aggregate. */
  val streamQuantile = QueryDef(
    "q_stream_quantile", {
      val K = 128
      val hash = """CAST('0x' || substring(md5('qss:'
        || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)"""
      def pick(vs: String, q: String, n: String) =
        s"$vs[GREATEST(CAST(1 AS BIGINT), CAST(CEIL($q * $n) AS BIGINT))]"
      Some(s"""WITH h AS (
                SELECT event_type, $hash AS h, value AS v
                FROM events WHERE value IS NOT NULL),
              d AS (
                SELECT event_type, h, MIN(v) AS v
                FROM h GROUP BY 1, 2),
              ranked AS (
                SELECT event_type, v,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY h) AS rn
                FROM d),
              samp AS (
                SELECT event_type, list(v ORDER BY v) AS vs,
                       CAST(COUNT(*) AS BIGINT) AS ns
                FROM ranked WHERE rn <= $K GROUP BY 1),
              pop AS (
                SELECT event_type, list(v ORDER BY v) AS pvs,
                       CAST(COUNT(*) AS BIGINT) AS np
                FROM d GROUP BY 1)
              SELECT s.event_type, p.np AS n_pop, s.ns AS sample_n,
                     ${pick("s.vs", "0.5", "s.ns")} AS est_p50,
                     ${pick("s.vs", "0.9", "s.ns")} AS est_p90,
                     ${pick("p.pvs", "0.5", "p.np")} AS exact_p50,
                     ${pick("p.pvs", "0.9", "p.np")} AS exact_p90
              FROM samp s JOIN pop p USING (event_type)
              ORDER BY s.event_type""")
    },
    (s, d) => {
      import graft.functions.SketchFunctions
      import graft.streaming.EventStream
      val K = 128
      val src = EventStream.stageDir(s"$d/events.parquet")
      val h = conv(substring(md5(concat(lit("qss:"),
        col("event_id").cast("string"))), 1, 15), 16, 10).cast("long")
      val plan = EventStream.readEvents(s, src)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          struct(h.as("h"), col("value").as("v")).as("hv"))
        .groupBy("event_type")
        .agg(SketchFunctions.bottomKPairs(col("hv"), K).as("sample"))
      val sk = EventStream.runAvailableNow(s, plan,
        "q_stream_quantile_sink", outputMode = "complete",
        statePartitions = 4)
      val samp = s.createDataFrame(sk.rdd, sk.schema)
        .select(col("event_type"),
          sort_array(transform(col("sample"), x => x.getField("v")))
            .as("vs"),
          size(col("sample")).cast("long").as("ns"))
      val pop = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), h.as("h"), col("value").as("v"))
        .groupBy("event_type", "h").agg(min("v").as("v"))
        .groupBy("event_type")
        .agg(sort_array(collect_list("v")).as("pvs"),
          count(lit(1)).as("np"))
      def pick(vs: org.apache.spark.sql.Column, q: Double,
          n: org.apache.spark.sql.Column) =
        element_at(vs, greatest(lit(1),
          ceil(lit(q) * n.cast("double")).cast("int")))
      samp.join(pop, "event_type")
        .select(col("event_type"), col("np").as("n_pop"),
          col("ns").as("sample_n"),
          pick(col("vs"), 0.5, col("ns")).as("est_p50"),
          pick(col("vs"), 0.9, col("ns")).as("est_p90"),
          pick(col("pvs"), 0.5, col("np")).as("exact_p50"),
          pick(col("pvs"), 0.9, col("np")).as("exact_p90"))
        .orderBy("event_type")
    })

  // ------------------------------------------------ rolling backtest

  /** Rolling-origin forecast backtest (X314 — Tashman IJF 2000's
    * out-of-sample evaluation discipline, the TEMPORAL sibling of
    * X310's k-fold rotation: folds cannot be random when data is a
    * time series — each evaluation trains strictly BEFORE its test
    * window, and the origin rolls forward so every regime is tested.
    * The forecaster under test is seasonal-naive-7 (next week =
    * last week), scored by MASE (Hyndman & Koehler 2006): test MAE
    * scaled by the TRAIN-side naive-1 MAE, the scale-free metric
    * q_mase_eval introduced — MASE < 1 beats the naive drift).
    * Counts ride a DENSE (type, day) grid (explode-built; missing
    * days are real zeros, not absent rows). Every input is an exact
    * integer count, each MAE is one integer-sum divide, MASE is one
    * further IEEE divide — qround(6) for discipline. 4 origins
    * unrolled on both engines; at 100 TB the cost is ONE groupBy to
    * daily counts, everything after is alphabet×days bounded. */
  val backtest = QueryDef(
    "q_backtest", {
      val origins = Seq(14, 17, 20, 22)
      val horizon = 7
      def originCtes(o: Int) =
        s""",
            tr$o AS (
              SELECT a.event_type, AVG(ABS(a.n - b.n)) AS naive_mae
              FROM dc a JOIN dc b ON b.event_type = a.event_type
                AND b.day = a.day - 1
              WHERE a.day <= $o AND a.day >= 1 GROUP BY 1),
            te$o AS (
              SELECT f.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
                     AVG(ABS(f.n - p.n)) AS mae
              FROM dc f JOIN dc p ON p.event_type = f.event_type
                AND p.day = f.day - 7
              WHERE f.day > $o AND f.day <= $o + $horizon GROUP BY 1),
            r$o AS (
              SELECT CAST($o AS BIGINT) AS origin_day, te.event_type,
                     te.n_test,
                     ${Num.qroundSql("te.mae", 6)} AS mae_snaive,
                     ${Num.qroundSql(
                       "te.mae / NULLIF(tr.naive_mae, 0)", 6)} AS mase
              FROM te$o te JOIN tr$o tr USING (event_type))"""
      Some(s"""WITH ev AS (
                SELECT event_type,
                       CAST(date_diff('day', DATE '2024-01-01',
                         CAST(ts AS DATE)) AS BIGINT) AS day
                FROM events),
              types AS (SELECT DISTINCT event_type FROM ev),
              grid AS (
                SELECT t.event_type, d.day FROM types t
                CROSS JOIN (SELECT unnest(range(0, 30)) AS day) d),
              dc AS MATERIALIZED (
                SELECT g.event_type, g.day,
                       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
                FROM grid g
                LEFT JOIN (SELECT event_type, day,
                             CAST(COUNT(*) AS BIGINT) AS n
                           FROM ev GROUP BY 1, 2) c
                  ON c.event_type = g.event_type AND c.day = g.day)
              ${origins.map(originCtes).mkString}
              SELECT * FROM (
                ${origins.map(o => s"SELECT * FROM r$o")
                  .mkString("\n UNION ALL\n")}) rr
              ORDER BY origin_day, event_type""")
    },
    (s, d) => {
      val origins = Seq(14, 17, 20, 22)
      val horizon = 7
      val ev = Tables.events(s, d).select(col("event_type"),
        datediff(col("ts").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
      val counts = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
      val dc = ev.select("event_type").distinct()
        .select(col("event_type"),
          explode(sequence(lit(0L), lit(29L))).as("day"))
        .join(counts, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .localCheckpoint(true) // alphabet×30 grid, reused 4×2 times
      val lag1 = dc.select(col("event_type"),
        (col("day") + 1).as("day"), col("n").as("n_prev"))
      val lag7 = dc.select(col("event_type"),
        (col("day") + 7).as("day"), col("n").as("n_snaive"))
      val perOrigin = origins.map { o =>
        val tr = dc.join(lag1, Seq("event_type", "day"))
          .filter(col("day") >= 1 && col("day") <= o)
          .groupBy("event_type")
          .agg(avg(abs(col("n") - col("n_prev"))).as("naive_mae"))
        val te = dc.join(lag7, Seq("event_type", "day"))
          .filter(col("day") > o && col("day") <= o + horizon)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_test"),
            avg(abs(col("n") - col("n_snaive"))).as("mae"))
        te.join(tr, "event_type")
          .select(lit(o.toLong).as("origin_day"), col("event_type"),
            col("n_test"),
            Num.qround(col("mae"), 6).as("mae_snaive"),
            Num.qround(col("mae") /
              when(col("naive_mae") =!= 0.0, col("naive_mae")), 6)
              .as("mase"))
      }
      perOrigin.reduce(_ unionByName _)
        .orderBy("origin_day", "event_type")
    })

  // ----------------------------------------------------- seasonal dow

  /** Day-of-week seasonal baseline (X142 — the de-seasonalization
    * step X88's z-score and X110's EWMA both skip: Monday traffic is
    * structurally unlike Sunday traffic, and a raw volume monitor
    * either alarms every weekend or is too loose to catch a real
    * weekday dip; ratio-to-same-weekday-mean is the one-line seasonal
    * adjustment every ops dashboard ships first). Daily counts are
    * the keyed aggregate; each ISO weekday's mean over the
    * calendar-bounded daily table is a second keyed aggregate joined
    * back on (type, dow); the residual ratio is element-wise off the
    * qround(6)'d mean. */
  val seasonalDow = QueryDef(
    "q_seasonal_dow",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(isodow(ts) AS INT) AS dow,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2, 3),
            m AS (
              SELECT event_type, dow,
                     ${Num.qroundSql("AVG(CAST(x AS DOUBLE))", 6)}
                       AS dow_mean
              FROM daily GROUP BY 1, 2)
            SELECT d.event_type, d.day, d.dow, d.x, m.dow_mean,
                   CAST(d.x AS DOUBLE) / m.dow_mean AS ratio,
                   CAST(d.x AS DOUBLE) / m.dow_mean > 1.3 OR
                   CAST(d.x AS DOUBLE) / m.dow_mean < 0.7 AS flagged
            FROM daily d JOIN m USING (event_type, dow)
            ORDER BY d.event_type, d.day"""),
    (s, d) => {
      val dowIso = (pmod(dayofweek(col("ts")) + lit(5), lit(7)) + 1)
        .cast("int")
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"),
          dowIso.as("dow"))
        .agg(count(lit(1)).as("x"))
      val m = daily.groupBy("event_type", "dow")
        .agg(Num.qround(avg(col("x").cast("double")), 6).as("dow_mean"))
      val ratio = col("x").cast("double") / col("dow_mean")
      daily.join(broadcast(m), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("dow"), col("x"),
          col("dow_mean"), ratio.as("ratio"),
          (ratio > 1.3 || ratio < 0.7).as("flagged"))
        .orderBy("event_type", "day")
    })

  /** Classical seasonal decomposition (X272 — the STL-lite
    * trend/seasonal/residual split behind every "is traffic actually
    * down or is it just Sunday" readout; completes the seasonality
    * family: X142 gives the dow baseline, X110/X179 chart residual
    * anomalies, this row produces the decomposition they presuppose).
    * Per event type over the daily count series: trend = centered
    * ±3-day moving mean — an EXACT integer-sum/count divide over a
    * ROWS frame (hash raw); seasonal = per-(type, isodow) mean of the
    * detrended series (the one aggregated-double lane, qround(6));
    * residual = x − trend − seasonal, element-wise off the quantized
    * lanes. Shape: one groupBy to the bounded (type × day) domain
    * table, then type-partitioned windows — the X109 device, window
    * width bounded by the calendar, never by corpus size. */
  val seasonalDecompose = QueryDef(
    "q_seasonal_decompose",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(isodow(ts) AS INT) AS dow,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2, 3),
            tr AS (
              SELECT event_type, day, dow, x,
                     CAST(SUM(x) OVER w AS DOUBLE) /
                       CAST(COUNT(*) OVER w AS DOUBLE) AS trend
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            se AS (
              SELECT event_type, dow,
                     ${Num.qroundSql(
                       "AVG(CAST(x AS DOUBLE) - trend)", 6)} AS seasonal
              FROM tr GROUP BY 1, 2)
            SELECT t.event_type, t.day, t.dow, t.x, t.trend,
                   s.seasonal,
                   CAST(t.x AS DOUBLE) - t.trend - s.seasonal
                     AS residual
            FROM tr t JOIN se s
              ON s.event_type = t.event_type AND s.dow = t.dow
            ORDER BY t.event_type, t.day"""),
    (s, d) => {
      val dowIso = (pmod(dayofweek(col("ts")) + lit(5), lit(7)) + 1)
        .cast("int")
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"),
          dowIso.as("dow"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val tr = daily.withColumn("trend",
        sum("x").over(w).cast("double") /
          count(lit(1)).over(w).cast("double"))
      val se = tr.groupBy("event_type", "dow")
        .agg(Num.qround(avg(col("x").cast("double") - col("trend")), 6)
          .as("seasonal"))
      tr.join(broadcast(se), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("dow"), col("x"),
          col("trend"), col("seasonal"),
          (col("x").cast("double") - col("trend") - col("seasonal"))
            .as("residual"))
        .orderBy("event_type", "day")
    })

  /** Autocorrelation function, lags 1–7 (X277 — Box & Jenkins' ACF,
    * the identification step before any ARIMA-class model and the
    * quantitative "is there weekly structure" answer X272's
    * decomposition assumes): per event type over the daily count
    * series, acf_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)². μ is an
    * exact-integer-fed divide; deviations are element-wise; the
    * numerator/denominator sums are the aggregated lanes (qround(6)
    * each, ratio raw). Lag pairing is an EQUI self-join on
    * (type, day+k) — no window at all; the series is the bounded
    * (type × day) domain table (X109 device). */
  val acf = QueryDef(
    "q_acf",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            mu AS (
              SELECT event_type,
                     CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS mu
              FROM daily GROUP BY 1),
            den AS (
              SELECT d.event_type,
                     ${Num.qroundSql(
                       """SUM((CAST(d.x AS DOUBLE) - mu.mu)
                          * (CAST(d.x AS DOUBLE) - mu.mu))""", 6)} AS den
              FROM daily d JOIN mu ON mu.event_type = d.event_type
              GROUP BY d.event_type),
            pairs AS (
              SELECT a.event_type, t.lag, a.x AS xa, b.x AS xb
              FROM daily a
              CROSS JOIN range(1, 8) t(lag)
              JOIN daily b ON b.event_type = a.event_type
                AND b.day = a.day + CAST(t.lag AS INT)),
            num AS (
              SELECT p.event_type, p.lag,
                     CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     ${Num.qroundSql(
                       """SUM((CAST(p.xa AS DOUBLE) - mu.mu)
                          * (CAST(p.xb AS DOUBLE) - mu.mu))""", 6)} AS num
              FROM pairs p JOIN mu ON mu.event_type = p.event_type
              GROUP BY p.event_type, p.lag)
            SELECT n.event_type, CAST(n.lag AS INT) AS lag, n.n_pairs,
                   n.num, d.den, n.num / d.den AS acf
            FROM num n JOIN den d ON d.event_type = n.event_type
            ORDER BY n.event_type, n.lag"""),
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint(true) // mu/den/pairs lanes share
      val mu = daily.groupBy("event_type")
        .agg((sum("x").cast("double") /
          count(lit(1)).cast("double")).as("mu"))
      val dev = col("x").cast("double") - col("mu")
      val den = daily.join(mu, "event_type")
        .groupBy(col("event_type").as("etd"))
        .agg(Num.qround(sum(dev * dev), 6).as("den"))
      val lagged = daily
        .select(col("event_type"), col("day"), col("x"),
          explode(sequence(lit(1), lit(7))).as("lag"))
        .withColumn("mday", expr("date_add(day, lag)"))
      val pairs = lagged.join(
        daily.select(col("event_type").as("etb"), col("day").as("dayb"),
          col("x").as("xb")),
        col("etb") === col("event_type") && col("dayb") === col("mday"))
      val num = pairs.join(mu, "event_type")
        .groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n_pairs"),
          Num.qround(sum((col("x").cast("double") - col("mu")) *
            (col("xb").cast("double") - col("mu"))), 6).as("num"))
      num.join(den, col("etd") === col("event_type"))
        .select(col("event_type"), col("lag").cast("int").as("lag"),
          col("n_pairs"), col("num"), col("den"),
          (col("num") / col("den")).as("acf"))
        .orderBy("event_type", "lag")
    })

  // ----------------------------------------------- quantile normalize

  /** Cross-source quantile normalization (X143 — the ML-preprocessing
    * transform that maps every source's length distribution onto the
    * POOLED distribution: each doc keeps its within-source rank but
    * takes the pooled value at that rank, so a verbose source and a
    * terse source become comparable without per-source scalar hacks —
    * microarray-normalization's trick, Bolstad 2003, applied to
    * corpus stats). Three scale-honest stages: (1) within-source
    * percent_rank — a source-partitioned window; (2) the pooled ECDF
    * over the DISTINCT-value table via
    * [[graft.ops.PrefixSum.runningTotalsAsc]]; (3) the rank→value
    * lookup = min pooled value with cdf ≥ r, found WITHOUT a global
    * window or non-equi broadcast: ranks and cdf rows bucket into B
    * [0,1] ranges (equi key), each bucket supplemented with its
    * FOLLOWING first cdf row so a forward match always exists
    * in-bucket; the per-doc answer is one keyed min over candidates
    * bounded by the bucket's cdf rows. B is RIGHT-SIZED from the
    * bounded distinct-count action (VERDICT r12 #5): B =
    * clamp(distinct/64, 32, 1024), so the bucket join fans out to
    * ~64 candidate rows per doc across the supported domain sizes
    * (the real bound is distinct/B, growing again past 65k distinct
    * values — recorded, not hidden). The supplement comes from a
    * per-bucket first-row aggregate (≤B rows collected) plus a
    * driver backward scan — bounded metadata, no B-wide single-row
    * aggregate. All compared quantities are exact integer ratios —
    * the cdf ≥ r decisions are bit-identical cross-engine, and the
    * oracle may therefore use the naive correlated-min formulation
    * (values are plan-shape-independent). */
  val quantileNormalize = QueryDef(
    "q_quantile_normalize",
    Some("""WITH r AS (
              SELECT doc_id, source, n_chars,
                     PERCENT_RANK() OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id) AS r
              FROM documents),
            dv AS (
              SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS m
              FROM documents GROUP BY n_chars),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS total
                   FROM documents),
            cdf AS (
              SELECT v, CAST(SUM(m) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM dv)
            SELECT r.doc_id, r.source, r.n_chars, r.r,
                   (SELECT MIN(c.v) FROM cdf c CROSS JOIN nn
                    WHERE CAST(c.cum AS DOUBLE) / CAST(nn.total AS DOUBLE)
                      >= r.r) AS norm_chars
            FROM r ORDER BY r.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      val r = docs.select(col("doc_id"), col("source"), col("n_chars"),
        percent_rank().over(w).as("r"))
      val dv = docs.groupBy(col("n_chars").as("v"))
        .agg(count(lit(1)).as("m"))
      val total = docs.count() // bounded action
      val cdf = graft.ops.PrefixSum.runningTotalsAsc(dv, Seq("m"), "v",
          Seq("cum"))
        .select(col("v"),
          (col("cum").cast("double") / lit(total).cast("double"))
            .as("cdf"))
      // B from the bounded distinct-count action (VERDICT r12 #5):
      // dv is already the distinct-value table, so its count IS the
      // domain size; ~64 cdf rows per bucket keeps the per-doc
      // candidate fan-out flat instead of distinct/32
      val nDistinct = dv.count()
      val B = math.max(32L, math.min(1024L, nDistinct / 64L)).toInt
      def bucketOf(c: Column) = least(floor(c * B).cast("int"), lit(B - 1))
      // per-bucket forward supplement: for bucket k, the first cdf row
      // at-or-after (k+1)/B. Bucket-k rows have cdf < (k+1)/B by
      // construction, so that row is the FIRST row of the nearest
      // nonempty bucket > k: one ≤B-row groupBy-min collect, then a
      // driver backward scan carries "next first" across empty buckets.
      val firstPer = cdf.withColumn("bucket", bucketOf(col("cdf")))
        .groupBy("bucket").agg(min(struct(col("cdf"), col("v"))).as("f"))
        .collect()
        .map { r =>
          val st = r.getStruct(1)
          r.getInt(0) -> ((st.getDouble(0), st.getLong(1)))
        }.toMap
      val sup = ((B - 1) to 0 by -1)
        .scanLeft((B, Option.empty[(Double, Long)])) { case ((_, nxt), k) =>
          (k, firstPer.get(k + 1).orElse(nxt))
        }
        .collect { case (k, Some((c, v))) if k < B => (k, c, v) }
      import s.implicits._
      val supDf = sup.toDF("bucket", "cdf", "v")
      val cands = cdf.withColumn("bucket", bucketOf(col("cdf")))
        .select("bucket", "cdf", "v")
        .unionAll(supDf)
      val joined = r.withColumn("bucket", bucketOf(col("r")))
        .join(cands, "bucket")
        .groupBy("doc_id", "source", "n_chars", "r")
        .agg(min(when(col("cdf") >= col("r"), col("v")))
          .as("norm_chars"))
      joined.select(col("doc_id"), col("source"), col("n_chars"),
          col("r"), col("norm_chars"))
        .orderBy("doc_id")
    })

  // --------------------------------------------------- balanced sample

  /** Balanced per-class sample (X144 — "n examples per class", the
    * draw every eval-set and few-shot-prompt builder makes; the
    * class-conditional sibling of X31's stratified rates: rates keep
    * PROPORTIONS, this forces EQUAL counts, deliberately re-weighting
    * rare classes). Deterministic: order within class by the portable
    * md5 draw (doc-id tie-break), keep rank ≤ k via one
    * class-partitioned row_number — no global shuffle beyond the
    * class key. */
  val balancedSample = QueryDef(
    "q_balanced_sample", {
      val h = Bloom.hashModSql("bal:", "doc_id", 1000000)
      Some(s"""WITH r AS (
                SELECT lang, doc_id, $h AS draw,
                       CAST(ROW_NUMBER() OVER (PARTITION BY lang
                         ORDER BY $h, doc_id) AS BIGINT) AS rank
                FROM documents)
              SELECT lang, doc_id, draw, rank
              FROM r WHERE rank <= 10 ORDER BY lang, rank""")
    },
    (s, d) => {
      val draw = Bloom.hashMod("bal:", col("doc_id"), 1000000)
      val w = Window.partitionBy("lang").orderBy(draw, col("doc_id"))
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), draw.as("draw"),
          row_number().over(w).cast("long").as("rank"))
        .filter(col("rank") <= 10)
        .orderBy("lang", "rank")
    })

  // ------------------------------- X202 propensity-score stratification

  private val PsIters = 8
  private val PsTypes = Seq("click", "view", "signup", "error")

  /** Propensity-score stratification (X202 — Rosenbaum & Rubin 1983,
    * the observational-causal workhorse X200's DiD sits beside: model
    * e(x) = P(treat|x) with the X189 logistic machinery, cut units
    * into propensity quintiles, and average the within-stratum
    * treated-vs-control outcome gaps — removing the confounding the
    * covariates CARRY; quintile stratification removes ~90% of the
    * bias e(x) captures, Cochran 1968). Treat = heavy users (the
    * deliberately non-random X200 split); covariates deliberately
    * EXCLUDE the count that defines treatment (type shares + mean
    * event hour + mean value — exact rationals; including n would be
    * a positivity violation, e → {0,1}). The propensity fit is the
    * X189 pinned-round GD (8 rounds, qround(6) lanes, shared
    * logregRoundSql oracle device); scores floor 1e-6; quintile
    * fences are qround(6) percentiles (X114); the stratum readout is
    * ONE conditional aggregate over the bounded stratum alphabet,
    * ATT/ATE re-entering from the driver (X190 device). Outcome =
    * per-user mean event value. */
  val propensityStrat = QueryDef(
    "q_propensity_strat", {
      val shareCols = PsTypes.zipWithIndex.map { case (t, i) =>
        s"CAST(c_$t AS DOUBLE) / CAST(n AS DOUBLE)"
      }
      val rawList = (shareCols ++ Seq(
        "CAST(hsum AS DOUBLE) / CAST(n AS DOUBLE)",
        "sv / CAST(n AS DOUBLE)")).mkString(", ")
      val cntCols = PsTypes.map(t =>
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) " +
          s"AS BIGINT) AS c_$t").mkString(",\n                      ")
      val rounds = (1 to PsIters)
        .map(TextQueries.logregRoundSql(_, 7, 1.0, "ps"))
        .mkString(",\n            ")
      val fSql = (1 to 4).map { i =>
        s"${Num.qroundSql(s"PERCENTILE_CONT(${i / 5.0}) WITHIN GROUP " +
          "(ORDER BY e)", 6)} AS f$i"
      }.mkString(", ")
      val binSql = (1 to 4).map(i =>
        s"(CASE WHEN es.e > f.f$i THEN 1 ELSE 0 END)").mkString(" + ")
      val sig = s"""1.0 / (1.0 + exp(-(list_reduce(list_transform(
                       range(1, 8), j -> sx.xs[j] * w.w[j]),
                       (a, b) -> a + b))))"""
      Some(s"""WITH uc AS (
               SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                      ${Num.qroundSql("SUM(value)", 6)} AS sv,
                      CAST(SUM(CAST(date_part('hour', ts) AS BIGINT))
                        AS BIGINT) AS hsum,
                      $cntCols
               FROM events GROUP BY user_id),
             tot AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                      CAST(SUM(n) AS BIGINT) AS ne
               FROM uc),
             xr AS (
               SELECT uc.user_id AS doc_id,
                      CASE WHEN uc.n * tot.nu >= tot.ne
                        THEN 1.0 ELSE 0.0 END AS y,
                      sv / CAST(n AS DOUBLE) AS y_out,
                      [$rawList] AS xsr
               FROM uc CROSS JOIN tot),
             nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM xr),
             rdm AS (SELECT CAST(unnest(range(1, 7)) AS INT) AS j),
             mm AS MATERIALIZED (
               SELECT rdm.j,
                      ${Num.qroundSql("SUM(xr.xsr[rdm.j]) / nn.n", 6)}
                        AS mu,
                      ${Num.qroundSql(
                        "SUM(xr.xsr[rdm.j] * xr.xsr[rdm.j]) / nn.n", 6)}
                        AS ex2
               FROM xr CROSS JOIN rdm CROSS JOIN nn
               GROUP BY rdm.j, nn.n),
             sdt AS (
               SELECT j, mu,
                      CASE WHEN ex2 - mu * mu > 0.0
                        THEN SQRT(ex2 - mu * mu) ELSE 0.0 END AS sd
               FROM mm),
             mus AS (SELECT list(mu ORDER BY j) AS v FROM sdt),
             sds AS (SELECT list(sd ORDER BY j) AS v FROM sdt),
             sx AS MATERIALIZED (
               SELECT doc_id, y, y_out,
                      list_prepend(1.0, list_transform(range(1, 7),
                        j -> CASE WHEN sds.v[j] > 0.0
                          THEN (xsr[j] - mus.v[j]) / sds.v[j]
                          ELSE 0.0 END)) AS xs
               FROM xr CROSS JOIN mus CROSS JOIN sds),
             dms AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS j),
             psw0 AS (SELECT list_transform(range(1, 8),
                       j -> 0.0) AS w),
             $rounds,
             es AS MATERIALIZED (
               SELECT sx.doc_id, sx.y, sx.y_out,
                      ${Num.qroundSql(sig, 6)} AS e
               FROM sx CROSS JOIN psw$PsIters w),
             f AS (SELECT $fSql FROM es),
             st AS (
               SELECT es.doc_id, es.y, es.y_out,
                      CAST(1 + ($binSql) AS BIGINT) AS stratum
               FROM es CROSS JOIN f),
             g AS (
               SELECT stratum,
                      CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                      CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN y = 1.0 THEN y_out ELSE 0.0 END)",
                        6)} AS s1,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN y = 0.0 THEN y_out ELSE 0.0 END)",
                        6)} AS s0
               FROM st GROUP BY stratum),
             tt AS (
               SELECT CAST(SUM(n1) AS BIGINT) AS tn1,
                      CAST(SUM(n0) AS BIGINT) AS tn0,
                      CAST(SUM(n1 + n0) AS BIGINT) AS tn
               FROM g),
             dd AS (
               SELECT g.*, tt.tn1, tt.tn0, tt.tn,
                      s1 / NULLIF(CAST(n1 AS DOUBLE), 0.0) -
                        s0 / NULLIF(CAST(n0 AS DOUBLE), 0.0) AS diff
               FROM g CROSS JOIN tt),
             eff AS (
               SELECT ${Num.qroundSql(
                 "SUM(CAST(n1 + n0 AS DOUBLE) / CAST(tn AS DOUBLE) " +
                   "* diff)", 6)} AS ate,
                      ${Num.qroundSql(
                 "SUM(CAST(n1 AS DOUBLE) / CAST(tn1 AS DOUBLE) " +
                   "* diff)", 6)} AS att
               FROM dd),
             nv AS (
               SELECT ${Num.qroundSql(
                 "SUM(CASE WHEN y = 1.0 THEN y_out ELSE 0.0 END)", 6)}
                 AS sa1,
                      ${Num.qroundSql(
                 "SUM(CASE WHEN y = 0.0 THEN y_out ELSE 0.0 END)", 6)}
                 AS sa0,
                      CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS na1,
                      CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS na0
               FROM st)
             SELECT dd.stratum, dd.n0, dd.n1,
                    dd.s0 / NULLIF(CAST(dd.n0 AS DOUBLE), 0.0)
                      AS mean_ctrl,
                    dd.s1 / NULLIF(CAST(dd.n1 AS DOUBLE), 0.0)
                      AS mean_treat,
                    dd.diff, eff.ate AS ate_strat, eff.att,
                    nv.sa1 / CAST(nv.na1 AS DOUBLE) -
                      nv.sa0 / CAST(nv.na0 AS DOUBLE) AS naive_diff
             FROM dd CROSS JOIN eff CROSS JOIN nv
             ORDER BY dd.stratum""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val ucCols = Seq(count(lit(1)).as("n"),
        Num.qround(sum("value"), 6).as("sv"),
        sum(hour(col("ts")).cast("long")).as("hsum")) ++
        PsTypes.map(t => sum(when(col("event_type") === t, 1L)
          .otherwise(0L)).as(s"c_$t"))
      val uc = ev.groupBy("user_id")
        .agg(ucCols.head, ucCols.tail: _*)
        .localCheckpoint(true) // totals + features read it
      val tot = uc.agg(count(lit(1)), sum("n")).head()
      val (nu, ne) = (tot.getLong(0), tot.getLong(1))
      val nD = col("n").cast("double")
      val rawFeats = array(
        (PsTypes.map(t => col(s"c_$t").cast("double") / nD) ++
          Seq(col("hsum").cast("double") / nD, col("sv") / nD)): _*)
      val raw = uc.select(col("user_id").as("doc_id"),
          when(col("n") * nu >= ne, 1.0).otherwise(0.0).as("y"),
          (col("sv") / nD).as("y_out"), rawFeats.as("xsr"))
        .localCheckpoint(true)
      val feats = graft.ops.LogReg.standardized(raw, 6)
        .localCheckpoint(true) // 8 GD rounds + scoring read it
      val w = graft.ops.LogReg.fit(feats, "xs", "y", 7, PsIters, Seq(1.0))
        .head._1
      val es = feats.select(col("doc_id"), col("y"), col("y_out"),
          Num.qround(graft.ops.LogReg.sigmoid(col("xs"), w), 6).as("e"))
        .localCheckpoint(true) // fences action + stratum aggregate
      val fences = es.agg(percentile(col("e"),
          array((1 to 4).map(i => lit(i / 5.0)): _*)))
        .head().getSeq[Double](0)
        .map(Num.qround(_, 6))
      val stratum = fences.foldLeft(lit(1)) { (acc, f) =>
        acc + when(col("e") > f, 1).otherwise(0)
      }.cast("long")
      val g = es.groupBy(stratum.as("stratum")).agg(
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("n0"),
          Num.qround(sum(when(col("y") === 1.0, col("y_out"))
            .otherwise(0.0)), 6).as("s1"),
          Num.qround(sum(when(col("y") === 0.0, col("y_out"))
            .otherwise(0.0)), 6).as("s0"))
        .localCheckpoint(true) // bounded stratum alphabet
      // driver effect lanes off the <= 5 stratum rows (X190 device)
      val rows = g.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4)))
      val (tn1, tn0) = (rows.map(_._2).sum, rows.map(_._3).sum)
      val tn = tn1 + tn0
      // a one-sided stratum (n1 = 0 or n0 = 0) has a NULL diff in the
      // oracle, whose SUM skips it — skip here identically
      val defined = rows.filter(r => r._2 > 0 && r._3 > 0)
      def diffOf(r: (Long, Long, Long, Double, Double)): Double =
        r._4 / r._2.toDouble - r._5 / r._3.toDouble
      val ate = Num.qround(defined.map(r =>
        (r._2 + r._3).toDouble / tn.toDouble * diffOf(r)).sum, 6)
      val att = Num.qround(defined.map(r =>
        r._2.toDouble / tn1.toDouble * diffOf(r)).sum, 6)
      val nvRow = es.agg(
        Num.qround(sum(when(col("y") === 1.0, col("y_out"))
          .otherwise(0.0)), 6),
        Num.qround(sum(when(col("y") === 0.0, col("y_out"))
          .otherwise(0.0)), 6),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)),
        sum(when(col("y") === 0.0, 1L).otherwise(0L))).head()
      val naive = nvRow.getDouble(0) / nvRow.getLong(2) -
        nvRow.getDouble(1) / nvRow.getLong(3)
      g.select(col("stratum"), col("n0"), col("n1"),
          (col("s0") / when(col("n0") === 0, lit(null))
            .otherwise(col("n0").cast("double"))).as("mean_ctrl"),
          (col("s1") / when(col("n1") === 0, lit(null))
            .otherwise(col("n1").cast("double"))).as("mean_treat"),
          (col("s1") / when(col("n1") === 0, lit(null))
            .otherwise(col("n1").cast("double")) -
            col("s0") / when(col("n0") === 0, lit(null))
              .otherwise(col("n0").cast("double"))).as("diff"),
          lit(ate).as("ate_strat"), lit(att).as("att"),
          lit(naive).as("naive_diff"))
        .orderBy("stratum")
    })

  // ---------------------------------------- X203 Nelson–Aalen hazard

  /** Nelson–Aalen cumulative hazard (X203 — Nelson 1972 / Aalen 1978:
    * the estimator read NEXT TO X139's Kaplan–Meier on the same
    * risk table — H(t) = Σ_{s≤t} d_s/n_s sums hazard increments
    * instead of multiplying survival factors, is better-behaved at
    * small n_risk, and exp(−H) gives the Fleming–Harrington survival
    * twin; variance by Σ d_s/n_s² — Klein & Moeschberger eq. 4.2.3.
    * Same subjects/risk construction as X139 (first event → first
    * purchase, right-censored at the corpus horizon). Float
    * discipline: each increment enters a ×10⁹ fixed-point long lane
    * (the X139 ln-lane device — d/n is an exact rational, the floor
    * kills nothing real), cumulative sums are EXACT long prefix
    * arithmetic via [[graft.ops.PrefixSum.runningTotalsAsc]], and
    * H/var/surv re-emerge as element-wise floats off exact longs —
    * every row hashes RAW. */
  val nelsonAalen = QueryDef(
    "q_nelson_aalen",
    Some(s"""$riskSetSql,
            l AS (
              SELECT *,
                     CAST(FLOOR(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                       * 1000000000 + 0.5) AS BIGINT) AS hi,
                     CAST(FLOOR(CAST(d AS DOUBLE) /
                       (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
                       * 1000000000 + 0.5) AS BIGINT) AS vi
              FROM r),
            w2 AS (
              SELECT *, CAST(SUM(hi) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ch,
                CAST(SUM(vi) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cv
              FROM l)
            SELECT t AS t_day, n_risk, d AS n_events, c AS n_censored,
                   CAST(ch AS DOUBLE) / 1000000000.0 AS cum_hazard,
                   CAST(cv AS DOUBLE) / 1000000000.0 AS var_hazard,
                   FLOOR(EXP(-(CAST(ch AS DOUBLE) / 1000000000.0))
                     * 1000000 + 0.5) / 1000000 AS surv_fh
            FROM w2 ORDER BY t_day"""),
    (s, d) => {
      val dD = col("d").cast("double")
      val nrD = col("n_risk").cast("double")
      val l = riskSet(s, d).select(col("t"), col("d"), col("c"),
        col("n_risk"),
        floor(dD / nrD * 1e9 + 0.5).cast("long").as("hi"),
        floor(dD / (nrD * nrD) * 1e9 + 0.5).cast("long").as("vi"))
      val w2 = graft.ops.PrefixSum.runningTotalsAsc(l, Seq("hi", "vi"),
        "t", Seq("ch", "cv"))
      w2.select(col("t").as("t_day"), col("n_risk"),
          col("d").as("n_events"), col("c").as("n_censored"),
          (col("ch").cast("double") / 1e9).as("cum_hazard"),
          (col("cv").cast("double") / 1e9).as("var_hazard"),
          (floor(exp(-(col("ch").cast("double") / 1e9)) * 1e6 + 0.5) /
            1e6).as("surv_fh"))
        .orderBy("t_day")
    })

  // ------------------------------------- X200 difference-in-differences

  /** Difference-in-differences (X200 — Card & Krueger 1994's
    * quasi-experimental workhorse: when assignment isn't randomized,
    * difference out the group LEVEL and the common time TREND,
    * DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre);
    * the readout left when X124's randomization assumption fails).
    * Treat = heavy users (n·U ≥ E exact integers, the X190 split —
    * deliberately non-random: DiD's whole point), periods = event-time
    * midpoint (X114 device); unit = (user, period) value sum
    * (qround(6)); the 2×2 cell table is ONE conditional aggregate
    * (8 qround(6) sum/sumsq lanes + 4 exact counts), every derived
    * figure — four cell means, DiD, the pooled SE
    * √Σvar_c/n_c, z — element-wise off the quantized lanes in a
    * single row. */
  val did = QueryDef(
    "q_did", {
      val mid = "(b.mn + (b.mx - b.mn) // 2)"
      def cell(t: Int, p: Int, e: String) =
        s"SUM(CASE WHEN treat = $t AND period = $p THEN $e ELSE 0.0 END)"
      def cnt(t: Int, p: Int) =
        s"CAST(SUM(CASE WHEN treat = $t AND period = $p THEN 1 ELSE 0 " +
          s"END) AS BIGINT)"
      def mean(t: Int, p: Int) =
        s"(s$t$p / CAST(n$t$p AS DOUBLE))"
      def vr(t: Int, p: Int) =
        s"(q$t$p / CAST(n$t$p AS DOUBLE) - ${mean(t, p)} * ${mean(t, p)})"
      val didE = s"(${mean(1, 1)} - ${mean(1, 0)}) - " +
        s"(${mean(0, 1)} - ${mean(0, 0)})"
      val seE = s"SQRT(${vr(1, 1)} / CAST(n11 AS DOUBLE) + " +
        s"${vr(1, 0)} / CAST(n10 AS DOUBLE) + " +
        s"${vr(0, 1)} / CAST(n01 AS DOUBLE) + " +
        s"${vr(0, 0)} / CAST(n00 AS DOUBLE))"
      val cells = (for (t <- Seq(0, 1); p <- Seq(0, 1)) yield
        s"""${cnt(t, p)} AS n$t$p,
                      ${Num.qroundSql(cell(t, p, "y"), 6)} AS s$t$p,
                      ${Num.qroundSql(cell(t, p, "y * y"), 6)} AS q$t$p""")
        .mkString(",\n                      ")
      Some(s"""WITH b AS (
               SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
               FROM events),
             ucnt AS (
               SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY user_id),
             tot AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                      CAST(SUM(n) AS BIGINT) AS ne
               FROM ucnt),
             up AS (
               SELECT e.user_id,
                      CASE WHEN epoch_us(e.ts) >= $mid
                        THEN 1 ELSE 0 END AS period,
                      ${Num.qroundSql("SUM(e.value)", 6)} AS y
               FROM events e CROSS JOIN b
               GROUP BY e.user_id, CASE WHEN epoch_us(e.ts) >= $mid
                 THEN 1 ELSE 0 END),
             uu AS (
               SELECT up.user_id, up.period, up.y,
                      CASE WHEN uc.n * tot.nu >= tot.ne
                        THEN 1 ELSE 0 END AS treat
               FROM up JOIN ucnt uc ON up.user_id = uc.user_id
                 CROSS JOIN tot),
             ag AS (SELECT $cells FROM uu)
             SELECT n00, n01, n10, n11,
                    ${mean(0, 0)} AS mean_ctrl_pre,
                    ${mean(0, 1)} AS mean_ctrl_post,
                    ${mean(1, 0)} AS mean_treat_pre,
                    ${mean(1, 1)} AS mean_treat_post,
                    $didE AS did,
                    $seE AS se,
                    ($didE) / NULLIF($seE, 0.0) AS z
             FROM ag""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val bRow = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val mid = bRow.getLong(0) + (bRow.getLong(1) - bRow.getLong(0)) / 2
      val ucnt = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // totals action + the treat join
      val tot = ucnt.agg(count(lit(1)), sum("n")).head()
      val (nu, ne) = (tot.getLong(0), tot.getLong(1))
      val up = ev.groupBy(col("user_id"),
          when(unix_micros(col("ts")) >= mid, 1).otherwise(0)
            .as("period"))
        .agg(Num.qround(sum("value"), 6).as("y"))
      val uu = up.join(ucnt, "user_id")
        .select(col("period"), col("y"),
          when(col("n") * nu >= ne, 1).otherwise(0).as("treat"))
      def cCell(t: Int, p: Int, e: org.apache.spark.sql.Column) =
        Num.qround(sum(when(col("treat") === t && col("period") === p,
          e).otherwise(0.0)), 6)
      def cCnt(t: Int, p: Int) =
        sum(when(col("treat") === t && col("period") === p, 1L)
          .otherwise(0L))
      val ag = uu.agg(
        cCnt(0, 0).as("n00"), cCell(0, 0, col("y")).as("s00"),
        cCell(0, 0, col("y") * col("y")).as("q00"),
        cCnt(0, 1).as("n01"), cCell(0, 1, col("y")).as("s01"),
        cCell(0, 1, col("y") * col("y")).as("q01"),
        cCnt(1, 0).as("n10"), cCell(1, 0, col("y")).as("s10"),
        cCell(1, 0, col("y") * col("y")).as("q10"),
        cCnt(1, 1).as("n11"), cCell(1, 1, col("y")).as("s11"),
        cCell(1, 1, col("y") * col("y")).as("q11"))
      def mean(t: Int, p: Int) =
        col(s"s$t$p") / col(s"n$t$p").cast("double")
      def vr(t: Int, p: Int) =
        col(s"q$t$p") / col(s"n$t$p").cast("double") -
          mean(t, p) * mean(t, p)
      val didC = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
      val seC = sqrt(vr(1, 1) / col("n11").cast("double") +
        vr(1, 0) / col("n10").cast("double") +
        vr(0, 1) / col("n01").cast("double") +
        vr(0, 0) / col("n00").cast("double"))
      ag.select(col("n00"), col("n01"), col("n10"), col("n11"),
        mean(0, 0).as("mean_ctrl_pre"), mean(0, 1).as("mean_ctrl_post"),
        mean(1, 0).as("mean_treat_pre"),
        mean(1, 1).as("mean_treat_post"),
        didC.as("did"), seC.as("se"),
        (didC / when(seC === 0.0, lit(null)).otherwise(seC)).as("z"))
    })

  // ------------------------------------------- X199 permutation test

  private val PermReps = 128

  /** Monte-Carlo permutation test for the A/B uplift (X199 — Fisher
    * 1935's randomization inference, the assumption-free sibling of
    * X124's normal z-test: re-label units under the null B times and
    * ask where the observed uplift falls in the re-labeled
    * distribution; p = (1+#{|uplift_b| ≥ |uplift_obs|})/(B+1), the
    * add-one form that keeps p valid at any B — Phipson & Smyth
    * 2010). Re-labelings are DETERMINISTIC md5 splits keyed by the
    * replicate index ('perm<b>:' prefix — b = 0 IS the observed
    * assignment, same formula), so both engines replay the identical
    * ensemble — no RNG to pin. Shape: per-user metric one keyed
    * aggregate; the replicate fan-out is an exploded literal
    * sequence (rows × (B+1), bounded by the literal B — the
    * recorded cost of any resampling method); per-replicate uplifts
    * are element-wise off qround(6) conditional sums; the verdict
    * lanes reduce over the B-row bounded table on the driver
    * (X190 device), null-band edges exact order statistics. */
  val permTest = QueryDef(
    "q_perm_test", {
      val hash = "CAST('0x' || substring(md5('perm' || " +
        "CAST(x.b AS VARCHAR) || ':' || CAST(x.user_id AS VARCHAR)), " +
        "1, 15) AS BIGINT) % 2"
      val kLo = math.max(1, math.floor(0.05 * PermReps).toInt)
      val kHi = math.min(PermReps, math.ceil(0.95 * PermReps).toInt)
      Some(s"""WITH u AS (
               SELECT user_id, ${Num.qroundSql("SUM(value)", 6)} AS y
               FROM events GROUP BY user_id),
             x AS (
               SELECT u.user_id, u.y,
                      CAST(unnest(range(0, ${PermReps + 1})) AS BIGINT)
                        AS b
               FROM u),
             c AS (SELECT x.b, x.y, $hash AS coh FROM x),
             ub AS (
               SELECT b,
                      CAST(SUM(CASE WHEN coh = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                      CAST(SUM(CASE WHEN coh = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN coh = 0 THEN y ELSE 0.0 END)",
                        6)} AS sy_a,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN coh = 1 THEN y ELSE 0.0 END)",
                        6)} AS sy_b
               FROM c GROUP BY b),
             up AS (
               SELECT b, n_a, n_b,
                      sy_b / CAST(n_b AS DOUBLE) -
                        sy_a / CAST(n_a AS DOUBLE) AS uplift
               FROM ub),
             ob AS (SELECT n_a, n_b, uplift AS u0 FROM up WHERE b = 0),
             ex AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS n_extreme
               FROM up CROSS JOIN ob
               WHERE up.b > 0 AND ABS(up.uplift) >= ABS(ob.u0)),
             ns AS (
               SELECT list_sort(list(uplift)) AS ls
               FROM up WHERE b > 0)
             SELECT ob.n_a, ob.n_b, ob.u0 AS uplift_obs,
                    CAST($PermReps AS BIGINT) AS b_reps,
                    ex.n_extreme,
                    CAST(1 + ex.n_extreme AS DOUBLE) /
                      CAST(${PermReps + 1} AS DOUBLE) AS p_perm,
                    ns.ls[$kLo] AS null_lo, ns.ls[$kHi] AS null_hi
             FROM ob CROSS JOIN ex CROSS JOIN ns""")
    },
    (s, d) => {
      val u = Tables.events(s, d).groupBy("user_id")
        .agg(Num.qround(sum("value"), 6).as("y"))
      val x = u.select(col("user_id"), col("y"),
        explode(typedLit((0 to PermReps).map(_.toLong))).as("b"))
      val coh = pmod(conv(substring(md5(concat(lit("perm"),
        col("b").cast("string"), lit(":"),
        col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(2L))
      val ub = x.select(col("b"), col("y"), coh.as("coh"))
        .groupBy("b").agg(
          sum(when(col("coh") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("coh") === 1, 1L).otherwise(0L)).as("n_b"),
          Num.qround(sum(when(col("coh") === 0, col("y"))
            .otherwise(0.0)), 6).as("sy_a"),
          Num.qround(sum(when(col("coh") === 1, col("y"))
            .otherwise(0.0)), 6).as("sy_b"))
        .select(col("b"), col("n_a"), col("n_b"),
          (col("sy_b") / col("n_b").cast("double") -
            col("sy_a") / col("n_a").cast("double")).as("uplift"))
      // bounded collect: B+1 replicate rows by the literal B
      val reps = ub.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3)))
      val (obsNa, obsNb, u0) = {
        val o = reps.find(_._1 == 0L).get
        (o._2, o._3, o._4)
      }
      val nulls = reps.filter(_._1 > 0L).map(_._4)
      val nExtreme = nulls.count(v => math.abs(v) >= math.abs(u0))
      val sorted = nulls.sorted
      val kLo = math.max(1, math.floor(0.05 * PermReps).toInt)
      val kHi = math.min(PermReps, math.ceil(0.95 * PermReps).toInt)
      import s.implicits._
      Seq((obsNa, obsNb, u0, PermReps.toLong, nExtreme.toLong,
        (1.0 + nExtreme) / (PermReps + 1).toDouble,
        sorted(kLo - 1), sorted(kHi - 1)))
        .toDF("n_a", "n_b", "uplift_obs", "b_reps", "n_extreme",
          "p_perm", "null_lo", "null_hi")
    })

  // ----------------------------------------------------- X195 CUPED

  /** CUPED variance reduction (X195 — Deng, Xu, Kohavi & Walker
    * WSDM 2013: the industry-standard experiment accelerator — adjust
    * each unit's metric by its PRE-period covariate,
    * ycv = y − θ(x − x̄) with θ = cov(x,y)/var(x), shrinking metric
    * variance by the squared correlation while leaving the treatment
    * uplift unbiased (assignment ⊥ pre-period). The readout X124's
    * raw z-test should be run THROUGH: same uplift, smaller standard
    * error). Periods split at the event-time midpoint (X114 device,
    * exact integer micros); unit = user, y/x = post/pre value sums
    * (per-user aggregated doubles → qround(6)); θ and x̄ are pooled
    * qround(6) moment lanes off ONE bounded 1-row action, re-entering
    * the second pass as literals (the X38 device); cohorts = md5
    * hash-split. Every emitted figure is element-wise off the ten
    * quantized conditional-sum lanes — uplift_raw vs uplift_cuped
    * identical in expectation, var_reduction ≈ ρ². Honest corpus
    * note: this synthetic user population has no persistent
    * behavior, so realized ρ² ≈ 0.005 and the adjustment is a
    * measured near-no-op — the machinery (θ fit, literal re-entry,
    * pooled-reduction guarantee) is the deliverable, and the
    * pooled var(ycv) ≤ var(y) optimality still holds and is pinned.
    * var(x) = 0 → NULL θ and NULL cuped lanes on both engines. */
  val cuped = QueryDef(
    "q_cuped", {
      val coh = Bloom.hashModSql("cuped:", "user_id", 2)
      val mid = "(b.mn + (b.mx - b.mn) // 2)"
      def meanOf(sc: String, nc: String) =
        s"($sc / CAST($nc AS DOUBLE))"
      val vyPool = s"(syy_a + syy_b) / CAST(n_a + n_b AS DOUBLE) - " +
        s"((sy_a + sy_b) / CAST(n_a + n_b AS DOUBLE)) * " +
        s"((sy_a + sy_b) / CAST(n_a + n_b AS DOUBLE))"
      val vcPool = s"(scc_a + scc_b) / CAST(n_a + n_b AS DOUBLE) - " +
        s"((sc_a + sc_b) / CAST(n_a + n_b AS DOUBLE)) * " +
        s"((sc_a + sc_b) / CAST(n_a + n_b AS DOUBLE))"
      def varOf(sq: String, sm: String, n: String) =
        s"($sq / CAST($n AS DOUBLE) - ${meanOf(sm, n)} * ${meanOf(sm, n)})"
      Some(s"""WITH b AS (
               SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
               FROM events),
             u AS (
               SELECT user_id, $coh AS cohort,
                      ${Num.qroundSql(
                        s"SUM(CASE WHEN epoch_us(ts) < $mid " +
                          "THEN value ELSE 0.0 END)", 6)} AS x,
                      ${Num.qroundSql(
                        s"SUM(CASE WHEN epoch_us(ts) >= $mid " +
                          "THEN value ELSE 0.0 END)", 6)} AS y
               FROM events CROSS JOIN b
               GROUP BY user_id, $coh),
             mo AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      ${Num.qroundSql("AVG(x)", 6)} AS mx,
                      ${Num.qroundSql("AVG(y)", 6)} AS my,
                      ${Num.qroundSql("AVG(x * y)", 6)} AS exy,
                      ${Num.qroundSql("AVG(x * x)", 6)} AS ex2
               FROM u),
             th AS (
               SELECT mx,
                      (exy - mx * my) / NULLIF(ex2 - mx * mx, 0.0)
                        AS theta
               FROM mo),
             cv AS (
               SELECT u.cohort, u.y,
                      u.y - th.theta * (u.x - th.mx) AS ycv
               FROM u CROSS JOIN th),
             ag AS (
               SELECT CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                      CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 0 THEN y ELSE 0.0 END)",
                        6)} AS sy_a,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 1 THEN y ELSE 0.0 END)",
                        6)} AS sy_b,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 0 THEN y * y " +
                          "ELSE 0.0 END)", 6)} AS syy_a,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 1 THEN y * y " +
                          "ELSE 0.0 END)", 6)} AS syy_b,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 0 THEN ycv " +
                          "ELSE 0.0 END)", 6)} AS sc_a,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 1 THEN ycv " +
                          "ELSE 0.0 END)", 6)} AS sc_b,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 0 THEN ycv * ycv " +
                          "ELSE 0.0 END)", 6)} AS scc_a,
                      ${Num.qroundSql(
                        "SUM(CASE WHEN cohort = 1 THEN ycv * ycv " +
                          "ELSE 0.0 END)", 6)} AS scc_b
               FROM cv)
             SELECT ag.n_a, ag.n_b, th.theta,
                    ${meanOf("sy_b", "n_b")} - ${meanOf("sy_a", "n_a")}
                      AS uplift_raw,
                    SQRT(${varOf("syy_a", "sy_a", "n_a")}
                        / CAST(n_a AS DOUBLE)
                      + ${varOf("syy_b", "sy_b", "n_b")}
                        / CAST(n_b AS DOUBLE)) AS se_raw,
                    ${meanOf("sc_b", "n_b")} - ${meanOf("sc_a", "n_a")}
                      AS uplift_cuped,
                    SQRT(${varOf("scc_a", "sc_a", "n_a")}
                        / CAST(n_a AS DOUBLE)
                      + ${varOf("scc_b", "sc_b", "n_b")}
                        / CAST(n_b AS DOUBLE)) AS se_cuped,
                    1.0 - ($vcPool) / NULLIF($vyPool, 0.0)
                      AS var_reduction
             FROM ag CROSS JOIN th""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val bRow = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val mid = bRow.getLong(0) + (bRow.getLong(1) - bRow.getLong(0)) / 2
      val us = unix_micros(col("ts"))
      val u = ev.groupBy(col("user_id"),
          Bloom.hashMod("cuped:", col("user_id"), 2).as("cohort"))
        .agg(
          Num.qround(sum(when(us < mid, col("value")).otherwise(0.0)), 6)
            .as("x"),
          Num.qround(sum(when(us >= mid, col("value")).otherwise(0.0)), 6)
            .as("y"))
        .localCheckpoint(true) // moment pass + adjusted pass
      // pooled moment lanes: one bounded 1-row action (X38 device)
      val mo = u.agg(count(lit(1)),
        Num.qround(avg("x"), 6), Num.qround(avg("y"), 6),
        Num.qround(avg(col("x") * col("y")), 6),
        Num.qround(avg(col("x") * col("x")), 6)).head()
      val (mx, my, exy, ex2) =
        (mo.getDouble(1), mo.getDouble(2), mo.getDouble(3),
          mo.getDouble(4))
      val varX = ex2 - mx * mx
      val theta: Any =
        if (varX == 0.0) null else (exy - mx * my) / varX
      val thetaC = lit(theta).cast("double")
      val ycv = col("y") - thetaC * (col("x") - lit(mx))
      def s6(c: org.apache.spark.sql.Column, coh: Int) =
        Num.qround(sum(when(col("cohort") === coh, c).otherwise(0.0)), 6)
      val ag = u.select(col("cohort"), col("y"), ycv.as("ycv"))
        .agg(
          sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"),
          s6(col("y"), 0).as("sy_a"), s6(col("y"), 1).as("sy_b"),
          s6(col("y") * col("y"), 0).as("syy_a"),
          s6(col("y") * col("y"), 1).as("syy_b"),
          s6(col("ycv"), 0).as("sc_a"), s6(col("ycv"), 1).as("sc_b"),
          s6(col("ycv") * col("ycv"), 0).as("scc_a"),
          s6(col("ycv") * col("ycv"), 1).as("scc_b"))
      def meanOf(sc: org.apache.spark.sql.Column,
          nc: org.apache.spark.sql.Column) = sc / nc.cast("double")
      def varOf(sq: org.apache.spark.sql.Column,
          sm: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column) =
        sq / n.cast("double") - meanOf(sm, n) * meanOf(sm, n)
      val nAll = (col("n_a") + col("n_b")).cast("double")
      val vyPool = (col("syy_a") + col("syy_b")) / nAll -
        ((col("sy_a") + col("sy_b")) / nAll) *
          ((col("sy_a") + col("sy_b")) / nAll)
      val vcPool = (col("scc_a") + col("scc_b")) / nAll -
        ((col("sc_a") + col("sc_b")) / nAll) *
          ((col("sc_a") + col("sc_b")) / nAll)
      ag.select(col("n_a"), col("n_b"), thetaC.as("theta"),
        (meanOf(col("sy_b"), col("n_b")) -
          meanOf(col("sy_a"), col("n_a"))).as("uplift_raw"),
        sqrt(varOf(col("syy_a"), col("sy_a"), col("n_a")) /
            col("n_a").cast("double") +
          varOf(col("syy_b"), col("sy_b"), col("n_b")) /
            col("n_b").cast("double")).as("se_raw"),
        (meanOf(col("sc_b"), col("n_b")) -
          meanOf(col("sc_a"), col("n_a"))).as("uplift_cuped"),
        sqrt(varOf(col("scc_a"), col("sc_a"), col("n_a")) /
            col("n_a").cast("double") +
          varOf(col("scc_b"), col("sc_b"), col("n_b")) /
            col("n_b").cast("double")).as("se_cuped"),
        (lit(1.0) - vcPool / when(vyPool === 0.0, lit(null))
          .otherwise(vyPool)).as("var_reduction"))
    })

  // --------------------------------------------------- X190 BH-FDR

  private val FdrTypes = Seq("click", "error", "purchase", "signup", "view")
  private val FdrAlpha = 0.1

  /** Benjamini–Hochberg FDR control over a 10-test experiment family
    * (X190 — Benjamini & Hochberg 1995; see [[graft.ops.Fdr]]: the
    * multiple-comparisons step the X124/X136/X177 single-test
    * readouts lack — at m tests the family-wise false-positive rate
    * is 1−(1−α)^m, BH admits the largest prefix of the p-sorted
    * family with p_(i) ≤ i·α/m and bounds the expected false-
    * discovery share at α). The family: for each event type, a
    * hash-split A/B (md5 cohorts — null by construction) and an
    * activity-split (light vs heavy users, heavy ⇔ n·U ≥ E exact
    * integers — real effects by construction), so the readout
    * demonstrates exactly the separation BH exists for. Success =
    * the user's type-t event count is above the corpus mean for t
    * (c_t·U ≥ E_t, exact integers — "has ≥ 1 of t" is vacuous on
    * this corpus: every user emits every type, a degenerate 100%
    * conversion that NULLs every z). Per-test
    * stats are ONE exploded-literal conditional aggregate (no join);
    * z element-wise off exact integer counts; p = A&S 26.2.17
    * product-chain polynomial floored 1e-9 (the one exp lane); the
    * BH step runs on the driver over m = 10 rows (test definitions
    * are a literal of the query — metadata-sized at ANY corpus
    * scale) and verdicts re-enter the plan as literal maps. */
  val bhFdr = QueryDef(
    "q_bh_fdr", {
      val convCases = FdrTypes.map(t =>
        s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) " +
          s"AS BIGINT) AS c_$t")
        .mkString(",\n                       ")
      val typeTotals = FdrTypes.map(t =>
        s"CAST(SUM(c_$t) AS BIGINT) AS e_$t")
        .mkString(",\n                      ")
      val testRows = FdrTypes.flatMap(t => Seq(
        s"('$t:hash', '$t', 'hash')", s"('$t:activity', '$t', 'activity')"))
        .mkString(", ")
      val succCase = "CASE t.typ " + FdrTypes.map(t =>
        s"WHEN '$t' THEN (CASE WHEN ut.c_$t * ut.nu >= ut.e_$t " +
          "THEN 1 ELSE 0 END)").mkString(" ") + " END"
      val pa = "CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
      val pb = "CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
      val pp = "CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)"
      val z = s"""(($pb) - ($pa)) /
               NULLIF(SQRT(($pp) * (1.0 - ($pp)) *
                 (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
                 0.0)"""
      Some(s"""WITH u AS (
               SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                       $convCases
               FROM events GROUP BY user_id),
             tot AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                      CAST(SUM(n) AS BIGINT) AS ne,
                      $typeTotals
               FROM u),
             ut AS (
               SELECT u.*, tot.nu, tot.ne,
                      ${FdrTypes.map(t => s"tot.e_$t").mkString(", ")},
                      ${Bloom.hashModSql("fdr:", "user_id", 2)} AS ch,
                      CASE WHEN u.n * tot.nu >= tot.ne
                        THEN 1 ELSE 0 END AS heavy
               FROM u CROSS JOIN tot),
             tests(test_id, typ, split) AS (VALUES $testRows),
             x AS (
               SELECT t.test_id,
                      CASE WHEN t.split = 'hash' THEN ut.ch
                        ELSE ut.heavy END AS grp,
                      $succCase AS succ
               FROM ut CROSS JOIN tests t),
             agg AS (
               SELECT test_id,
                      CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                      CAST(SUM(CASE WHEN grp = 0 THEN succ ELSE 0 END)
                        AS BIGINT) AS conv_a,
                      CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                      CAST(SUM(CASE WHEN grp = 1 THEN succ ELSE 0 END)
                        AS BIGINT) AS conv_b
               FROM x GROUP BY test_id),
             zt AS (SELECT *, $z AS z FROM agg),
             pt AS (SELECT *, ${graft.ops.Fdr.pTwoSidedSql("z")} AS p
                    FROM zt),
             mm AS (SELECT CAST(COUNT(p) AS BIGINT) AS m FROM pt),
             rnk AS (
               SELECT test_id, p,
                      CAST(ROW_NUMBER() OVER (ORDER BY p, test_id)
                        AS BIGINT) AS bh_rank
               FROM pt WHERE p IS NOT NULL),
             ct AS (
               SELECT rnk.*,
                      ${Num.qroundSql(
                        s"CAST(bh_rank AS DOUBLE) * $FdrAlpha / mm.m", 9)}
                        AS bh_crit
               FROM rnk CROSS JOIN mm),
             ks AS (
               SELECT COALESCE(MAX(CASE WHEN p <= bh_crit
                 THEN bh_rank END), 0) AS kstar
               FROM ct)
             SELECT pt.test_id, pt.n_a, pt.conv_a, pt.n_b, pt.conv_b,
                    pt.z, pt.p, ct.bh_rank, ct.bh_crit,
                    CAST(CASE WHEN ct.bh_rank IS NULL THEN NULL
                      WHEN ct.bh_rank <= ks.kstar THEN 1 ELSE 0 END
                      AS BIGINT) AS rejected
             FROM pt LEFT JOIN ct ON pt.test_id = ct.test_id
               CROSS JOIN ks
             ORDER BY pt.test_id""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val u = ev.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        FdrTypes.map(t => sum(when(col("event_type") === t, 1L)
          .otherwise(0L)).as(s"c_$t")): _*)
      // bounded 7-long action: user count, event count, per-type totals
      val tot = u.agg(count(lit(1)),
        sum("n") +: FdrTypes.map(t => sum(s"c_$t")): _*).head()
      val (nu, ne) = (tot.getLong(0), tot.getLong(1))
      val eT = FdrTypes.zipWithIndex
        .map { case (t, i) => t -> tot.getLong(i + 2) }.toMap
      val tests = FdrTypes.flatMap(t =>
        Seq((s"$t:hash", t, "hash"), (s"$t:activity", t, "activity")))
      val succ = FdrTypes.foldLeft(lit(null).cast("long")) { (acc, t) =>
        when(col("tst._2") === t,
          when(col(s"c_$t") * nu >= eT(t), 1L).otherwise(0L))
          .otherwise(acc)
      }
      val grp = when(col("tst._3") === "hash",
          Bloom.hashMod("fdr:", col("user_id"), 2))
        .otherwise(when(col("n") * nu >= ne, 1L).otherwise(0L))
      val agg = u
        .select(col("*"), explode(typedLit(tests)).as("tst"))
        .select(col("tst._1").as("test_id"), grp.as("grp"), succ.as("succ"))
        .groupBy("test_id").agg(
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("grp") === 0, col("succ")).otherwise(0L))
            .as("conv_a"),
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("grp") === 1, col("succ")).otherwise(0L))
            .as("conv_b"))
      val paC = col("conv_a").cast("double") / col("n_a").cast("double")
      val pbC = col("conv_b").cast("double") / col("n_b").cast("double")
      val ppC = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      val zC = (pbC - paC) /
        sqrt(ppC * (lit(1.0) - ppC) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double")))
      val withP = agg
        .withColumn("z", zC)
        .withColumn("p", graft.ops.Fdr.pTwoSided(col("z")))
        .localCheckpoint(true) // m bounded rows: the BH collect reads it
      graft.ops.Fdr.bh(withP, "test_id", "p", FdrAlpha)
        .orderBy("test_id")
    })

  /** Markov absorption curve toward 'purchase' (X237 — the
    * absorbing-chain readout on the X115 transition matrix: treat
    * purchase as absorbing and iterate p_i(a) = Σ_b P(a,b)·[b =
    * purchase ? 1 : p_{i−1}(b)] — p_k(a) is the probability a user
    * currently at state a converts within k MORE events, the
    * "how close is each state to the money" number the funnel's
    * stage counts (X95) cannot express because real paths wander).
    * 5 pinned value-iteration rounds over the BOUNDED type alphabet:
    * the transition matrix is ≤ |types|² driver metadata (X109
    * device) and the iteration is driver math with qround(6) per
    * round — the oracle unrolls the same 5 rounds as CTEs over the
    * same exact-ratio matrix. Output: one row per state, the
    * p₁..p₅ curve (absorbing row pinned at 1). */
  val markovAbsorption = QueryDef(
    "q_markov_absorption", {
      val rounds = (1 to 5).map { i =>
        val prev = s"p_${i - 1}"
        s"""p_$i AS (
             SELECT t.from_type AS state,
                    CASE WHEN t.from_type = 'purchase' THEN 1.0
                    ELSE ${graft.functions.Num.qroundSql(
                      s"""SUM((CAST(pr.n AS DOUBLE) /
                            CAST(t.n_from AS DOUBLE)) *
                          (CASE WHEN pr.to_type = 'purchase' THEN 1.0
                            ELSE COALESCE(pp.p, 0.0) END))""", 6)}
                    END AS p
             FROM t JOIN pr ON pr.from_type = t.from_type
             LEFT JOIN $prev pp ON pp.state = pr.to_type
             GROUP BY t.from_type, t.n_from)"""
      }.mkString(",\n")
      Some(s"""WITH o AS (
               SELECT event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev
               FROM events),
             pr AS (
               SELECT prev AS from_type, event_type AS to_type,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
             t AS (
               SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
               FROM pr GROUP BY 1),
             p_0 AS (
               SELECT from_type AS state,
                      CASE WHEN from_type = 'purchase' THEN 1.0
                        ELSE 0.0 END AS p
               FROM t),
             $rounds
             SELECT p_1.state, p_1.p AS p1, p_2.p AS p2, p_3.p AS p3,
                    p_4.p AS p4, p_5.p AS p5
             FROM p_1
             JOIN p_2 ON p_2.state = p_1.state
             JOIN p_3 ON p_3.state = p_1.state
             JOIN p_4 ON p_4.state = p_1.state
             JOIN p_5 ON p_5.state = p_1.state
             ORDER BY p_1.state""")
    },
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // bounded |types|^2 transition matrix -> driver metadata (X109)
      val pairs = Tables.events(s, d)
        .select(col("event_type"),
          lag("event_type", 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val nFrom = pairs.groupBy(_._1).view
        .mapValues(_.map(_._3).sum).toMap
      val states = nFrom.keys.toSeq.sorted
      var p = states.map(st =>
        st -> (if (st == "purchase") 1.0 else 0.0)).toMap
      val hist = scala.collection.mutable.ArrayBuffer
        .empty[Map[String, Double]]
      for (_ <- 1 to 5) {
        p = states.map { st =>
          st -> (if (st == "purchase") 1.0
          else Num.qround(pairs.filter(_._1 == st).map { case (_, b, n) =>
            (n.toDouble / nFrom(st).toDouble) *
              (if (b == "purchase") 1.0 else p.getOrElse(b, 0.0))
          }.sum, 6))
        }.toMap
        hist += p
      }
      import s.implicits._
      states.map(st => (st, hist(0)(st), hist(1)(st), hist(2)(st),
          hist(3)(st), hist(4)(st)))
        .toDF("state", "p1", "p2", "p3", "p4", "p5")
        .orderBy("state")
    })

  /** Markov entropy rate (X248 — Shannon 1948's uncertainty-per-step
    * of the X115 chain: H = Σ_a π̂(a)·H(next|a), the single number
    * that says how PREDICTABLE user journeys are — 0 bits = scripted
    * funnels, log₂|types| = white noise; the sequence-level
    * completion of X92's per-document character entropy). Transition
    * probabilities and the empirical from-state distribution are
    * exact integer ratios over the bounded type alphabet; the per-
    * state conditional entropies are ≤|types|-term log2 aggregates →
    * qround(6); the rate re-emitted as an X109 literal. */
  val entropyRate = QueryDef(
    "q_entropy_rate",
    Some(s"""WITH o AS (
             SELECT event_type,
                    LAG(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS prev
             FROM events),
           pc AS (
             SELECT prev AS from_type, event_type AS to_type,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
           t AS (
             SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
             FROM pc GROUP BY 1),
           tt AS (SELECT CAST(SUM(n_from) AS BIGINT) AS nt FROM t),
           h AS (
             SELECT pc.from_type, t.n_from,
                    ${Num.qroundSql(
                      """SUM(-(CAST(pc.n AS DOUBLE) /
                           CAST(t.n_from AS DOUBLE)) *
                          log2(CAST(pc.n AS DOUBLE) /
                           CAST(t.n_from AS DOUBLE)))""", 6)} AS h_cond
             FROM pc JOIN t USING (from_type)
             GROUP BY pc.from_type, t.n_from),
           r AS (
             SELECT ${Num.qroundSql(
               """SUM((CAST(n_from AS DOUBLE) /
                   CAST((SELECT nt FROM tt) AS DOUBLE)) * h_cond)""",
               6)} AS h_rate
             FROM h)
           SELECT h.from_type, h.n_from,
                  CAST(h.n_from AS DOUBLE) /
                    CAST((SELECT nt FROM tt) AS DOUBLE) AS pi,
                  h.h_cond, r.h_rate
           FROM h CROSS JOIN r
           ORDER BY h.from_type"""),
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pc = Tables.events(s, d)
        .select(col("event_type"),
          lag("event_type", 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // totals + the entropy aggregate
      val t = pc.groupBy("from_type").agg(sum("n").as("n_from"))
      val nt = t.agg(sum("n_from")).head().getLong(0)
      val p = col("n").cast("double") / col("n_from").cast("double")
      val h = pc.join(broadcast(t), Seq("from_type"))
        .groupBy("from_type", "n_from")
        .agg(Num.qround(sum(-p * log2(p)), 6).as("h_cond"))
        .localCheckpoint(true) // rate action + final projection
      val rate = h.agg(Num.qround(sum((col("n_from").cast("double") /
        lit(nt.toDouble)) * col("h_cond")), 6)).head().getDouble(0)
      h.select(col("from_type"), col("n_from"),
          (col("n_from").cast("double") / lit(nt.toDouble)).as("pi"),
          col("h_cond"), lit(rate).as("h_rate"))
        .orderBy("from_type")
    })

  /** Kendall's τ-b (X249 — Kendall 1938: the concordant/discordant
    * pair view of rank agreement, completing the trio with X102's
    * Spearman (squared rank gaps) and X186's RBO (top-weighted):
    * τ-b is the one with clean tie handling and a direct
    * probabilistic reading, P(concordant) − P(discordant). Variables:
    * per-domain doc count vs distinct-source count on the shared
    * 50-node carve — a BOUNDED table, so the 1225-pair count is
    * driver metadata by declared contract (X109 device; the oracle
    * does the same pairs as a SQL self-join). ALL lanes exact
    * integers until the final τ (two integer-fed sqrt/divide ops,
    * deterministic). */
  val kendallTau = QueryDef(
    "q_kendall_tau",
    Some("""WITH g AS (
             SELECT doc_id % 50 AS dom,
                    CAST(SUM(n_chars) AS BIGINT) AS x,
                    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS y
             FROM documents GROUP BY 1),
           pr AS (
             SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
             FROM g a JOIN g b ON a.dom < b.dom),
           cnt AS (
             SELECT
               CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN xa = xb AND ya <> yb
                 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
               CAST(SUM(CASE WHEN ya = yb AND xa <> xb
                 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM pr)
           SELECT n_pairs, c AS concordant, d AS discordant,
                  tx AS ties_x, ty AS ties_y,
                  CAST(c - d AS DOUBLE) /
                    NULLIF(sqrt(CAST(c + d + tx AS DOUBLE)) *
                           sqrt(CAST(c + d + ty AS DOUBLE)), 0.0)
                    AS tau_b
           FROM cnt"""),
    (s, d) => {
      // bounded 50-row domain table -> driver pair count (X109)
      val g = Tables.documents(s, d)
        .groupBy((col("doc_id") % 50).as("dom"))
        .agg(sum("n_chars").as("x"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("y"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      var (c, dd, tx, ty, np) = (0L, 0L, 0L, 0L, 0L)
      for (i <- g.indices; j <- g.indices if i < j) {
        val ((xa, ya), (xb, yb)) = (g(i), g(j))
        np += 1
        val s0 = (xa - xb) * (ya - yb)
        if (s0 > 0) c += 1
        else if (s0 < 0) dd += 1
        else {
          if (xa == xb && ya != yb) tx += 1
          if (ya == yb && xa != xb) ty += 1
        }
      }
      val denom = math.sqrt((c + dd + tx).toDouble) *
        math.sqrt((c + dd + ty).toDouble)
      val tau: Any =
        if (denom == 0.0) null else (c - dd).toDouble / denom
      import s.implicits._
      Seq((np, c, dd, tx, ty)).toDF("n_pairs", "concordant",
          "discordant", "ties_x", "ties_y")
        .withColumn("tau_b", lit(tau).cast("double"))
    })

  /** Krippendorff's α (X252 — Krippendorff 1970: the reliability
    * coefficient that generalizes X109's Cohen κ (same two-coder
    * nominal setup here, but α's coincidence-matrix expectation is
    * the one that extends to missing data, many coders, and ordinal
    * metrics — the content-analysis standard the κ row stops short
    * of). Same labeled-vs-detected confusion as κ so the two
    * coefficients are directly comparable on identical data: D_o =
    * disagreeing coincidences / n, D_e = (Σn_c)²−Σn_c² over n(n−1),
    * α = 1 − D_o/D_e — ALL integer-fed exact ratios (hash raw); the
    * alphabet²-bounded matrix is driver metadata (the κ device). */
  val krippendorff = QueryDef(
    "q_krippendorff",
    Some(s"""WITH c AS (${TextQueries.langidEval.oracle.get}),
            t AS (
              SELECT CAST(SUM(n) AS BIGINT) AS units,
                     CAST(SUM(CASE WHEN lang_labeled = lang_detected
                       THEN n ELSE 0 END) AS BIGINT) AS agree
              FROM c),
            marg AS (
              SELECT k, CAST(SUM(cnt) AS BIGINT) AS nc FROM (
                SELECT lang_labeled AS k, n AS cnt FROM c
                UNION ALL
                SELECT lang_detected, n FROM c) z GROUP BY k),
            s AS (
              SELECT CAST(SUM(nc) AS BIGINT) AS s1,
                     CAST(SUM(nc * nc) AS BIGINT) AS s2
              FROM marg)
            SELECT t.units, t.agree,
                   1.0 - CAST(t.agree AS DOUBLE) /
                     CAST(t.units AS DOUBLE) AS d_o,
                   CAST(s.s1 * s.s1 - s.s2 AS DOUBLE) /
                     (CAST(s.s1 AS DOUBLE) *
                      CAST(s.s1 - 1 AS DOUBLE)) AS d_e,
                   1.0 - (1.0 - CAST(t.agree AS DOUBLE) /
                       CAST(t.units AS DOUBLE)) /
                     (CAST(s.s1 * s.s1 - s.s2 AS DOUBLE) /
                      (CAST(s.s1 AS DOUBLE) *
                       CAST(s.s1 - 1 AS DOUBLE))) AS alpha
            FROM t CROSS JOIN s"""),
    (s, d) => {
      // alphabet^2-bounded confusion -> driver metadata (the kappa
      // device), exact long arithmetic, literals under the oracle tree
      val cells = TextQueries.langidEval.fn(s, d)
        .select("lang_labeled", "lang_detected", "n")
        .collect()
      val units = cells.map(_.getLong(2)).sum
      val agree = cells.filter(r => r.getString(0) == r.getString(1))
        .map(_.getLong(2)).sum
      val marg = (cells.map(r => r.getString(0) -> r.getLong(2)) ++
        cells.map(r => r.getString(1) -> r.getLong(2)))
        .groupBy(_._1).map { case (_, xs) => xs.map(_._2).sum }
      val s1 = marg.sum
      val s2 = marg.map(x => x * x).sum
      val dO = 1.0 - agree.toDouble / units.toDouble
      val dE = (s1 * s1 - s2).toDouble /
        (s1.toDouble * (s1 - 1).toDouble)
      import s.implicits._
      Seq((units, agree, dO, dE, 1.0 - dO / dE))
        .toDF("units", "agree", "d_o", "d_e", "alpha")
    })

  /** Wald's SPRT sequential A/B monitor (X265 — the sequential
    * sibling of X124's fixed-horizon z-test: decide H0 p = p0 vs
    * H1 p = p1 the moment the evidence suffices, instead of waiting
    * for a fixed n). Two md5-bucketed arms each monitor their trial
    * stream (conversion = purchase) in arrival order (:= event_id,
    * the recorded contract — unique, so the cumulative lane is
    * deterministic); the log-likelihood ratio after n trials
    * factorizes as LLR_n = conv_n·ln(p1/p0) + (n−conv_n)·ln(q1/q0),
    * so the ONLY distributed state is two INTEGER prefix sums — run
    * through [[graft.ops.PrefixSum.runningTotalsAsc]] per arm (the
    * two-pass form: parallel within arm, no partition-less window,
    * no per-arm sequential scan). LLR lanes are products of
    * driver-computed double literals (Double.toString round-trip,
    * the PoissonCum device) with exact ints — element-wise exact, so
    * crossings and emitted values hash RAW. α = β = 0.05, p0 = 0.10,
    * p1 = 0.15. */
  val sprt = QueryDef(
    "q_sprt", {
      val la = math.log(0.15 / 0.10)
      val lb = math.log(0.85 / 0.90)
      val up = math.log(0.95 / 0.05)
      val lo = math.log(0.05 / 0.95)
      def d(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"
      Some(s"""WITH t AS (
              SELECT event_id,
                     CAST(CAST('0x' || substring(md5('sprt:'
                         || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 2 AS INT) AS arm,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS conv
              FROM events),
            c AS (
              SELECT arm, event_id,
                     CAST(SUM(conv) OVER w AS BIGINT) AS cum_conv,
                     CAST(COUNT(*) OVER w AS BIGINT) AS n
              FROM t
              WINDOW w AS (PARTITION BY arm ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING)),
            l AS (
              SELECT arm, n, cum_conv,
                     CAST(cum_conv AS DOUBLE) * ${d(la)}
                       + CAST(n - cum_conv AS DOUBLE) * ${d(lb)} AS llr
              FROM c),
            agg AS (
              SELECT arm,
                     MAX(n) AS n_trials,
                     MAX(cum_conv) AS n_conv,
                     MIN(CASE WHEN llr >= ${d(up)} THEN n END)
                       AS first_up,
                     MIN(CASE WHEN llr <= ${d(lo)} THEN n END)
                       AS first_lo
              FROM l GROUP BY arm)
            SELECT arm, n_trials, n_conv,
                   CAST(n_conv AS DOUBLE) * ${d(la)}
                     + CAST(n_trials - n_conv AS DOUBLE) * ${d(lb)}
                     AS llr_final,
                   first_up, first_lo,
                   CASE WHEN first_up IS NOT NULL
                          AND (first_lo IS NULL OR first_up < first_lo)
                        THEN 'accept_h1'
                        WHEN first_lo IS NOT NULL THEN 'accept_h0'
                        ELSE 'continue' END AS decision
            FROM agg ORDER BY arm""")
    },
    (s, d0) => {
      val la = math.log(0.15 / 0.10)
      val lb = math.log(0.85 / 0.90)
      val up = math.log(0.95 / 0.05)
      val lo = math.log(0.05 / 0.95)
      val t = Tables.events(s, d0).select(col("event_id"),
        (graft.ops.Sampling.hashBucket(col("user_id"), "sprt:")
          % 2).cast("int").as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("conv"))
        .withColumn("one", lit(1L))
        .localCheckpoint(true) // both arm lanes share the scan
      val lanes = Seq(0, 1).map { a =>
        graft.ops.PrefixSum.runningTotalsAsc(
          t.filter(col("arm") === a), Seq("conv", "one"), "event_id",
          Seq("cum_conv", "n"))
      }
      val l = lanes.reduce(_.unionAll(_))
        .select(col("arm"), col("n"), col("cum_conv"),
          (col("cum_conv").cast("double") * lit(la) +
            (col("n") - col("cum_conv")).cast("double") * lit(lb))
            .as("llr"))
      l.groupBy("arm")
        .agg(max("n").as("n_trials"), max("cum_conv").as("n_conv"),
          min(when(col("llr") >= up, col("n"))).as("first_up"),
          min(when(col("llr") <= lo, col("n"))).as("first_lo"))
        .select(col("arm"), col("n_trials"), col("n_conv"),
          (col("n_conv").cast("double") * lit(la) +
            (col("n_trials") - col("n_conv")).cast("double") * lit(lb))
            .as("llr_final"),
          col("first_up"), col("first_lo"),
          when(col("first_up").isNotNull &&
              (col("first_lo").isNull ||
                col("first_up") < col("first_lo")), "accept_h1")
            .when(col("first_lo").isNotNull, "accept_h0")
            .otherwise("continue").as("decision"))
        .orderBy("arm")
    })

  /** Sample-ratio-mismatch guardrail (X273 — the FIRST check any
    * experiment readout runs (Fabijan et al. 2019): if the 50/50
    * assignment didn't land 50/50 over UNITS, every downstream metric
    * (X124's z, X265's SPRT, X195's CUPED) is suspect. Units =
    * distinct users (never events — exposure counts would double-count
    * heavy users); arms = the same md5 bucket as X265 so the two rows
    * audit the same experiment. χ² against the 1:1 split is
    * element-wise off exact integer counts and the exact n/2
    * expectation (hash raw); the flag uses the 1-df 95% critical
    * value 3.841. One distinct-aggregate + a 2-row reduce. */
  val abSrm = QueryDef(
    "q_ab_srm",
    Some("""WITH u AS (
              SELECT DISTINCT user_id,
                     CAST(CAST('0x' || substring(md5('sprt:'
                         || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 2 AS INT) AS arm
              FROM events),
            c AS (
              SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n0,
                     CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n1
              FROM u)
            SELECT n0 + n1 AS n_users, n0 AS n_arm0, n1 AS n_arm1,
                   (CAST(n0 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     * (CAST(n0 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     / (CAST(n0 + n1 AS DOUBLE) / 2.0)
                   + (CAST(n1 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     * (CAST(n1 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     / (CAST(n0 + n1 AS DOUBLE) / 2.0) AS chisq,
                   (CAST(n0 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     * (CAST(n0 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     / (CAST(n0 + n1 AS DOUBLE) / 2.0)
                   + (CAST(n1 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     * (CAST(n1 AS DOUBLE)
                      - CAST(n0 + n1 AS DOUBLE) / 2.0)
                     / (CAST(n0 + n1 AS DOUBLE) / 2.0) > 3.841
                     AS srm_flag
            FROM c"""),
    (s, d) => {
      val u = Tables.events(s, d)
        .select(col("user_id"),
          (graft.ops.Sampling.hashBucket(col("user_id"), "sprt:") % 2)
            .cast("int").as("arm"))
        .distinct()
      val c = u.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      val e = (col("n0") + col("n1")).cast("double") / 2.0
      val chisq =
        (col("n0").cast("double") - e) * (col("n0").cast("double") - e) / e +
        (col("n1").cast("double") - e) * (col("n1").cast("double") - e) / e
      c.select((col("n0") + col("n1")).as("n_users"),
        col("n0").as("n_arm0"), col("n1").as("n_arm1"),
        chisq.as("chisq"), (chisq > 3.841).as("srm_flag"))
    })

  /** Shuffle-skew planner readout (X285 — the question every
    * `spark.sql.shuffle.partitions` choice answers blind: given THIS
    * key distribution, how unbalanced is the worst hash partition at
    * H partitions? The planning complement to X17/X22's salting fix:
    * this row tells you whether you need it). For the o_custkey join
    * key: per-key frequencies → portable md5 partition assignment at
    * H ∈ {32, 256} → per-partition loads → max-load share and the
    * skew ratio (max_share·H; 1.0 = perfectly balanced, the number a
    * task-time histogram would show). One keyed aggregate + one
    * H-bounded aggregate per config; all lanes exact integers /
    * exact-int-fed rationals (hash raw). */
  val skewPlanner = QueryDef(
    "q_skew_planner", {
      def lane(h: Int) = s"""
            SELECT $h AS n_partitions,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM freq) AS n_keys,
                   (SELECT CAST(SUM(f) AS BIGINT) FROM freq) AS n_rows,
                   CAST(MAX(load) AS BIGINT) AS max_partition_rows,
                   CAST(MAX(load) AS DOUBLE) /
                     CAST((SELECT SUM(f) FROM freq) AS DOUBLE)
                     AS max_share,
                   CAST(MAX(load) AS DOUBLE) * $h /
                     CAST((SELECT SUM(f) FROM freq) AS DOUBLE)
                     AS skew_ratio
            FROM (
              SELECT CAST('0x' || substring(md5('part:'
                       || CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % $h
                       AS p,
                     CAST(SUM(f) AS BIGINT) AS load
              FROM freq GROUP BY 1) pl"""
      Some(s"""WITH freq AS MATERIALIZED (
              SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f
              FROM orders GROUP BY 1)
            ${lane(32)}
            UNION ALL ${lane(256)}
            ORDER BY n_partitions""")
    },
    (s, d) => {
      val freq = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("f"))
        .localCheckpoint(true) // both H lanes + totals share
      val totals = freq.agg(count(lit(1)).as("nk"),
        sum("f").as("nr")).head()
      val (nKeys, nRows) = (totals.getLong(0), totals.getLong(1))
      def lane(h: Int) = freq
        .withColumn("p", pmod(conv(substring(md5(concat(lit("part:"),
          col("k").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(h.toLong)))
        .groupBy("p").agg(sum("f").as("load"))
        .agg(max("load").as("maxl"))
        .select(lit(h).as("n_partitions"), lit(nKeys).as("n_keys"),
          lit(nRows).as("n_rows"),
          col("maxl").as("max_partition_rows"),
          (col("maxl").cast("double") / lit(nRows.toDouble))
            .as("max_share"),
          (col("maxl").cast("double") * h / lit(nRows.toDouble))
            .as("skew_ratio"))
      lane(32).unionAll(lane(256)).orderBy("n_partitions")
    })

  /** Hash-uniformity QA of the repo's md5 randomness substitute (X286
    * — every deterministic sampler/splitter/noise draw here (X12,
    * X47, X100, X104, X265's arms…) leans on "md5 buckets are
    * uniform"; THIS row tests that premise instead of assuming it:
    * Pearson χ² of the 64-bucket histogram of the X12-salted doc
    * hash against uniform, plus the 95%/99% verdicts at df = 63
    * (critical values 82.53 / 92.01). Counts are exact integers; e =
    * n/64 is exact; χ² is the one aggregated lane (qround(6)).
    * ONE keyed aggregate over a bounded 64-row histogram. */
  val hashUniformity = QueryDef(
    "q_hash_uniformity",
    Some(s"""WITH b AS (
              SELECT CAST('0x' || substring(md5('sample:'
                       || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 64 AS bucket
              FROM documents),
            h AS (
              SELECT bucket, CAST(COUNT(*) AS BIGINT) AS o
              FROM b GROUP BY bucket),
            nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM h),
            x AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
                     MAX(nn.n) AS n_docs,
                     ${Num.qroundSql(
                       """SUM((CAST(o AS DOUBLE) -
                             CAST(nn.n AS DOUBLE) / 64.0)
                           * (CAST(o AS DOUBLE) -
                             CAST(nn.n AS DOUBLE) / 64.0)
                           / (CAST(nn.n AS DOUBLE) / 64.0))""", 6)}
                       AS chisq
              FROM h CROSS JOIN nn)
            SELECT n_buckets, n_docs, chisq,
                   chisq <= 82.53 AS uniform_at_95,
                   chisq <= 92.01 AS uniform_at_99
            FROM x"""),
    (s, d) => {
      val h = Tables.documents(s, d)
        .select(pmod(conv(substring(md5(concat(lit("sample:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(64L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("o"))
        .localCheckpoint(true) // total + chisq lanes share
      val n = h.agg(sum("o")).head().getLong(0)
      val e = lit(n.toDouble) / 64.0
      h.agg(count(lit(1)).as("n_buckets"),
          Num.qround(sum((col("o").cast("double") - e) *
            (col("o").cast("double") - e) / e), 6).as("chisq"))
        .select(col("n_buckets"), lit(n).as("n_docs"), col("chisq"),
          (col("chisq") <= 82.53).as("uniform_at_95"),
          (col("chisq") <= 92.01).as("uniform_at_99"))
        .select("n_buckets", "n_docs", "chisq", "uniform_at_95",
          "uniform_at_99")
    })

  /** The candidate inclusion dependencies both sides test:
    * (label, child column, child table, parent column, parent table). */
  private val fkCands = Seq(
    ("orders.o_custkey->customer.c_custkey",
      "o_custkey", "orders", "c_custkey", "customer"),
    ("lineitem.l_orderkey->orders.o_orderkey",
      "l_orderkey", "lineitem", "o_orderkey", "orders"),
    ("lineitem.l_partkey->part.p_partkey",
      "l_partkey", "lineitem", "p_partkey", "part"),
    ("lineitem.l_suppkey->supplier.s_suppkey",
      "l_suppkey", "lineitem", "s_suppkey", "supplier"),
    ("customer.c_nationkey->nation.n_nationkey",
      "c_nationkey", "customer", "n_nationkey", "nation"),
    ("orders.o_orderkey->customer.c_custkey",
      "o_orderkey", "orders", "c_custkey", "customer"),
    ("lineitem.l_linenumber->nation.n_nationkey",
      "l_linenumber", "lineitem", "n_nationkey", "nation"))

  /** Inclusion-dependency discovery (X278 — the SINDY/Spider-style
    * profiling pass behind schema inference: WHICH column pairs could
    * be foreign keys? The discovery sibling of X120's riAudit, which
    * checks keys you already know). A fixed candidate lattice of 7
    * child→parent pairs — the four real FKs, the nation dimension
    * key, and two decoys (a reversed pair and a small-int
    * coincidence, so the operator demonstrably DISCRIMINATES) — each
    * measured as containment = |distinct(child) ∩ parent| /
    * |distinct(child)|. Per candidate: one distinct-project + one
    * keyed anti-join count (bounded driver metadata, the X109
    * device); containment is an exact-integer-fed rational (hash
    * raw). */
  val fkDiscovery = QueryDef(
    "q_fk_discovery", {
      val lanes = fkCands.map { case (label, cc, ct, pc, pt) =>
        s"""SELECT '$label' AS candidate,
                  (SELECT CAST(COUNT(DISTINCT $cc) AS BIGINT) FROM $ct)
                    AS n_distinct_child,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM
                     (SELECT DISTINCT $cc AS v FROM $ct) c
                   WHERE c.v IN (SELECT $pc FROM $pt)) AS n_contained"""
      }.mkString("\n           UNION ALL ")
      Some(s"""SELECT candidate, n_distinct_child, n_contained,
                   CAST(n_contained AS DOUBLE) /
                     CAST(n_distinct_child AS DOUBLE) AS containment,
                   n_contained = n_distinct_child AS is_inclusion
            FROM ($lanes) u
            ORDER BY candidate""")
    },
    (s, d) => {
      def t(name: String) = name match {
        case "orders" => Tables.orders(s, d)
        case "lineitem" => Tables.lineitem(s, d)
        case "customer" => Tables.customer(s, d)
        case "supplier" => Tables.supplier(s, d)
        case "nation" => Tables.nation(s, d)
        case "part" => Tables.part(s, d)
      }
      val rows = fkCands.map { case (label, cc, ct, pc, pt) =>
        val child = t(ct).select(col(cc).cast("long").as("v")).distinct()
          .localCheckpoint(true) // distinct-count + anti-join share
        val parent = t(pt).select(col(pc).cast("long").as("p"))
        val nDistinct = child.count()
        val nMissing = child
          .join(parent, col("v") === col("p"), "left_anti").count()
        (label, nDistinct, nDistinct - nMissing)
      }
      import s.implicits._
      rows.toDF("candidate", "n_distinct_child", "n_contained")
        .select(col("candidate"), col("n_distinct_child"),
          col("n_contained"),
          (col("n_contained").cast("double") /
            col("n_distinct_child").cast("double")).as("containment"),
          (col("n_contained") === col("n_distinct_child"))
            .as("is_inclusion"))
        .orderBy("candidate")
    })

  val all: Seq[QueryDef] = Seq(madOutliers, trimmedMean, benford,
    sprt, abSrm, seasonalDecompose, acf, fkDiscovery, skewPlanner, hashUniformity,
    annotatorKappa, ewmaChart, engagementGini, heapsLaw,
    ksTest, psiDrift, markovTransitions, streamTransitions, burstiness,
    oooDepth, topPaths, silhouette,
    riAudit, islands, funnelLatency, recencyScore,
    abTest, followedBy, corrMatrix, paretoCoverage,
    windowRanks, cdcCompact, kmvUnion, htmlExtract, vocabCoverage,
    intervalUnion, setjoinPrefix, welchTtest, itemCosine,
    lshDedupEval, kaplanMeier, mutualInfo, streamKmv, streamQuantile,
    backtest, seasonalDow,
    quantileNormalize, balancedSample, boxplot, mannWhitney, streamEwma,
    logRank, bhFdr, cuped, permTest, did, nelsonAalen, propensityStrat,
    markovAbsorption, entropyRate, kendallTau, krippendorff)
}
