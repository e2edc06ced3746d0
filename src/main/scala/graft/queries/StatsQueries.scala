package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 statistical monitors (SURVEY §2l X169–X174): the drift /
  * trend / diversity readouts a corpus-curation dashboard sits on,
  * each the standard named method composed from the house devices
  * (bounded driver actions for scalars, PrefixSum for cumulatives,
  * exact-integer lanes wherever the method allows).
  *
  * Reference scope note: the reference pipeline (SURVEY §2) has no
  * statistics beyond COUNT/MAX; everything here is extension surface
  * in the X-row series, same contract — every query oracle-checked
  * against DuckDB.
  */
object StatsQueries {

  // ------------------------------------------------- JS divergence

  /** Jensen–Shannon divergence drift (X169 — Lin 1991: the SYMMETRIC,
    * always-finite sibling of the X58 KL monitor; JS needs no
    * smoothing because the mixture M = (P+Q)/2 is nonzero wherever
    * either side is, so a class empty in one period contributes a
    * finite term instead of KL's ∞ — the reason drift dashboards
    * prefer it for sparse alphabets). Periods = first/second half of
    * the event-time range (the X114 midpoint device, one bounded
    * min/max action); distributions over the bounded event-type
    * alphabet. p, q, m are exact integer ratios (element-wise);
    * each class's contribution carries one log2 lane → qround(6)
    * (the X58 discipline); the total is a bounded-alphabet aggregate
    * re-emitted as a literal (X109 device — no partition-less window,
    * no 1-row cross join). 0 ≤ JS ≤ 1 in log2 units. */
  val jsDivergence = QueryDef(
    "q_js_divergence", {
      val mid = "(b.mn + (b.mx - b.mn) // 2)"
      val p = "CAST(j.c_old AS DOUBLE) / CAST(t.n_old AS DOUBLE)"
      val q = "CAST(j.c_new AS DOUBLE) / CAST(t.n_new AS DOUBLE)"
      val m = s"(($p) + ($q)) / 2.0"
      val contrib =
        s"""0.5 * (CASE WHEN j.c_old > 0
                   THEN ($p) * log2(($p) / ($m)) ELSE 0.0 END) +
            0.5 * (CASE WHEN j.c_new > 0
                   THEN ($q) * log2(($q) / ($m)) ELSE 0.0 END)"""
      Some(s"""WITH b AS (
                SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
                FROM events),
              e2 AS (
                SELECT event_type, epoch_us(ts) AS us FROM events),
              j AS (
                SELECT event_type,
                       CAST(SUM(CASE WHEN us < $mid THEN 1 ELSE 0 END)
                         AS BIGINT) AS c_old,
                       CAST(SUM(CASE WHEN us >= $mid THEN 1 ELSE 0 END)
                         AS BIGINT) AS c_new
                FROM e2 CROSS JOIN b GROUP BY 1),
              t AS (
                SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
                       CAST(SUM(c_new) AS BIGINT) AS n_new
                FROM j),
              terms AS (
                SELECT j.event_type, j.c_old, j.c_new,
                       $p AS p_old, $q AS p_new,
                       ${Num.qroundSql(contrib, 6)} AS js_contrib
                FROM j CROSS JOIN t),
              tot AS (
                SELECT ${Num.qroundSql("SUM(js_contrib)", 6)} AS js_total
                FROM terms)
              SELECT terms.*, tot.js_total
              FROM terms CROSS JOIN tot
              ORDER BY event_type""")
    },
    (s, d) => {
      val e2 = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val bRow = e2.agg(min("us"), max("us")).head()
      val mid = bRow.getLong(0) + (bRow.getLong(1) - bRow.getLong(0)) / 2
      // one keyed aggregate over the bounded type alphabet, consumed
      // twice (totals action + final projection) → checkpoint once
      val j = e2.groupBy("event_type")
        .agg(sum(when(col("us") < mid, 1L).otherwise(0L)).as("c_old"),
          sum(when(col("us") >= mid, 1L).otherwise(0L)).as("c_new"))
        .localCheckpoint()
      val tot = j.agg(sum("c_old"), sum("c_new")).head()
      val (nOld, nNew) = (tot.getLong(0), tot.getLong(1))
      val p = col("c_old").cast("double") / lit(nOld).cast("double")
      val q = col("c_new").cast("double") / lit(nNew).cast("double")
      val m = (p + q) / 2.0
      val contrib =
        lit(0.5) * when(col("c_old") > 0, p * log2(p / m)).otherwise(0.0) +
        lit(0.5) * when(col("c_new") > 0, q * log2(q / m)).otherwise(0.0)
      val terms = j.select(col("event_type"), col("c_old"), col("c_new"),
          p.as("p_old"), q.as("p_new"),
          Num.qround(contrib, 6).as("js_contrib"))
        .localCheckpoint()
      // total = bounded-alphabet aggregate → driver literal (X109)
      val jsRow = terms.agg(Num.qround(sum("js_contrib"), 6)).head()
      terms.withColumn("js_total", lit(jsRow.getDouble(0)))
        .orderBy("event_type")
    })

  // --------------------------------------------------- Cramér's V

  /** Cramér's V association (X170 — Cramér 1946: the [0,1]-normalized
    * χ² between two categoricals, the "are these columns related at
    * all" screen run before any per-class drilldown; the global
    * sibling of X140's mutual information, in χ² units instead of
    * nats — here: document language × source). The contingency table
    * is one keyed aggregate over the bounded lang×source alphabet;
    * marginals are broadcast joins of grouped frames; expected counts
    * and per-cell χ² terms are exact-integer-fed element-wise
    * arithmetic (hash raw); the χ² total and the R/C alphabet sizes
    * are bounded driver actions, V = sqrt(χ²/(N·(min(R,C)−1)))
    * re-emitted as a literal, NULL when min(R,C) = 1 (degenerate
    * single-category axis — the q_ab_test NULLIF discipline). */
  val cramersV = QueryDef(
    "q_cramers_v", {
      val e = "CAST(rl.rt AS DOUBLE) * CAST(cl.ct AS DOUBLE) / " +
        "CAST(t.n AS DOUBLE)"
      Some(s"""WITH c AS (
                SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY 1, 2),
              rl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS rt
                     FROM c GROUP BY 1),
              cl AS (SELECT source, CAST(SUM(n) AS BIGINT) AS ct
                     FROM c GROUP BY 1),
              t AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                           CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
                           CAST(COUNT(DISTINCT source) AS BIGINT) AS cc
                    FROM c),
              cells AS (
                SELECT c.lang, c.source, c.n, $e AS expected,
                       (CAST(c.n AS DOUBLE) - ($e)) *
                       (CAST(c.n AS DOUBLE) - ($e)) / ($e) AS cell_chi2
                FROM c JOIN rl USING (lang) JOIN cl USING (source)
                  CROSS JOIN t),
              tot AS (
                SELECT ${Num.qroundSql("SUM(cell_chi2)", 6)} AS chi2
                FROM cells)
              SELECT cells.lang, cells.source, cells.n, cells.expected,
                     cells.cell_chi2, tot.chi2,
                     SQRT(tot.chi2 / (CAST(t.n AS DOUBLE) *
                       NULLIF(CAST(LEAST(t.r, t.cc) AS DOUBLE) - 1.0, 0.0)))
                       AS cramers_v
              FROM cells CROSS JOIN tot CROSS JOIN t
              ORDER BY lang, source""")
    },
    (s, d) => {
      val c = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .localCheckpoint() // alphabet²-bounded; consumed 4×
      val tRow = c.agg(sum("n"), countDistinct("lang"),
        countDistinct("source")).head()
      val (n, r, cc) = (tRow.getLong(0), tRow.getLong(1), tRow.getLong(2))
      val rl = c.groupBy("lang").agg(sum("n").as("rt"))
      val cl = c.groupBy("source").agg(sum("n").as("ct"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        lit(n).cast("double")
      val cells = c.join(broadcast(rl), "lang")
        .join(broadcast(cl), "source")
        .select(col("lang"), col("source"), col("n"), e.as("expected"),
          ((col("n").cast("double") - e) * (col("n").cast("double") - e) / e)
            .as("cell_chi2"))
        .localCheckpoint()
      val chi2 = cells.agg(Num.qround(sum("cell_chi2"), 6)).head()
        .getDouble(0)
      val minDim = math.min(r, cc).toDouble - 1.0
      val v: Any =
        if (minDim == 0.0) null
        else math.sqrt(chi2 / (n.toDouble * minDim))
      cells.withColumn("chi2", lit(chi2))
        .withColumn("cramers_v", lit(v).cast("double"))
        .orderBy("lang", "source")
    })

  // --------------------------------------------------- OLS trend

  /** Per-group OLS trend fit (X171 — the least-squares "is this
    * series growing?" line every metrics dashboard draws: daily event
    * counts regressed on the day index, slope/intercept/R² from the
    * five sufficient statistics in ONE keyed aggregate — no window,
    * no per-point second pass, the classic distributed-regression
    * shape). x = days since the corpus's first day (one bounded
    * min action); all five sums are exact longs (n ≤ days, y daily
    * counts — the long lanes hold to ~3·10⁹ events/day), so slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) and R² are exact-integer-fed
    * element-wise IEEE — rows hash RAW. Degenerate groups (single
    * day, or constant y) degrade slope/R² to NULL via NULLIF on both
    * engines. */
  val olsTrend = QueryDef(
    "q_ols_trend", {
      val sl = "(CAST(n_days * sxy - sx * sy AS DOUBLE)) / " +
        "NULLIF(CAST(n_days * sxx - sx * sx AS DOUBLE), 0.0)"
      Some(s"""WITH d0 AS (
                SELECT MIN(CAST(ts AS DATE)) AS first_day FROM events),
              daily AS (
                SELECT event_type,
                       CAST(CAST(ts AS DATE) - d0.first_day AS BIGINT)
                         AS x,
                       CAST(COUNT(*) AS BIGINT) AS y
                FROM events CROSS JOIN d0
                GROUP BY 1, 2),
              s AS (
                SELECT event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_days,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM daily GROUP BY 1)
              SELECT event_type, n_days, sx, sy,
                     $sl AS slope,
                     (CAST(sy AS DOUBLE) - ($sl) * CAST(sx AS DOUBLE)) /
                       CAST(n_days AS DOUBLE) AS intercept,
                     (CAST(n_days * sxy - sx * sy AS DOUBLE) *
                      CAST(n_days * sxy - sx * sy AS DOUBLE)) /
                       NULLIF(CAST(n_days * sxx - sx * sx AS DOUBLE) *
                              CAST(n_days * syy - sy * sy AS DOUBLE), 0.0)
                       AS r2
              FROM s ORDER BY event_type""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val d0 = ev.agg(min(col("ts").cast("date"))).head().getDate(0)
      val daily = ev
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit(d0)).cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
      val sfr = daily.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      def dd(c: Column) = c.cast("double")
      val varX = dd(col("n_days") * col("sxx") - col("sx") * col("sx"))
      val varY = dd(col("n_days") * col("syy") - col("sy") * col("sy"))
      val cov = dd(col("n_days") * col("sxy") - col("sx") * col("sy"))
      val slope = cov / when(varX === 0.0, lit(null)).otherwise(varX)
      sfr.select(col("event_type"), col("n_days"), col("sx"), col("sy"),
          slope.as("slope"),
          ((dd(col("sy")) - slope * dd(col("sx"))) / dd(col("n_days")))
            .as("intercept"),
          (cov * cov / when(varX * varY === 0.0, lit(null))
            .otherwise(varX * varY)).as("r2"))
        .orderBy("event_type")
    })

  // --------------------------------------------- lexical diversity

  /** Lexical diversity profile (X172 — type-token ratio, hapax share,
    * and Yule's K per source: the vocabulary-richness screens corpus
    * linguists run before mixing sources — a boilerplate-heavy crawl
    * shows low TTR / low hapax / high K (repetitive), while K is the
    * size-robust member of the trio (Yule 1944: K = 10⁴·(Σm²·Vₘ −
    * N)/N² over the frequency-of-frequencies table, insensitive to N
    * where raw TTR is not). Scale shape: one (source, token) keyed
    * aggregate, then one per-source aggregate — the frequency table
    * never leaves the executors, no windows. All counts are exact
    * longs; the three ratios are exact-integer-fed element-wise
    * divides (hash raw); a source with an empty vocabulary degrades
    * to NULL via NULLIF. */
  val lexicalDiversity = QueryDef(
    "q_lexical_diversity",
    Some("""WITH tf AS (
              SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS m
              FROM (SELECT source,
                           unnest(list_filter(
                             string_split_regex(text, '\s+'),
                             t -> len(t) > 0)) AS tok
                    FROM documents)
              GROUP BY 1, 2),
            s AS (
              SELECT source,
                     CAST(SUM(m) AS BIGINT) AS n_tokens,
                     CAST(COUNT(*) AS BIGINT) AS n_types,
                     CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_hapax,
                     CAST(SUM(m * m) AS BIGINT) AS sum_m2
              FROM tf GROUP BY 1)
            SELECT source, n_tokens, n_types, n_hapax,
                   CAST(n_types AS DOUBLE) /
                     NULLIF(CAST(n_tokens AS DOUBLE), 0.0) AS ttr,
                   CAST(n_hapax AS DOUBLE) /
                     NULLIF(CAST(n_types AS DOUBLE), 0.0) AS hapax_ratio,
                   10000.0 * CAST(sum_m2 - n_tokens AS DOUBLE) /
                     NULLIF(CAST(n_tokens AS DOUBLE) *
                            CAST(n_tokens AS DOUBLE), 0.0) AS yule_k
            FROM s ORDER BY source"""),
    (s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.Text.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("m"))
      val agg = tf.groupBy("source").agg(
        sum("m").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("m") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("m") * col("m")).as("sum_m2"))
      def nz(c: Column) = when(c === 0.0, lit(null)).otherwise(c)
      val nT = col("n_tokens").cast("double")
      agg.select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          (col("n_types").cast("double") / nz(nT)).as("ttr"),
          (col("n_hapax").cast("double") /
            nz(col("n_types").cast("double"))).as("hapax_ratio"),
          (lit(10000.0) * (col("sum_m2") - col("n_tokens")).cast("double") /
            nz(nT * nT)).as("yule_k"))
        .orderBy("source")
    })

  // ------------------------------------------------ CUSUM changepoint

  /** CUSUM changepoint detection (X173 — Page 1954's cumulative-sum
    * chart in its retrospective argmax form: D_t = T·cumsum(x)_t −
    * t·Σx peaks where the daily event-count series changes level —
    * the "when did the pipeline break" locator the X110 EWMA chart's
    * per-point alarms don't give). Integer-exact throughout: the
    * mean-centered cumsum is scaled by T·(days count) so D_t stays a
    * LONG (no float drift, rows hash raw); both cumulative lanes
    * (counts and the day rank t) run in ONE
    * [[graft.ops.PrefixSum.runningTotalsAsc]] two-pass sweep — no
    * partition-less window. The changepoint flag marks every row
    * attaining max |D| (ties flagged alike, deterministically). */
  val cusumChange = QueryDef(
    "q_cusum_change",
    Some("""WITH d0 AS (
              SELECT MIN(CAST(ts AS DATE)) AS first_day FROM events),
            daily AS (
              SELECT CAST(CAST(ts AS DATE) - d0.first_day AS BIGINT)
                       AS xday,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events CROSS JOIN d0 GROUP BY 1),
            c AS (
              SELECT xday, x,
                     CAST(SUM(x) OVER (ORDER BY xday) AS BIGINT) AS cum,
                     CAST(ROW_NUMBER() OVER (ORDER BY xday) AS BIGINT)
                       AS t
              FROM daily),
            tt AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                     CAST(SUM(x) AS BIGINT) AS total
              FROM daily),
            dstat AS (
              SELECT c.xday, c.x, c.cum, c.t,
                     tt.n_days * c.cum - c.t * tt.total AS d_stat
              FROM c CROSS JOIN tt),
            mx AS (SELECT MAX(ABS(d_stat)) AS m FROM dstat)
            SELECT dstat.xday, dstat.x, dstat.cum, dstat.t, dstat.d_stat,
                   ABS(dstat.d_stat) = mx.m AS is_changepoint
            FROM dstat CROSS JOIN mx
            ORDER BY xday"""),
    (s, d) => {
      val ev = Tables.events(s, d)
      val d0 = ev.agg(min(col("ts").cast("date"))).head().getDate(0)
      val daily = ev
        .groupBy(datediff(col("ts").cast("date"), lit(d0)).cast("long")
          .as("xday"))
        .agg(count(lit(1)).as("x"))
        .withColumn("one", lit(1L))
      // both cumulative lanes in one two-pass sweep (X113 device)
      val c = graft.ops.PrefixSum
        .runningTotalsAsc(daily, Seq("x", "one"), "xday", Seq("cum", "t"))
        .drop("one")
        .localCheckpoint() // consumed by totals action + max action
      val tot = c.agg(count(lit(1)), sum("x")).head()
      val (nDays, total) = (tot.getLong(0), tot.getLong(1))
      val dstat = c.select(col("xday"), col("x"), col("cum"), col("t"),
          (lit(nDays) * col("cum") - col("t") * lit(total)).as("d_stat"))
        .localCheckpoint()
      val maxAbs = dstat.agg(max(abs(col("d_stat")))).head().getLong(0)
      dstat.withColumn("is_changepoint", abs(col("d_stat")) === maxAbs)
        .orderBy("xday")
    })

  // --------------------------------------------- forecast-error eval

  /** Daily event counts per type for the day-of-week forecasters:
    * (event_type, xday = days since the first event day, dow = ISO
    * weekday, x = count), as the `d0` and `daily` CTEs. */
  private val dowDailySql =
    """WITH d0 AS (
                SELECT MIN(CAST(ts AS DATE)) AS first_day FROM events),
              daily AS (
                SELECT event_type,
                       CAST(CAST(ts AS DATE) - d0.first_day AS BIGINT)
                         AS xday,
                       CAST(isodow(ts) AS INT) AS dow,
                       CAST(COUNT(*) AS BIGINT) AS x
                FROM events CROSS JOIN d0 GROUP BY 1, 2, 3)"""

  /** The Spark side of [[dowDailySql]], checkpointed, after one
    * bounded action (the first day). */
  private def dowDaily(s: SparkSession, d: String): DataFrame = {
    val ev0 = Tables.events(s, d)
    val d0 = ev0.agg(min(col("ts").cast("date"))).head().getDate(0)
    val dowIso = (pmod(dayofweek(col("ts")) + lit(5), lit(7)) + 1)
      .cast("int")
    ev0.groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit(d0)).cast("long").as("xday"),
        dowIso.as("dow"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint()
  }

  /** Seasonal-baseline forecast evaluation (X174 — sMAPE + MASE,
    * Hyndman & Koehler 2006: before any forecaster ships, its error
    * must beat the seasonal-naive yardstick — MASE < 1 — and sMAPE
    * gives the scale-free percentage twin. Here the X142 day-of-week
    * baseline, FIT ON THE FIRST THREE WEEKS ONLY, forecasts the
    * remaining days per event type; MASE's denominator is the
    * in-train mean |x_t − x_{t−7}|, the lag-7 pairs found by an
    * equi-join on (type, day−7) — no window, no cross join).
    * Aggregated error means carry qround(6) on both engines; a type
    * with no eval days or no lag-7 train pairs degrades to NULL via
    * NULLIF. */
  val maseEval = QueryDef(
    "q_mase_eval", {
      val smapeTerm = "CASE WHEN CAST(e.x AS DOUBLE) + f.fc = 0.0 " +
        "THEN 0.0 ELSE 2.0 * ABS(CAST(e.x AS DOUBLE) - f.fc) / " +
        "(CAST(e.x AS DOUBLE) + f.fc) END"
      Some(s"""$dowDailySql,
              f AS (
                SELECT event_type, dow,
                       ${Num.qroundSql("AVG(CAST(x AS DOUBLE))", 6)} AS fc
                FROM daily WHERE xday < 21 GROUP BY 1, 2),
              ev AS (SELECT * FROM daily WHERE xday >= 21),
              sm AS (
                SELECT e.event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_eval,
                       ${Num.qroundSql(s"AVG($smapeTerm)", 6)} AS smape,
                       ${Num.qroundSql(
                         "AVG(ABS(CAST(e.x AS DOUBLE) - f.fc))", 6)}
                         AS mae_eval
                FROM ev e JOIN f
                  ON e.event_type = f.event_type AND e.dow = f.dow
                GROUP BY 1),
              den AS (
                SELECT a.event_type,
                       ${Num.qroundSql(
                         "AVG(ABS(CAST(a.x AS DOUBLE) - " +
                           "CAST(b.x AS DOUBLE)))", 6)} AS naive_mae
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type
                 AND b.xday = a.xday - 7
                WHERE a.xday < 21
                GROUP BY 1)
              SELECT sm.event_type, sm.n_eval, sm.smape, sm.mae_eval,
                     den.naive_mae,
                     sm.mae_eval / NULLIF(den.naive_mae, 0.0) AS mase
              FROM sm JOIN den USING (event_type)
              ORDER BY event_type""")
    },
    (s, d) => {
      val daily = dowDaily(s, d) // consumed 3× (fit, eval, lag-7 pairs)
      val f = daily.filter(col("xday") < 21)
        .groupBy("event_type", "dow")
        .agg(Num.qround(avg(col("x").cast("double")), 6).as("fc"))
      val evd = daily.filter(col("xday") >= 21)
      val xD = col("x").cast("double")
      val smapeTerm = when(xD + col("fc") === 0.0, 0.0)
        .otherwise(lit(2.0) * abs(xD - col("fc")) / (xD + col("fc")))
      val sm = evd.join(broadcast(f), Seq("event_type", "dow"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          Num.qround(avg(smapeTerm), 6).as("smape"),
          Num.qround(avg(abs(xD - col("fc"))), 6).as("mae_eval"))
      val lag = daily.filter(col("xday") < 21)
        .join(daily.select(col("event_type"),
            (col("xday") + 7).as("xday"), col("x").as("x_lag")),
          Seq("event_type", "xday"))
      val den = lag.groupBy("event_type")
        .agg(Num.qround(avg(abs(xD - col("x_lag").cast("double"))), 6)
          .as("naive_mae"))
      sm.join(den, "event_type")
        .select(col("event_type"), col("n_eval"), col("smape"),
          col("mae_eval"), col("naive_mae"),
          (col("mae_eval") / when(col("naive_mae") === 0.0, lit(null))
            .otherwise(col("naive_mae"))).as("mase"))
        .orderBy("event_type")
    })

  // ----------------------------------------------- Theil–Sen trend

  /** Per-group Theil–Sen robust trend (X180 — Theil 1950 / Sen 1968:
    * slope = MEDIAN of all pairwise day-slopes, the 29%-breakdown
    * robust sibling of X171's OLS — one corrupted day drags a
    * least-squares line, the pairwise median shrugs; reading the two
    * side by side is the standard outlier screen). Shape: the
    * pairwise expansion is day-alphabet-bounded per group (T days →
    * T(T−1)/2 slopes, a recorded bound like X80's wedge shape), so
    * slopes collect into ONE per-group array aggregate and the
    * median is an exact array_sort + middle-element selection — for
    * even counts the two middles average, element-wise IEEE.
    * Intercept = median of (y − slope·x) residuals, same device.
    * Slopes are exact-integer-fed divides; sorting doubles is
    * total-ordered and engine-identical — rows hash RAW. */
  val theilSen = QueryDef(
    "q_theil_sen", {
      def medSql(lst: String) =
        s"""CASE WHEN len($lst) % 2 = 1 THEN ($lst)[(len($lst) + 1) // 2]
                 ELSE (($lst)[len($lst) // 2] +
                       ($lst)[len($lst) // 2 + 1]) / 2.0 END"""
      Some(s"""WITH d0 AS (
                SELECT MIN(CAST(ts AS DATE)) AS first_day FROM events),
              daily AS (
                SELECT event_type,
                       CAST(CAST(ts AS DATE) - d0.first_day AS BIGINT)
                         AS x,
                       CAST(COUNT(*) AS BIGINT) AS y
                FROM events CROSS JOIN d0 GROUP BY 1, 2),
              sl AS (
                SELECT a.event_type,
                       CAST(b.y - a.y AS DOUBLE) /
                         CAST(b.x - a.x AS DOUBLE) AS s
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.x < b.x),
              ms AS (
                SELECT event_type, list_sort(list(s)) AS ss,
                       CAST(COUNT(*) AS BIGINT) AS n_pairs
                FROM sl GROUP BY 1),
              med AS (
                SELECT event_type, n_pairs, ${medSql("ss")} AS slope
                FROM ms),
              res AS (
                SELECT d.event_type, m.n_pairs, m.slope,
                       list_sort(list(CAST(d.y AS DOUBLE) -
                         m.slope * CAST(d.x AS DOUBLE))) AS rs
                FROM daily d JOIN med m USING (event_type)
                GROUP BY 1, 2, 3)
              SELECT event_type, n_pairs, slope,
                     ${medSql("rs")} AS intercept
              FROM res ORDER BY event_type""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val d0 = ev.agg(min(col("ts").cast("date"))).head().getDate(0)
      val daily = ev
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit(d0)).cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint(true) // pair join both sides + residual pass
      def medC(lst: Column) = {
        val n = size(lst)
        // integer halving: / on ints is a DOUBLE divide under the
        // non-ANSI session — floor-div via explicit casts
        val half = floor(n / 2).cast("int")
        when(n % 2 === 1, element_at(lst, floor((n + 1) / 2).cast("int")))
          .otherwise((element_at(lst, half) +
            element_at(lst, half + 1)) / 2.0)
      }
      val a = daily.select(col("event_type"), col("x").as("xa"),
        col("y").as("ya"))
      val b = daily.select(col("event_type"), col("x").as("xb"),
        col("y").as("yb"))
      val sl = a.join(b, Seq("event_type"))
        .where(col("xa") < col("xb"))
        .select(col("event_type"),
          ((col("yb") - col("ya")).cast("double") /
            (col("xb") - col("xa")).cast("double")).as("s"))
      val med = sl.groupBy("event_type")
        .agg(sort_array(collect_list("s")).as("ss"),
          count(lit(1)).as("n_pairs"))
        .select(col("event_type"), col("n_pairs"),
          medC(col("ss")).as("slope"))
      daily.join(broadcast(med), "event_type")
        .groupBy(col("event_type"), col("n_pairs"), col("slope"))
        .agg(sort_array(collect_list(
          col("y").cast("double") - col("slope") * col("x").cast("double")))
          .as("rs"))
        .select(col("event_type"), col("n_pairs"), col("slope"),
          medC(col("rs")).as("intercept"))
        .orderBy("event_type")
    })

  // -------------------------------------------- KMV source overlap

  /** Cross-source content-overlap matrix from mergeable KMV sketches
    * (X181 — the corpus-composition question "how much of source A's
    * content also appears in B" answered at sketch cost: per-source
    * bottom-K sketches over the 3-gram shingle key space (the X130
    * mergeable-union device), pairwise union estimates from MERGED
    * sketches, intersection by inclusion–exclusion, Jaccard and
    * directional containments — the Broder 1997 resemblance/
    * containment pair, the scale path where X13's exact contamination
    * join cannot run corpus×corpus). Shape: one shingle explode +
    * distinct, one bottom-K aggregate per source, then a
    * source-alphabet-bounded pair self-join of K-long sketch rows —
    * the 100 TB cost lives entirely in the first scan. All estimate
    * arithmetic is element-wise off exact 60-bit integer hash lanes
    * (rows hash RAW); inclusion–exclusion can go negative on sketch
    * noise → clamped at 0 on both engines, denominators NULLIF'd. */
  val sourceOverlap = QueryDef(
    "q_source_overlap", {
      val K = 64
      val est = (hs: String) =>
        s"""CASE WHEN len($hs) < $K THEN CAST(len($hs) AS DOUBLE)
                 ELSE ${K - 1}.0 / (CAST(($hs)[$K] AS DOUBLE)
                                    / 1152921504606846976.0) END"""
      Some(s"""WITH t AS (
                SELECT source,
                       list_filter(string_split_regex(text, '\\s+'),
                         t -> len(t) > 0) AS toks
                FROM documents),
              g AS (
                SELECT source,
                       unnest(CASE WHEN len(toks) = 0 THEN []
                         WHEN len(toks) < 3
                           THEN [array_to_string(toks, ' ')]
                         ELSE list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i + 1] || ' '
                                || toks[i + 2]) END) AS gram
                FROM t),
              h AS (
                SELECT DISTINCT source,
                       CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT)
                         AS h
                FROM g),
              sk AS (
                SELECT source, list(h ORDER BY h)[1:$K] AS hs
                FROM h GROUP BY source),
              p AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       ${est("a.hs")} AS est_a, ${est("b.hs")} AS est_b,
                       list_sort(list_distinct(a.hs || b.hs))[1:$K] AS hu
                FROM sk a JOIN sk b ON a.source < b.source),
              e AS (
                SELECT source_a, source_b, est_a, est_b,
                       ${est("hu")} AS est_union
                FROM p)
              SELECT source_a, source_b, est_a, est_b, est_union,
                     GREATEST(0.0, est_a + est_b - est_union) AS est_inter,
                     GREATEST(0.0, est_a + est_b - est_union) /
                       NULLIF(est_union, 0.0) AS jaccard,
                     GREATEST(0.0, est_a + est_b - est_union) /
                       NULLIF(est_a, 0.0) AS containment_a,
                     GREATEST(0.0, est_a + est_b - est_union) /
                       NULLIF(est_b, 0.0) AS containment_b
              FROM e ORDER BY source_a, source_b""")
    },
    (s, d) => {
      val K = 64
      val h = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.ShingleFunctions
            .md5ShingleKeys(col("text"), 3)).as("h"))
        .distinct()
      // per-source sketches are |sources|·K longs — bounded driver
      // metadata by construction; a non-equi pair self-join would
      // plan the banned BNLJ, so pairs assemble on the driver and
      // re-enter as one literal frame (the X109 device)
      val sketches = h.groupBy("source")
        .agg(graft.functions.SketchFunctions.bottomK(col("h"), K).as("hs"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
        .sortBy(_._1)
      def est(hs: Array[Long]): Double =
        if (hs.length < K) hs.length.toDouble
        else (K - 1).toDouble / (hs(K - 1).toDouble / math.pow(2.0, 60))
      val rows = for {
        i <- sketches.indices; j <- sketches.indices if i < j
      } yield {
        val (sa, ha) = sketches(i)
        val (sb, hb) = sketches(j)
        val (ea, eb) = (est(ha), est(hb))
        val eu = est((ha ++ hb).distinct.sorted.take(K))
        val inter = math.max(0.0, ea + eb - eu)
        def over(den: Double): Any =
          if (den == 0.0) null else inter / den
        org.apache.spark.sql.Row(
          sa, sb, ea, eb, eu, inter, over(eu), over(ea), over(eb))
      }
      import org.apache.spark.sql.types._
      val schema = StructType(
        Seq("source_a", "source_b").map(StructField(_, StringType)) ++
        Seq("est_a", "est_b", "est_union", "est_inter", "jaccard",
          "containment_a", "containment_b")
          .map(StructField(_, DoubleType)))
      s.createDataFrame(
          s.sparkContext.parallelize(rows, 1), schema)
        .orderBy("source_a", "source_b")
    })

  // ---------------------------------------- X191 conformal intervals

  /** Split-conformal prediction intervals on the seasonal forecaster
    * (X191 — Vovk et al. 2005 / Lei et al. 2018: the
    * distribution-free way to put FINITE-SAMPLE coverage guarantees
    * on ANY point forecaster — here X142/X174's day-of-week baseline
    * — without believing its error model: fit on days <14, compute
    * absolute residuals on a held-out calibration week [14,21), take
    * q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration residual, and the
    * interval forecast±q̂ covers eval days ≥21 with probability
    * ≥ 1−α by exchangeability alone; α = 0.25). The q̂ selection is
    * an EXACT order statistic per series: calibration residuals
    * collect into one per-type sorted array (day-alphabet-bounded —
    * ≤7 values, the Theil–Sen recorded-bound device) and the k-th
    * element is selected, never interpolated; residuals are
    * element-wise doubles off the qround(6) fit, k exact integer
    * ceil arithmetic, lo/hi/covered element-wise, per-type empirical
    * coverage the one qround(6) aggregate (5-row broadcast join
    * back). */
  val conformal = QueryDef(
    "q_conformal", {
      val kSql = "LEAST(n_cal, CAST(CEIL((n_cal + 1) * 0.75) AS BIGINT))"
      Some(s"""$dowDailySql,
              f AS (
                SELECT event_type, dow,
                       ${Num.qroundSql("AVG(CAST(x AS DOUBLE))", 6)} AS fc
                FROM daily WHERE xday < 14 GROUP BY 1, 2),
              cal AS (
                SELECT c.event_type,
                       ABS(CAST(c.x AS DOUBLE) - f.fc) AS r
                FROM daily c JOIN f USING (event_type, dow)
                WHERE c.xday >= 14 AND c.xday < 21),
              q AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal,
                       list_sort(list(r)) AS rs
                FROM cal GROUP BY 1),
              qq AS (
                SELECT event_type, n_cal, $kSql AS k,
                       rs[CAST($kSql AS INT)] AS qhat
                FROM q),
              ev AS (
                SELECT e.event_type, e.xday, e.x, f.fc
                FROM daily e JOIN f USING (event_type, dow)
                WHERE e.xday >= 21),
              r AS (
                SELECT ev.event_type, ev.xday, ev.x, ev.fc,
                       qq.n_cal, qq.k, qq.qhat,
                       ev.fc - qq.qhat AS lo, ev.fc + qq.qhat AS hi,
                       CAST(ev.x AS DOUBLE) >= ev.fc - qq.qhat AND
                       CAST(ev.x AS DOUBLE) <= ev.fc + qq.qhat AS covered
                FROM ev JOIN qq USING (event_type)),
              cov AS (
                SELECT event_type,
                       ${Num.qroundSql(
                         "AVG(CASE WHEN covered THEN 1.0 ELSE 0.0 END)",
                         6)} AS coverage
                FROM r GROUP BY 1)
              SELECT r.event_type, r.xday, r.x, r.fc, r.n_cal, r.k,
                     r.qhat, r.lo, r.hi, r.covered, cov.coverage
              FROM r JOIN cov USING (event_type)
              ORDER BY r.event_type, r.xday""")
    },
    (s, d) => {
      val daily = dowDaily(s, d) // consumed 3x (fit, calibration, eval)
      val f = daily.filter(col("xday") < 14)
        .groupBy("event_type", "dow")
        .agg(Num.qround(avg(col("x").cast("double")), 6).as("fc"))
        .localCheckpoint() // consumed 2x (calibration, eval joins)
      val xD = col("x").cast("double")
      val cal = daily.filter(col("xday") >= 14 && col("xday") < 21)
        .join(broadcast(f), Seq("event_type", "dow"))
        .select(col("event_type"), abs(xD - col("fc")).as("r"))
      val kC = least(col("n_cal"),
        ceil((col("n_cal") + 1) * lit(0.75)).cast("long"))
      val qq = cal.groupBy("event_type")
        .agg(count(lit(1)).as("n_cal"), sort_array(collect_list("r"))
          .as("rs"))
        .select(col("event_type"), col("n_cal"), kC.as("k"),
          element_at(col("rs"), kC.cast("int")).as("qhat"))
      val evd = daily.filter(col("xday") >= 21)
        .join(broadcast(f), Seq("event_type", "dow"))
      val lo = col("fc") - col("qhat")
      val hi = col("fc") + col("qhat")
      val r = evd.join(broadcast(qq), "event_type")
        .select(col("event_type"), col("xday"), col("x"), col("fc"),
          col("n_cal"), col("k"), col("qhat"), lo.as("lo"), hi.as("hi"),
          (xD >= lo && xD <= hi).as("covered"))
      val cov = r.groupBy("event_type")
        .agg(Num.qround(avg(when(col("covered"), 1.0).otherwise(0.0)), 6)
          .as("coverage"))
      r.join(broadcast(cov), "event_type")
        .select(col("event_type"), col("xday"), col("x"), col("fc"),
          col("n_cal"), col("k"), col("qhat"), col("lo"), col("hi"),
          col("covered"), col("coverage"))
        .orderBy("event_type", "xday")
    })

  // ------------------------------------------ X196 jackknife ratio CI

  /** Delete-one-group jackknife for a ratio estimator (X196 —
    * Quenouille 1956 / Tukey 1958; Wolter 2007's survey-sampling
    * workhorse: a ratio R = Σy/Σx has no closed-form variance, the
    * grouped jackknife gets one by recomputing R with each stratum
    * deleted — var = (G−1)/G·Σ(R₍₋g₎−R̄)², plus the G·R−(G−1)·R̄
    * bias correction; the CI machinery a corpus-composition report
    * needs around "share of English docs" when docs arrive in
    * correlated source batches, which per-doc binomial CIs ignore).
    * Strata = the bounded source alphabet: ONE keyed integer
    * aggregate, totals a bounded 1-row action re-entering as
    * literals (X38 device), every leave-one-out ratio an EXACT
    * integer-fed divide, the two cross-stratum reductions (R̄, Σdev²)
    * qround(6), everything downstream element-wise. */
  val jackknife = QueryDef(
    "q_jackknife",
    Some(s"""WITH g AS (
               SELECT source, CAST(COUNT(*) AS BIGINT) AS x,
                      CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
               FROM documents GROUP BY source),
             t AS (
               SELECT CAST(SUM(x) AS BIGINT) AS tx,
                      CAST(SUM(y) AS BIGINT) AS ty,
                      CAST(COUNT(*) AS BIGINT) AS gg
               FROM g),
             lo AS (
               SELECT g.source, g.x, g.y, t.tx, t.ty, t.gg,
                      CAST(t.ty - g.y AS DOUBLE) /
                        NULLIF(CAST(t.tx - g.x AS DOUBLE), 0.0) AS r_loo
               FROM g CROSS JOIN t),
             mn AS (SELECT ${Num.qroundSql("AVG(r_loo)", 6)} AS rbar
                    FROM lo),
             vj AS (
               SELECT ${Num.qroundSql(
                 "SUM((lo.r_loo - mn.rbar) * (lo.r_loo - mn.rbar))", 6)}
                 AS ss
               FROM lo CROSS JOIN mn)
             SELECT lo.source, lo.x AS n_docs, lo.y AS n_en, lo.r_loo,
                    CAST(lo.ty AS DOUBLE) / CAST(lo.tx AS DOUBLE)
                      AS r_full,
                    CAST(lo.gg AS DOUBLE) *
                      (CAST(lo.ty AS DOUBLE) / CAST(lo.tx AS DOUBLE)) -
                      CAST(lo.gg - 1 AS DOUBLE) * mn.rbar AS r_jack,
                    SQRT(CAST(lo.gg - 1 AS DOUBLE) /
                      CAST(lo.gg AS DOUBLE) * vj.ss) AS se_jack,
                    CAST(lo.ty AS DOUBLE) / CAST(lo.tx AS DOUBLE) -
                      1.96 * SQRT(CAST(lo.gg - 1 AS DOUBLE) /
                        CAST(lo.gg AS DOUBLE) * vj.ss) AS ci_lo,
                    CAST(lo.ty AS DOUBLE) / CAST(lo.tx AS DOUBLE) +
                      1.96 * SQRT(CAST(lo.gg - 1 AS DOUBLE) /
                        CAST(lo.gg AS DOUBLE) * vj.ss) AS ci_hi
             FROM lo CROSS JOIN mn CROSS JOIN vj
             ORDER BY lo.source"""),
    (s, d) => {
      val g = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("x"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("y"))
        .localCheckpoint(true) // totals + loo + reductions read it
      // bounded actions: totals (1 row), then the two cross-stratum
      // reduction lanes over the <=G-row loo frame (X38 device)
      val t = g.agg(sum("x"), sum("y"), count(lit(1))).head()
      val (tx, ty, gg) = (t.getLong(0), t.getLong(1), t.getLong(2))
      val rLoo = (lit(ty) - col("y")).cast("double") /
        (lit(tx) - col("x")).cast("double")
      val lo = g.select(col("source"), col("x"), col("y"),
        rLoo.as("r_loo")).localCheckpoint(true)
      val m = lo.agg(Num.qround(avg("r_loo"), 6)).head().getDouble(0)
      val ss = lo.agg(Num.qround(
        sum((col("r_loo") - m) * (col("r_loo") - m)), 6))
        .head().getDouble(0)
      val rFull = lit(ty).cast("double") / lit(tx).cast("double")
      val seJack = sqrt(lit(gg - 1).cast("double") /
        lit(gg).cast("double") * lit(ss))
      lo.select(col("source"), col("x").as("n_docs"),
          col("y").as("n_en"), col("r_loo"),
          rFull.as("r_full"),
          (lit(gg).cast("double") * rFull -
            lit(gg - 1).cast("double") * lit(m)).as("r_jack"),
          seJack.as("se_jack"),
          (rFull - lit(1.96) * seJack).as("ci_lo"),
          (rFull + lit(1.96) * seJack).as("ci_hi"))
        .orderBy("source")
    })

  // ------------------------------------------------ X205 IPF raking

  private val IpfRounds = 6

  /** One IPF round as oracle CTEs: row scaling to the type targets,
    * then column scaling to the daypart targets — margin sums
    * qround(6), scaled cells qround(6), so round t+1 starts from
    * bit-identical doubles (the X66 discipline on a bounded table). */
  private def ipfRoundSql(t: Int): String = {
    val p = t - 1
    s"""ra$t AS MATERIALIZED (
              SELECT typ, ${Num.qroundSql("SUM(m)", 6)} AS s
              FROM ipf$p GROUP BY typ),
            ipfr$t AS MATERIALIZED (
              SELECT c.typ, c.dp, c.n,
                     ${Num.qroundSql(
                       "c.m * (rt.tgt / NULLIF(ra.s, 0.0))", 6)} AS m
              FROM ipf$p c JOIN ra$t ra ON c.typ = ra.typ
                JOIN rowt rt ON c.typ = rt.typ),
            ca$t AS MATERIALIZED (
              SELECT dp, ${Num.qroundSql("SUM(m)", 6)} AS s
              FROM ipfr$t GROUP BY dp),
            ipf$t AS MATERIALIZED (
              SELECT c.typ, c.dp, c.n,
                     ${Num.qroundSql(
                       "c.m * (ct.tgt / NULLIF(ca.s, 0.0))", 6)} AS m
              FROM ipfr$t c JOIN ca$t ca ON c.dp = ca.dp
                JOIN colt ct ON c.dp = ct.dp)"""
  }

  /** Survey raking / iterative proportional fitting (X205 — Deming &
    * Stephan 1940: reweight a biased stratum so its margins match
    * population targets, the post-stratification workhorse behind
    * every survey house's weighting step and the 2-D special case of
    * maximum-entropy calibration. Here: the HEAVY-user stratum's
    * (event_type × daypart) activity table is raked to the FULL
    * population's margins — the correction X202's propensity answer
    * would want applied before reading per-type rates off heavy
    * users). Shape: two counting passes (stratum cells + population
    * margins, both alphabet-bounded), then 6 pinned IPF rounds on the
    * ≤20-cell table — driver-side, literals re-entering (X190
    * device); the oracle unrolls the identical rounds. Margin sums
    * and scaled cells qround(6) per half-round; targets are qround(6)
    * population-share × stratum-total lanes; weights w = m/n exact
    * element-wise off the quantized fixpoint. */
  val ipfRake = QueryDef(
    "q_ipf_rake", {
      val rounds = (1 to IpfRounds).map(ipfRoundSql)
        .mkString(",\n            ")
      Some(s"""WITH u AS (
               SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
             t AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                      CAST(SUM(n) AS BIGINT) AS ne
               FROM u),
             hv AS (
               SELECT u.user_id FROM u CROSS JOIN t
               WHERE u.n * t.nu >= t.ne),
             cells AS MATERIALIZED (
               SELECT e.event_type AS typ,
                      CAST(date_part('hour', e.ts) // 6 AS BIGINT) AS dp,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM events e JOIN hv ON e.user_id = hv.user_id
               GROUP BY 1, 2),
             stot AS (SELECT CAST(SUM(n) AS BIGINT) AS s FROM cells),
             ptot AS (SELECT CAST(COUNT(*) AS BIGINT) AS p FROM events),
             rowt AS MATERIALIZED (
               SELECT event_type AS typ,
                      ${Num.qroundSql(
                        "CAST(COUNT(*) AS DOUBLE) / ptot.p * stot.s",
                        6)} AS tgt
               FROM events CROSS JOIN ptot CROSS JOIN stot
               GROUP BY event_type, ptot.p, stot.s),
             colt AS MATERIALIZED (
               SELECT CAST(date_part('hour', ts) // 6 AS BIGINT) AS dp,
                      ${Num.qroundSql(
                        "CAST(COUNT(*) AS DOUBLE) / ptot.p * stot.s",
                        6)} AS tgt
               FROM events CROSS JOIN ptot CROSS JOIN stot
               GROUP BY 1, ptot.p, stot.s),
             ipf0 AS MATERIALIZED (
               SELECT typ, dp, n, CAST(n AS DOUBLE) AS m FROM cells),
             $rounds
             SELECT c.typ AS event_type, c.dp AS daypart, c.n,
                    c.m AS raked, c.m / CAST(c.n AS DOUBLE) AS weight,
                    rt.tgt AS row_target, ct.tgt AS col_target
             FROM ipf$IpfRounds c
               JOIN rowt rt ON c.typ = rt.typ
               JOIN colt ct ON c.dp = ct.dp
             ORDER BY event_type, daypart""")
    },
    (s, d) => {
      val ev = Tables.events(s, d)
      val u = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      val tRow = u.agg(count(lit(1)), sum("n")).head()
      val (nu, ne) = (tRow.getLong(0), tRow.getLong(1))
      val hv = u.filter(col("n") * nu >= ne).select("user_id")
      val dpCol = (hour(col("ts")).cast("long") / 6).cast("long")
      val cells = ev.join(hv, "user_id")
        .groupBy(col("event_type").as("typ"), dpCol.as("dp"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // bounded cell table: collected below
      // bounded actions: stratum total, population total + margins
      val sTot = cells.agg(sum("n")).head().getLong(0)
      val pTot = ev.count()
      val rowT = ev.groupBy(col("event_type").as("typ"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => r.getString(0) ->
          Num.qround(r.getLong(1).toDouble / pTot * sTot, 6)).toMap
      val colT = ev.groupBy(dpCol.as("dp"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => r.getLong(0) ->
          Num.qround(r.getLong(1).toDouble / pTot * sTot, 6)).toMap
      // 6 pinned IPF rounds on the <=20-cell driver table
      var m = cells.collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2),
          r.getLong(2).toDouble))
      for (_ <- 1 to IpfRounds) {
        val rs = m.groupBy(_._1._1)
          .map { case (k, cs) => k -> Num.qround(cs.map(_._3).sum, 6) }
        m = m.map { case (k, n0, v) =>
          val sK = rs(k._1)
          (k, n0, Num.qround(v * (rowT(k._1) / (if (sK == 0.0) Double.NaN
            else sK)), 6))
        }
        val csm = m.groupBy(_._1._2)
          .map { case (k, cs) => k -> Num.qround(cs.map(_._3).sum, 6) }
        m = m.map { case (k, n0, v) =>
          val sK = csm(k._2)
          (k, n0, Num.qround(v * (colT(k._2) / (if (sK == 0.0) Double.NaN
            else sK)), 6))
        }
      }
      val raked = m.map { case ((typ, dp), n0, v) => (typ, dp, n0, v) }
      import s.implicits._
      raked.toSeq.toDF("event_type", "daypart", "n", "raked")
        .select(col("event_type"), col("daypart"), col("n"),
          col("raked"),
          (col("raked") / col("n").cast("double")).as("weight"),
          element_at(typedLit(rowT), col("event_type"))
            .as("row_target"),
          element_at(typedLit(colT), col("daypart")).as("col_target"))
        .orderBy("event_type", "daypart")
    })

  // --------------------------------------- X209 empirical-Bayes rates

  /** Empirical-Bayes Beta shrinkage of per-source rates (X209 —
    * Robbins 1956 via the method-of-moments Beta fit, Morris 1983:
    * a 25-doc source's raw English share is noise-dominated; fit
    * Beta(α, β) to the ACROSS-source rate distribution and report
    * each source's posterior mean (y+α)/(n+α+β) — the partial-pooling
    * readout X196's jackknife CI says you need, and the shrinkage
    * every "top sources by rate" league table should apply before
    * ranking small sources over large ones). MoM lanes: m₁, m₂
    * across the bounded source alphabet qround(6); ν = m₁(1−m₁)/var
    * − 1, α = m₁ν, β = (1−m₁)ν element-wise; degenerate fits
    * (var ≤ 0, i.e. under-dispersed vs binomial) → NULL α/β and
    * shrunk = raw on both engines; posterior means exact element-wise
    * off the quantized lanes. */
  val ebShrink = QueryDef(
    "q_eb_shrink",
    Some(s"""WITH g AS (
               SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
               FROM documents GROUP BY source),
             r AS (
               SELECT source, n, y,
                      CAST(y AS DOUBLE) / CAST(n AS DOUBLE) AS p
               FROM g),
             m AS (
               SELECT ${Num.qroundSql("AVG(p)", 6)} AS m1,
                      ${Num.qroundSql("AVG(p * p)", 6)} AS m2
               FROM r),
             ab AS (
               SELECT m1, m2,
                      CASE WHEN m2 - m1 * m1 > 0.0 AND
                        m1 * (1.0 - m1) / (m2 - m1 * m1) - 1.0 > 0.0
                        THEN m1 * (m1 * (1.0 - m1) / (m2 - m1 * m1)
                          - 1.0) END AS alpha,
                      CASE WHEN m2 - m1 * m1 > 0.0 AND
                        m1 * (1.0 - m1) / (m2 - m1 * m1) - 1.0 > 0.0
                        THEN (1.0 - m1) * (m1 * (1.0 - m1) /
                          (m2 - m1 * m1) - 1.0) END AS beta
               FROM m)
             SELECT r.source, r.n, r.y, r.p AS raw_rate,
                    CASE WHEN ab.alpha IS NULL THEN r.p
                      ELSE (CAST(r.y AS DOUBLE) + ab.alpha) /
                        (CAST(r.n AS DOUBLE) + ab.alpha + ab.beta)
                      END AS shrunk_rate,
                    ab.alpha, ab.beta
             FROM r CROSS JOIN ab
             ORDER BY r.source"""),
    (s, d) => {
      val g = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("y"))
      val r = g.select(col("source"), col("n"), col("y"),
          (col("y").cast("double") / col("n").cast("double")).as("p"))
        .localCheckpoint(true) // moment action + the final projection
      val mRow = r.agg(Num.qround(avg("p"), 6),
        Num.qround(avg(col("p") * col("p")), 6)).head()
      val (m1, m2) = (mRow.getDouble(0), mRow.getDouble(1))
      val varP = m2 - m1 * m1
      val nu = if (varP > 0.0) m1 * (1.0 - m1) / varP - 1.0
        else Double.NaN
      val (alpha: Any, beta: Any) =
        if (varP > 0.0 && nu > 0.0) (m1 * nu, (1.0 - m1) * nu)
        else (null, null)
      val aC = lit(alpha).cast("double")
      val bC = lit(beta).cast("double")
      r.select(col("source"), col("n"), col("y"), col("p").as("raw_rate"),
          when(aC.isNull, col("p"))
            .otherwise((col("y").cast("double") + aC) /
              (col("n").cast("double") + aC + bC)).as("shrunk_rate"),
          aC.as("alpha"), bC.as("beta"))
        .orderBy("source")
    })

  // ----------------------------------------- weight of evidence / IV

  /** Weight-of-evidence + information value feature screen (X215 —
    * the credit-scoring device (Siddiqi 2006) that became the
    * standard "is this feature worth binning into a quality
    * classifier" screen: per feature bucket, WOE = ln of the
    * good-share/bad-share odds ratio; IV = Σ (share gap)·WOE, read
    * against the folk thresholds 0.02/0.1/0.3. Here: doc-length
    * buckets (width-64 floor, capped at 9 — exact integer lane)
    * against the X45/X189 label lang = 'en'. Counts are one keyed
    * aggregate over the bounded bucket alphabet; G/B totals are a
    * bounded driver action re-entering as literals (X109 device);
    * shares are exact integer ratios with +0.5 smoothing (exact
    * dyadic) so empty-side buckets stay finite; the single ln lane
    * and the IV contributions carry qround(6); iv_total re-emitted
    * as a literal. */
  val woeIv = QueryDef(
    "q_woe_iv", {
      val gs = "((CAST(g.good_n AS DOUBLE) + 0.5) / CAST(t.gt AS DOUBLE))"
      val bs = "((CAST(g.bad_n AS DOUBLE) + 0.5) / CAST(t.bt AS DOUBLE))"
      Some(s"""WITH b AS (
               SELECT LEAST(n_chars // 64, 9) AS bucket,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents),
             g AS (
               SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(y) AS BIGINT) AS good_n,
                      CAST(SUM(1 - y) AS BIGINT) AS bad_n
               FROM b GROUP BY bucket),
             t AS (
               SELECT CAST(SUM(good_n) AS BIGINT) AS gt,
                      CAST(SUM(bad_n) AS BIGINT) AS bt
               FROM g),
             w AS (
               SELECT g.bucket, g.n, g.good_n, g.bad_n,
                      ${Num.qroundSql(s"ln($gs / $bs)", 6)} AS woe,
                      ${Num.qroundSql(s"($gs - $bs) * ln($gs / $bs)", 6)}
                        AS iv_contrib
               FROM g CROSS JOIN t),
             tot AS (
               SELECT ${Num.qroundSql("SUM(iv_contrib)", 6)} AS iv_total
               FROM w)
             SELECT w.*, tot.iv_total
             FROM w CROSS JOIN tot
             ORDER BY w.bucket""")
    },
    (s, d) => {
      val b = Tables.documents(s, d).select(
        least(expr("n_chars div 64"), lit(9L)).as("bucket"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val g = b.groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("y").as("good_n"),
          sum(lit(1L) - col("y")).as("bad_n"))
        .localCheckpoint(true) // totals action + final projection
      val tRow = g.agg(sum("good_n"), sum("bad_n")).head()
      val (gt, bt) = (tRow.getLong(0), tRow.getLong(1))
      val gs = (col("good_n").cast("double") + 0.5) / lit(gt.toDouble)
      val bs = (col("bad_n").cast("double") + 0.5) / lit(bt.toDouble)
      val w = g.select(col("bucket"), col("n"), col("good_n"),
          col("bad_n"),
          Num.qround(log(gs / bs), 6).as("woe"),
          Num.qround((gs - bs) * log(gs / bs), 6).as("iv_contrib"))
        .localCheckpoint(true)
      val iv = w.agg(Num.qround(sum("iv_contrib"), 6)).head().getDouble(0)
      w.withColumn("iv_total", lit(iv)).orderBy("bucket")
    })

  // ------------------------------------------- quantile regression

  /** Quantile (pinball-loss) regression by fixed-round subgradient
    * descent (X224 — Koenker & Bassett 1978: fit the τ = 0.9
    * CONDITIONAL quantile of event value against hour-of-day; the
    * tail-risk member of the regression family next to X171's OLS
    * mean, X180's Theil–Sen median trend and X189's logistic
    * classifier). Each round is ONE aggregated pass (count + the two
    * subgradient components + the pinball loss at the entering
    * weights); the 2-double weight vector lives on the driver and
    * re-enters as literals — the X189 GD shape exactly.
    *
    * Determinism: the X189 pinned-round discipline — subgradient
    * means and updated weights qround(6) per round; the pinball
    * branch constants are the exact literals 0.1 / −0.9 / 0.9 / −0.1
    * (NOT computed as 1−τ, whose IEEE value differs from the 0.1
    * literal) so the indicator and loss trees are identical on both
    * engines. y is scaled by 1/500 (one deterministic element-wise
    * divide) to keep η = 1 stable. Output: rounds 0..5 with entering
    * weights and their loss — the loss CURVE is the result, the
    * X197 learning-curve shape. */
  val quantileReg = QueryDef(
    "q_quantile_reg", {
      def yhat(w: String) = s"($w.w0 + $w.w1 * b.x)"
      def dC(w: String) =
        s"(CASE WHEN b.y < ${yhat(w)} THEN 0.1 ELSE -0.9 END)"
      def lossC(w: String) =
        s"GREATEST(0.9 * (b.y - ${yhat(w)}), -0.1 * (b.y - ${yhat(w)}))"
      val rounds = (1 to 5).map { i =>
        val w = s"w_${i - 1}"
        s"""g_$i AS (
             SELECT ${Num.qroundSql(s"SUM(${dC(w)}) / nn.n", 6)} AS g0,
                    ${Num.qroundSql(s"SUM(${dC(w)} * b.x) / nn.n", 6)}
                      AS g1,
                    ${Num.qroundSql(s"SUM(${lossC(w)}) / nn.n", 6)}
                      AS loss
             FROM base b CROSS JOIN $w CROSS JOIN nn
             GROUP BY nn.n),
           w_$i AS (
             SELECT ${Num.qroundSql(s"w.w0 - 1.0 * g.g0", 6)} AS w0,
                    ${Num.qroundSql(s"w.w1 - 1.0 * g.g1", 6)} AS w1
             FROM $w w CROSS JOIN g_$i g)"""
      }.mkString(",\n")
      Some(s"""WITH base AS (
               SELECT value / 500.0 AS y,
                      CAST(hour(ts) AS DOUBLE) / 24.0 AS x
               FROM events),
             nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
             w_0 AS (SELECT 0.0 AS w0, 0.0 AS w1),
             $rounds,
             l_6 AS (
               SELECT ${Num.qroundSql(
                 s"SUM(${lossC("w_5")}) / nn.n", 6)} AS loss
               FROM base b CROSS JOIN w_5 CROSS JOIN nn
               GROUP BY nn.n)
             SELECT * FROM (
               ${(1 to 5).map(i =>
                 s"""SELECT ${i - 1} AS gd_round, w.w0, w.w1,
                     g.loss FROM w_${i - 1} w CROSS JOIN g_$i g""")
                 .mkString(" UNION ALL ")}
               UNION ALL
               SELECT 5, w.w0, w.w1, l.loss
               FROM w_5 w CROSS JOIN l_6 l) uq
             ORDER BY gd_round""")
    },
    (s, d) => {
      val feats = Tables.events(s, d)
        .select((col("value") / 500.0).as("y"),
          (hour(col("ts")).cast("double") / 24.0).as("x"))
        .localCheckpoint(true) // 6 aggregated passes over one frame
      var (w0, w1) = (0.0, 0.0)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Double, Double, Double)]
      def yhat = lit(w0) + lit(w1) * col("x")
      def dCol = when(col("y") < yhat, 0.1).otherwise(-0.9)
      def lossCol = greatest(lit(0.9) * (col("y") - yhat),
        lit(-0.1) * (col("y") - yhat))
      for (r <- 0 until 5) {
        val row = feats.agg(count(lit(1)), sum(dCol),
          sum(dCol * col("x")), sum(lossCol)).head()
        val n = row.getLong(0).toDouble
        out += ((r, w0, w1, Num.qround(row.getDouble(3) / n, 6)))
        val g0 = Num.qround(row.getDouble(1) / n, 6)
        val g1 = Num.qround(row.getDouble(2) / n, 6)
        w0 = Num.qround(w0 - 1.0 * g0, 6)
        w1 = Num.qround(w1 - 1.0 * g1, 6)
      }
      val fin = feats.agg(count(lit(1)), sum(lossCol)).head()
      out += ((5, w0, w1, Num.qround(fin.getDouble(1) / fin.getLong(0), 6)))
      import s.implicits._
      out.toSeq.toDF("gd_round", "w0", "w1", "loss")
        .orderBy("gd_round")
    })

  // ------------------------------------------- Wasserstein-1 drift

  /** Pairwise 1-D Wasserstein (earth-mover) distance between the
    * sources' doc-length distributions (X229 — Vaserstein 1969;
    * the INTEGRAL drift metric completing the divergence family:
    * X113's KS is the sup of the cdf gap, X169's JS weighs
    * probability ratios — W₁ = ∫|F_a − F_b| dv is the only one in
    * actual UNITS (characters here), "how far must mass move", which
    * is why distribution-shift papers report it. On integer support,
    * W₁ = Σ_v |F_a(v) − F_b(v)| exactly — unit gaps, no sorting, no
    * quantile coupling). Shape: per-(source, v) counts are one keyed
    * aggregate over the bounded length alphabet; the cdf grid is the
    * BOUNDED 5 × (max+1) frame (sources × integer support — metadata,
    * not data) cumulated by a source-PARTITIONED window; the pair
    * matrix is a grid self-join on v (10 pairs). F lanes are exact
    * integer ratios; the 600-term |gap| sum is the one aggregated
    * lane → qround(6). */
  val wassersteinDrift = QueryDef(
    "q_wasserstein_drift",
    Some(s"""WITH c AS (
             SELECT source, n_chars AS v,
                    CAST(COUNT(*) AS BIGINT) AS m
             FROM documents GROUP BY source, n_chars),
           t AS (
             SELECT source, CAST(SUM(m) AS BIGINT) AS n
             FROM c GROUP BY source),
           mx AS (SELECT CAST(MAX(n_chars) AS INT) AS mv FROM documents),
           grid AS (
             SELECT t.source, t.n,
                    CAST(unnest(range(0, (SELECT mv FROM mx) + 1))
                      AS BIGINT) AS v
             FROM t),
           cdf AS (
             SELECT g.source, g.n, g.v,
                    CAST(COALESCE(SUM(c.m) OVER (PARTITION BY g.source
                      ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW), 0) AS DOUBLE) /
                      CAST(g.n AS DOUBLE) AS f
             FROM grid g LEFT JOIN c
               ON c.source = g.source AND c.v = g.v)
           SELECT a.source AS source_a, b.source AS source_b,
                  a.n AS n_a, b.n AS n_b,
                  ${Num.qroundSql("SUM(ABS(a.f - b.f))", 6)} AS w1_chars
           FROM cdf a JOIN cdf b
             ON a.v = b.v AND a.source < b.source
           GROUP BY a.source, b.source, a.n, b.n
           ORDER BY source_a, source_b"""),
    (s, d) => {
      val c = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("m"))
        .localCheckpoint(true) // totals + max probe + the cdf join
      val t = c.groupBy("source").agg(sum("m").as("n"))
      val maxV = c.agg(max("v")).head().getLong(0)
      // grid via per-source sequence explode — a generator, not a
      // cross join (no CartesianProduct node; the grid is bounded
      // sources × support metadata)
      val grid = t.withColumn("v",
        explode(sequence(lit(0L), lit(maxV))))
      val w = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid.join(c, Seq("source", "v"), "left")
        .withColumn("f", coalesce(sum("m").over(w), lit(0L))
          .cast("double") / col("n").cast("double"))
        .select(col("source"), col("n"), col("v"), col("f"))
      val a = cdf.select(col("source").as("source_a"),
        col("n").as("n_a"), col("v"), col("f").as("fa"))
      val b = cdf.select(col("source").as("source_b"),
        col("n").as("n_b"), col("v"), col("f").as("fb"))
      a.join(b, Seq("v"))
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(Num.qround(sum(abs(col("fa") - col("fb"))), 6)
          .as("w1_chars"))
        .orderBy("source_a", "source_b")
    })

  // --------------------------------------------- EM Gaussian mixture

  /** Two-component 1-D Gaussian mixture by fixed-round EM (X238 —
    * Dempster, Laird & Rubin 1977 on doc lengths: the canonical
    * latent-variable fit, and the model-based sibling of the X212
    * hard k-means — responsibilities are SOFT assignments, so short-
    * and long-doc subpopulations emerge with uncertainty attached.
    * The famous EM guarantee — log-likelihood never decreases — is
    * pinned as the spec contract). 5 pinned rounds, the X189/X224
    * shape: each round ONE aggregated pass (Σr, Σrx, Σrx², Σ ln mix),
    * parameters live on the driver and re-enter as literals.
    *
    * Determinism: init from one qround(6) moment pass (μ ± σ split,
    * equal weights); per-round aggregate lanes qround(6); the
    * Gaussian density is element-wise with the 2π literal written
    * identically on both engines (6.283185307179586) and σ² floored
    * at 1e-4 (x is n_chars/1000 — scaled so the Σrx² lanes sit
    * far above the qround quantum relative to any exp-ulp jitter)
    * so no component collapses; responsibilities
    * are identical-tree ratios of exp lanes. Output = the rounds-0..5
    * parameter + log-likelihood curve. */
  val emMixture = QueryDef(
    "q_em_mixture", {
      val twoPi = "6.283185307179586"
      def phi(mu: String, s2: String) =
        s"""(exp(-((b.x - $mu) * (b.x - $mu)) / (2.0 * $s2)) /
            sqrt($twoPi * $s2))"""
      def mix(w: String) =
        s"""($w.pi1 * ${phi(s"$w.mu1", s"$w.s21")} +
            (1.0 - $w.pi1) * ${phi(s"$w.mu2", s"$w.s22")})"""
      def r1(w: String) =
        s"""(($w.pi1 * ${phi(s"$w.mu1", s"$w.s21")}) / ${mix(w)})"""
      val rounds = (1 to 5).map { i =>
        val w = s"w_${i - 1}"
        s"""g_$i AS (
             SELECT ${Num.qroundSql(s"SUM(${r1(w)})", 6)} AS sr1,
                    ${Num.qroundSql(s"SUM(${r1(w)} * b.x)", 6)} AS srx1,
                    ${Num.qroundSql(s"SUM(${r1(w)} * b.x * b.x)", 6)}
                      AS srxx1,
                    ${Num.qroundSql(s"SUM((1.0 - ${r1(w)}) * b.x)", 6)}
                      AS srx2,
                    ${Num.qroundSql(
                      s"SUM((1.0 - ${r1(w)}) * b.x * b.x)", 6)}
                      AS srxx2,
                    ${Num.qroundSql(s"SUM(ln(${mix(w)})) / nn.n", 6)}
                      AS loglik
             FROM base b CROSS JOIN $w CROSS JOIN nn
             GROUP BY nn.n),
           w_$i AS (
             SELECT ${Num.qroundSql("g.srx1 / g.sr1", 6)} AS mu1,
                    ${Num.qroundSql("g.srx2 / (nn.n - g.sr1)", 6)}
                      AS mu2,
                    GREATEST(${Num.qroundSql(
                      """g.srxx1 / g.sr1 -
                         (g.srx1 / g.sr1) * (g.srx1 / g.sr1)""", 6)},
                      0.0001) AS s21,
                    GREATEST(${Num.qroundSql(
                      """g.srxx2 / (nn.n - g.sr1) -
                         (g.srx2 / (nn.n - g.sr1)) *
                         (g.srx2 / (nn.n - g.sr1))""", 6)}, 0.0001)
                      AS s22,
                    ${Num.qroundSql("g.sr1 / nn.n", 6)} AS pi1,
                    g.loglik
             FROM g_$i g CROSS JOIN nn)"""
      }.mkString(",\n")
      Some(s"""WITH base AS (
               SELECT CAST(n_chars AS DOUBLE) / 1000.0 AS x FROM documents),
             nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
             mom AS (
               SELECT ${Num.qroundSql("AVG(x)", 6)} AS m,
                      ${Num.qroundSql("AVG(x * x)", 6)} AS m2
               FROM base),
             w_0 AS (
               SELECT m - sqrt(GREATEST(m2 - m * m, 0.0001)) AS mu1,
                      m + sqrt(GREATEST(m2 - m * m, 0.0001)) AS mu2,
                      GREATEST(m2 - m * m, 0.0001) AS s21,
                      GREATEST(m2 - m * m, 0.0001) AS s22,
                      0.5 AS pi1
               FROM mom),
             $rounds,
             l_6 AS (
               SELECT ${Num.qroundSql(
                 s"SUM(ln(${mix("w_5")})) / nn.n", 6)} AS loglik
               FROM base b CROSS JOIN w_5 CROSS JOIN nn
               GROUP BY nn.n)
             SELECT * FROM (
               ${(1 to 5).map(i =>
                 s"""SELECT ${i - 1} AS em_round, w.mu1, w.mu2, w.s21,
                     w.s22, w.pi1, g.loglik
                   FROM w_${i - 1} w CROSS JOIN g_$i g""")
                 .mkString(" UNION ALL ")}
               UNION ALL
               SELECT 5, w.mu1, w.mu2, w.s21, w.s22, w.pi1, l.loglik
               FROM w_5 w CROSS JOIN l_6 l) uq
             ORDER BY em_round""")
    },
    (s, d) => {
      val TwoPi = 6.283185307179586
      val base = Tables.documents(s, d)
        .select((col("n_chars").cast("double") / 1000.0).as("x"))
        .localCheckpoint(true) // 6 aggregated passes over one frame
      val momRow = base.agg(Num.qround(avg("x"), 6),
        Num.qround(avg(col("x") * col("x")), 6)).head()
      val (m, m2) = (momRow.getDouble(0), momRow.getDouble(1))
      val v0 = math.max(m2 - m * m, 0.0001)
      var (mu1, mu2) = (m - math.sqrt(v0), m + math.sqrt(v0))
      var (s21, s22) = (v0, v0)
      var pi1 = 0.5
      def phi(mu: Double, s2: Double) =
        exp(-((col("x") - mu) * (col("x") - mu)) / (2.0 * s2)) /
          math.sqrt(TwoPi * s2)
      def mixCol = lit(pi1) * phi(mu1, s21) +
        lit(1.0 - pi1) * phi(mu2, s22)
      def r1Col = (lit(pi1) * phi(mu1, s21)) / mixCol
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Double, Double, Double, Double, Double, Double)]
      val n = base.count().toDouble
      for (r <- 0 until 5) {
        val row = base.agg(
          Num.qround(sum(r1Col), 6),
          Num.qround(sum(r1Col * col("x")), 6),
          Num.qround(sum(r1Col * col("x") * col("x")), 6),
          Num.qround(sum((lit(1.0) - r1Col) * col("x")), 6),
          Num.qround(sum((lit(1.0) - r1Col) * col("x") * col("x")), 6),
          Num.qround(sum(log(mixCol)) / n, 6)).head()
        val (sr1, srx1, srxx1, srx2, srxx2, ll) = (row.getDouble(0),
          row.getDouble(1), row.getDouble(2), row.getDouble(3),
          row.getDouble(4), row.getDouble(5))
        out += ((r, mu1, mu2, s21, s22, pi1, ll))
        mu1 = Num.qround(srx1 / sr1, 6)
        mu2 = Num.qround(srx2 / (n - sr1), 6)
        s21 = math.max(Num.qround(srxx1 / sr1 - (srx1 / sr1) * (srx1 / sr1), 6),
          0.0001)
        s22 = math.max(Num.qround(srxx2 / (n - sr1) -
          (srx2 / (n - sr1)) * (srx2 / (n - sr1)), 6), 0.0001)
        pi1 = Num.qround(sr1 / n, 6)
      }
      val fin = base.agg(Num.qround(sum(log(mixCol)) / n, 6)).head()
      out += ((5, mu1, mu2, s21, s22, pi1, fin.getDouble(0)))
      import s.implicits._
      out.toSeq.toDF("em_round", "mu1", "mu2", "s21", "s22", "pi1",
        "loglik").orderBy("em_round")
    })

  // ----------------------------------------------- one-way ANOVA

  /** One-way ANOVA on doc length by source (X241 — Fisher 1925: the
    * "does the grouping explain the variance AT ALL" omnibus before
    * any per-pair drilldown; the continuous-outcome sibling of X170's
    * Cramér's V and the k-group generalization of X136's two-sample
    * t). All moment inputs are EXACT integers (n, Σx, Σx² per group —
    * one keyed aggregate over the bounded source alphabet); the
    * between-groups sum Σ_g S_g²/n_g is the one aggregated double
    * lane → qround(6); everything downstream (SSB, SSW, F, η²) is
    * element-wise arithmetic on exact or quantized inputs. Per-group
    * rows carry their exact-ratio means; F/η²/df re-emitted as
    * literals (X109 device). */
  val anova = QueryDef(
    "q_anova",
    Some(s"""WITH g AS (
             SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
                    CAST(SUM(n_chars) AS BIGINT) AS s_g,
                    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx_g
             FROM documents GROUP BY source),
           t AS (
             SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                    CAST(SUM(s_g) AS BIGINT) AS s,
                    CAST(SUM(sxx_g) AS BIGINT) AS sxx,
                    CAST(COUNT(*) AS BIGINT) AS k,
                    ${Num.qroundSql(
                      """SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                         / CAST(n_g AS DOUBLE))""", 6)} AS a
             FROM g),
           f AS (
             SELECT k, n,
                    a - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE) AS ssb,
                    CAST(sxx AS DOUBLE) - a AS ssw
             FROM t)
           SELECT g.source, g.n_g,
                  CAST(g.s_g AS DOUBLE) / CAST(g.n_g AS DOUBLE)
                    AS mean_g,
                  f.k, f.n,
                  ${Num.qroundSql("f.ssb", 6)} AS ssb,
                  ${Num.qroundSql("f.ssw", 6)} AS ssw,
                  ${Num.qroundSql(
                    """(f.ssb / CAST(f.k - 1 AS DOUBLE)) /
                       (f.ssw / CAST(f.n - f.k AS DOUBLE))""", 6)}
                    AS f_stat,
                  ${Num.qroundSql("f.ssb / (f.ssb + f.ssw)", 6)}
                    AS eta2
           FROM g CROSS JOIN f
           ORDER BY g.source"""),
    (s, d) => {
      val g = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_g"), sum("n_chars").as("s_g"),
          sum(col("n_chars") * col("n_chars")).as("sxx_g"))
        .localCheckpoint(true) // totals action + final projection
      val tRow = g.agg(sum("n_g"), sum("s_g"), sum("sxx_g"),
        count(lit(1)),
        Num.qround(sum(col("s_g").cast("double") *
          col("s_g").cast("double") / col("n_g").cast("double")), 6))
        .head()
      val (n, sTot, sxx, k, a) = (tRow.getLong(0), tRow.getLong(1),
        tRow.getLong(2), tRow.getLong(3), tRow.getDouble(4))
      val ssb = a - sTot.toDouble * sTot.toDouble / n.toDouble
      val ssw = sxx.toDouble - a
      val fStat = (ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble)
      g.select(col("source"), col("n_g"),
          (col("s_g").cast("double") / col("n_g").cast("double"))
            .as("mean_g"),
          lit(k).as("k"), lit(n).as("n"),
          lit(Num.qround(ssb, 6)).as("ssb"), lit(Num.qround(ssw, 6)).as("ssw"),
          lit(Num.qround(fStat, 6)).as("f_stat"),
          lit(Num.qround(ssb / (ssb + ssw), 6)).as("eta2"))
        .orderBy("source")
    })

  // ------------------------------------------- partial correlation

  /** First-order partial correlation (X242 — Yule 1907: the
    * confounder-adjusted association r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²)) — the first question after X126's raw
    * matrix shows two variables moving together: "or do they both
    * just follow z?"). Raw correlations are the X126 qround(6) CORR
    * lanes on the lineitem trio; the partials are element-wise
    * algebra on the QUANTIZED inputs (deterministic, hash raw) —
    * all three orderings so the table shows which pair survives
    * which control. */
  val partialCorr = QueryDef(
    "q_partial_corr", {
      def c(x: String, y: String) = Num.qroundSql(s"CORR($x, $y)", 6)
      def part(rxy: String, rxz: String, ryz: String) =
        s"""(($rxy - $rxz * $ryz) /
            sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)))"""
      Some(s"""WITH r AS (
               SELECT ${c("l_quantity", "l_extendedprice")} AS r_qp,
                      ${c("l_quantity", "l_discount")} AS r_qd,
                      ${c("l_extendedprice", "l_discount")} AS r_pd
               FROM lineitem)
             SELECT r_qp, r_qd, r_pd,
                    ${part("r_qp", "r_qd", "r_pd")} AS r_qp_given_d,
                    ${part("r_qd", "r_qp", "r_pd")} AS r_qd_given_p,
                    ${part("r_pd", "r_qp", "r_qd")} AS r_pd_given_q
             FROM r""")
    },
    (s, d) => {
      val r = Tables.lineitem(s, d).agg(
        Num.qround(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("r_qp"),
        Num.qround(corr(col("l_quantity"), col("l_discount")), 6)
          .as("r_qd"),
        Num.qround(corr(col("l_extendedprice"), col("l_discount")), 6)
          .as("r_pd"))
      def part(rxy: Column, rxz: Column, ryz: Column) =
        (rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
      r.select(col("r_qp"), col("r_qd"), col("r_pd"),
        part(col("r_qp"), col("r_qd"), col("r_pd")).as("r_qp_given_d"),
        part(col("r_qd"), col("r_qp"), col("r_pd")).as("r_qd_given_p"),
        part(col("r_pd"), col("r_qp"), col("r_qd")).as("r_pd_given_q"))
    })

  // --------------------------------------- Simpson's-paradox screen

  /** Simpson's-paradox screen (X243 — Simpson 1951 / Yule 1903: a
    * per-stratum association whose SIGN flips against the pooled
    * one — the classic aggregation trap every cohort dashboard walks
    * into; this screen runs the comparison for every stratum before
    * anyone trusts the pooled number). Value-vs-hour correlation per
    * event type vs pooled: both lanes the X126 qround(6) CORR device
    * (hour is an exact integer lane); reversal = strict sign product
    * < 0 on the quantized values (deterministic boolean). */
  val simpsonScreen = QueryDef(
    "q_simpson", {
      val x = "CAST(hour(ts) AS DOUBLE)"
      Some(s"""WITH p AS (
               SELECT ${Num.qroundSql(s"CORR($x, value)", 6)}
                 AS r_pooled
               FROM events),
             g AS (
               SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      ${Num.qroundSql(s"CORR($x, value)", 6)} AS r_type
               FROM events GROUP BY event_type)
             SELECT g.event_type, g.n, g.r_type, p.r_pooled,
                    g.r_type * p.r_pooled < 0.0 AS reversed
             FROM g CROSS JOIN p
             ORDER BY g.event_type""")
    },
    (s, d) => {
      val x = hour(col("ts")).cast("double")
      val e = Tables.events(s, d).select(col("event_type"),
        x.as("x"), col("value"))
        .localCheckpoint(true) // pooled action + per-type aggregate
      val pooled = e.agg(Num.qround(corr(col("x"), col("value")), 6))
        .head().getDouble(0)
      e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Num.qround(corr(col("x"), col("value")), 6).as("r_type"))
        .withColumn("r_pooled", lit(pooled))
        .withColumn("reversed", col("r_type") * col("r_pooled") < 0.0)
        .orderBy("event_type")
    })

  /** Multivariate two-sample energy-distance drift on EMBEDDINGS
    * (X288 — Székely & Rizzo 2004: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|,
    * zero iff the distributions match; every other drift monitor here
    * (X113 KS, X114 PSI, X229 Wasserstein) is 1-D — this is the one
    * that sees a shift in 64-dim vector space). Two comparisons run
    * side by side: the null id-split (expected ≈ 0) and a planted
    * +0.25 shift on dim 1 of the B side (expected > 0) — the operator
    * demonstrates sensitivity AND calibration on one fixture. Scale
    * shape: the DISTRIBUTED work is the deterministic md5 bottom-64
    * sample per side (one bounded aggregate each — the X77 device);
    * the 64×64 distance matrices are then driver math over bounded
    * samples (the X109 device — ≤ 4096 sqrt folds, each replicating
    * the oracle's 0.0-init zip-fold exactly); the three means are the
    * aggregated lanes, qround(6). The oracle cross-joins the same
    * 64-row CTEs. */
  val energyDrift = QueryDef(
    "q_energy_drift",
    Some {
      val dist =
        """sqrt(list_reduce(list_transform(range(1, 65),
             i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])),
             (x, y) -> x + y))"""
      def lanes(aT: String, bT: String) = s"""
              SELECT ${Num.qroundSql(
                s"AVG($dist)", 6)} AS e_ab
              FROM $aT a CROSS JOIN $bT b"""
      s"""WITH ev AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS v,
                     CAST('0x' || substring(md5('energy:'
                         || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
                       AS h
              FROM embeddings),
            sa AS MATERIALIZED (
              SELECT v FROM ev WHERE vec_id % 2 = 0
              ORDER BY h, vec_id LIMIT 64),
            sb0 AS MATERIALIZED (
              SELECT v FROM ev WHERE vec_id % 2 = 1
              ORDER BY h, vec_id LIMIT 64),
            sbs AS MATERIALIZED (
              SELECT list_transform(range(1, 65),
                i -> CASE WHEN i = 1 THEN v[i] + 0.25 ELSE v[i] END)
                AS v
              FROM sb0),
            xy0 AS (${lanes("sa", "sb0")}),
            xx AS (${lanes("sa", "sa")}),
            yy0 AS (${lanes("sb0", "sb0")}),
            xys AS (${lanes("sa", "sbs")}),
            yys AS (${lanes("sbs", "sbs")})
            SELECT 'null_split' AS comparison,
                   xy0.e_ab AS e_xy, xx.e_ab AS e_xx, yy0.e_ab AS e_yy,
                   2.0 * xy0.e_ab - xx.e_ab - yy0.e_ab AS energy_dist
            FROM xy0, xx, yy0
            UNION ALL
            SELECT 'planted_shift',
                   xys.e_ab, xx.e_ab, yys.e_ab,
                   2.0 * xys.e_ab - xx.e_ab - yys.e_ab
            FROM xys, xx, yys
            ORDER BY comparison"""
    },
    (s, d) => {
      val ev = Tables.embeddings(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        conv(substring(md5(concat(lit("energy:"),
          col("vec_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      def sample(side: Int): Array[Array[Double]] = ev
        .filter(pmod(col("vec_id"), lit(2)) === side)
        .orderBy(col("h"), col("vec_id")).limit(64)
        .select("v").collect() // 64 rows: bounded driver metadata
        .map(_.getSeq[Double](0).toArray)
      val sa = sample(0)
      val sb0 = sample(1)
      val sbs = sb0.map(v => v.zipWithIndex.map { case (x, i) =>
        if (i == 0) x + 0.25 else x
      })
      // the oracle's 0.0-init zip-fold, replicated exactly
      def dist(a: Array[Double], b: Array[Double]): Double =
        math.sqrt(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + (x - y) * (x - y)
        })
      def eab(a: Array[Array[Double]], b: Array[Array[Double]]) =
        Num.qround(a.flatMap(x => b.map(y => dist(x, y))).sum /
          (a.length.toDouble * b.length), 6)
      val (exy0, exx, eyy0) = (eab(sa, sb0), eab(sa, sa), eab(sb0, sb0))
      val (exys, eyys) = (eab(sa, sbs), eab(sbs, sbs))
      import s.implicits._
      Seq(
        ("null_split", exy0, exx, eyy0, 2.0 * exy0 - exx - eyy0),
        ("planted_shift", exys, exx, eyys, 2.0 * exys - exx - eyys))
        .toDF("comparison", "e_xy", "e_xx", "e_yy", "energy_dist")
        .orderBy("comparison")
    })

  /** AMS F2 sketch — the second frequency moment Σf² by random ±1
    * signs (X297, Alon–Matias–Szegedy 1996: E[(Σ_k sign(k)·f_k)²] =
    * F2, the self-join-size / skew estimator that costs ONE counter
    * per estimator instead of one per key; the moment sibling of
    * X148's count-min point estimates and X75's HLL F0). Sixteen
    * estimators, signs from the portable salted-md5 parity (the X286-
    * audited uniformity device), each S_j an exact integer fold over
    * the DISTINCT-KEY table — frequencies aggregate once, the 16-way
    * fan-out touches users, never events. Emits per-estimator rows
    * (the spread IS the method's variance story) next to the exact F2
    * and the mean-of-16 estimate; every lane is exact integers until
    * two IEEE divides (÷16.0 exact, one rel-err divide). At 100 TB:
    * one keyed aggregate + a 16-row reduce — sketch state is 16 longs
    * regardless of stream size. */
  val amsF2 = QueryDef(
    "q_ams_f2",
    Some("""WITH f AS (
              SELECT user_id AS u, CAST(COUNT(*) AS BIGINT) AS f
              FROM events GROUP BY user_id),
            js AS (SELECT CAST(j.range AS INT) AS j FROM range(0, 16) j),
            sg AS (
              SELECT j, f,
                     (CAST('0x' || substring(md5('ams' ||
                        CAST(j AS VARCHAR) || ':' ||
                        CAST(u AS VARCHAR)), 1, 8) AS BIGINT) % 2)
                       * 2 - 1 AS sgn
              FROM f CROSS JOIN js),
            sj AS (
              SELECT j, CAST(SUM(sgn * f) AS BIGINT) AS s_j
              FROM sg GROUP BY j),
            ex AS (SELECT CAST(SUM(f * f) AS BIGINT) AS f2 FROM f),
            mn AS (
              SELECT CAST(SUM(s_j * s_j) AS DOUBLE) / 16.0 AS m FROM sj)
            SELECT sj.j, sj.s_j,
                   CAST(sj.s_j * sj.s_j AS BIGINT) AS est_j,
                   ex.f2 AS f2_exact,
                   mn.m AS f2_est_mean,
                   CAST(sj.s_j * sj.s_j - ex.f2 AS DOUBLE) /
                     CAST(ex.f2 AS DOUBLE) AS rel_err_j
            FROM sj, ex, mn ORDER BY sj.j"""),
    (s, d) => {
      val f = Tables.events(s, d)
        .groupBy(col("user_id").as("u")).agg(count(lit(1)).as("f"))
      def sgn(j: Int): Column =
        (conv(substring(md5(concat(lit(s"ams$j:"),
          col("u").cast("string"))), 1, 8), 16, 10).cast("long") % 2) *
          lit(2L) - lit(1L)
      val sums = (0 until 16).map(j =>
        sum(sgn(j) * col("f")).as(s"s$j"))
      val agg = f.agg(sums.head,
        (sums.tail :+ sum(col("f") * col("f")).as("f2")): _*)
      val meanExpr = (0 until 16).map(j => col(s"s$j") * col(s"s$j"))
        .reduce(_ + _).cast("double") / 16.0
      agg.select(
          explode(array((0 until 16).map(j => struct(lit(j).as("j"),
            col(s"s$j").as("s_j"))): _*)).as("r"),
          col("f2"), meanExpr.as("m"))
        .select(col("r.j").as("j"), col("r.s_j").as("s_j"),
          (col("r.s_j") * col("r.s_j")).as("est_j"),
          col("f2").as("f2_exact"),
          col("m").as("f2_est_mean"),
          ((col("r.s_j") * col("r.s_j") - col("f2")).cast("double") /
            col("f2").cast("double")).as("rel_err_j"))
        .orderBy("j")
    })

  val all: Seq[QueryDef] = Seq(jsDivergence, cramersV, olsTrend,
    energyDrift,
    lexicalDiversity, cusumChange, maseEval, theilSen, sourceOverlap,
    conformal, jackknife, ipfRake, ebShrink, woeIv, quantileReg,
    wassersteinDrift, emMixture, anova, partialCorr, simpsonScreen,
    amsF2)
}
