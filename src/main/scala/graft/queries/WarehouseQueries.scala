package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 warehouse-core operators (SURVEY §2l X210–X211): the
  * dimensional-modeling devices every Kimball-style warehouse ships —
  * slowly-changing-dimension history build, point-in-time enrichment
  * against it — plus the HyperLogLog register sketch (the
  * industry-standard distinct counter next to X130's KMV).
  *
  * Reference scope note: the reference pipeline (SURVEY §2) rebuilds
  * its dimension tables from scratch each year — no history, no
  * point-in-time semantics. These rows are the extension surface that
  * makes the same dictionary data usable for longitudinal joins.
  */
object WarehouseQueries {

  // ------------------------------------------------------ SCD Type 2

  /** The SCD2 interval oracle CTEs: events `e` (user_id, event_type,
    * us, event_id), type changes `c` numbered per user (version), and
    * the intervals as CTE `name` (user_id, version, event_type,
    * valid_from_us, valid_to_us). */
  private def scd2Sql(name: String): String =
    s"""WITH e AS (
             SELECT user_id, event_type, epoch_us(ts) AS us, event_id
             FROM events),
           o AS (
             SELECT user_id, event_type, us, event_id,
                    lag(event_type) OVER
                      (PARTITION BY user_id ORDER BY us, event_id)
                      AS prev
             FROM e),
           c AS (
             SELECT user_id, event_type, us AS valid_from_us,
                    row_number() OVER
                      (PARTITION BY user_id ORDER BY us, event_id)
                      AS version
             FROM o WHERE prev IS NULL OR prev <> event_type),
           $name AS (
             SELECT user_id, version, event_type, valid_from_us,
                    lead(valid_from_us) OVER
                      (PARTITION BY user_id ORDER BY version)
                      AS valid_to_us
             FROM c)"""

  /** The events the SCD2 rows read: (user_id, event_type, us, event_id). */
  private def scd2Events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"),
      col("event_id"))

  /** The Spark side of [[scd2Sql]] over [[scd2Events]]: (user_id,
    * event_type, valid_from_us, version, valid_to_us). */
  private def scd2(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wv = Window.partitionBy("user_id").orderBy("version")
    e.withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type"),
        col("us").as("valid_from_us"),
        row_number().over(w).as("version"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(wv))
  }

  /** Slowly-changing-dimension Type 2 build (X210 — Kimball's SCD2:
    * turn a change-event stream into validity intervals
    * [valid_from, valid_to) with a version counter and an is_current
    * flag, collapsing consecutive no-change rows first). Here the
    * per-user `event_type` stream plays the tracked attribute: a
    * user's dimension row changes whenever their event type differs
    * from the previous event's.
    *
    * Shape: two windows partitioned by user_id (ONE shuffle on the
    * natural dimension key, reused by both — Catalyst collapses
    * same-partitioning windows into one exchange), ordered by the
    * total key (ts, event_id) so ties are deterministic. No global
    * window, no driver loop: at 100 TB this is a single keyed sort
    * per user, the minimum any interval build needs. Timestamps are
    * emitted as epoch micros (exact integer lane). */
  val scd2Build = QueryDef(
    "q_scd2_build",
    Some(s"""${scd2Sql("f")}
           SELECT user_id, version, event_type, valid_from_us,
                  valid_to_us,
                  CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END
                    AS is_current
           FROM f ORDER BY user_id, version"""),
    (s, d) => {
      scd2(scd2Events(s, d))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from_us"), col("valid_to_us"),
          when(col("valid_to_us").isNull, 1).otherwise(0)
            .as("is_current"))
        .orderBy("user_id", "version")
    })

  /** Point-in-time (PIT) enrichment against the X210 SCD2 dimension
    * (Kimball's "as-was" join: each fact row picks the dimension
    * version whose validity interval CONTAINS its timestamp). Probe
    * set = a deterministic ~6% event slice (pmod(event_id, 17) = 0 —
    * the X12 discipline, no RNG). The join is an EQUI join on
    * user_id with the interval containment as a residual predicate —
    * a shuffled hash join on the dimension key, never a range
    * cross-product; per-user interval counts are bounded by that
    * user's change count, so the residual filter is local and cheap.
    *
    * Self-consistency contract (pinned in WarehouseSpec): the
    * interval containing any event was opened by the most recent
    * type CHANGE at or before it, so the matched dimension type must
    * equal the probe event's own type — every PIT row is its own
    * oracle. */
  val scd2Pit = QueryDef(
    "q_scd2_pit",
    Some(s"""${scd2Sql("dim")},
           probe AS (
             SELECT event_id, user_id, event_type, us FROM e
             WHERE event_id % 17 = 0)
           SELECT p.event_id, p.user_id, p.us, d.version,
                  d.event_type AS dim_type,
                  CASE WHEN d.valid_to_us IS NULL THEN 1 ELSE 0 END
                    AS is_current
           FROM probe p JOIN dim d
             ON p.user_id = d.user_id
            AND p.us >= d.valid_from_us
            AND (d.valid_to_us IS NULL OR p.us < d.valid_to_us)
           ORDER BY p.event_id"""),
    (s, d) => {
      val e = scd2Events(s, d)
      val dim = scd2(e)
        .select(col("user_id").as("d_user"), col("version"),
          col("event_type").as("dim_type"), col("valid_from_us"),
          col("valid_to_us"))
      val probe = e.filter(pmod(col("event_id"), lit(17)) === 0)
      probe.join(dim,
          col("user_id") === col("d_user") &&
          col("us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("us") < col("valid_to_us")))
        .select(col("event_id"), col("user_id"), col("us"),
          col("version"), col("dim_type"),
          when(col("valid_to_us").isNull, 1).otherwise(0)
            .as("is_current"))
        .orderBy("event_id")
    })

  /** The STREAMING twin of q_scd2_build (X259 — see
    * [[graft.streaming.EventStream.scd2Stream]]): per-user
    * flatMapGroupsWithState emitting CLOSED validity intervals
    * append-only; the open interval stays in the state store. Replayed
    * through the real runtime (Trigger.AvailableNow) and hashed
    * against the batch SQL restricted to closed intervals — a green
    * row IS batch/stream SCD2 parity, completing the warehouse
    * family's batch/stream story the way X15/X43 did for
    * windows/dedup. */
  val streamScd2 = QueryDef(
    "q_stream_scd2",
    Some(s"""${scd2Sql("f")}
           SELECT user_id, version, event_type, valid_from_us,
                  valid_to_us
           FROM f WHERE valid_to_us IS NOT NULL
           ORDER BY user_id, version"""),
    (s, d) => {
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/events.parquet")
      EventStream.runAvailableNow(s,
        EventStream.scd2Stream(EventStream.readEvents(s, src)),
        "q_stream_scd2_sink", outputMode = "append",
        statePartitions = 4)
        .orderBy("user_id", "version")
    })

  // ---------------------------------------------------- HyperLogLog

  /** The HLL family's salted 48-bit user hash (the first 12 hex digits
    * of md5('graft-hll:' || user_id)) and bias constant α for m = 256
    * registers, as SQL text and as Spark values. */
  private val hllHashSql = "CAST('0x' || substring(md5('graft-hll:' || " +
    "CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)"
  private val HllAlphaSql = "(0.7213 / (1.0 + 1.079 / 256.0))"
  private def hllHash: Column = conv(substring(md5(concat(lit("graft-hll:"),
    col("user_id").cast("string"))), 1, 12), 16, 10).cast("long")
  private val HllAlpha = 0.7213 / (1.0 + 1.079 / 256.0)

  /** The register pass of the batch HLL oracles: hashes `k`, register
    * index and remainder `r`, and per (event_type, idx) the register
    * value mj in `regs`. */
  private val hllRegsSql =
    s"""WITH k AS (
               SELECT event_type, $hllHashSql AS h FROM events),
             r AS (
               SELECT event_type, h >> 40 AS idx,
                      h & ((1::BIGINT << 40) - 1) AS rem
               FROM k),
             regs AS (
               SELECT event_type, idx,
                      MAX(CASE WHEN rem = 0 THEN 41
                          ELSE 41 - length(bin(rem)) END) AS mj
               FROM r GROUP BY 1, 2)"""

  /** The Spark side of [[hllRegsSql]] over (event_type, user_id) rows:
    * (event_type, idx, mj). */
  private def hllRegisters(e: DataFrame): DataFrame =
    e.select(col("event_type"),
        shiftright(hllHash, 40).as("idx"),
        hllHash.bitwiseAND(lit((1L << 40) - 1)).as("rem"))
      .groupBy("event_type", "idx")
      .agg(max(when(col("rem") === 0, 41)
        .otherwise(lit(41) - length(bin(col("rem"))))).as("mj"))

  /** The estimate from raw = α·m²/Σ2^-M and the empty-register count:
    * linear counting m·ln(m/zeros) when raw ≤ 2.5·m and a register is
    * empty, else raw; qround(6). */
  private def hllEstimate(raw: Column, zeros: Column): Column =
    Num.qround(when(raw <= 640.0 && zeros > 0,
      lit(256.0) * log(lit(256.0) / zeros.cast("double")))
      .otherwise(raw), 6)

  /** HyperLogLog distinct-user estimate per event type (X211 —
    * Flajolet et al. 2007, the register sketch behind every
    * warehouse APPROX_COUNT_DISTINCT; the stochastic-averaging
    * sibling of X130's KMV bottom-k). b = 8 → m = 256 registers.
    *
    * Portable-hash register math, exact on both engines: h = the
    * first 48 md5 bits of the salted key; register index = the top 8
    * bits; ρ = position of the first 1-bit in the remaining 40 (via
    * length(bin(rem)) — an exact integer/string lane, not a log2
    * float). Registers are a groupBy(type, idx) MAX — map-side
    * combinable, 256 bounded rows per group, the idiomatic Spark
    * form of the sketch (register merge ≡ the aggregate's own max).
    * The harmonic sum Σ2^{-M_j} adds exact powers of two spanning
    * < 53 bits, so it is order-independent and EXACT; only the final
    * estimate (one division, plus the linear-counting ln lane when
    * the small-range correction fires) carries qround(6).
    *
    * At 100 TB: the sketch never materializes distinct keys — the
    * only exact-distinct pass here is the eval lane that makes the
    * approximation error measurable (the X74 recall discipline). */
  val hllDistinct = QueryDef(
    "q_hll_distinct", {
      Some(s"""$hllRegsSql,
             agg AS (
               SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS registers_hit,
                      SUM(1.0 / CAST((1::BIGINT << mj) AS DOUBLE))
                        AS sp
               FROM regs GROUP BY 1),
             est AS (
               SELECT event_type, registers_hit,
                      256 - registers_hit AS zeros,
                      $HllAlphaSql * 65536.0 /
                        (sp + CAST(256 - registers_hit AS DOUBLE))
                        AS raw
               FROM agg),
             fin AS (
               SELECT event_type, registers_hit, zeros,
                      ${Num.qroundSql(
                        """CASE WHEN raw <= 640.0 AND zeros > 0
                           THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                           ELSE raw END""", 6)} AS est
               FROM est),
             ex AS (
               SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS n_rows,
                      CAST(COUNT(DISTINCT user_id) AS BIGINT)
                        AS exact_distinct
               FROM events GROUP BY 1)
             SELECT f.event_type, ex.n_rows, ex.exact_distinct,
                    f.registers_hit, f.zeros, f.est,
                    ${Num.qroundSql(
                      "abs(f.est - CAST(ex.exact_distinct AS DOUBLE))" +
                      " / CAST(ex.exact_distinct AS DOUBLE)", 6)}
                      AS rel_err
             FROM fin f JOIN ex USING (event_type)
             ORDER BY event_type""")
    },
    (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        col("user_id"))
      val regs = hllRegisters(e)
      val agg = regs.groupBy("event_type")
        .agg(count(lit(1)).as("registers_hit"),
          sum(lit(1.0) / expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(mj AS INT)) AS DOUBLE)"))
            .as("sp"))
      val est = agg
        .withColumn("zeros", lit(256) - col("registers_hit"))
        .withColumn("raw", lit(HllAlpha) * 65536.0 /
          (col("sp") + col("zeros").cast("double")))
        .withColumn("est", hllEstimate(col("raw"), col("zeros")))
      val ex = e.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("exact_distinct"))
      est.join(ex, Seq("event_type"))
        .select(col("event_type"), col("n_rows"), col("exact_distinct"),
          col("registers_hit"), col("zeros"), col("est"),
          Num.qround(abs(col("est") - col("exact_distinct")
            .cast("double")) / col("exact_distinct").cast("double"), 6)
            .as("rel_err"))
        .orderBy("event_type")
    })

  /** STREAMING HyperLogLog distinct-count (X225 — the X211 sketch as
    * a NATIVE mergeable aggregate pushed through the real streaming
    * runtime: [[graft.functions.HllRegisters]] runs inside a
    * streaming groupBy.agg in complete mode, exercising the
    * partial/merge machinery (merge ≡ element-wise register max) the
    * way X141 proved it for KMV. The register vector the aggregate
    * emits is bit-identical to the batch groupBy-MAX formulation's,
    * so q_hll_distinct's ORACLE serves this query unchanged — a green
    * row proves sketch-native streaming and the relational batch form
    * agree to the last register. The estimate tail (harmonic fold of
    * exact powers of two, linear-counting correction) is evaluated
    * from the emitted registers by one sequential HOF fold — exact,
    * order-free (<53-bit span). */
  val streamHll = QueryDef(
    "q_stream_hll",
    hllDistinct.oracle, // the batch formulation's SQL, verbatim
    (s, d) => {
      import graft.functions.SketchFunctions
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/events.parquet")
      val plan = EventStream.readEvents(s, src)
        .select(col("event_type"), hllHash.as("h"))
        .groupBy("event_type")
        .agg(SketchFunctions.hllRegisters(col("h")).as("regs"))
      val sk = EventStream.runAvailableNow(s, plan, "q_stream_hll_sink",
        outputMode = "complete", statePartitions = 4)
      val regs = s.createDataFrame(sk.rdd, sk.schema) // re-root (X115b)
      val sumpow = expr("""aggregate(regs, CAST(0.0 AS DOUBLE),
        (acc, m) -> acc +
          1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE))""")
      val zeros = size(filter(col("regs"), m => m === 0)).cast("long")
      val est0 = regs
        .withColumn("zeros", zeros)
        .withColumn("registers_hit", lit(256L) - col("zeros"))
        .withColumn("raw", lit(HllAlpha) * 65536.0 / sumpow)
        .withColumn("est", hllEstimate(col("raw"), col("zeros")))
      val ex = Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("exact_distinct"))
      est0.join(ex, Seq("event_type"))
        .select(col("event_type"), col("n_rows"), col("exact_distinct"),
          col("registers_hit"), col("zeros"), col("est"),
          Num.qround(abs(col("est") - col("exact_distinct")
            .cast("double")) / col("exact_distinct").cast("double"), 6)
            .as("rel_err"))
        .orderBy("event_type")
    })

  /** STREAMING hourly windowed HLL distinct-count (X254 — the X225
    * register aggregate under event-time WINDOWS: one streaming
    * groupBy(window, type).agg over the real runtime gives the
    * "live distinct users per hour" dashboard — per-group state is
    * a fixed 256 bytes regardless of user cardinality, which is why
    * windowed sketches are how streaming distinct-count dashboards
    * exist at all (a windowed exact distinct holds every id in
    * state). Register math and the estimate tail are the X211/X225
    * lanes verbatim; hour keys are exact epoch integers; exact
    * replays per (hour, type) make the window-level error measurable
    * (X74). */
  val streamHllWindow = QueryDef(
    "q_stream_hll_window", {
      Some(s"""WITH k AS (
               SELECT event_type,
                      epoch_us(ts) // 3600000000 AS hr,
                      $hllHashSql AS h
               FROM events),
             r AS (
               SELECT event_type, hr, h >> 40 AS idx,
                      h & ((1::BIGINT << 40) - 1) AS rem
               FROM k),
             regs AS (
               SELECT event_type, hr, idx,
                      MAX(CASE WHEN rem = 0 THEN 41
                          ELSE 41 - length(bin(rem)) END) AS mj
               FROM r GROUP BY 1, 2, 3),
             agg AS (
               SELECT event_type, hr,
                      SUM(1.0 / CAST((1::BIGINT << mj) AS DOUBLE))
                        AS sp,
                      256 - CAST(COUNT(*) AS BIGINT) AS zeros
               FROM regs GROUP BY 1, 2),
             est AS (
               SELECT event_type, hr, zeros,
                      $HllAlphaSql * 65536.0 /
                        (sp + CAST(zeros AS DOUBLE)) AS raw
               FROM agg),
             fin AS (
               SELECT event_type, hr,
                      ${Num.qroundSql(
                        """CASE WHEN raw <= 640.0 AND zeros > 0
                           THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                           ELSE raw END""", 6)} AS est
               FROM est),
             ex AS (
               SELECT event_type,
                      epoch_us(ts) // 3600000000 AS hr,
                      CAST(COUNT(DISTINCT user_id) AS BIGINT)
                        AS exact_distinct
               FROM events GROUP BY 1, 2)
             SELECT f.event_type, f.hr, ex.exact_distinct, f.est,
                    ${Num.qroundSql(
                      "abs(f.est - CAST(ex.exact_distinct AS DOUBLE))" +
                      " / CAST(ex.exact_distinct AS DOUBLE)", 6)}
                      AS rel_err
             FROM fin f JOIN ex
               ON ex.event_type = f.event_type AND ex.hr = f.hr
             ORDER BY f.event_type, f.hr""")
    },
    (s, d) => {
      import graft.functions.SketchFunctions
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/events.parquet")
      val plan = EventStream.readEvents(s, src)
        .select(window(col("ts"), "1 hour").as("win"),
          col("event_type"), hllHash.as("h"))
        .groupBy("win", "event_type")
        .agg(SketchFunctions.hllRegisters(col("h")).as("regs"))
      val sk = EventStream.runAvailableNow(s, plan,
        "q_stream_hll_window_sink", outputMode = "complete",
        statePartitions = 4)
      val regs = s.createDataFrame(sk.rdd, sk.schema) // re-root (X115b)
        .select(expr("unix_micros(win.start) div 3600000000").as("hr"),
          col("event_type"), col("regs"))
      val sumpow = expr("""aggregate(regs, CAST(0.0 AS DOUBLE),
        (acc, m) -> acc +
          1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE))""")
      val zeros = size(filter(col("regs"), m => m === 0)).cast("long")
      val est0 = regs
        .withColumn("zeros", zeros)
        .withColumn("raw", lit(HllAlpha) * 65536.0 / sumpow)
        .withColumn("est", hllEstimate(col("raw"), col("zeros")))
      val ex = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(countDistinct("user_id").as("exact_distinct"))
      est0.join(ex, Seq("event_type", "hr"))
        .select(col("event_type"), col("hr"), col("exact_distinct"),
          col("est"),
          Num.qround(abs(col("est") - col("exact_distinct")
            .cast("double")) / col("exact_distinct").cast("double"), 6)
            .as("rel_err"))
        .orderBy("event_type", "hr")
    })

  // -------------------------------------------------- MERGE / upsert

  /** MERGE INTO (upsert) semantics with action audit (X218 — the
    * warehouse write primitive SCD1 updates, CDC applies, and
    * lakehouse MERGE statements all reduce to: base LEFT JOIN changes
    * on the key, rows classified keep / update / delete / insert,
    * one pass, no row visited twice). The change set is derived
    * deterministically from the base (pmod(custkey,10): 0 → update
    * +100, 1 → delete, 2 → insert at key+10⁷ — disjoint by
    * construction, so the key join is 1:≤1). The merged table is the
    * keep∪update survivors plus the inserts, each row carrying its
    * action — deletes are absent by definition and auditable as the
    * row-count delta (pinned in WarehouseSpec). All lanes exact
    * (integer keys, dyadic-exact +100/·1.5 on the doubles). Scale:
    * ONE equi shuffle join on the merge key + a union of the
    * insert slice — the minimum a distributed MERGE can do. */
  val mergeUpsert = QueryDef(
    "q_merge_upsert",
    Some("""WITH chg AS (
             SELECT c_custkey AS k, 'U' AS op,
                    c_acctbal + 100.0 AS v
             FROM customer WHERE c_custkey % 10 = 0
             UNION ALL
             SELECT c_custkey, 'D', NULL FROM customer
             WHERE c_custkey % 10 = 1
             UNION ALL
             SELECT c_custkey + 10000000, 'I',
                    CAST(c_custkey AS DOUBLE) * 1.5
             FROM customer WHERE c_custkey % 10 = 2),
           survivors AS (
             SELECT b.c_custkey AS k,
                    CASE WHEN c.op = 'U' THEN c.v
                         ELSE b.c_acctbal END AS acctbal,
                    CASE WHEN c.op = 'U' THEN 'update'
                         ELSE 'keep' END AS action
             FROM customer b
             LEFT JOIN chg c
               ON c.k = b.c_custkey AND c.op IN ('U', 'D')
             WHERE c.op IS NULL OR c.op <> 'D'),
           merged AS (
             SELECT * FROM survivors
             UNION ALL
             SELECT k, v, 'insert' FROM chg WHERE op = 'I')
           SELECT k AS c_custkey, acctbal, action
           FROM merged ORDER BY c_custkey"""),
    (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"))
        .localCheckpoint(true) // base AND the derived change set
      val m10 = pmod(col("c_custkey"), lit(10))
      val chg = base.filter(m10 === 0)
        .select(col("c_custkey").as("k"), lit("U").as("op"),
          (col("c_acctbal") + 100.0).as("v"))
        .union(base.filter(m10 === 1)
          .select(col("c_custkey"), lit("D"),
            lit(null).cast("double")))
        .union(base.filter(m10 === 2)
          .select(col("c_custkey") + 10000000L, lit("I"),
            col("c_custkey").cast("double") * 1.5))
      val survivors = base
        .join(chg.filter(col("op").isin("U", "D")),
          col("k") === col("c_custkey"), "left")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("c_custkey"),
          when(col("op") === "U", col("v")).otherwise(col("c_acctbal"))
            .as("acctbal"),
          when(col("op") === "U", "update").otherwise("keep")
            .as("action"))
      survivors
        .union(chg.filter(col("op") === "I")
          .select(col("k"), col("v"), lit("insert")))
        .orderBy("c_custkey")
    })

  // ----------------------------------------------------- UNPIVOT

  /** Pivot → UNPIVOT round-trip (X219 — the melt half of reshaping,
    * the inverse X16's pivot only implies: a wide per-status ×
    * priority revenue matrix stacked back to tidy long form. The
    * oracle is the DIRECT long-form aggregate, so a green row proves
    * wide→long loses nothing — the property every "export to
    * spreadsheet, re-ingest" hop silently depends on). Pivot values
    * are the enumerated priority alphabet (explicit list — Spark
    * never scans to discover columns, the scale discipline for
    * pivot); absent cells unpivot to NULL and are dropped to match
    * the long form. Sums are fold-order doubles → qround(2) (the
    * q1_agg discipline). */
  val unpivotMelt = QueryDef(
    "q_unpivot",
    Some(s"""SELECT o_orderstatus,
                  o_orderpriority AS priority,
                  ${Num.qroundSql("SUM(o_totalprice)", 2)} AS total
           FROM orders
           GROUP BY o_orderstatus, o_orderpriority
           ORDER BY o_orderstatus, priority"""),
    (s, d) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val wide = Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(Num.qround(sum("o_totalprice"), 2))
      wide.unpivot(Array(col("o_orderstatus")),
          prios.map(col).toArray, "priority", "total")
        .filter(col("total").isNotNull)
        .orderBy("o_orderstatus", "priority")
    })

  // ----------------------------------------- cumulative distinct

  /** Cumulative distinct-user curve (X220 — "users to date", the
    * growth line on every dashboard; naively a running
    * COUNT(DISTINCT) which no engine does incrementally — the
    * standard rewrite is FIRST-TOUCH attribution: a user counts only
    * on their first-seen day, so the curve is a running SUM of daily
    * first-seen counts). First-seen = one keyed min; the running sum
    * rides the two-pass [[graft.ops.PrefixSum.runningTotalsAsc]]
    * device (bucketed partial windows + exclusive-offset literals —
    * no partition-less WindowExec, the W1 scale rule; the day key is
    * unique by construction so the device's distinct-order
    * precondition holds). All-integer lanes. */
  val cumulativeDistinct = QueryDef(
    "q_cumulative_distinct",
    Some("""WITH f AS (
             SELECT user_id, MIN(CAST(ts AS DATE)) AS day
             FROM events GROUP BY user_id),
           d AS (
             SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
             FROM f GROUP BY day)
           SELECT day, new_users,
                  CAST(SUM(new_users) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_users
           FROM d ORDER BY day"""),
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy("user_id").agg(min(col("ts").cast("date")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("day_num", datediff(col("day"),
          lit("1970-01-01").cast("date")).cast("long"))
      graft.ops.PrefixSum.runningTotalsAsc(daily, Seq("new_users"),
          "day_num", Seq("cum_users"))
        .select(col("day"), col("new_users"), col("cum_users"))
        .orderBy("day")
    })

  // ------------------------------------- range-partition planning

  /** Equal-depth range-partition plan (X226 — the histogram-driven
    * boundary assignment behind every range partitioner and sort
    * shuffle (TeraSort's sampler, Spark's RangePartitioner): given
    * the key-frequency histogram, assign each key to the partition
    * its EXCLUSIVE cumulative offset falls in at depth ⌈N/P⌉ —
    * heavy keys stay atomic (a key is never split), so the report's
    * skew factor shows exactly where load balance breaks and a
    * salting decision (X17) becomes data-driven). P = 16 over the
    * orders-per-customer histogram. The cumulative offset rides the
    * two-pass [[graft.ops.PrefixSum.runningTotalsAsc]] device (no
    * partition-less WindowExec; unique custkey satisfies its
    * precondition). All-integer lanes except the skew ratio
    * (exact-integer-fed divide, hashes raw). */
  val rangePartitionPlan = QueryDef(
    "q_range_partition_plan",
    Some("""WITH k AS (
             SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS c
             FROM orders GROUP BY o_custkey),
           cum AS (
             SELECT key, c,
                    CAST(SUM(c) OVER (ORDER BY key
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) - c AS startoff
             FROM k),
           t AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM k),
           asg AS (
             SELECT cum.key, cum.c,
                    cum.startoff // ((t.total + 15) // 16) AS pid
             FROM cum CROSS JOIN t)
           SELECT pid,
                  CAST(MIN(key) AS BIGINT) AS min_key,
                  CAST(MAX(key) AS BIGINT) AS max_key,
                  CAST(COUNT(*) AS BIGINT) AS n_keys,
                  CAST(SUM(c) AS BIGINT) AS n_rows,
                  CAST(SUM(c) AS DOUBLE) /
                    ((SELECT CAST(total AS DOUBLE) FROM t) / 16.0)
                    AS skew
           FROM asg GROUP BY pid ORDER BY pid"""),
    (s, d) => {
      val k = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("c"))
      val cum = graft.ops.PrefixSum.runningTotalsAsc(k, Seq("c"),
          "key", Seq("cumc"))
        .withColumn("startoff", col("cumc") - col("c"))
        .localCheckpoint(true) // total action + the assignment scan
      val total = cum.agg(sum("c")).head().getLong(0)
      val depth = (total + 15) / 16
      cum.withColumn("pid", expr(s"startoff div $depth"))
        .groupBy("pid")
        .agg(min("key").as("min_key"), max("key").as("max_key"),
          count(lit(1)).as("n_keys"), sum("c").as("n_rows"))
        .withColumn("skew",
          col("n_rows").cast("double") / (lit(total.toDouble) / 16.0))
        .orderBy("pid")
    })

  // --------------------------------------- delete-propagation audit

  /** Right-to-be-forgotten cascade audit (X230 — the GDPR/CCPA
    * erasure primitive: delete a subject set and PROVE no surviving
    * row still references it across the foreign-key chain
    * customer → orders → lineitem, plus the events stream keyed by
    * the same subject space. The residual_refs column is the point:
    * it RECOMPUTES dangling references from the surviving rows
    * rather than asserting zero — the q_anti_join verified-empty
    * discipline, per table). Subject set = keys ≡ 0 (mod 13). Every
    * lane is a semi/anti equi-join count — the cascade is expressible
    * at any scale as the same keyed joins; the 4-row summary is
    * bounded driver metadata (the funnelSummary device). */
  val forgetAudit = QueryDef(
    "q_forget_audit",
    Some("""WITH delc AS (
             SELECT c_custkey AS k FROM customer
             WHERE c_custkey % 13 = 0),
           delo AS (
             SELECT o_orderkey AS ok FROM orders
             WHERE o_custkey IN (SELECT k FROM delc)),
           delli AS (
             SELECT l_orderkey FROM lineitem
             WHERE l_orderkey IN (SELECT ok FROM delo)),
           dele AS (
             SELECT event_id FROM events WHERE user_id % 13 = 0)
           SELECT * FROM (
           SELECT 'customer' AS tbl,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
                    AS rows_before,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM delc)
                    AS rows_deleted,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
                   WHERE c_custkey NOT IN (SELECT k FROM delc))
                    AS rows_after,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
                   WHERE c_custkey % 13 = 0
                     AND c_custkey NOT IN (SELECT k FROM delc))
                    AS residual_refs
           UNION ALL
           SELECT 'events',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM dele),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                   WHERE event_id NOT IN (SELECT event_id FROM dele)),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                   WHERE user_id % 13 = 0
                     AND event_id NOT IN (SELECT event_id FROM dele))
           UNION ALL
           SELECT 'lineitem',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM delli),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT ok FROM delo)),
                  (SELECT CAST(COUNT(*) AS BIGINT)
                   FROM lineitem l JOIN orders o
                     ON l.l_orderkey = o.o_orderkey
                   WHERE l.l_orderkey NOT IN (SELECT ok FROM delo)
                     AND o.o_custkey IN (SELECT k FROM delc))
           UNION ALL
           SELECT 'orders',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM delo),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                   WHERE o_orderkey NOT IN (SELECT ok FROM delo)),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                   WHERE o_custkey IN (SELECT k FROM delc)
                     AND o_orderkey NOT IN (SELECT ok FROM delo))) uq
           ORDER BY tbl"""),
    (s, d) => {
      val cust = Tables.customer(s, d)
      val ords = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val ev = Tables.events(s, d)
      val delC = cust.filter(pmod(col("c_custkey"), lit(13)) === 0)
        .select(col("c_custkey").as("k")).localCheckpoint(true)
      val delO = ords.join(delC, col("o_custkey") === col("k"),
        "left_semi").select(col("o_orderkey").as("ok"))
        .localCheckpoint(true)
      val custAfter = cust.join(delC, col("c_custkey") === col("k"),
        "left_anti")
      val ordsAfter = ords.join(delO, col("o_orderkey") === col("ok"),
        "left_anti").localCheckpoint(true)
      val liAfter = li.join(delO, col("l_orderkey") === col("ok"),
        "left_anti")
      val evDel = ev.filter(pmod(col("user_id"), lit(13)) === 0)
      val rows = Seq(
        ("customer", cust.count(), delC.count(), custAfter.count(),
          custAfter.filter(pmod(col("c_custkey"), lit(13)) === 0)
            .count()),
        ("events", ev.count(), evDel.count(),
          ev.count() - evDel.count(),
          ev.join(evDel.select("event_id"), Seq("event_id"),
            "left_anti").filter(pmod(col("user_id"), lit(13)) === 0)
            .count()),
        ("lineitem", li.count(),
          li.join(delO, col("l_orderkey") === col("ok"), "left_semi")
            .count(),
          liAfter.count(),
          liAfter.join(ords, col("l_orderkey") === col("o_orderkey"))
            .join(delC, col("o_custkey") === col("k"), "left_semi")
            .count()),
        ("orders", ords.count(), delO.count(), ordsAfter.count(),
          ordsAfter.join(delC, col("o_custkey") === col("k"),
            "left_semi").count()))
      import s.implicits._
      rows.toDF("tbl", "rows_before", "rows_deleted", "rows_after",
        "residual_refs").orderBy("tbl")
    })

  // ------------------------------------------- hierarchy rollup

  /** Bill-of-materials / hierarchy subtree rollup (X233 — the parts-
    * explosion aggregate every catalog and org-chart warehouse needs:
    * per internal node, the size and value of its WHOLE subtree.
    * Naively a recursive query; at scale the standard rewrite is the
    * ANCESTOR-PATH EXPLODE: a node's ancestor chain is bounded by
    * tree DEPTH (≤ 7 here), so each leaf emits ≤ 7 (ancestor, leaf)
    * rows and the rollup is ONE explode + ONE keyed aggregate — no
    * iteration, no recursion, no closure. Tree = the implicit decimal
    * trie on p_partkey + 1 (parent = key div 10; the +1 makes the id
    * space 1-based — key 0 has no decimal digits and would fall out
    * of the trie), the X66-style deterministic carve). level = digit
    * count (exact string lane);
    * subtree_value is a fold-order money sum → qround(2) (the q1_agg
    * discipline); counts exact. */
  val hierarchyRollup = QueryDef(
    "q_hierarchy_rollup",
    Some(s"""WITH anc AS (
             SELECT unnest(list_transform(
                      [1, 10, 100, 1000, 10000, 100000, 1000000],
                      dv -> (p_partkey + 1) // dv)) AS node,
                    p_retailprice AS v
             FROM part),
           live AS (SELECT node, v FROM anc WHERE node > 0)
           SELECT node,
                  CAST(length(CAST(node AS VARCHAR)) AS INT) AS lvl,
                  CAST(COUNT(*) AS BIGINT) AS subtree_n,
                  ${Num.qroundSql("SUM(v)", 2)} AS subtree_value
           FROM live GROUP BY node
           ORDER BY node"""),
    (s, d) => {
      val divisors = (0 to 6).map(i => math.pow(10, i).toLong)
      val anc = Tables.part(s, d).select(
        explode(array(divisors.map(dv =>
          expr(s"(p_partkey + 1) div $dv")): _*)).as("node"),
        col("p_retailprice").as("v"))
        .filter(col("node") > 0)
      anc.groupBy("node")
        .agg(count(lit(1)).as("subtree_n"),
          Num.qround(sum("v"), 2).as("subtree_value"))
        .select(col("node"),
          length(col("node").cast("string")).as("lvl"),
          col("subtree_n"), col("subtree_value"))
        .orderBy("node")
    })

  // --------------------------------------------- HLL set algebra

  /** HyperLogLog set algebra (X234 — Flajolet's register merge is a
    * semilattice: max-merging two types' registers IS the sketch of
    * their UNION, and |A∩B| falls out by inclusion–exclusion — the
    * audience-overlap estimate every ads/reach dashboard computes
    * from sketches because the raw id sets are too big to intersect;
    * the register-family sibling of X130's KMV merge-union). Shares
    * the X211 register construction (same salt, same ρ lanes); the
    * pair merge is one equi-join on register index over the bounded
    * (types × 256) table; estimates replay the X211 formula on the
    * merged registers; intersections are differences of qround(6)
    * lanes (deterministic); the exact replays make both estimates'
    * error measurable (X74 discipline). */
  val hllAlgebra = QueryDef(
    "q_hll_algebra", {
      def estFrom(spCol: String, zerosCol: String) =
        Num.qroundSql(
          s"""CASE WHEN $HllAlphaSql * 65536.0 /
                ($spCol + CAST($zerosCol AS DOUBLE)) <= 640.0
                AND $zerosCol > 0
              THEN 256.0 * ln(256.0 / CAST($zerosCol AS DOUBLE))
              ELSE $HllAlphaSql * 65536.0 /
                ($spCol + CAST($zerosCol AS DOUBLE)) END""", 6)
      Some(s"""$hllRegsSql,
             single AS (
               SELECT event_type,
                      SUM(1.0 / CAST((1::BIGINT << mj) AS DOUBLE))
                        AS sp,
                      256 - CAST(COUNT(*) AS BIGINT) AS zeros
               FROM regs GROUP BY 1),
             sest AS (
               SELECT event_type,
                      ${estFrom("sp", "zeros")} AS est
               FROM single),
             tp AS (
               SELECT a.event_type AS type_a, b.event_type AS type_b
               FROM (SELECT DISTINCT event_type FROM events) a
               JOIN (SELECT DISTINCT event_type FROM events) b
                 ON a.event_type < b.event_type),
             pr AS (
               SELECT tp.type_a, tp.type_b, r.idx, r.mj
               FROM tp JOIN regs r ON r.event_type = tp.type_a
               UNION ALL
               SELECT tp.type_a, tp.type_b, r.idx, r.mj
               FROM tp JOIN regs r ON r.event_type = tp.type_b),
             merged AS (
               SELECT type_a, type_b, idx, MAX(mj) AS mj
               FROM pr GROUP BY 1, 2, 3),
             um AS (
               SELECT type_a, type_b,
                      SUM(1.0 / CAST((1::BIGINT << mj) AS DOUBLE))
                        AS sp,
                      256 - CAST(COUNT(*) AS BIGINT) AS zeros
               FROM merged GROUP BY 1, 2),
             uest AS (
               SELECT type_a, type_b,
                      ${estFrom("sp", "zeros")} AS est_union
               FROM um),
             du AS (SELECT DISTINCT event_type, user_id FROM events),
             exu AS (
               SELECT a.event_type AS type_a, b.event_type AS type_b,
                      CAST(COUNT(DISTINCT a.user_id) AS BIGINT)
                        AS exact_intersect
               FROM du a JOIN du b
                 ON a.user_id = b.user_id
                AND a.event_type < b.event_type
               GROUP BY 1, 2),
             exs AS (
               SELECT event_type,
                      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
               FROM events GROUP BY 1)
             SELECT u.type_a, u.type_b,
                    sa.est AS est_a, sb.est AS est_b, u.est_union,
                    ${Num.qroundSql(
                      "sa.est + sb.est - u.est_union", 6)}
                      AS est_intersect,
                    ea.ex + eb.ex - x.exact_intersect AS exact_union,
                    x.exact_intersect
             FROM uest u
             JOIN sest sa ON sa.event_type = u.type_a
             JOIN sest sb ON sb.event_type = u.type_b
             JOIN exs ea ON ea.event_type = u.type_a
             JOIN exs eb ON eb.event_type = u.type_b
             JOIN exu x ON x.type_a = u.type_a AND x.type_b = u.type_b
             ORDER BY u.type_a, u.type_b""")
    },
    (s, d) => {
      def estFrom(sp: Column, zeros: Column) =
        hllEstimate(lit(HllAlpha) * 65536.0 / (sp + zeros.cast("double")),
          zeros)
      val e = Tables.events(s, d).select(col("event_type"),
        col("user_id"))
      val regs = hllRegisters(e)
        .localCheckpoint(true) // singles + the pair merge
      val pw = lit(1.0) / expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(mj AS INT)) AS DOUBLE)")
      val single = regs.groupBy("event_type")
        .agg(sum(pw).as("sp"),
          (lit(256L) - count(lit(1))).as("zeros"))
        .select(col("event_type"),
          estFrom(col("sp"), col("zeros")).as("est"))
      // bounded type alphabet -> pair literal frame (X109 device; a
      // relational t_a < t_b pairing of two 1-col frames would plan
      // as the banned BroadcastNestedLoopJoin)
      val typeList = e.select("event_type").distinct().collect()
        .map(_.getString(0)).sorted
      val pairsSeq = for {
        a <- typeList.toSeq; b <- typeList.toSeq if a < b
      } yield (a, b)
      import s.implicits._
      val tp = broadcast(pairsSeq.toDF("type_a", "type_b"))
      val pr = tp.join(regs, col("event_type") === col("type_a"))
        .select(col("type_a"), col("type_b"), col("idx"), col("mj"))
        .union(tp.join(regs, col("event_type") === col("type_b"))
          .select(col("type_a"), col("type_b"), col("idx"), col("mj")))
      val merged = pr.groupBy("type_a", "type_b", "idx")
        .agg(max("mj").as("mj"))
      val uest = merged.groupBy("type_a", "type_b")
        .agg(sum(lit(1.0) / expr(
          "CAST(shiftleft(CAST(1 AS BIGINT), CAST(mj AS INT)) AS DOUBLE)"))
          .as("sp"), (lit(256L) - count(lit(1))).as("zeros"))
        .select(col("type_a"), col("type_b"),
          estFrom(col("sp"), col("zeros")).as("est_union"))
      val du = e.distinct()
      val exu = du.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(du.select(col("event_type").as("type_b"),
          col("user_id")), Seq("user_id"))
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(countDistinct("user_id").as("exact_intersect"))
      val exs = e.groupBy("event_type")
        .agg(countDistinct("user_id").as("ex"))
      uest
        .join(single.select(col("event_type").as("type_a"),
          col("est").as("est_a")), Seq("type_a"))
        .join(single.select(col("event_type").as("type_b"),
          col("est").as("est_b")), Seq("type_b"))
        .join(exs.select(col("event_type").as("type_a"),
          col("ex").as("exa")), Seq("type_a"))
        .join(exs.select(col("event_type").as("type_b"),
          col("ex").as("exb")), Seq("type_b"))
        .join(exu, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("est_a"),
          col("est_b"), col("est_union"),
          Num.qround(col("est_a") + col("est_b") - col("est_union"), 6)
            .as("est_intersect"),
          (col("exa") + col("exb") - col("exact_intersect"))
            .as("exact_union"),
          col("exact_intersect"))
        .orderBy("type_a", "type_b")
    })

  // --------------------------------------------- data contracts

  /** Data-contract validation report (X250 — the dbt-tests /
    * Great-Expectations primitive: a battery of declared invariants
    * (PK uniqueness, FK coverage, null rates, domain ranges) run as
    * ONE query whose output is the contract report — the formalized
    * version of the checks X120's RI audit and X41's profile do ad
    * hoc. Every check is a violation COUNT (exact integer) with its
    * pass verdict; a green hash means both engines agree on every
    * violation count, including the zeros). Shapes: counts +
    * distinct-counts + anti-join counts — all keyed equi work; the
    * 8-row report is bounded driver metadata (funnelSummary device). */
  val dataContract = QueryDef(
    "q_data_contract",
    Some("""SELECT * FROM (
           SELECT 'customer_pk_unique' AS chk,
                  (SELECT CAST(COUNT(*) - COUNT(DISTINCT c_custkey)
                     AS BIGINT) FROM customer) AS violations
           UNION ALL
           SELECT 'orders_fk_customer',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                   WHERE o_custkey NOT IN
                     (SELECT c_custkey FROM customer))
           UNION ALL
           SELECT 'lineitem_fk_orders',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                   WHERE l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders))
           UNION ALL
           SELECT 'lineitem_qty_range',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                   WHERE l_quantity < 1 OR l_quantity > 50)
           UNION ALL
           SELECT 'orders_price_positive',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                   WHERE o_totalprice <= 0)
           UNION ALL
           SELECT 'documents_text_nonempty',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                   WHERE text IS NULL OR length(text) = 0)
           UNION ALL
           SELECT 'events_ts_in_era',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                   WHERE ts IS NULL
                      OR date_part('year', ts) < 2020
                      OR date_part('year', ts) >= 2030)
           UNION ALL
           SELECT 'events_value_nonnegative',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                   WHERE value < 0)) uq
           ORDER BY chk"""),
    (s, d) => {
      val cust = Tables.customer(s, d)
      val ords = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val docs = Tables.documents(s, d)
      val ev = Tables.events(s, d)
      val checks = Seq(
        ("customer_pk_unique",
          cust.count() - cust.select("c_custkey").distinct().count()),
        ("orders_fk_customer",
          ords.join(cust.select(col("c_custkey").as("k")),
            col("o_custkey") === col("k"), "left_anti").count()),
        ("lineitem_fk_orders",
          li.join(ords.select(col("o_orderkey").as("k")),
            col("l_orderkey") === col("k"), "left_anti").count()),
        ("lineitem_qty_range",
          li.filter(col("l_quantity") < 1 || col("l_quantity") > 50)
            .count()),
        ("orders_price_positive",
          ords.filter(col("o_totalprice") <= 0).count()),
        ("documents_text_nonempty",
          docs.filter(col("text").isNull || length(col("text")) === 0)
            .count()),
        ("events_ts_in_era",
          ev.filter(col("ts").isNull || year(col("ts")) < 2020 ||
            year(col("ts")) >= 2030).count()),
        ("events_value_nonnegative",
          ev.filter(col("value") < 0).count()))
      import s.implicits._
      checks.toDF("chk", "violations").orderBy("chk")
    })

  /** Time-travel / snapshot-as-of reads (X261 — the Delta/Iceberg
    * `VERSION AS OF` identity over a CDC log: state_as_of(T) =
    * latest-wins compaction of all changes with ts ≤ T, the X129
    * device parameterized by cutoff). Three snapshots materialize in
    * ONE pass: each event row explodes into exactly the cutoffs it
    * precedes (fan-out ≤ |cutoffs|, a per-row expression — no
    * re-scan per snapshot), then one window partitioned by
    * (cutoff, user_id) elects each user's latest version per
    * snapshot. The last cutoff lies past the data's horizon, so its
    * lane hash-pins as-of(∞) ≡ the full X129 compaction. Cutoff
    * micros are computed ONCE in Scala and interpolated into both
    * engines (exact integer lane). At 100 TB: fan-out×corpus
    * fixed-width rows through one keyed shuffle — the minimum any
    * multi-snapshot replay needs. */
  val timeTravel = QueryDef(
    "q_time_travel", {
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-02-01").map(c =>
        c -> java.time.Instant.parse(s"${c}T00:00:00Z")
          .toEpochMilli * 1000L)
      val values = cuts.map { case (l, us) => s"('$l', $us)" }
        .mkString(", ")
      Some(s"""WITH x AS (
             SELECT c.cutoff, user_id, event_id, event_type, value,
                    epoch_us(ts) AS us
             FROM events, (VALUES $values) c(cutoff, cut_us)
             WHERE epoch_us(ts) <= c.cut_us),
           v AS (
             SELECT cutoff, user_id, event_id, event_type, value,
                    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                    CAST(COUNT(*) OVER (PARTITION BY cutoff, user_id)
                      AS BIGINT) AS n_versions
             FROM x
             WINDOW w AS (PARTITION BY cutoff, user_id
                          ORDER BY us DESC, event_id DESC))
           SELECT cutoff, user_id, event_id AS last_event_id,
                  event_type AS last_type, value AS last_value,
                  n_versions
           FROM v WHERE rn = 1 ORDER BY cutoff, user_id""")
    },
    (s, d) => {
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-02-01").map(c =>
        c -> java.time.Instant.parse(s"${c}T00:00:00Z")
          .toEpochMilli * 1000L)
      val cutArr = array(cuts.map { case (l, us) =>
        struct(lit(l).as("cutoff"), lit(us).as("cut_us"))
      }: _*)
      val ev = Tables.events(s, d).select(col("user_id"),
        col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      val exploded = ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("us"),
          explode(filter(cutArr, c => col("us") <= c("cut_us")))
            .as("c"))
        .select(col("c.cutoff").as("cutoff"), col("user_id"),
          col("event_id"), col("event_type"), col("value"), col("us"))
      val w = Window.partitionBy("cutoff", "user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      val cw = Window.partitionBy("cutoff", "user_id")
      exploded
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_versions", count(lit(1)).over(cw))
        .filter(col("rn") === 1)
        .select(col("cutoff"), col("user_id"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          col("value").as("last_value"), col("n_versions"))
        .orderBy("cutoff", "user_id")
    })

  /** HLL-sketch incremental view maintenance (X267 — the composition
    * of X251's IVM identity with X211's register sketch: an EXACT
    * distinct-count view cannot be incrementally maintained (deletes
    * aside, arriving keys may or may not be new), but the HLL
    * register view CAN — merge ≡ element-wise register MAX, so
    * view(base ∪ Δ) ≡ max-merge(view(base), view(Δ)) and the refresh
    * never rescans base. This query RUNS both lanes on a 90/10
    * event_id split and pins them register-for-register: n_reg_diff
    * counts (type, idx) cells where merged ≠ recomputed — an
    * exact-integer lane that must be 0 — alongside both estimate
    * tails. Shape: ONE hashed scan (localCheckpoint) feeds base/Δ/
    * full register tables; merge is a 256-row-per-type union re-max;
    * at 100 TB the maintained lane touches only Δ plus two
    * 256-row-per-group sketches. */
  val ivmHll = QueryDef(
    "q_ivm_hll", {
      def estSql(src: String, tag: String) = s"""
            agg_$tag AS (
              SELECT event_type,
                     CAST(COUNT(*) AS BIGINT) AS registers_hit,
                     SUM(1.0 / CAST((1::BIGINT << mj) AS DOUBLE)) AS sp
              FROM $src GROUP BY 1),
            fin_$tag AS (
              SELECT event_type, registers_hit,
                     ${Num.qroundSql(
                       s"""CASE WHEN $HllAlphaSql * 65536.0 /
                             (sp + CAST(256 - registers_hit AS DOUBLE))
                               <= 640.0
                             AND 256 - registers_hit > 0
                           THEN 256.0 * ln(256.0 /
                             CAST(256 - registers_hit AS DOUBLE))
                           ELSE $HllAlphaSql * 65536.0 /
                             (sp + CAST(256 - registers_hit AS DOUBLE))
                           END""", 6)} AS est
              FROM agg_$tag)"""
      Some(s"""WITH k AS (
              SELECT event_id, event_type, $hllHashSql AS h FROM events),
            rho AS (
              SELECT event_id, event_type, h >> 40 AS idx,
                     CASE WHEN h & ((1::BIGINT << 40) - 1) = 0 THEN 41
                          ELSE 41 - length(bin(h & ((1::BIGINT << 40) - 1)))
                          END AS rho
              FROM k),
            rb AS (SELECT event_type, idx, MAX(rho) AS mj FROM rho
                   WHERE event_id % 10 <> 0 GROUP BY 1, 2),
            rd AS (SELECT event_type, idx, MAX(rho) AS mj FROM rho
                   WHERE event_id % 10 = 0 GROUP BY 1, 2),
            rm AS (SELECT event_type, idx, MAX(mj) AS mj FROM
                     (SELECT * FROM rb UNION ALL SELECT * FROM rd)
                   GROUP BY 1, 2),
            rf AS (SELECT event_type, idx, MAX(rho) AS mj FROM rho
                   GROUP BY 1, 2),
            ${estSql("rm", "m")},
            ${estSql("rf", "f")},
            dif AS (
              SELECT COALESCE(m.event_type, f.event_type) AS event_type,
                     CAST(SUM(CASE WHEN m.mj IS DISTINCT FROM f.mj
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_reg_diff
              FROM rm m FULL JOIN rf f
                ON f.event_type = m.event_type AND f.idx = m.idx
              GROUP BY 1)
            SELECT m.event_type,
                   m.registers_hit AS hit_merged,
                   f.registers_hit AS hit_full,
                   m.est AS est_merged, f.est AS est_full,
                   d.n_reg_diff
            FROM fin_m m
            JOIN fin_f f USING (event_type)
            JOIN dif d USING (event_type)
            ORDER BY m.event_type""")
    },
    (s, d) => {
      val rho = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          shiftright(hllHash, 40).as("idx"),
          hllHash.bitwiseAND(lit((1L << 40) - 1)).as("rem"))
        .select(col("event_id"), col("event_type"), col("idx"),
          when(col("rem") === 0, 41)
            .otherwise(lit(41) - length(bin(col("rem")))).as("rho"))
        .localCheckpoint(true) // base/delta/full share the hash scan
      def regs(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type", "idx").agg(max("rho").as("mj"))
      val rb = regs(rho.filter(pmod(col("event_id"), lit(10)) =!= 0))
      val rd = regs(rho.filter(pmod(col("event_id"), lit(10)) === 0))
      val rm = rb.unionAll(rd).groupBy("event_type", "idx")
        .agg(max("mj").as("mj"))
      val rf = regs(rho)
      def estimate(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("event_type")
        .agg(count(lit(1)).as("registers_hit"),
          sum(lit(1.0) / expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(mj AS INT)) AS DOUBLE)"))
            .as("sp"))
        .withColumn("zeros", lit(256) - col("registers_hit"))
        .withColumn("raw", lit(HllAlpha) * 65536.0 /
          (col("sp") + col("zeros").cast("double")))
        .select(col("event_type"), col("registers_hit"),
          hllEstimate(col("raw"), col("zeros")).as("est"))
      val em = estimate(rm).select(col("event_type"),
        col("registers_hit").as("hit_merged"),
        col("est").as("est_merged"))
      val ef = estimate(rf).select(col("event_type").as("etf"),
        col("registers_hit").as("hit_full"), col("est").as("est_full"))
      val dif = rm.select(col("event_type").as("mt"), col("idx").as("mi"),
          col("mj").as("mmj"))
        .join(rf.select(col("event_type").as("ft"), col("idx").as("fi"),
          col("mj").as("fmj")),
          col("ft") === col("mt") && col("fi") === col("mi"), "full")
        .groupBy(coalesce(col("mt"), col("ft")).as("event_type"))
        .agg(sum(when(!(col("mmj") <=> col("fmj")), 1L).otherwise(0L))
          .as("n_reg_diff"))
      em.join(ef, col("etf") === col("event_type"))
        .join(dif.select(col("event_type").as("etd"), col("n_reg_diff")),
          col("etd") === col("event_type"))
        .select(col("event_type"), col("hit_merged"), col("hit_full"),
          col("est_merged"), col("est_full"), col("n_reg_diff"))
        .orderBy("event_type")
    })

  // ------------------------------- incremental view maintenance

  /** Incremental materialized-view maintenance (X251 — the IVM
    * identity behind every streaming rollup and Delta/Materialize
    * refresh: for distributive aggregates, view(base ∪ Δ) ≡
    * merge(view(base), view(Δ)) — refreshing costs O(|Δ|), never a
    * rescan. This query RUNS both sides on a deterministic 90/10
    * base/delta split of orders and emits them side by side: a green
    * hash pins both engines to the same merged AND fully-recomputed
    * views, and the equality columns make the identity itself
    * auditable). Counts are exact; money sums carry qround(2) on
    * BOTH the merged and recomputed lanes (fold orders differ — the
    * q1_agg discipline); equality verdicts are booleans on the
    * quantized lanes. */
  val ivmAgg = QueryDef(
    "q_ivm_agg",
    Some(s"""WITH base AS (
             SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
           delta AS (
             SELECT * FROM orders WHERE o_orderkey % 10 = 0),
           vb AS (
             SELECT o_orderstatus AS st,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("SUM(o_totalprice)", 2)} AS sp
             FROM base GROUP BY 1),
           vd AS (
             SELECT o_orderstatus AS st,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("SUM(o_totalprice)", 2)} AS sp
             FROM delta GROUP BY 1),
           merged AS (
             SELECT COALESCE(vb.st, vd.st) AS st,
                    COALESCE(vb.n, 0) + COALESCE(vd.n, 0) AS n_merged,
                    ${Num.qroundSql(
                      "COALESCE(vb.sp, 0.0) + COALESCE(vd.sp, 0.0)", 2)}
                      AS sum_merged
             FROM vb FULL OUTER JOIN vd ON vd.st = vb.st),
           full_v AS (
             SELECT o_orderstatus AS st,
                    CAST(COUNT(*) AS BIGINT) AS n_full,
                    ${Num.qroundSql("SUM(o_totalprice)", 2)} AS sum_full
             FROM orders GROUP BY 1)
           SELECT m.st, m.n_merged, f.n_full, m.sum_merged, f.sum_full,
                  m.n_merged = f.n_full AS counts_equal,
                  ABS(m.sum_merged - f.sum_full) < 0.011 AS sums_equal
           FROM merged m JOIN full_v f ON f.st = m.st
           ORDER BY m.st"""),
    (s, d) => {
      val ords = Tables.orders(s, d)
        .localCheckpoint(true) // base/delta/full views share the scan
      val base = ords.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val delta = ords.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      def view(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("n"),
            Num.qround(sum("o_totalprice"), 2).as("sp"))
      val vb = view(base).select(col("st"), col("n").as("nb"),
        col("sp").as("spb"))
      val vd = view(delta).select(col("st").as("std"),
        col("n").as("nd"), col("sp").as("spd"))
      val merged = vb.join(vd, col("std") === col("st"), "full")
        .select(coalesce(col("st"), col("std")).as("st"),
          (coalesce(col("nb"), lit(0L)) + coalesce(col("nd"), lit(0L)))
            .as("n_merged"),
          Num.qround(coalesce(col("spb"), lit(0.0)) +
            coalesce(col("spd"), lit(0.0)), 2).as("sum_merged"))
      val full = view(ords).select(col("st").as("stf"),
        col("n").as("n_full"), col("sp").as("sum_full"))
      merged.join(full, col("stf") === col("st"))
        .select(col("st"), col("n_merged"), col("n_full"),
          col("sum_merged"), col("sum_full"),
          (col("n_merged") === col("n_full")).as("counts_equal"),
          (abs(col("sum_merged") - col("sum_full")) < 0.011)
            .as("sums_equal"))
        .orderBy("st")
    })

  /** Join-view incremental maintenance (X256 — completes X251's
    * aggregate-only IVM with the classic delta rule for a two-table
    * join view V = A ⋈ B under insert-only deltas:
    * ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, so refreshing the view costs
    * three delta-sided joins — each bounded by |Δ| on at least one
    * side — never a full A⋈B rescan. The query RUNS both lanes on a
    * deterministic 90/10 split of orders (by o_orderkey) and lineitem
    * (by l_partkey, independent of the join key so deltas land on
    * both sides of existing matches) and emits them side by side: the
    * maintained view (old view merged with the grouped delta
    * contribution, the X251 merge) against the full recompute, with
    * equality verdicts making the identity auditable.
    *
    * Scale shape: the three delta joins shuffle on the SAME join key
    * as the original view build (l_orderkey = o_orderkey) — at 100 TB
    * with a small Δ the two Δ-sided joins broadcast their delta side
    * under AQE and only A_old⋈ΔB touches big data, keyed. Money sums
    * carry qround(2) per lane (fold orders differ — the q1_agg
    * discipline); the merged sum re-quantizes the sum of two
    * quantized lanes exactly as X251 does. */
  val ivmJoin = QueryDef(
    "q_ivm_join",
    Some(s"""WITH oa AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
           da AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
           ob AS (SELECT * FROM lineitem WHERE l_partkey % 10 <> 0),
           db AS (SELECT * FROM lineitem WHERE l_partkey % 10 = 0),
           v_old AS (
             SELECT o_orderstatus AS st, l_returnflag AS rf,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("SUM(l_extendedprice)", 2)} AS sp
             FROM oa JOIN ob ON l_orderkey = o_orderkey GROUP BY 1, 2),
           dv AS (
             SELECT st, rf, CAST(COUNT(*) AS BIGINT) AS n,
                    ${Num.qroundSql("SUM(px)", 2)} AS sp
             FROM (
               SELECT o_orderstatus AS st, l_returnflag AS rf,
                      l_extendedprice AS px
               FROM da JOIN ob ON l_orderkey = o_orderkey
               UNION ALL
               SELECT o_orderstatus, l_returnflag, l_extendedprice
               FROM oa JOIN db ON l_orderkey = o_orderkey
               UNION ALL
               SELECT o_orderstatus, l_returnflag, l_extendedprice
               FROM da JOIN db ON l_orderkey = o_orderkey) u
             GROUP BY 1, 2),
           merged AS (
             SELECT COALESCE(v.st, d.st) AS st,
                    COALESCE(v.rf, d.rf) AS rf,
                    COALESCE(v.n, 0) + COALESCE(d.n, 0) AS n_maint,
                    ${Num.qroundSql(
                      "COALESCE(v.sp, 0.0) + COALESCE(d.sp, 0.0)", 2)}
                      AS sum_maint
             FROM v_old v FULL OUTER JOIN dv d
               ON d.st = v.st AND d.rf = v.rf),
           full_v AS (
             SELECT o_orderstatus AS st, l_returnflag AS rf,
                    CAST(COUNT(*) AS BIGINT) AS n_full,
                    ${Num.qroundSql("SUM(l_extendedprice)", 2)} AS sum_full
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             GROUP BY 1, 2)
           SELECT m.st, m.rf, m.n_maint, f.n_full,
                  m.sum_maint, f.sum_full,
                  m.n_maint = f.n_full AS counts_equal,
                  ABS(m.sum_maint - f.sum_full) < 0.011 AS sums_equal
           FROM merged m JOIN full_v f ON f.st = m.st AND f.rf = m.rf
           ORDER BY m.st, m.rf"""),
    (s, d) => {
      val ords = Tables.orders(s, d).localCheckpoint(true)
      val li = Tables.lineitem(s, d).localCheckpoint(true)
      val oa = ords.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val da = ords.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val ob = li.filter(pmod(col("l_partkey"), lit(10)) =!= 0)
      val db = li.filter(pmod(col("l_partkey"), lit(10)) === 0)
      def j(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.join(b, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderstatus").as("st"),
            col("l_returnflag").as("rf"),
            col("l_extendedprice").as("px"))
      def view(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("st", "rf").agg(count(lit(1)).as("n"),
          Num.qround(sum("px"), 2).as("sp"))
      val vOld = view(j(oa, ob))
      val dv = view(j(da, ob).unionAll(j(oa, db)).unionAll(j(da, db)))
        .select(col("st").as("std"), col("rf").as("rfd"),
          col("n").as("nd"), col("sp").as("spd"))
      val merged = vOld.join(dv,
          col("std") === col("st") && col("rfd") === col("rf"), "full")
        .select(coalesce(col("st"), col("std")).as("st"),
          coalesce(col("rf"), col("rfd")).as("rf"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("nd"), lit(0L)))
            .as("n_maint"),
          Num.qround(coalesce(col("sp"), lit(0.0)) +
            coalesce(col("spd"), lit(0.0)), 2).as("sum_maint"))
      val full = view(j(ords, li)).select(col("st").as("stf"),
        col("rf").as("rff"), col("n").as("n_full"),
        col("sp").as("sum_full"))
      merged.join(full, col("stf") === col("st") && col("rff") === col("rf"))
        .select(col("st"), col("rf"), col("n_maint"), col("n_full"),
          col("sum_maint"), col("sum_full"),
          (col("n_maint") === col("n_full")).as("counts_equal"),
          (abs(col("sum_maint") - col("sum_full")) < 0.011)
            .as("sums_equal"))
        .orderBy("st", "rf")
    })

  /** Two-table atomic transaction (X299 — VERDICT r15 #5, extending
    * X293's single-manifest commit to a TABLE SET: the corpus and its
    * dedup-verdict sidecar land under one commit prefix and become
    * visible through ONE manifest swap, so a reader never joins a new
    * corpus against stale verdicts — the cross-table consistency a
    * curation pipeline needs when corpus and audit must agree;
    * TxnSpec proves a crash between the two table writes leaves
    * readers on the old consistent pair). The `docs` table is the
    * corpus projection; `verdicts` is the exact-dup audit (canonical
    * = MIN doc_id per identical text, the q_dedup_exact rule). The
    * result is computed ONLY from the two tables read back through
    * the manifest — per source: corpus size, kept count, kept chars —
    * so a file missing from either table, or a verdict row from a
    * different commit than its doc row, breaks the hash. The oracle
    * replays both tables from first principles. Fresh single-use
    * commit id per invocation + GC (the X293 ADVICE discipline). */
  val txnCommit = QueryDef(
    "q_txn_commit",
    Some("""WITH v AS (
              SELECT doc_id,
                     MIN(doc_id) OVER (PARTITION BY text) AS canonical_id
              FROM documents)
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN v.canonical_id = d.doc_id
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN v.canonical_id = d.doc_id
                            THEN d.n_chars ELSE 0 END) AS BIGINT)
                     AS kept_chars
            FROM documents d JOIN v USING (doc_id)
            GROUP BY d.source ORDER BY d.source"""),
    (s, d) => {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_txn_commit_${ProcessHandle.current().pid()}").getPath
      val docs = Tables.documents(s, d)
      val corpus = docs.select("doc_id", "source", "n_chars")
      // fixed-width grouping key (the Dedup.exact md5 discipline —
      // text never crosses the verdict shuffle)
      val verdicts = docs
        .select(col("doc_id"),
          min("doc_id").over(Window.partitionBy(md5(col("text"))))
            .as("canonical_id"))
      graft.ops.Shard.writeTablesAtomic(
        Seq("docs" -> corpus, "verdicts" -> verdicts), dir,
        commitId = graft.ops.Shard.newCommitId())
      graft.ops.Shard.gcOldCommits(s, dir)
      val dBack = graft.ops.Shard.readTableViaManifest(s, dir, "docs")
      val vBack = graft.ops.Shard.readTableViaManifest(s, dir, "verdicts")
      dBack.join(vBack, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("canonical_id") === col("doc_id"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("canonical_id") === col("doc_id"), col("n_chars"))
            .otherwise(0L)).cast("long").as("kept_chars"))
        .orderBy("source")
    })

  val all: Seq[QueryDef] = Seq(scd2Build, scd2Pit, hllDistinct,
    streamHll, mergeUpsert, unpivotMelt, cumulativeDistinct,
    rangePartitionPlan, forgetAudit, hierarchyRollup, hllAlgebra,
    dataContract, ivmAgg, streamHllWindow, ivmJoin, streamScd2,
    timeTravel, ivmHll, txnCommit)
}
