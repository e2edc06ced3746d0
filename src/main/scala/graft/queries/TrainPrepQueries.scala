package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Num, Text}
import graft.ops.{Fim, Packing, Sampling}
import org.apache.spark.sql.functions._

/** Training-example preparation: the passes that turn a CURATED corpus
  * into what the trainer actually reads — weighted corpus subsampling,
  * fill-in-the-middle example construction, and packed-sequence
  * attention metadata. All deterministic (md5-derived randomness), so
  * every output byte is oracle-checked.
  */
object TrainPrepQueries {

  private val sqlToks =
    """list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)"""

  /** DuckDB mirror of Dsir.hashUniform (the exact (2h+1)/2⁵³ form —
    * integer arithmetic up to one exact power-of-two divide). */
  private def uniformSql(salt: String, id: String): String =
    s"""CAST(CAST('0x' || substring(md5('$salt'
       |      || CAST($id AS VARCHAR)), 1, 13) AS BIGINT)
       |    * 2 + 1 AS DOUBLE) / 9007199254740992.0""".stripMargin

  // ------------------------------------------------- X63 weighted WOR

  /** Weighted sampling without replacement (X63 — Efraimidis–Spirakis
    * A-ES / Gumbel top-k): sample 100 documents proportionally to
    * token count via the exponential race key ln(u)/w, u a
    * deterministic md5 uniform. The distributed shape is the point:
    * per-partition top-k heaps + a driver merge (TakeOrderedAndProject)
    * — no global sort, no window, no corpus shuffle. ln is a libm call
    * (≤1 ulp), so keys are qround(6)-canonicalized with id tie-breaks
    * — the q_ccnet_buckets rank discipline. */
  val sampleWeighted = QueryDef(
    "q_sample_weighted",
    Some(s"""WITH t AS (
              SELECT doc_id,
                     GREATEST(CAST(len($sqlToks) AS BIGINT), 1) AS weight
              FROM documents),
            k AS (
              SELECT doc_id, weight,
                     ${Num.qroundSql(
                       s"ln(${uniformSql("wrs:", "doc_id")}) " +
                         "/ CAST(weight AS DOUBLE)", 6)} AS skey
              FROM t),
            s AS (
              SELECT doc_id, weight, skey
              FROM k ORDER BY skey DESC, doc_id LIMIT 100)
            SELECT doc_id, weight, skey FROM s ORDER BY doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("weight",
          greatest(size(Text.tokens(col("text"))).cast("long"), lit(1L)))
      Sampling.weightedSample(docs, "doc_id", "weight", 100, "wrs:")
        .select("doc_id", "weight", "skey")
        .orderBy("doc_id")
    })

  // ------------------------------------------------------ X64 FIM

  /** Fill-in-the-middle transform (X64 — Bavarian et al. 2022): PSM
    * and joined-SPM reorders at md5-derived character cuts, applied to
    * ~50% of documents (integer hash-bucket gate, no float literal at
    * the boundary). Pure substring arithmetic — every output byte
    * hash-matches. A shuffle-free scan at any corpus size. */
  val fimTransform = QueryDef(
    "q_fim_transform",
    Some(s"""WITH c AS (
              SELECT doc_id, text, len(text) AS n,
                     CAST(FLOOR(${uniformSql("fim:a:", "doc_id")}
                       * CAST(len(text) + 1 AS DOUBLE)) AS BIGINT) AS a,
                     CAST(FLOOR(${uniformSql("fim:b:", "doc_id")}
                       * CAST(len(text) + 1 AS DOUBLE)) AS BIGINT) AS b,
                     CAST('0x' || substring(md5('fim:g:'
                         || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       < 2147483648 AS fim_applied
              FROM documents),
            m AS (
              SELECT doc_id, text, n, fim_applied,
                     LEAST(a, b) AS lo, GREATEST(a, b) AS hi
              FROM c)
            SELECT doc_id, fim_applied,
                   CASE WHEN fim_applied THEN lo ELSE 0 END AS lo,
                   CASE WHEN fim_applied THEN hi ELSE 0 END AS hi,
                   CASE WHEN fim_applied THEN
                     '${Fim.Pre}' || substring(text, 1, lo)
                       || '${Fim.Suf}' || substring(text, hi + 1, n - hi)
                       || '${Fim.Mid}' || substring(text, lo + 1, hi - lo)
                   ELSE text END AS psm,
                   CASE WHEN fim_applied THEN
                     '${Fim.Pre}${Fim.Suf}'
                       || substring(text, hi + 1, n - hi)
                       || '${Fim.Mid}' || substring(text, 1, lo)
                       || substring(text, lo + 1, hi - lo)
                   ELSE text END AS spm
            FROM m ORDER BY doc_id"""),
    (s, d) => Fim.transform(Tables.documents(s, d), "doc_id", "text",
        rate = 0.5, salt = "fim:")
      .select("doc_id", "fim_applied", "lo", "hi", "psm", "spm")
      .orderBy("doc_id"))

  // --------------------------------------------- X65 packed segments

  /** Packed-sequence attention metadata (X65 — the segment ids /
    * boundary flags trainers need when sequences are packed, extending
    * q_pack_bins): within each (source, bin), documents are numbered
    * (segment_id) and straddlers flagged (truncated). Windows
    * partition by REAL keys that shrink with the budget — no
    * partition-less window (the QueriesSpec plan sweep). */
  val packSegments = QueryDef(
    "q_pack_segments",
    Some(s"""WITH p AS (
              SELECT doc_id, source,
                     CAST(len($sqlToks) AS BIGINT) AS n_tokens,
                     CAST(SUM(CAST(len($sqlToks) AS BIGINT)) OVER w
                       - CAST(len($sqlToks) AS BIGINT) AS BIGINT)
                       AS start_offset
              FROM documents
              WINDOW w AS (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING))
            SELECT doc_id, source, n_tokens,
                   CAST(FLOOR(start_offset / 2048.0) AS BIGINT) AS bin,
                   start_offset % 2048 AS offset_in_bin,
                   CAST(row_number() OVER (
                       PARTITION BY source, FLOOR(start_offset / 2048.0)
                       ORDER BY doc_id) AS BIGINT) AS segment_id,
                   (start_offset % 2048) + n_tokens > 2048 AS truncated
            FROM p ORDER BY doc_id"""),
    (s, d) => Packing.packSegments(Tables.documents(s, d), "text",
        "source", "doc_id", budget = 2048L)
      .select("doc_id", "source", "n_tokens", "bin", "offset_in_bin",
        "segment_id", "truncated")
      .orderBy("doc_id"))

  /** Deterministic negative sampling (X152 — the contrastive-pair
    * corruption draw, see [[graft.ops.NegativeSampling]]): positives
    * = distinct (customer, part) purchase pairs; per customer, k=3
    * uniform negatives from the dense 1-based p_partkey space via
    * stateless md5 probes (k+slack=6 drawn, accidental positives
    * anti-joined out, first 3 survivors win in probe order). Fully
    * deterministic → the oracle replays draw, rejection, and rank. */
  val negativeSample = QueryDef(
    "q_negative_sample",
    Some("""WITH pos AS (
              SELECT DISTINCT o.o_custkey AS uid, l.l_partkey AS item
              FROM orders o JOIN lineitem l
                ON o.o_orderkey = l.l_orderkey),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ni FROM part),
            us AS (SELECT DISTINCT uid FROM pos),
            probes AS (
              SELECT us.uid, j.probe,
                     CAST('0x' || substring(md5('neg:'
                         || CAST(us.uid AS VARCHAR) || ':'
                         || CAST(j.probe AS VARCHAR)), 1, 12) AS BIGINT)
                       % n.ni + 1 AS neg_item
              FROM us CROSS JOIN n
                CROSS JOIN (SELECT unnest(range(1, 7)) AS probe) j),
            surv AS (
              SELECT p.uid, p.neg_item, CAST(p.probe AS BIGINT) AS probe
              FROM probes p
              WHERE NOT EXISTS (SELECT 1 FROM pos
                WHERE pos.uid = p.uid AND pos.item = p.neg_item)),
            r AS (
              SELECT uid, neg_item, probe,
                     CAST(ROW_NUMBER() OVER (PARTITION BY uid
                       ORDER BY probe) AS BIGINT) AS rank
              FROM surv)
            SELECT uid AS user_id, neg_item, probe, rank
            FROM r WHERE rank <= 3
            ORDER BY user_id, rank"""),
    (s, d) => {
      val pos = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("uid"), col("l_partkey").as("item"))
      val nItems = Tables.part(s, d).count()
      // itemBase = 1: p_partkey is 1..nItems (ADVICE r12 #1 — the
      // 0-based default emitted phantom part 0, never part nItems)
      graft.ops.NegativeSampling.perUser(pos, "uid", "item",
          nItems, k = 3, slack = 3, itemBase = 1L)
        .select(col("user").as("user_id"), col("neg_item"),
          col("probe"), col("rank"))
        .orderBy("user_id", "rank")
    })

  // --------------------------------------- X198 OOF target encoding

  /** Out-of-fold target encoding (X198 — Micci-Barreca SIGKDD 2001 +
    * the K-fold leakage control every gradient-boosting pipeline
    * bolts on: encode a high-cardinality categorical by the mean
    * target of OTHER folds' rows, so a row never sees its own label —
    * the encoding twin of X48's leakage-free split; the smoothed
    * variant shrinks rare categories toward the global prior,
    * (s_oof + m·p)/(n_oof + m), m = 10). Folds are the portable md5
    * hash-split (auditable, oracle-replayable); every encoding is an
    * EXACT integer-fed divide off one (source, fold) keyed aggregate
    * + one source-keyed rollup joined back — two bounded-width
    * aggregates, one broadcast-sized join to the doc scan; the
    * global prior is a bounded 1-row action re-entering as a literal
    * (X38 device). A source entirely inside one fold → NULL raw
    * encoding on both engines (the smoothed lane stays finite). */
  val targetEncode = QueryDef(
    "q_target_encode", {
      val fold = graft.ops.Bloom.hashModSql("te:", "doc_id", 3)
      Some(s"""WITH dd AS (
               SELECT doc_id, source, $fold AS fold,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents),
             g AS (
               SELECT source, fold, CAST(COUNT(*) AS BIGINT) AS n_sf,
                      CAST(SUM(y) AS BIGINT) AS s_sf
               FROM dd GROUP BY 1, 2),
             t AS (
               SELECT source, CAST(SUM(n_sf) AS BIGINT) AS n_s,
                      CAST(SUM(s_sf) AS BIGINT) AS s_s
               FROM g GROUP BY 1),
             p AS (
               SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS prior
               FROM dd)
             SELECT dd.doc_id, dd.source, dd.fold,
                    CAST(dd.y AS BIGINT) AS y,
                    CAST(t.s_s - g.s_sf AS DOUBLE) /
                      NULLIF(CAST(t.n_s - g.n_sf AS DOUBLE), 0.0)
                      AS te,
                    (CAST(t.s_s - g.s_sf AS DOUBLE) + 10.0 * p.prior) /
                      (CAST(t.n_s - g.n_sf AS DOUBLE) + 10.0) AS te_sm
             FROM dd
               JOIN g ON dd.source = g.source AND dd.fold = g.fold
               JOIN t ON dd.source = t.source
               CROSS JOIN p
             ORDER BY dd.doc_id""")
    },
    (s, d) => {
      val dd = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          graft.ops.Bloom.hashMod("te:", col("doc_id"), 3).as("fold"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .localCheckpoint(true) // grouped stats + prior + final join
      val g = dd.groupBy("source", "fold")
        .agg(count(lit(1)).as("n_sf"), sum("y").as("s_sf"))
      val t = g.groupBy("source")
        .agg(sum("n_sf").as("n_s"), sum("s_sf").as("s_s"))
      // bounded 1-row action: the global prior
      val pRow = dd.agg(sum("y"), count(lit(1))).head()
      val prior = pRow.getLong(0).toDouble / pRow.getLong(1)
      val sOof = (col("s_s") - col("s_sf")).cast("double")
      val nOof = (col("n_s") - col("n_sf")).cast("double")
      dd.join(broadcast(g), Seq("source", "fold"))
        .join(broadcast(t), Seq("source"))
        .select(col("doc_id"), col("source"), col("fold"), col("y"),
          (sOof / nOof).as("te"),
          ((sOof + lit(10.0) * lit(prior)) / (nOof + lit(10.0)))
            .as("te_sm"))
        .orderBy("doc_id")
    })

  // ------------------------------------------- X201 GBDT stumps

  private val GbdtProbs = (1 to 15).map(_ / 16.0)
  private val GbdtIters = 3
  private val GbdtNu = 0.5

  /** One boosting round as oracle CTEs: per-(feature, bin) residual
    * histogram, ordered-window prefixes (bit-identical to the
    * driver's sequential fold), SSE-reduction gains, the
    * deterministically tie-broken best stump, and the model update. */
  private def gbdtRoundSql(m: Int): String = {
    val p = m - 1
    s"""gh$m AS MATERIALIZED (
              SELECT lb.j, lb.bin, CAST(COUNT(*) AS BIGINT) AS c,
                     ${graft.functions.Num.qroundSql(
                       "SUM(fc.y - fc.f)", 6)} AS s
              FROM lb JOIN fc$p fc USING (doc_id)
              GROUP BY lb.j, lb.bin),
            gp$m AS (
              SELECT j, bin,
                     SUM(c) OVER w AS nl, SUM(s) OVER w AS sl
              FROM gh$m
              WINDOW w AS (PARTITION BY j ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            gt$m AS (
              SELECT p.j, p.nl AS nt, p.sl AS st
              FROM gp$m p JOIN (SELECT j, MAX(bin) AS mb FROM gp$m
                GROUP BY j) t ON p.j = t.j AND p.bin = t.mb),
            gg$m AS (
              SELECT p.j, p.bin, p.nl, p.sl, tt.nt, tt.st,
                     p.sl * p.sl / p.nl +
                       (tt.st - p.sl) * (tt.st - p.sl) / (tt.nt - p.nl)
                       - tt.st * tt.st / tt.nt AS gain
              FROM gp$m p JOIN gt$m tt ON p.j = tt.j
              WHERE p.nl > 0 AND tt.nt - p.nl > 0),
            gb$m AS MATERIALIZED (
              SELECT j, bin,
                     ${graft.functions.Num.qroundSql("sl / nl", 6)} AS vl,
                     ${graft.functions.Num.qroundSql(
                       "(st - sl) / (nt - nl)", 6)} AS vr
              FROM gg$m ORDER BY gain DESC, j, bin LIMIT 1),
            fc$m AS MATERIALIZED (
              SELECT fc.doc_id, fc.y, fc.b1, fc.b2, fc.b3, fc.b4,
                     fc.f + $GbdtNu * (CASE WHEN
                       (CASE b.j WHEN 1 THEN fc.b1 WHEN 2 THEN fc.b2
                         WHEN 3 THEN fc.b3 ELSE fc.b4 END) <= b.bin
                       THEN b.vl ELSE b.vr END) AS f
              FROM fc$p fc CROSS JOIN gb$m b)"""
  }

  /** Histogram gradient-boosted stumps (X201 — Friedman 2001 via the
    * Chen & Guestrin 2016 §3.3 hist algorithm, the shape XGBoost and
    * LightGBM distribute: features pre-bucketed into STATIC quantile
    * bins once, then each round is ONE map-side-combining pass
    * building the features×bins residual histogram — counts +
    * qround(6) sums, metadata-sized — with split search, leaf fit,
    * and model update all driver-side, literals re-entering the next
    * scan; see [[graft.ops.Gbdt]]. Rows never leave the cluster).
    * Task: predict ln(1+tokens) from (n_chars, punct ratio, digit
    * ratio, type-token ratio) — n_chars carries real signal, so the
    * stump chain genuinely splits and refines. Pinned as "3 stumps,
    * ν = 0.5, 16 static bins"; every lane is either exact-integer,
    * qround(6), or the sequential ordered prefix both engines
    * replay. */
  val gbdtStumps = QueryDef(
    "q_gbdt_stumps", {
      val fenceLists = (1 to 4).map { j =>
        s"""list_transform(quantile_cont(x$j,
               [${GbdtProbs.mkString(", ")}]),
               v -> FLOOR(v * 1000000 + 0.5) / 1000000) AS f$j"""
      }.mkString(",\n                      ")
      val binCols = (1 to 4).map(j =>
        s"len(list_filter(fen.f$j, v -> t0.x$j > v)) AS b$j")
        .mkString(",\n                      ")
      val longUnion = (1 to 4).map(j =>
        s"SELECT doc_id, $j AS j, b$j AS bin FROM tb")
        .mkString("\n              UNION ALL ")
      val rounds = (1 to GbdtIters).map(gbdtRoundSql)
        .mkString(",\n            ")
      Some(s"""WITH t00 AS (
               SELECT doc_id, text, n_chars, $sqlToks AS toks
               FROM documents),
             t0 AS (
               SELECT doc_id,
                      ${graft.functions.Num.qroundSql(
                        "LN(1 + len(toks))", 6)} AS y,
                      CAST(n_chars AS DOUBLE) AS x1,
                      CAST(length(regexp_replace(text, '[^.,;:!?]', '',
                        'g')) AS DOUBLE) / length(text) AS x2,
                      CAST(length(regexp_replace(text, '[^0-9]', '',
                        'g')) AS DOUBLE) / length(text) AS x3,
                      CAST(len(list_distinct(toks)) AS DOUBLE) /
                        len(toks) AS x4
               FROM t00
               WHERE len(toks) > 0 AND length(text) > 0),
             fen AS MATERIALIZED (
               SELECT $fenceLists FROM t0),
             tb AS MATERIALIZED (
               SELECT t0.doc_id, t0.y,
                      $binCols
               FROM t0 CROSS JOIN fen),
             lb AS MATERIALIZED (
              $longUnion),
             f0c AS (SELECT ${graft.functions.Num.qroundSql(
               "AVG(y)", 6)} AS v FROM tb),
             fc0 AS MATERIALIZED (
               SELECT tb.doc_id, tb.y, tb.b1, tb.b2, tb.b3, tb.b4,
                      f0c.v AS f
               FROM tb CROSS JOIN f0c),
             $rounds
             SELECT fc.doc_id, fc.y, fc.f AS pred,
                    ABS(fc.y - fc.f) AS abs_err,
                    CAST(s1.j AS BIGINT) AS r1_feat,
                    CAST(s1.bin AS BIGINT) AS r1_bin,
                    CAST(s2.j AS BIGINT) AS r2_feat,
                    CAST(s2.bin AS BIGINT) AS r2_bin,
                    CAST(s3.j AS BIGINT) AS r3_feat,
                    CAST(s3.bin AS BIGINT) AS r3_bin
             FROM fc$GbdtIters fc CROSS JOIN gb1 s1
               CROSS JOIN gb2 s2 CROSS JOIN gb3 s3
             ORDER BY fc.doc_id""")
    },
    (s, d) => {
      import graft.functions.{Num, Text}
      val toks = Text.tokens(col("text"))
      val t0 = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("n_chars"),
          toks.as("toks"))
        .filter(size(col("toks")) > 0 && length(col("text")) > 0)
        .select(col("doc_id"),
          Num.qround(log(size(col("toks")) + 1), 6).as("y"),
          col("n_chars").cast("double").as("x1"),
          (length(regexp_replace(col("text"), "[^.,;:!?]", ""))
            .cast("double") / length(col("text"))).as("x2"),
          (length(regexp_replace(col("text"), "[^0-9]", ""))
            .cast("double") / length(col("text"))).as("x3"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("x4"))
        .localCheckpoint(true) // fences action + the binned frame
      // static quantile fences: one bounded exact-percentile action
      val fRow = t0.agg(
        percentile(col("x1"), array(GbdtProbs.map(lit(_)): _*)),
        percentile(col("x2"), array(GbdtProbs.map(lit(_)): _*)),
        percentile(col("x3"), array(GbdtProbs.map(lit(_)): _*)),
        percentile(col("x4"), array(GbdtProbs.map(lit(_)): _*)))
        .head()
      val fences = (0 until 4).map(j =>
        fRow.getSeq[Double](j).map(Num.qround(_, 6)))
      def binOf(j: Int) = fences(j - 1).foldLeft(lit(0)) { (acc, f) =>
        acc + when(col(s"x$j") > f, 1).otherwise(0)
      }
      val binned = t0.select(col("doc_id"), col("y"),
          binOf(1).as("b1"), binOf(2).as("b2"),
          binOf(3).as("b3"), binOf(4).as("b4"))
        .localCheckpoint(true) // one histogram pass per round
      val (f0, stumps) = graft.ops.Gbdt.fit(binned, "y", nFeats = 4,
        iters = GbdtIters, nu = GbdtNu)
      val pred = graft.ops.Gbdt.predict(f0, stumps, GbdtNu)
      val lits = stumps.zipWithIndex.flatMap { case (st, i) =>
        Seq(lit(st.j.toLong).as(s"r${i + 1}_feat"),
          lit(st.bin.toLong).as(s"r${i + 1}_bin"))
      }
      binned.select(Seq(col("doc_id"), col("y"), pred.as("pred"),
          abs(col("y") - pred).as("abs_err")) ++ lits: _*)
        .orderBy("doc_id")
    })

  // --------------------------------------------- X257 epoch shuffle

  /** Deterministic epoch-0 training-order shuffle (X257 — see
    * [[graft.ops.Shard.epochShuffle]]): the seeded global permutation
    * every training run performs before its first epoch. The md5
    * shuffle key makes the order cross-engine exact; the oracle ranks
    * with a plain global ROW_NUMBER while the Spark side derives the
    * identical rank from a shard-PARTITIONED window plus 16 exclusive
    * prefix offsets (the first hex digit of the key is an
    * order-preserving range bucket) — no partition-less window, no
    * driver sort (plan pinned in ShardSpec). */
  val epochShuffle = QueryDef(
    "q_epoch_shuffle",
    Some("""WITH k AS (
              SELECT doc_id,
                     md5('epoch:0:' || CAST(doc_id AS VARCHAR)) AS skey
              FROM documents),
            sh AS (
              SELECT doc_id, skey,
                     CAST(CAST('0x' || substring(skey, 1, 1) AS BIGINT)
                       AS INTEGER) AS shard
              FROM k)
            SELECT doc_id, skey, shard,
                   CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY skey, doc_id)
                     AS BIGINT) AS pos_in_shard,
                   CAST(row_number() OVER (ORDER BY skey, doc_id)
                     AS BIGINT) AS global_pos
            FROM sh ORDER BY doc_id"""),
    (s, d) => graft.ops.Shard.epochShuffle(Tables.documents(s, d),
        "doc_id", epoch = 0)
      .select("doc_id", "skey", "shard", "pos_in_shard", "global_pos")
      .orderBy("doc_id"))

  /** Length-bucketing batch-efficiency report (X282 — the dynamic-
    * batching planner's view: pad-to-bucket wastes Σ(cap − len)
    * tokens per bucket, and THIS table is what decides the bucket
    * boundaries every dataloader ships; the padding complement of
    * X18's packing, which eliminates waste by concatenation instead).
    * Caps 16…96 (sized to the synthetic corpus; production uses 128…8192); docs past the top cap truncate
    * (waste 0, truncated tokens counted separately). Bucket
    * assignment is a foldLeft when-chain per row (element-wise); ONE
    * keyed aggregate; every lane exact-integer except the efficiency
    * divide (exact-int-fed, hash raw). */
  val lengthBuckets = QueryDef(
    "q_length_buckets", {
      val caps = Seq(16L, 32L, 48L, 64L, 80L, 96L)
      val capSql = caps.init.reverse.foldLeft(s"${caps.last}") {
        (acc, c) => s"CASE WHEN n_tok <= $c THEN $c ELSE $acc END"
      }
      Some(s"""WITH t AS (
              SELECT doc_id,
                     CAST(len($sqlToks) AS BIGINT) AS n_tok
              FROM documents),
            b AS (
              SELECT doc_id, n_tok, $capSql AS cap,
                     LEAST(n_tok, ${caps.last}) AS kept
              FROM t)
            SELECT cap,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(kept) AS BIGINT) AS sum_tokens,
                   CAST(SUM(cap - kept) AS BIGINT) AS padding_waste,
                   CAST(SUM(n_tok - kept) AS BIGINT) AS truncated_tokens,
                   CAST(SUM(kept) AS DOUBLE) /
                     CAST(SUM(cap) AS BIGINT) AS efficiency
            FROM b GROUP BY cap ORDER BY cap""")
    },
    (s, d) => {
      val caps = Seq(16L, 32L, 48L, 64L, 80L, 96L)
      val nTok = size(Text.tokens(col("text"))).cast("long")
      val cap = caps.init.reverse.foldLeft(lit(caps.last)) { (acc, c) =>
        when(col("n_tok") <= c, lit(c)).otherwise(acc)
      }
      Tables.documents(s, d)
        .select(col("doc_id"), nTok.as("n_tok"))
        .withColumn("cap", cap)
        .withColumn("kept", least(col("n_tok"), lit(caps.last)))
        .groupBy("cap")
        .agg(count(lit(1)).as("n_docs"),
          sum("kept").as("sum_tokens"),
          sum(col("cap") - col("kept")).as("padding_waste"),
          sum(col("n_tok") - col("kept")).as("truncated_tokens"),
          (sum("kept").cast("double") / sum("cap")).as("efficiency"))
        .orderBy("cap")
    })

  val all: Seq[QueryDef] =
    Seq(sampleWeighted, fimTransform, packSegments, negativeSample,
      targetEncode, gbdtStumps, epochShuffle, lengthBuckets)
}
