package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Num, Text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 index-based retrieval (SURVEY §2l X214): positional
  * inverted index + phrase query — the posting-list device under
  * every phrase-capable search engine, next to X38's BM25 scorer
  * (which ranks but cannot answer "these words ADJACENT, in order").
  */
object RetrievalQueries {

  /** Positional-index phrase search (X214 — Manning et al. IIR §2.4:
    * tokenize to (doc, position, term) postings, answer a two-word
    * phrase by joining the two terms' posting lists on
    * pos₂ = pos₁ + 1). The query phrase is data-derived so the query
    * is self-contained: the corpus's most frequent adjacent bigram
    * (ties break lexicographically), found by one exploded
    * groupBy — a bounded top-1 driver literal (the X12/X91 probe
    * discipline, no hand-picked string constant).
    *
    * Scale shape: the phrase join is term-filtered FIRST — each side
    * of the join is the single term's posting list (the filter
    * pushes to the parquet scan of a real postings table), then an
    * EQUI join on (doc_id, adjacent position). No regex scan of the
    * corpus at query time: the full-text pass happens once at
    * index-build, which is the entire point of an inverted index at
    * 100 TB. All lanes exact integers/strings — hash raw. */
  val phraseSearch = QueryDef(
    "q_phrase_search",
    Some("""WITH t AS (
             SELECT doc_id,
                    list_filter(string_split_regex(lower(text), '\s+'),
                      x -> len(x) > 0) AS toks
             FROM documents),
           pstruct AS (
             SELECT doc_id,
                    unnest(list_transform(range(1, len(toks) + 1),
                      i -> {'pos': CAST(i AS BIGINT), 'tok': toks[i]}))
                      AS pt
             FROM t),
           postings AS (
             SELECT doc_id, pt.pos AS pos, pt.tok AS tok FROM pstruct),
           bg AS (
             SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS phrase
             FROM t WHERE len(toks) >= 2),
           top1 AS (
             SELECT phrase, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM bg GROUP BY phrase
             ORDER BY cnt DESC, phrase ASC LIMIT 1),
           hits AS (
             SELECT p1.doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_occ
             FROM postings p1
             JOIN postings p2
               ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
             WHERE p1.tok = (SELECT split_part(phrase, ' ', 1) FROM top1)
               AND p2.tok = (SELECT split_part(phrase, ' ', 2) FROM top1)
             GROUP BY p1.doc_id)
           SELECT h.doc_id, h.n_occ, (SELECT phrase FROM top1) AS phrase
           FROM hits h ORDER BY h.doc_id"""),
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint() // feeds bigram stats AND the postings index
      val bg = t.select(explode(when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat(element_at(col("toks"), i), lit(" "),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("phrase"))
      val top = bg.groupBy("phrase").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("phrase").asc).limit(1).head()
      val phrase = top.getString(0)
      val Array(w1, w2) = phrase.split(" ", 2)
      val postings = t.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("tok"))
      val p1 = postings.filter(col("tok") === w1)
        .select(col("doc_id"), col("pos"))
      val p2 = postings.filter(col("tok") === w2)
        .select(col("doc_id").as("d2"), col("pos").as("pos2"))
      p1.join(p2, col("d2") === col("doc_id") &&
          col("pos2") === col("pos") + 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .withColumn("phrase", lit(phrase))
        .orderBy("doc_id")
    })

  /** The popularity baseline both ranking evals score: relevance `rel`
    * (custkey, partkey, rel = the customer's order count of the part),
    * part popularity `pop` and the global top-10 `top10` (partkey,
    * pos), ties partkey-ASC. */
  private val popularitySql =
    """WITH rel AS (
             SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
                    CAST(COUNT(*) AS BIGINT) AS rel
             FROM lineitem l JOIN orders o
               ON l.l_orderkey = o.o_orderkey
             GROUP BY 1, 2),
           pop AS (
             SELECT partkey, CAST(SUM(rel) AS BIGINT) AS tot
             FROM rel GROUP BY partkey),
           top10 AS (
             SELECT partkey,
                    CAST(ROW_NUMBER() OVER
                      (ORDER BY tot DESC, partkey ASC) AS BIGINT) AS pos
             FROM pop ORDER BY tot DESC, partkey ASC LIMIT 10)"""

  /** The Spark side of [[popularitySql]]: `rel` (checkpointed, it feeds
    * the popularity fit and both metric lanes) and the top-10 ranking
    * as a broadcast (partkey, pos) literal frame, after one bounded
    * collect. */
  private def popularity(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val rel = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("custkey"),
        col("l_partkey").as("partkey"))
      .agg(count(lit(1)).as("rel"))
      .localCheckpoint(true)
    val top10 = rel.groupBy("partkey").agg(sum("rel").as("tot"))
      .orderBy(col("tot").desc, col("partkey").asc).limit(10)
      .collect().zipWithIndex
      .map { case (r, i) => (r.getLong(0), (i + 1).toLong) }
    import s.implicits._
    (rel, broadcast(top10.toSeq.toDF("partkey", "pos")))
  }

  /** NDCG@10 ranking evaluation (X227 — Järvelin & Kekäläinen 2002:
    * THE graded ranking metric, completing the eval family next to
    * X74's recall@k, X185's calibration and X186's RBO. Ranker under
    * test = global part popularity (the canonical cold-start
    * baseline); relevance truth = each customer's own order count per
    * part, so the metric asks "how well does the bestseller list
    * serve THIS customer"). DCG folds rel/log2(pos+1) down the
    * top-10 literal list (bounded driver metadata — the X12 top-k
    * discipline, ties partkey-ASC); IDCG re-ranks the customer's own
    * relevances via one customer-partitioned row_number ≤ 10. Both
    * are ≤10-term aggregated log2 sums → qround(6); ndcg = the ratio
    * of the two quantized lanes (element-wise, hashes raw). Customers
    * sharing no part with the top-10 get dcg = 0 exactly. */
  val ndcgEval = QueryDef(
    "q_ndcg",
    Some(s"""$popularitySql,
           dcg AS (
             SELECT r.custkey,
                    ${Num.qroundSql(
                      "SUM(CAST(r.rel AS DOUBLE) / " +
                        "log2(CAST(t.pos + 1 AS DOUBLE)))", 6)} AS dcg
             FROM rel r JOIN top10 t ON t.partkey = r.partkey
             GROUP BY r.custkey),
           ranked AS (
             SELECT custkey, rel,
                    ROW_NUMBER() OVER (PARTITION BY custkey
                      ORDER BY rel DESC, partkey ASC) AS rn
             FROM rel),
           idcg AS (
             SELECT custkey,
                    ${Num.qroundSql(
                      "SUM(CAST(rel AS DOUBLE) / " +
                        "log2(CAST(rn + 1 AS DOUBLE)))", 6)} AS idcg
             FROM ranked WHERE rn <= 10 GROUP BY custkey),
           m AS (
             SELECT i.custkey, COALESCE(d.dcg, 0.0) AS dcg, i.idcg
             FROM idcg i LEFT JOIN dcg d ON d.custkey = i.custkey)
           SELECT custkey, dcg, idcg, dcg / idcg AS ndcg
           FROM m ORDER BY custkey"""),
    (s, d) => {
      val (rel, topDf) = popularity(s, d)
      val dcg = rel.join(topDf, Seq("partkey"))
        .groupBy("custkey")
        .agg(Num.qround(sum(col("rel").cast("double") /
          log2((col("pos") + 1).cast("double"))), 6).as("dcg"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("custkey").orderBy(col("rel").desc,
          col("partkey").asc)
      val idcg = rel.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy("custkey")
        .agg(Num.qround(sum(col("rel").cast("double") /
          log2((col("rn") + 1).cast("double"))), 6).as("idcg"))
      idcg.join(dcg, Seq("custkey"), "left")
        .select(col("custkey"),
          coalesce(col("dcg"), lit(0.0)).as("dcg"), col("idcg"))
        .withColumn("ndcg", col("dcg") / col("idcg"))
        .orderBy("custkey")
    })

  /** Bootstrap CI on mean NDCG@10 (X253 — the eval-rigor step a
    * single point metric skips: is 0.41 vs 0.43 real or resampling
    * noise? Poisson(1) bootstrap over CUSTOMERS (the X100 device —
    * per-replicate weights from portable md5 uniforms, so both
    * engines draw the SAME 32 pseudo-samples), replicate means
    * qround(6), CI = the 2nd/31st order statistics. Composes the
    * X227 per-customer table verbatim (shared oracle CTE, the κ
    * nesting device); the 32 replicate means are bounded driver
    * metadata (no partition-less rank window — X109). */
  val ndcgCi = QueryDef(
    "q_ndcg_ci", {
      val wChain = CurationQueries.PoissonCum.map(t =>
        s"CASE WHEN u >= CAST('${t.toString}' AS DOUBLE) " +
          "THEN 1 ELSE 0 END").mkString("(0 + ", " + ", ")")
      Some(s"""WITH nd AS (${ndcgEval.oracle.get}),
             reps AS (
               SELECT custkey, ndcg, t.b
               FROM nd, range(${CurationQueries.BootReplicas}) t(b)),
             uw AS (
               SELECT custkey, ndcg, b,
                      CAST(CAST('0x' || substring(md5('bootndcg:'
                          || CAST(b AS VARCHAR) || ':'
                          || CAST(custkey AS VARCHAR)), 1, 13)
                        AS BIGINT) * 2 + 1 AS DOUBLE)
                        / 9007199254740992.0 AS u
               FROM reps),
             wts AS (SELECT b, ndcg, $wChain AS w FROM uw),
             rm AS (
               SELECT b, ${Num.qroundSql("SUM(w * ndcg)", 6)} AS sw,
                      CAST(SUM(w) AS BIGINT) AS ww
               FROM wts GROUP BY b),
             means AS (
               SELECT b, sw / CAST(ww AS DOUBLE) AS m
               FROM rm WHERE ww > 0),
             rk AS (
               SELECT b, m,
                      ROW_NUMBER() OVER (ORDER BY m, b) AS rn
               FROM means),
             ci AS (
               SELECT MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
                      MAX(CASE WHEN rn =
                        ${CurationQueries.BootReplicas - 1} THEN m END)
                        AS ci_hi
               FROM rk),
             st AS (
               SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                      ${Num.qroundSql("AVG(ndcg)", 6)} AS mean_ndcg
               FROM nd)
             SELECT st.n_customers, st.mean_ndcg, ci.ci_lo, ci.ci_hi
             FROM st CROSS JOIN ci""")
    },
    (s, d) => {
      val nd = ndcgEval.fn(s, d).select(col("custkey"), col("ndcg"))
        .localCheckpoint(true) // 32 replicate lanes + the point stats
      val reps = nd.withColumn("b",
        explode(sequence(lit(0), lit(CurationQueries.BootReplicas - 1))))
      val u = conv(substring(md5(concat(lit("bootndcg:"),
          col("b").cast("string"), lit(":"),
          col("custkey").cast("string"))), 1, 13), 16, 10)
        .cast("long")
      val uu = (u * 2 + 1).cast("double") / 9007199254740992.0
      val w = CurationQueries.PoissonCum.map(t =>
        when(uu >= lit(t), 1).otherwise(0))
        .reduce[org.apache.spark.sql.Column](_ + _)
      val rm = reps.withColumn("w", w)
        .groupBy("b")
        .agg(Num.qround(sum(col("w") * col("ndcg")), 6).as("sw"),
          sum("w").cast("long").as("ww"))
        .filter(col("ww") > 0)
        .select(col("b"), (col("sw") / col("ww").cast("double")).as("m"))
        .collect() // 32 bounded replicate means (X109)
      val sorted = rm.map(r => (r.getDouble(1), r.getInt(0)))
        .sortBy(identity)
      val (ciLo, ciHi) = (sorted(1)._1,
        sorted(CurationQueries.BootReplicas - 2)._1)
      val stRow = nd.agg(count(lit(1)), Num.qround(avg("ndcg"), 6))
        .head()
      import s.implicits._
      Seq((stRow.getLong(0), stRow.getDouble(1), ciLo, ciHi))
        .toDF("n_customers", "mean_ndcg", "ci_lo", "ci_hi")
    })

  /** MRR + MAP@10 ranking evaluation (X266 — the BINARY-relevance
    * metric pair next to X227's graded NDCG, on the same fixture:
    * ranker = global part-popularity top-10, truth = the parts each
    * customer actually bought. RR = 1/pos of the first relevant hit;
    * AP@10 = Σ_{hits} P@pos / min(R, 10) with P@pos = hit_rank/pos —
    * every P@pos is an exact small-int rational (element-wise,
    * bit-identical), only the ≤10-term AP sum is an aggregated lane
    * (qround(6), the dcg discipline). Shape: the per-customer hit
    * table is a broadcast join against the 10-row ranking — fan-out
    * ≤ 10 rows per customer, one keyed aggregate; customers missing
    * the top-10 entirely keep rr = ap = 0 via the left join. */
  val mrrEval = QueryDef(
    "q_mrr",
    Some(s"""$popularitySql,
           nrel AS (
             SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_relevant
             FROM rel GROUP BY custkey),
           hits AS (
             SELECT r.custkey, t.pos,
                    CAST(ROW_NUMBER() OVER (PARTITION BY r.custkey
                      ORDER BY t.pos) AS BIGINT) AS hit_rank
             FROM rel r JOIN top10 t ON t.partkey = r.partkey),
           ha AS (
             SELECT custkey,
                    MIN(pos) AS first_pos,
                    CAST(COUNT(*) AS BIGINT) AS n_hits,
                    ${Num.qroundSql(
                      "SUM(CAST(hit_rank AS DOUBLE) / " +
                        "CAST(pos AS DOUBLE))", 6)} AS sum_prec
             FROM hits GROUP BY custkey)
           SELECT n.custkey, n.n_relevant,
                  h.first_pos,
                  COALESCE(h.n_hits, 0) AS n_hits,
                  CASE WHEN h.first_pos IS NULL THEN 0.0
                       ELSE 1.0 / CAST(h.first_pos AS DOUBLE) END AS rr,
                  CASE WHEN h.sum_prec IS NULL THEN 0.0
                       ELSE h.sum_prec /
                         CAST(LEAST(n.n_relevant, 10) AS DOUBLE) END
                    AS ap10
           FROM nrel n LEFT JOIN ha h ON h.custkey = n.custkey
           ORDER BY n.custkey"""),
    (s, d) => {
      val (rel, topDf) = popularity(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("custkey").orderBy("pos")
      val ha = rel.join(topDf, Seq("partkey"))
        .withColumn("hit_rank", row_number().over(w).cast("long"))
        .groupBy("custkey")
        .agg(min("pos").as("first_pos"),
          count(lit(1)).as("n_hits"),
          Num.qround(sum(col("hit_rank").cast("double") /
            col("pos").cast("double")), 6).as("sum_prec"))
        .select(col("custkey").as("hck"), col("first_pos"),
          col("n_hits"), col("sum_prec"))
      val nrel = rel.groupBy("custkey")
        .agg(count(lit(1)).as("n_relevant"))
      nrel.join(ha, col("hck") === col("custkey"), "left")
        .select(col("custkey"), col("n_relevant"),
          col("first_pos"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          when(col("first_pos").isNull, 0.0)
            .otherwise(lit(1.0) / col("first_pos").cast("double"))
            .as("rr"),
          when(col("sum_prec").isNull, 0.0)
            .otherwise(col("sum_prec") /
              least(col("n_relevant"), lit(10L)).cast("double"))
            .as("ap10"))
        .orderBy("custkey")
    })

  val all: Seq[QueryDef] = Seq(phraseSearch, ndcgEval, ndcgCi, mrrEval)
}
