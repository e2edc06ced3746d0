package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Num, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY §7 extensions:
  * token counting, quality scoring, language ID, fingerprinting).
  * Oracle parity notes: DuckDB `regexp_replace` needs the 'g' flag
  * (Spark replaces all matches by default); token pipelines are
  * expressed with the same regex + filter semantics on both sides.
  */
object TextQueries {

  // DuckDB-side token list, mirroring Text.tokens
  private val sqlToks =
    """list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)"""

  /** [[sqlToks]] for sibling query objects (X206 nests it). */
  private[queries] def sqlToksShared: String = sqlToks

  val textStats = QueryDef(
    "q_text_stats",
    // zero-token guards mirror Spark's NULL results: list_reduce errors
    // on an empty list and 0/0 would NaN-diverge from nullif->NULL
    Some(s"""SELECT doc_id,
                    CAST(len($sqlToks) AS BIGINT) AS n_tokens,
                    CAST(len(text) AS BIGINT) AS n_chars_measured,
                    CASE WHEN len($sqlToks) = 0 THEN NULL
                         ELSE CAST(list_reduce(list_transform($sqlToks,
                                t -> len(t)), (a, b) -> a + b) AS DOUBLE) /
                              CAST(len($sqlToks) AS DOUBLE) END
                      AS mean_token_len,
                    CAST(len(regexp_extract_all(text,
                         '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                      AS n_bpeish_tokens
             FROM documents ORDER BY doc_id"""),
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"),
        Text.meanTokenLen(col("text")).as("mean_token_len"),
        Text.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
      .orderBy("doc_id"))

  /** Shared oracle CTE chain deriving per-doc quality lanes (mirrors
    * [[Text.qualityScore]]; used by q_text_quality and the X275
    * threshold sweep — kept in one place so the two can't diverge).
    * Produces CTEs qt/qr with (doc_id, lang, punct_ratio,
    * stopword_ratio, n_tok, mtl). */
  private val qualityChainSql: String = {
    val stop = Text.DefaultStopwords.map(w => s"'$w'").mkString(", ")
    s"""qt AS (
            SELECT doc_id, lang, text, $sqlToks AS toks,
                   CAST(len(text) -
                        len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
                        AS DOUBLE) /
                     NULLIF(CAST(len(text) AS DOUBLE), 0.0) AS punct_ratio
            FROM documents),
          qr AS (
            SELECT doc_id, lang, punct_ratio,
                   CAST(len(list_filter(toks, t -> lower(t) IN ($stop)))
                        AS DOUBLE) /
                     NULLIF(CAST(len(toks) AS DOUBLE), 0.0)
                     AS stopword_ratio,
                   CAST(len(toks) AS DOUBLE) AS n_tok,
                   CASE WHEN len(toks) = 0 THEN NULL
                        ELSE CAST(list_reduce(list_transform(toks,
                               t -> len(t)), (a, b) -> a + b) AS DOUBLE) /
                             CAST(len(toks) AS DOUBLE) END AS mtl
            FROM qt)"""
  }

  /** The quality-score expression over the qr CTE's columns. */
  private val qualityScoreSqlExpr: String =
    """(LEAST(n_tok / 50.0, 1.0) * 0.3 +
        GREATEST(0.0, COALESCE(1.0 - punct_ratio * 4.0, 0.0))
          * 0.2 +
        GREATEST(0.0, 1.0 - ABS(COALESCE(stopword_ratio, 0.0)
          - 0.4) * 2.0) * 0.3 +
        (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
          * 0.2)"""

  val textQuality = QueryDef(
    "q_text_quality",
    Some {
      s"""WITH $qualityChainSql
          SELECT doc_id, punct_ratio, stopword_ratio,
                 $qualityScoreSqlExpr AS quality_score
          FROM qr ORDER BY doc_id"""
    },
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"),
        Text.qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id"))

  val langId = QueryDef(
    "q_lang_id",
    Some {
      val scores = Text.LangProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(lt, t -> t IN ($set))) AS s_$lang"
      }.mkString(",\n                   ")
      val langs = Text.LangProfiles.map(_._1)
      val best = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'")
        .mkString(" ")
      s"""WITH t AS (
            SELECT doc_id, lang,
                   list_transform($sqlToks, t -> lower(t)) AS lt
            FROM documents),
          sc AS (
            SELECT doc_id, lang,
                   $scores
            FROM t),
          b AS (SELECT *, $best AS best FROM sc)
          SELECT doc_id, lang AS lang_labeled,
                 CASE WHEN best <= 0 THEN 'und' $cases
                      ELSE 'und' END AS lang_detected
          FROM b ORDER BY doc_id"""
    },
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("lang_labeled"),
        Text.langId(col("text")).as("lang_detected"))
      .orderBy("doc_id"))

  val fingerprint = QueryDef(
    "q_fingerprint",
    Some("""SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
                     AS fp_md5
            FROM documents ORDER BY doc_id"""),
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        Text.fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id"))

  /** Deterministic content-hash sampling (ops.Sampling): a reproducible
    * ~25% Bernoulli split keyed on doc_id — identical kept set on any
    * cluster, any partitioning, any engine (md5 is the portable hash,
    * which is exactly why the oracle can recompute it). */
  val sampleHash = QueryDef(
    "q_sample_hash",
    Some("""SELECT doc_id, source
            FROM documents
            WHERE CAST('0x' || substring(md5('graft-split:'
                    || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  < CAST(0.25 * 4294967296 AS BIGINT)
            ORDER BY doc_id"""),
    (s, d) => graft.ops.Sampling.hashSample(
        Tables.documents(s, d), "doc_id", 0.25, "graft-split:")
      .select("doc_id", "source")
      .orderBy("doc_id"))

  /** Benchmark-contamination check (ops.Contamination): 8-gram overlap
    * of every document against a benchmark subset (doc_id % 97 = 0 —
    * members score 1.0, near-dups score partially, clean docs 0).
    * Shingle keys are md5-derived on both engines, so counts and
    * ratios hash-match exactly. */
  val contamination = QueryDef(
    "q_contamination",
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                       t -> len(t) > 0) AS toks
              FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 8
                          THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(
                            range(1, len(toks) - 6),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                                 toks[i+2] || ' ' || toks[i+3] || ' ' ||
                                 toks[i+4] || ' ' || toks[i+5] || ' ' ||
                                 toks[i+6] || ' ' || toks[i+7])) END
                       AS shingles
              FROM t),
            hs AS (
              SELECT doc_id,
                     CAST('0x' || substring(md5(unnest(shingles)), 1, 15)
                          AS BIGINT) AS h
              FROM sh),
            bench AS (SELECT DISTINCT h FROM hs WHERE doc_id % 97 = 0),
            agg AS (
              SELECT hs.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_shingles,
                     CAST(COUNT(b.h) AS BIGINT) AS n_hits
              FROM hs LEFT JOIN bench b ON hs.h = b.h
              GROUP BY hs.doc_id)
            SELECT doc_id, n_shingles, n_hits,
                   CAST(n_hits AS DOUBLE) /
                     NULLIF(CAST(n_shingles AS DOUBLE), 0.0) AS contamination
            FROM agg ORDER BY doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Contamination.ngramOverlap(docs,
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    })

  /** Stratified corpus mixing (ops.Sampling): src0 kept whole, src1
    * dropped to 10%, everything else at 50% — the per-source rebalance
    * every corpus assembly runs. Fully deterministic, so the oracle
    * recomputes the exact kept set. */
  val sampleStratified = QueryDef(
    "q_sample_stratified",
    Some("""SELECT doc_id, source
            FROM documents
            WHERE CAST('0x' || substring(md5('graft-mix:'
                    || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  < CASE WHEN source = 'src0'
                           THEN CAST(1.0  * 4294967296 AS BIGINT)
                         WHEN source = 'src1'
                           THEN CAST(0.1  * 4294967296 AS BIGINT)
                         ELSE CAST(0.5 * 4294967296 AS BIGINT) END
            ORDER BY doc_id"""),
    (s, d) => graft.ops.Sampling.stratifiedHashSample(
        Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.1), defaultP = 0.5,
        salt = "graft-mix:")
      .select("doc_id", "source")
      .orderBy("doc_id"))

  /** Sequence packing (ops.Packing): documents laid end to end per
    * source, cut every 2048 tokens — whitespace token counts and a
    * running sum, so the oracle reproduces bins exactly. */
  val packBins = QueryDef(
    "q_pack_bins",
    // SUM(BIGINT) OVER is HUGEINT in DuckDB; the driver's hasher is
    // type-sensitive (int128 -> pandas float64 != Spark int64), so every
    // windowed-sum output must be CAST back to BIGINT (round-2 red row).
    Some(s"""SELECT doc_id, source,
                    CAST(len($sqlToks) AS BIGINT) AS n_tokens,
                    CAST(SUM(CAST(len($sqlToks) AS BIGINT)) OVER w
                      - CAST(len($sqlToks) AS BIGINT) AS BIGINT)
                      AS start_offset,
                    CAST(FLOOR((SUM(CAST(len($sqlToks) AS BIGINT)) OVER w
                      - CAST(len($sqlToks) AS BIGINT)) / 2048.0) AS BIGINT)
                      AS bin,
                    CAST((SUM(CAST(len($sqlToks) AS BIGINT)) OVER w
                      - CAST(len($sqlToks) AS BIGINT)) % 2048 AS BIGINT)
                      AS offset_in_bin
             FROM documents
             WINDOW w AS (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING)
             ORDER BY doc_id"""),
    (s, d) => graft.ops.Packing.packBins(Tables.documents(s, d),
        "text", "source", "doc_id", budget = 2048L)
      .select("doc_id", "source", "n_tokens", "start_offset", "bin",
        "offset_in_bin")
      .orderBy("doc_id"))

  /** Gopher/C4-style quality FILTER: the scoring signals composed into
    * a kept-corpus predicate (min/max token counts, mean token length
    * band, symbol ratio cap) — the filtering stage as a kept set, not
    * just scores. All signals are deterministic, so the oracle
    * recomputes the exact surviving documents. */
  val qualityFilter = QueryDef(
    "q_quality_filter",
    Some(s"""SELECT doc_id, source
             FROM documents
             WHERE len($sqlToks) >= 15 AND len($sqlToks) <= 100000
               AND CAST(list_reduce(list_transform($sqlToks,
                     t -> len(t)), (a, b) -> a + b) AS DOUBLE)
                   / CAST(len($sqlToks) AS DOUBLE) BETWEEN 2.0 AND 12.0
               AND CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     AS DOUBLE) / CAST(len(text) AS DOUBLE) <= 0.3
             ORDER BY doc_id"""),
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val nToks = size(toks)
      val meanTokLen = aggregate(toks, lit(0),
        (acc, t) => acc + length(t)).cast("double") / nToks.cast("double")
      val symbolRatio =
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
          .cast("double") / length(col("text")).cast("double")
      Tables.documents(s, d)
        .filter(nToks >= 15 && nToks <= 100000 &&
          meanTokLen.between(2.0, 12.0) && symbolRatio <= 0.3)
        .select("doc_id", "source")
        .orderBy("doc_id")
    })

  /** Gopher-style repetition metrics (duplicate-token fraction, top
    * 2-/3-gram char coverage) via the fused one-pass RepetitionStats
    * kernel; the oracle replays the composed O(n²) list-lambda
    * formulation — all counts integer, one IEEE divide per metric, so
    * fused ≡ composed ≡ DuckDB exactly (tie rule: the LONGEST n-gram
    * among the max-count ones). */
  val textRepetition = QueryDef(
    "q_text_repetition",
    Some(s"""WITH t AS (
               SELECT doc_id, text, $sqlToks AS toks FROM documents),
             g AS (
               SELECT doc_id, text, toks,
                      CASE WHEN len(toks) >= 2 THEN
                        list_transform(range(1, CAST(len(toks) AS INT)),
                          i -> toks[i] || ' ' || toks[i+1])
                      ELSE CAST([] AS VARCHAR[]) END AS g2,
                      CASE WHEN len(toks) >= 3 THEN
                        list_transform(range(1, CAST(len(toks) - 1 AS INT)),
                          i -> toks[i] || ' ' || toks[i+1] || ' '
                               || toks[i+2])
                      ELSE CAST([] AS VARCHAR[]) END AS g3
               FROM t),
             m AS (
               SELECT doc_id, text, toks, g2, g3,
                      list_max(list_transform(g2,
                        x -> len(list_filter(g2, y -> y = x)))) AS max2,
                      list_max(list_transform(g3,
                        x -> len(list_filter(g3, y -> y = x)))) AS max3
               FROM g)
             SELECT doc_id,
                    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) /
                      NULLIF(CAST(len(toks) AS DOUBLE), 0.0)
                      AS dup_token_frac,
                    CAST(max2 * list_max(list_transform(
                        list_filter(g2,
                          x -> len(list_filter(g2, y -> y = x)) = max2),
                        x -> len(x))) AS DOUBLE) /
                      NULLIF(CAST(len(text) AS DOUBLE), 0.0)
                      AS top2gram_char_frac,
                    CAST(max3 * list_max(list_transform(
                        list_filter(g3,
                          x -> len(list_filter(g3, y -> y = x)) = max3),
                        x -> len(x))) AS DOUBLE) /
                      NULLIF(CAST(len(text) AS DOUBLE), 0.0)
                      AS top3gram_char_frac
             FROM m ORDER BY doc_id"""),
    (s, d) => {
      val r = graft.functions.RepetitionFunctions.repetitionStats(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          element_at(r, 1).as("dup_token_frac"),
          element_at(r, 2).as("top2gram_char_frac"),
          element_at(r, 3).as("top3gram_char_frac"))
        .orderBy("doc_id")
    })

  /** PII redaction audit: emails → <EMAIL>, IPv4s → <IP>, 7+-digit
    * runs → <NUM>, with per-class match counts. The fixture corpus
    * carries no PII, so the query plants deterministic contact strings
    * derived from doc_id (the multimodal pattern) — both engines build
    * the same inputs, then the scrub chain itself is verified via the
    * md5 of the scrubbed text. Patterns are RE2- and Java-compatible
    * (no lookaround), so matches agree cross-engine. */
  val piiScrub = QueryDef(
    "q_pii_scrub",
    Some(s"""WITH aug AS (
               SELECT doc_id, text ||
                 CASE WHEN doc_id % 3 = 0 THEN ' contact u'
                   || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END ||
                 CASE WHEN doc_id % 4 = 0 THEN ' from 10.'
                   || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                   || CAST(doc_id % 250 + 1 AS VARCHAR)
                   ELSE '' END ||
                 CASE WHEN doc_id % 5 = 0 THEN ' acct '
                   || CAST(doc_id + 10000000 AS VARCHAR)
                   ELSE '' END AS t
               FROM documents),
             s1 AS (SELECT doc_id, t,
                      regexp_replace(t, '${Text.EmailRe}', '<EMAIL>', 'g')
                        AS t1 FROM aug),
             s2 AS (SELECT doc_id, t, t1,
                      regexp_replace(t1, '${Text.Ipv4Re}', '<IP>', 'g')
                        AS t2 FROM s1)
             SELECT doc_id,
                    CAST(len(regexp_extract_all(t, '${Text.EmailRe}'))
                      AS BIGINT) AS n_emails,
                    CAST(len(regexp_extract_all(t1, '${Text.Ipv4Re}'))
                      AS BIGINT) AS n_ips,
                    CAST(len(regexp_extract_all(t2, '${Text.LongDigitsRe}'))
                      AS BIGINT) AS n_digit_runs,
                    md5(regexp_replace(t2, '${Text.LongDigitsRe}',
                      '<NUM>', 'g')) AS scrubbed_md5
             FROM s2 ORDER BY doc_id"""),
    (s, d) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" contact u"),
          col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, concat(lit(" from 10."),
          (col("doc_id") % 200).cast("string"), lit(".0."),
          (col("doc_id") % 250 + 1).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" acct "),
          (col("doc_id") + 10000000L).cast("string")))
          .otherwise(lit(""))).as("t")
      val base = Tables.documents(s, d).select(col("doc_id"), aug)
      val (nEmails, nIps, nNums) = Text.piiCounts(col("t"))
      base.select(col("doc_id"),
          nEmails.as("n_emails"), nIps.as("n_ips"),
          nNums.as("n_digit_runs"),
          md5(Text.redactPii(col("t"))).as("scrubbed_md5"))
        .orderBy("doc_id")
    })

  /** Vocabulary build + OOV coverage (ops.Vocab): top-20 tokens by
    * corpus frequency (ties broken lexicographically — deterministic
    * cut), then per-document out-of-vocabulary rate against the
    * broadcast vocab. Counts are integers, the rate one divide — the
    * oracle rebuilds the identical vocab and stats. */
  val vocabCoverage = QueryDef(
    "q_vocab_coverage",
    Some(s"""WITH toks AS (
               SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
             vocab AS (
               SELECT tok FROM (
                 SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
               ORDER BY cnt DESC, tok LIMIT 20),
             stats AS (
               SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov
               FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
               GROUP BY t.doc_id)
             SELECT d.doc_id,
                    COALESCE(s.n_tokens, 0) AS n_tokens,
                    COALESCE(s.n_oov, 0) AS n_oov,
                    CAST(COALESCE(s.n_oov, 0) AS DOUBLE) /
                      NULLIF(CAST(COALESCE(s.n_tokens, 0) AS DOUBLE), 0.0)
                      AS oov_rate
             FROM documents d LEFT JOIN stats s ON s.doc_id = d.doc_id
             ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = graft.ops.Vocab.topK(docs, "text", 20)
      graft.ops.Vocab.oovStats(docs, vocab, "doc_id", "text")
        .orderBy("doc_id")
    })

  /** Token-window chunking with overlap (ops.Chunker): documents →
    * 64-token chunks, stride 48 (overlap 16), tail windows emitted
    * only when they add tokens beyond the previous chunk's overlap.
    * Integer boundary arithmetic + deterministic text joins — the full
    * chunk set (ids, offsets, text) is oracle-exact. */
  val docChunks = QueryDef(
    "q_doc_chunks",
    Some(s"""WITH t AS (
               SELECT doc_id, $sqlToks AS toks FROM documents),
             nz AS (SELECT * FROM t WHERE len(toks) > 0),
             st AS (
               SELECT doc_id, toks,
                      unnest(list_filter(
                        range(1, CAST(len(toks) AS BIGINT) + 1, 48),
                        s -> s = 1 OR s <= len(toks) - 16)) AS s
               FROM nz),
             c AS (
               SELECT doc_id, s,
                      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s)
                        AS chunk_id,
                      list_slice(toks, s, s + 63) AS ctoks
               FROM st)
             SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                    CAST(s AS BIGINT) AS start_tok,
                    CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
                    array_to_string(ctoks, ' ') AS chunk_text
             FROM c ORDER BY doc_id, chunk_id"""),
    (s, d) => graft.ops.Chunker.chunk(Tables.documents(s, d),
        "doc_id", "text", size = 64, overlap = 16)
      .orderBy("doc_id", "chunk_id"))

  /** Each document relined (the fixture's filler words ` a `, ` the `,
    * ` row `, ` key `, ` value `, ` data ` become line breaks) as the
    * non-empty lines `ls`: the `t` CTE of the line-level oracles. */
  private val linesSql =
    """t AS (
              SELECT doc_id,
                     list_filter(string_split(regexp_replace(text,
                       ' a | the | row | key | value | data ',
                       chr(10), 'g'), chr(10)),
                       l -> len(l) > 0) AS ls
              FROM documents)"""

  /** [[linesSql]] plus one row per line: `e` numbers them 1-based
    * (pos), `e2` holds (doc_id, pos, line, h = md5(line)). */
  private val lineRowsSql = s"""$linesSql,
            e AS (
              SELECT doc_id,
                     unnest(range(1, CAST(len(ls) AS INT) + 1)) AS pos,
                     ls
              FROM t),
            e2 AS (
              SELECT doc_id, pos, ls[pos] AS line, md5(ls[pos]) AS h
              FROM e)"""

  /** The Spark side of [[linesSql]]: (doc_id, ls). */
  private def docLines(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      Text.lines(regexp_replace(col("text"),
        " a | the | row | key | value | data ", "\n")).as("ls"))

  /** The Spark side of [[lineRowsSql]]: (doc_id, pos, line, h). */
  private def lineRows(s: SparkSession, d: String): DataFrame =
    docLines(s, d)
      .select(col("doc_id"), posexplode(col("ls")).as(Seq("pos", "line")))
      .withColumn("h", md5(col("line")))

  /** Duplicate-line metrics (the other half of the Gopher repetition
    * battery — X25 covers tokens/n-grams). The fixture corpus is
    * single-line, so the query re-lines it deterministically (six
    * frequent tokens become newlines — short segments that genuinely
    * repeat) and measures the duplicate-line
    * fraction and the fraction of characters living in repeated lines.
    * Line arrays and counts are STAGED as attributes between
    * projections (the inline nested-HOF form re-evaluates subtrees per
    * element — same trap as q_text_repetition's composed formulation). */
  val dupLines = QueryDef(
    "q_dup_lines",
    Some(s"""WITH $linesSql,
            c AS (
              SELECT doc_id, ls,
                     list_transform(ls,
                       l -> len(list_filter(ls, x -> x = l))) AS cs
              FROM t)
            SELECT doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) /
                     NULLIF(CAST(len(ls) AS DOUBLE), 0.0)
                     AS dup_line_frac,
                   CAST(list_reduce(list_transform(
                       range(1, CAST(len(ls) AS INT) + 1),
                       i -> CASE WHEN cs[i] > 1 THEN len(ls[i])
                                 ELSE 0 END),
                       (a, b) -> a + b) AS DOUBLE) /
                     NULLIF(CAST(list_reduce(list_transform(ls,
                       l -> len(l)), (a, b) -> a + b) AS DOUBLE), 0.0)
                     AS dup_line_char_frac
            FROM c ORDER BY doc_id"""),
    (s, d) => {
      docLines(s, d)
        .select(col("doc_id"), col("ls"),
          transform(col("ls"),
            l => size(filter(col("ls"), x => x === l))).as("cs"))
        .select(col("doc_id"),
          size(col("ls")).cast("long").as("n_lines"),
          ((size(col("ls")) - size(array_distinct(col("ls"))))
            .cast("double") /
            nullif(size(col("ls")).cast("double"), lit(0.0)))
            .as("dup_line_frac"),
          (aggregate(zip_with(col("ls"), col("cs"),
              (l, c) => when(c > 1, length(l).cast("long"))
                .otherwise(lit(0L))),
              lit(0L), (a, x) => a + x).cast("double") /
            nullif(aggregate(col("ls"), lit(0L),
              (a, l) => a + length(l).cast("long")).cast("double"),
              lit(0.0))).as("dup_line_char_frac"))
        .orderBy("doc_id")
    })

  // ------------------------------------------------------------------ bpe

  /** One unrolled BPE pair-count round for the oracle: count adjacent
    * symbol pairs weighted by word frequency, pick the (count DESC,
    * pair ASC) winner, apply it with non-overlapping left-to-right
    * string replace over the '|sym|'-wrapped sequence encoding. */
  private def bpeRoundSql(k: Int): String = bpeRoundSqlX(k, "")

  /** Prefix-parameterized variant (the byte-level chain runs the SAME
    * round device under `b`-prefixed CTE names so both tokenizers can
    * coexist in one oracle namespace). */
  private def bpeRoundSqlX(k: Int, x: String): String = s"""
${x}p$k AS (
  SELECT pr.l AS l, pr.r AS r, SUM(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
             i -> {'l': syms[i], 'r': syms[i+1]})) AS pr
    FROM (SELECT freq, string_split(trim(seq, '|'), '||') AS syms
          FROM ${x}w${k - 1})) GROUP BY pr.l, pr.r),
${x}m$k AS (SELECT l, r, cnt FROM ${x}p$k ORDER BY cnt DESC, l, r LIMIT 1),
${x}w$k AS (SELECT freq, replace(seq, '|' || m.l || '||' || m.r || '|',
                             '|' || m.l || m.r || '|') AS seq
        FROM ${x}w${k - 1} CROSS JOIN ${x}m$k m)"""

  /** Shared oracle CTE chain: word-frequency table → '|sym|'-encoded
    * sequences → 3 unrolled merge rounds (w3 = the trained encoding). */
  private val bpeChainSql: String =
    s"""wtok AS (SELECT unnest($sqlToks) AS word FROM documents),
             wc AS (
               SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
               FROM wtok WHERE regexp_matches(word, '^[a-z]+$$')
               GROUP BY word),
             w0 AS (
               SELECT freq,
                      array_to_string(list_transform(
                        regexp_extract_all(word, '.'),
                        c -> '|' || c || '|'), '') AS seq
               FROM wc),
             ${(1 to 3).map(bpeRoundSql).mkString(",")}"""

  /** The subword trainers' word table: each lowercase word with its
    * corpus frequency and its '|c|'-bracketed symbol sequence `seq`.
    * Persisted: every merge round reads it (pair count + re-encode),
    * and without the persist each round's job would re-tokenize the
    * whole corpus — at 100 TB the corpus scan happens once and the
    * per-round work is bounded by the vocabulary. */
  private def wordSymbols(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq", concat_ws("",
        transform(regexp_extract_all(col("word"), lit("."), lit(0)),
          c => concat(lit("|"), c, lit("|")))))
      .select("word", "freq", "seq")
      .persist()

  /** Shared Spark-side training: word-frequency table with '|sym|'
    * sequences, 3 merge rounds applied. Returns the encoded (freq, seq)
    * frame — the Spark twin of the oracle's w3 — plus the chosen merges.
    * Each round is ONE distributed pair-count aggregation (fixed-width
    * (l, r, freq) shuffle); only the argmax merge decision (count DESC,
    * pair ASC — deterministic) comes back to the driver, which folds it
    * into the next round's plan as a literal — the same driver-
    * coordinates/cluster-counts shape as the IVF Lloyd fit. */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession, d: String,
      rounds: Int = 3)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, Long)]) = {
    val base = wordSymbols(s, d)
    // tokenizer-family shared fit (VERDICT r17 #4): the chosen merges
    // are a deterministic driver-sized artifact of (sf dir, rounds) —
    // pinned argmax tie-breaks, exact-integer counts — so an eval
    // session trains ONCE per family (FitCache's exact contract) and
    // every caller (q_bpe_merges / q_bpe_encode / q_tokenizer_compare)
    // re-applies them as cheap narrow string replaces.
    val merges = graft.ops.FitCache.memo(s"bpemerges|$d|$rounds") {
      bpeMergeLoop(base, rounds)._2
    }
    (applyMerges(base, merges), merges)
  }

  /** Fold already-chosen merges into a '|sym|' frame — the cheap
    * (argmax-free) half of [[bpeMergeLoop]]. */
  private[queries] def applyMerges(base: org.apache.spark.sql.DataFrame,
      merges: Seq[(Int, String, String, Long)])
      : org.apache.spark.sql.DataFrame =
    merges.foldLeft(base) { case (cur, (_, l, r, _)) =>
      cur.withColumn("seq", expr(s"replace(seq, '|$l||$r|', '|$l$r|')"))
    }

  /** The greedy merge loop over any '|sym|'-encoded (freq, seq, ...)
    * frame — shared by the char-level ([[bpeTrain]]) and byte-level
    * ([[bpeTrainBytes]]) chains. Each round is ONE distributed
    * pair-count aggregation; only the (count DESC, pair ASC) argmax
    * returns to the driver, folding into the next round's plan as a
    * literal. */
  private[queries] def bpeMergeLoop(base: org.apache.spark.sql.DataFrame,
      rounds: Int)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, Long)]) = {
    var cur = base
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to rounds) {
      val syms = split(trim(col("seq"), "|"), "\\|\\|")
      val top = cur
        .filter(size(syms) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(1), size(syms) - 1),
            i => struct(element_at(syms, i).as("l"),
              element_at(syms, i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      top.headOption.foreach { t =>
        val (l, r) = (t.getString(0), t.getString(1))
        merges += ((k, l, r, t.getLong(2)))
        cur = cur.withColumn("seq",
          expr(s"replace(seq, '|$l||$r|', '|$l$r|')"))
      }
    }
    (cur, merges.result())
  }

  /** BPE tokenizer training — the first 3 merge rounds of byte-pair
    * encoding (Sennrich et al. 2016) over the corpus word-frequency
    * table (see [[bpeTrain]] for the round structure).
    *
    * Merge application encodes each word as '|'-wrapped symbols
    * ("ab" → "|a||b|") so non-overlapping left-to-right string replace
    * IS the standard greedy BPE apply ("|a||a||a||a|" → "|aa||aa|").
    * The oracle unrolls all three rounds as SQL CTEs, so the chosen
    * merges AND their counts are cross-engine exact. */
  val bpeMerges = QueryDef(
    "q_bpe_merges",
    Some(s"""WITH $bpeChainSql
             SELECT * FROM (
               SELECT CAST(1 AS INT) AS merge_rank, l AS left_sym,
                      r AS right_sym, CAST(cnt AS BIGINT) AS pair_count
               FROM m1
               UNION ALL SELECT 2, l, r, CAST(cnt AS BIGINT) FROM m2
               UNION ALL SELECT 3, l, r, CAST(cnt AS BIGINT) FROM m3)
             ORDER BY merge_rank"""),
    (s, d) => {
      val (_, merges) = bpeTrain(s, d)
      import s.implicits._
      merges.toDF("merge_rank", "left_sym", "right_sym",
        "pair_count").orderBy("merge_rank")
    })

  /** BPE ENCODE — apply the trained merges corpus-wide and emit the
    * resulting subword vocabulary with occurrence totals: the tokenize
    * pass a training-data build runs after fitting the tokenizer
    * (completes the X31 loop that q_bpe_merges opens). The merge table
    * rides into the plan as ONE [[graft.functions.BpeEncode]] kernel
    * (greedy lowest-rank merge loop — plan depth constant in the merge
    * count, unlike a chained-replace formulation whose plan grows
    * linearly and dies at a 30k-merge production vocabulary; BpeSpec
    * pins kernel ≡ replace-chain, and the oracle's unrolled replace
    * CTEs re-pin it per run). Encoding is a pure per-row expression —
    * zero extra shuffles beyond the final token-count aggregation, and
    * the aggregation key is a short subword string, never document
    * text.
    *
    * `n_words` counts distinct word types containing the token; the
    * oracle's COUNT(DISTINCT seq) equals COUNT(DISTINCT word) because
    * the '|sym|' encoding is injective (strip separators and you
    * recover the word). */
  val bpeEncode = QueryDef(
    "q_bpe_encode",
    Some(s"""WITH $bpeChainSql,
             enc AS (
               SELECT freq, seq,
                      unnest(string_split(trim(seq, '|'), '||')) AS token
               FROM w3)
             SELECT token,
                    CAST(SUM(freq) AS BIGINT) AS n_occurrences,
                    CAST(COUNT(DISTINCT seq) AS BIGINT) AS n_words
             FROM enc GROUP BY token ORDER BY token"""),
    (s, d) => {
      val (encoded, merges) = bpeTrain(s, d)
      encoded
        .select(col("freq"), col("word"),
          explode(graft.functions.BpeFunctions.bpeEncode(col("word"),
            merges.map(m => (m._2, m._3)))).as("token"))
        .groupBy("token")
        .agg(sum("freq").cast("long").as("n_occurrences"),
          count_distinct(col("word")).as("n_words"))
        .orderBy("token")
    })

  /** WordPiece tokenizer training (X312 — Schuster & Nakajima ICASSP
    * 2012, the BERT tokenizer: completes the subword-merge family
    * next to frequency-greedy BPE (X31), byte-level BPE (X294) and
    * the unigram-LM (X-SentencePiece) by changing ONE thing — the
    * merge criterion. BPE merges the most FREQUENT pair; WordPiece
    * merges the pair maximizing the unigram-likelihood gain
    * score = count(l,r) / (count(l)·count(r)) — a pointwise-mutual-
    * information argmax that prefers pairs occurring TOGETHER
    * disproportionately over pairs that are merely common. Same
    * X31 round device otherwise: one distributed pair count + one
    * symbol count per round (fixed-width (sym, freq) shuffles), only
    * the argmax row returns to the driver. The score is one IEEE
    * divide of exact integer casts, so the argmax — and therefore
    * the whole merge chain — replays bit-for-bit; ties break on
    * (l, r). Oracle unrolls all 3 rounds; wpw CTEs are MATERIALIZED
    * (each is read by the symbol count, the pair count AND the next
    * re-encode — 3 refs/round go exponential inlined). */
  /** The X312 WordPiece training replay as a CTE chain
    * `wptok / wpwc / wpw0 … wpw$rounds` (+ per-round wpu/wpp/wpm) —
    * shared by q_wordpiece's oracle and q_wordpiece_encode's (which
    * must derive its vocabulary from the SAME trained symbols). */
  private[queries] def wordpieceChainSql(rounds: Int): String = {
    def roundSql(k: Int): String = s"""
wpu$k AS (
  SELECT sym, CAST(SUM(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest(string_split(trim(seq, '|'), '||')) AS sym
    FROM wpw${k - 1}) us$k GROUP BY sym),
wpp$k AS (
  SELECT pr.l AS l, pr.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
             i -> {'l': syms[i], 'r': syms[i+1]})) AS pr
    FROM (SELECT freq, string_split(trim(seq, '|'), '||') AS syms
          FROM wpw${k - 1}) ws$k) ps$k GROUP BY pr.l, pr.r),
wpm$k AS (
  SELECT l, r, cnt,
         CAST(cnt AS DOUBLE)
           / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE)) AS score
  FROM wpp$k
  JOIN wpu$k ul ON ul.sym = l
  JOIN wpu$k ur ON ur.sym = r
  ORDER BY score DESC, l, r LIMIT 1),
wpw$k AS MATERIALIZED (
  SELECT freq, replace(seq, '|' || m.l || '||' || m.r || '|',
                       '|' || m.l || m.r || '|') AS seq
  FROM wpw${k - 1} CROSS JOIN wpm$k m)"""
    s"""wptok AS (SELECT unnest($sqlToks) AS word
                  FROM documents),
       wpwc AS MATERIALIZED (
         SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         FROM wptok WHERE regexp_matches(word, '^[a-z]+$$')
         GROUP BY word),
       wpw0 AS MATERIALIZED (
         SELECT freq,
                array_to_string(list_transform(
                  regexp_extract_all(word, '.'),
                  c -> '|' || c || '|'), '') AS seq
         FROM wpwc),
       ${(1 to rounds).map(roundSql).mkString(",")}"""
  }

  /** Shared X312 Spark-side training: word-frequency table with
    * '|sym|' sequences, `rounds` PMI-argmax merges applied. Returns
    * the encoded (word, freq, seq) frame — the Spark twin of the
    * oracle's wpw$rounds, word retained for the X316 encode pass —
    * plus the chosen merges. One pair count + one symbol count per
    * round; only the argmax row returns to the driver. */
  private[queries] def wordpieceTrain(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int = 3)
      : (org.apache.spark.sql.DataFrame,
         Seq[(Int, String, String, Long, Double)]) = {
    val base = wordSymbols(s, d)
    // shared fit (VERDICT r17 #4): deterministic driver-sized merges,
    // trained once per (sf dir, rounds) — see bpeTrain
    val merges = graft.ops.FitCache.memo(s"wpmerges|$d|$rounds") {
      var cur = base
      val out = Seq.newBuilder[(Int, String, String, Long, Double)]
      for (k <- 1 to rounds) {
        val syms = split(trim(col("seq"), "|"), "\\|\\|")
        val symCounts = cur
          .select(col("freq"), explode(syms).as("sym"))
          .groupBy("sym").agg(sum("freq").as("c"))
        val pairs = cur
          .filter(size(syms) >= 2)
          .select(col("freq"),
            explode(transform(sequence(lit(1), size(syms) - 1),
              i => struct(element_at(syms, i).as("l"),
                element_at(syms, i + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("cnt"))
        val top = pairs
          .join(symCounts.select(col("sym").as("l"), col("c").as("cl")),
            "l")
          .join(symCounts.select(col("sym").as("r"), col("c").as("cr")),
            "r")
          .select(col("l"), col("r"), col("cnt"),
            (col("cnt").cast("double") /
              (col("cl").cast("double") * col("cr").cast("double")))
              .as("score"))
          .orderBy(col("score").desc, col("l"), col("r"))
          .limit(1).collect()
        top.headOption.foreach { t =>
          val (l, r) = (t.getString(0), t.getString(1))
          out += ((k, l, r, t.getLong(2), t.getDouble(3)))
          cur = cur.withColumn("seq",
            expr(s"replace(seq, '|$l||$r|', '|$l$r|')"))
        }
      }
      out.result()
    }
    (applyMerges(base,
      merges.map { case (k, l, r, c, _) => (k, l, r, c) }), merges)
  }

  val wordpiece = QueryDef(
    "q_wordpiece", {
      Some(s"""WITH ${wordpieceChainSql(3)}
             SELECT * FROM (
               SELECT CAST(1 AS INT) AS merge_rank, l AS left_sym,
                      r AS right_sym, cnt AS pair_count,
                      ${Num.qroundSql("score", 6)} AS score
               FROM wpm1
               UNION ALL SELECT 2, l, r, cnt,
                 ${Num.qroundSql("score", 6)} FROM wpm2
               UNION ALL SELECT 3, l, r, cnt,
                 ${Num.qroundSql("score", 6)} FROM wpm3) mm
             ORDER BY merge_rank""")
    },
    (s, d) => {
      val (_, merges) = wordpieceTrain(s, d)
      import s.implicits._
      merges
        .map { case (k, l, r, cnt, sc) =>
          (k, l, r, cnt, Num.qround(sc, 6)) }
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count",
          "score")
        .orderBy("merge_rank")
    })

  /** WordPiece ENCODE — greedy longest-prefix-match tokenization of
    * the corpus against the X312-trained vocabulary, with `##`
    * continuation marks (X316 — VERDICT r16 #2: BERT's runtime
    * tokenizer; X312 trains merges but nothing applied them
    * corpus-wide, and WordPiece serving is NOT a merge replay — it
    * re-segments each word by longest match from scratch, which is
    * why encoded segmentations can differ from the training-time
    * sequences). The vocabulary = the distinct trained symbols
    * (driver-bounded), riding into the plan as ONE
    * [[graft.functions.WordPieceEncode]] kernel — plan depth constant
    * in vocab size, per-word cost O(len·maxTokenLen), zero extra
    * shuffles beyond the final token aggregation (the X31 BpeEncode
    * discipline). OOV totality: a position no vocab entry matches
    * emits its single character and advances — every word
    * round-trips, no [UNK] black hole (Round17Spec pins both the
    * kernel ≡ naive-replay equivalence and the round-trip on OOV
    * input). The oracle replays training (shared chain), derives the
    * SAME vocabulary, and re-segments every word with a recursive
    * longest-match CTE (matching over vocab ∪ single characters —
    * identical to the kernel's fallback rule because a length-1
    * vocab hit and the fallback emit the same token). */
  /** The X316 vocab-derivation + recursive longest-match segmentation
    * CTEs (`vocab / vocabx / seg` over `wpwc`/`wpw$rounds`) — shared
    * by q_wordpiece_encode and the X322 fertility comparison. */
  private[queries] def wordpieceEncodeSegSql(rounds: Int): String =
    s"""vocab AS MATERIALIZED (
             SELECT DISTINCT unnest(string_split(trim(seq, '|'), '||'))
               AS sym
             FROM wpw$rounds),
           vocabx AS MATERIALIZED (
             -- UNION ALL + outer DISTINCT, NOT a bare UNION: under
             -- WITH RECURSIVE, DuckDB 1.0.0 gives ANY unioned CTE the
             -- recursive base/step semantics and skips cross-branch
             -- dedup, which duplicated vocab rows and double-counted
             -- every token downstream
             SELECT DISTINCT sym FROM (
               SELECT sym FROM vocab
               UNION ALL
               SELECT c AS sym FROM (
                 SELECT DISTINCT unnest(regexp_extract_all(word, '.'))
                   AS c
                 FROM wpwc) cc) vu),
           seg(word, freq, pos, tok) AS (
             SELECT w.word, w.freq, 1 + len(s.sym), s.sym
             FROM wpwc w JOIN vocabx s
               ON substr(w.word, 1, len(s.sym)) = s.sym
             WHERE NOT EXISTS (SELECT 1 FROM vocabx s2
                               WHERE len(s2.sym) > len(s.sym)
                                 AND substr(w.word, 1, len(s2.sym))
                                       = s2.sym)
             UNION ALL
             SELECT g.word, g.freq, g.pos + len(s.sym), '##' || s.sym
             FROM seg g JOIN vocabx s
               ON substr(g.word, g.pos, len(s.sym)) = s.sym
             WHERE g.pos <= len(g.word)
               AND NOT EXISTS (SELECT 1 FROM vocabx s2
                               WHERE len(s2.sym) > len(s.sym)
                                 AND substr(g.word, g.pos, len(s2.sym))
                                       = s2.sym))"""

  val wordpieceEncode = QueryDef(
    "q_wordpiece_encode",
    Some(s"""WITH RECURSIVE ${wordpieceChainSql(3)},
           ${wordpieceEncodeSegSql(3)}
           SELECT tok AS token,
                  CAST(SUM(freq) AS BIGINT) AS n_occurrences,
                  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
           FROM seg GROUP BY tok ORDER BY token"""),
    (s, d) => {
      val (encoded, _) = wordpieceTrain(s, d)
      val enc = encoded.localCheckpoint(true) // vocab collect + encode
      val vocab = enc
        .select(explode(split(trim(col("seq"), "|"), "\\|\\|")).as("sym"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      enc.select(col("freq"), col("word"),
          explode(graft.functions.WordPieceFunctions.wordpieceEncode(
            col("word"), vocab)).as("token"))
        .groupBy("token")
        .agg(sum("freq").cast("long").as("n_occurrences"),
          count_distinct(col("word")).as("n_words"))
        .orderBy("token")
    })

  /** Unigram-LM (SentencePiece) tokenizer — one hard-EM round + one
    * likelihood prune (X319 — Kudo ACL 2018: the fourth public
    * subword family, completing BPE (X31) / byte-BPE (X294) /
    * WordPiece (X312+X316); the defining difference is DIRECTION —
    * the merge families grow a vocabulary bottom-up, unigram-LM
    * starts BIG (every corpus substring ≤ 4 chars: all single
    * characters + the top-24 multi-character seeds by weighted count)
    * and PRUNES by usefulness under the model). The round:
    *
    *  - E-step: Viterbi-segment every word — the min-total-nll
    *    segmentation under the seed unigram probabilities, via ONE
    *    [[graft.functions.UnigramViterbi]] kernel (suffix DP +
    *    forward walk, the X31/X316 codegen discipline — zero extra
    *    shuffles, plan depth constant in vocab size);
    *  - M-step: re-count token usage over the Viterbi segmentations
    *    (one aggregate, freq-weighted);
    *  - prune: keep every single character (coverage totality —
    *    Kudo's invariant) + the top-12 multi-character tokens by
    *    (em_count DESC, token ASC) — exact INTEGER ordering, so the
    *    prune order replays bit-for-bit (Round17Spec pins it).
    *
    * Float discipline: nll values are integer-quantized ONCE per
    * vocab entry (FLOOR(-ln(count/total)·10⁶ + 0.5) — one ln of an
    * exact rational), so every DP comparison and the whole chain
    * downstream is exact-integer; no float-order hazard can flip a
    * segmentation between engines. Declared boundary assumption
    * (ADVICE r17): the one ln is Java Math.log Spark-side and libm
    * ln in DuckDB — each within 1 ulp of the correctly-rounded
    * result — so the quantization agrees unless
    * -ln(cnt/total)·10⁶ + 0.5 lands within ~1 ulp of an exact
    * integer, i.e. unless a vocab probability is within ~2⁻⁴⁰
    * relative of e^-(k±0.5)/10⁶ for integer k. No corpus the suite
    * runs has produced such a boundary count, and a hit would
    * surface loudly as a whole-segmentation hash mismatch, not a
    * silent drift; the literal-injection alternative is unavailable
    * because oracle SQL is fixed per query, independent of the data
    * directory. The oracle replays everything
    * relationally: seed counts, the SAME quantized nll table, the
    * suffix DP as 12 unrolled rounds (a declared len ≤ 12 fixture
    * bound, vacuous on this corpus — max word length 8; the kernel
    * itself is unbounded), the forward walk as a recursive
    * longest-of-the-cheapest CTE, and the prune ranking. At 100 TB:
    * seed counting is one substring-explode aggregate, the vocab is
    * a bounded driver artifact, the E-step is a per-row kernel scan,
    * the M-step one keyed aggregate — the ×rounds cost shape EM
    * training actually has. */
  /** The X319 oracle chain `utok … useg` (seed counts, quantized nll
    * table, the 12 unrolled suffix-DP rounds, the recursive
    * cheapest-then-longest forward walk) — shared by
    * q_unigram_tokenizer and the X322 fertility comparison. Must be
    * placed under WITH RECURSIVE; ends at `useg` without a trailing
    * comma. */
  private[queries] def unigramViterbiChainSql(): String = {
      val L = 12
      s"""utok AS (SELECT unnest($sqlToks) AS word FROM documents),
uwc AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM utok WHERE regexp_matches(word, '^[a-z]+$$') AND len(word) <= $L
  GROUP BY word),
usub AS MATERIALIZED (
  SELECT tok, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(flatten(list_transform(range(1, 5), l ->
      list_transform(range(1, len(word) - l + 2),
        i -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS tok
    FROM uwc) su
  GROUP BY tok),
uv0 AS MATERIALIZED (
  SELECT tok, cnt FROM (
    SELECT tok, cnt, ROW_NUMBER() OVER (PARTITION BY (len(tok) = 1)
      ORDER BY cnt DESC, tok) AS rn
    FROM usub) ru
  WHERE len(tok) = 1 OR rn <= 24),
utot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uv0),
unll AS MATERIALIZED (
  SELECT tok, cnt,
         CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS nll
  FROM uv0 CROSS JOIN utot t),
${unigramDpWalkSql("", "unll")}"""
  }

  /** The X319 suffix-DP + forward-walk CTEs parameterized by CTE
    * prefix and nll-table name (`${pfx}bs0..12`, `${pfx}useg`) over
    * the shared `uwc` word table — so the seed-model E-step and the
    * X323 pruned-vocab serving pass replay through ONE generator. */
  private[queries] def unigramDpWalkSql(pfx: String,
      nllCte: String): String = {
      val L = 12
      val rounds = (1 to L).map { r =>
        val p = r - 1
        s"""
${pfx}bs$r AS MATERIALIZED (
  SELECT word, i, cost FROM ${pfx}bs$p
  UNION ALL
  SELECT word, i, CAST(MIN(cost) AS BIGINT) AS cost FROM (
    SELECT b.word, CAST(len(b.word) + 1 - $r AS BIGINT) AS i,
           v.nll + p.cost AS cost
    FROM uwc b
    JOIN $nllCte v
      ON len(b.word) + 1 - $r >= 1
      AND substr(b.word, len(b.word) + 1 - $r, len(v.tok)) = v.tok
    JOIN ${pfx}bs$p p ON p.word = b.word
      AND p.i = len(b.word) + 1 - $r + len(v.tok)) ${pfx}c$r
  GROUP BY word, i)"""
      }.mkString(",")
      s"""${pfx}bs0 AS MATERIALIZED (
  SELECT word, CAST(len(word) + 1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cost
  FROM uwc),$rounds,
${pfx}useg(word, freq, pos, tok) AS (
  SELECT w.word, w.freq, 1 + len(v.tok), v.tok
  FROM uwc w
  JOIN $nllCte v ON substr(w.word, 1, len(v.tok)) = v.tok
  JOIN ${pfx}bs$L nx ON nx.word = w.word AND nx.i = 1 + len(v.tok)
  WHERE NOT EXISTS (
    SELECT 1 FROM $nllCte v2
    JOIN ${pfx}bs$L n2 ON n2.word = w.word AND n2.i = 1 + len(v2.tok)
    WHERE substr(w.word, 1, len(v2.tok)) = v2.tok
      AND (v2.nll + n2.cost < v.nll + nx.cost
           OR (v2.nll + n2.cost = v.nll + nx.cost
               AND len(v2.tok) > len(v.tok))))
  UNION ALL
  SELECT g.word, g.freq, g.pos + len(v.tok), v.tok
  FROM ${pfx}useg g
  JOIN $nllCte v ON substr(g.word, g.pos, len(v.tok)) = v.tok
  JOIN ${pfx}bs$L nx ON nx.word = g.word AND nx.i = g.pos + len(v.tok)
  WHERE g.pos <= len(g.word)
    AND NOT EXISTS (
      SELECT 1 FROM $nllCte v2
      JOIN ${pfx}bs$L n2 ON n2.word = g.word AND n2.i = g.pos + len(v2.tok)
      WHERE substr(g.word, g.pos, len(v2.tok)) = v2.tok
        AND (v2.nll + n2.cost < v.nll + nx.cost
             OR (v2.nll + n2.cost = v.nll + nx.cost
                 AND len(v2.tok) > len(v.tok)))))"""
  }

  /** Spark twin of [[unigramChainSql]]'s seed stage: the (word, freq)
    * table and the quantized-nll seed vocabulary as driver triples
    * (token, seed count, nll) — shared by q_unigram_tokenizer and the
    * X322 fertility comparison. */
  private[queries] def unigramSeed(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        Seq[(String, Long, Long)]) = {
      val words = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$") &&
          length(col("word")) <= 12)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .localCheckpoint(true) // substring seed + E-step scan share it
      // shared fit (VERDICT r17 #4): the quantized seed vocabulary is
      // a deterministic driver-sized artifact of the sf dir — trained
      // once per eval session (q_unigram_tokenizer / q_unigram_encode
      // / q_tokenizer_compare all consume it)
      val nllq = graft.ops.FitCache.memo(s"ugseed|$d") {
        val subs = (1 to 4).map { l =>
          words.filter(length(col("word")) >= l)
            .select(col("freq"), explode(expr(
              s"transform(sequence(1, length(word) - $l + 1), " +
                s"i -> substring(word, i, $l))")).as("tok"))
        }.reduce(_ unionAll _)
        val counts = subs.groupBy("tok")
          .agg(sum("freq").cast("long").as("cnt"))
          .localCheckpoint(true) // singles scan + top-M scan
        // the seed vocabulary is a bounded driver artifact: every
        // single char + the top-24 multi-char substrings
        val singles = counts.filter(length(col("tok")) === 1)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val multis = counts.filter(length(col("tok")) >= 2)
          .orderBy(col("cnt").desc, col("tok"))
          .limit(24).collect().map(r => (r.getString(0), r.getLong(1)))
        val seed = (singles ++ multis).sortBy(_._1).toSeq
        val total = seed.map(_._2).sum
        seed.map { case (t, c) =>
          (t, c, math.floor(-math.log(c.toDouble / total.toDouble) * 1e6
            + 0.5).toLong)
        }
      }
      (words, nllq)
  }

  val unigramTokenizer = QueryDef(
    "q_unigram_tokenizer",
    Some(s"""WITH RECURSIVE
${unigramViterbiChainSql()},
uem AS MATERIALIZED (
  SELECT tok, CAST(SUM(freq) AS BIGINT) AS emc FROM useg GROUP BY tok)
SELECT tok AS token, cnt AS seed_count, nll AS nll_q, emc AS em_count,
       (len(tok) = 1 OR rk <= 12) AS kept
FROM (
  SELECT v0.tok, v0.cnt, v0.nll,
         COALESCE(m0.emc, CAST(0 AS BIGINT)) AS emc,
         ROW_NUMBER() OVER (PARTITION BY (len(v0.tok) = 1)
           ORDER BY COALESCE(m0.emc, CAST(0 AS BIGINT)) DESC, v0.tok) AS rk
  FROM unll v0 LEFT JOIN uem m0 ON m0.tok = v0.tok) fin
ORDER BY token"""),
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val (words, nllq) = unigramSeed(s, d)
      val vocab = nllq.map { case (t, _, q) => (t, q) }
      val em = words.select(col("freq"),
          explode(graft.functions.UnigramFunctions.unigramViterbi(
            col("word"), vocab)).as("token"))
        .groupBy("token").agg(sum("freq").cast("long").as("emc"))
      val w = Window.partitionBy(length(col("token")) === 1)
        .orderBy(col("em_count").desc, col("token"))
      nllq.toDF("token", "seed_count", "nll_q")
        .join(em, Seq("token"), "left")
        .select(col("token"), col("seed_count"), col("nll_q"),
          coalesce(col("emc"), lit(0L)).as("em_count"))
        .withColumn("rk", row_number().over(w))
        .select(col("token"), col("seed_count"), col("nll_q"),
          col("em_count"),
          (length(col("token")) === 1 || col("rk") <= 12).as("kept"))
        .orderBy("token")
    })

  /** Unigram-LM ENCODE under the PRUNED vocabulary (X323 — the serve
    * half of X319, completing the train→serve symmetry the other
    * families have (X31→BpeEncode, X312→X316): after the EM round
    * prunes the seed to singles + top-12 multi, SentencePiece
    * re-normalizes the survivors' probabilities and serves Viterbi
    * segmentation under the pruned model (Kudo 2018 §3.2's
    * final-vocab tokenizer). Renormalization here is over the kept
    * tokens' SEED counts (exact integers), re-quantized through the
    * same FLOOR(-ln·10⁶) lane, so the serving DP is again pure
    * exact-int comparison. The encode is one
    * [[graft.functions.UnigramViterbi]] kernel scan; the oracle
    * replays the full lifecycle — seed, E-step walk, em counts,
    * prune ranking, renormalized nll table, and a SECOND prefixed
    * DP + recursive walk under the pruned model — in one statement.
    * Round17Spec pins cross-query consistency (every emitted token
    * is q_unigram_tokenizer's kept set) and character conservation
    * (freq-weighted token chars ≡ freq-weighted word chars). */
  val unigramEncode = QueryDef(
    "q_unigram_encode",
    Some(s"""WITH RECURSIVE
${unigramViterbiChainSql()},
uem AS MATERIALIZED (
  SELECT tok, CAST(SUM(freq) AS BIGINT) AS emc FROM useg GROUP BY tok),
ukept AS MATERIALIZED (
  SELECT tok, cnt FROM (
    SELECT v0.tok, v0.cnt,
           ROW_NUMBER() OVER (PARTITION BY (len(v0.tok) = 1)
             ORDER BY COALESCE(m0.emc, CAST(0 AS BIGINT)) DESC,
               v0.tok) AS rk
    FROM unll v0 LEFT JOIN uem m0 ON m0.tok = v0.tok) kz
  WHERE len(tok) = 1 OR rk <= 12),
vtot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM ukept),
vnll AS MATERIALIZED (
  SELECT tok, cnt,
         CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS nll
  FROM ukept CROSS JOIN vtot t),
${unigramDpWalkSql("v", "vnll")}
SELECT tok AS token,
       CAST(SUM(freq) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
FROM vuseg GROUP BY tok ORDER BY token"""),
    (s, d) => {
      import s.implicits._
      val (words, nllq) = unigramSeed(s, d)
      // E-step under the seed model -> em counts (vocab-bounded,
      // deterministic: exact-integer DP over the memoized seed) —
      // shared with the warm pass via FitCache
      val em = ugEmCounts(s, d, words, nllq)
      // prune by the SAME exact-integer ordering as the kept flag
      val singles = nllq.filter(_._1.length == 1)
      val multisKept = nllq.filter(_._1.length > 1)
        .sortBy { case (t, _, _) => (-em.getOrElse(t, 0L), t) }
        .take(12)
      val kept = (singles ++ multisKept).sortBy(_._1)
      val total = kept.map(_._2).sum
      val vocab2 = kept.map { case (t, c, _) =>
        (t, math.floor(-math.log(c.toDouble / total.toDouble) * 1e6
          + 0.5).toLong)
      }
      words.select(col("freq"), col("word"),
          explode(graft.functions.UnigramFunctions.unigramViterbi(
            col("word"), vocab2)).as("token"))
        .groupBy("token")
        .agg(sum("freq").cast("long").as("n_occurrences"),
          count_distinct(col("word")).as("n_words"))
        .orderBy("token")
    })

  /** Cross-TOKENIZER comparison (X322 — the comparative frame the
    * four-family tokenizer suite was missing, in the X291 one-table
    * discipline: fertility (tokens per word, Ács 2019 / Rust et al.
    * 2021) and mean token length for char-baseline / BPE / WordPiece /
    * unigram-LM. X246's q_tokenizer_fertility compares LANGUAGES
    * under one fixed splitter; this row compares TOKENIZERS on one
    * corpus.) Measured on the SAME ^[a-z]+$ word-occurrence universe
    * so the numbers are directly comparable — the
    * table a pipeline reads before committing to a tokenizer, since
    * fertility IS the sequence-length (= training-cost) multiplier).
    * Segmentation per family is each family's own serving rule: BPE =
    * the trained merge encoding (X31's w3), WordPiece = greedy
    * longest-match over the trained vocab (X316's recursive seg),
    * unigram = min-nll Viterbi under the seed model (X319's walk),
    * char = one token per character (the no-tokenizer floor,
    * chars_per_token ≡ 1). Totals are exact freq-weighted integers;
    * the two ratios are single divides of exact ints (element-wise
    * deterministic, hash raw). The oracle composes the three training
    * chains + both recursive segmentations in ONE statement — every
    * fragment already oracle-checked standalone. The shared universe
    * holds BY CONSTRUCTION (ADVICE r17): unigram's len ≤ 12 training
    * bound is applied to every lane's occurrence aggregate (char/BPE/
    * WordPiece included — BPE via the lossless seq encoding, since w3
    * carries no word column), not left to fixture luck (this corpus's
    * max word length is 8, so the cap is vacuous today; a 13+-char
    * word would now drop from all four lanes identically). Training
    * itself stays per-family-unfiltered — the cap defines the
    * COMPARISON universe, not the tokenizers. */
  val tokenizerCompare = QueryDef(
    "q_tokenizer_compare",
    Some(s"""WITH RECURSIVE
             $bpeChainSql,
             ${wordpieceChainSql(3)},
             ${wordpieceEncodeSegSql(3)},
             ${unigramViterbiChainSql()},
             charl AS (
               SELECT CAST(SUM(freq) AS BIGINT) AS no,
                      CAST(SUM(freq * len(word)) AS BIGINT) AS nt,
                      CAST(SUM(freq * len(word)) AS BIGINT) AS nc
               FROM wc WHERE len(word) <= 12),
             bpel AS (
               -- len(word) ≤ 12 via the lossless seq encoding (w3
               -- carries no word column; merges conserve chars)
               SELECT CAST(SUM(freq) AS BIGINT) AS no,
                      CAST(SUM(freq * len(string_split(trim(seq, '|'),
                        '||'))) AS BIGINT) AS nt,
                      CAST(SUM(freq * len(replace(seq, '|', '')))
                        AS BIGINT) AS nc
               FROM w3 WHERE len(replace(seq, '|', '')) <= 12),
             wpbase AS (
               SELECT CAST(SUM(freq) AS BIGINT) AS no,
                      CAST(SUM(freq * len(word)) AS BIGINT) AS nc
               FROM wpwc WHERE len(word) <= 12),
             wpl AS (
               SELECT b.no, t.nt, b.nc
               FROM wpbase b CROSS JOIN
                 (SELECT CAST(SUM(freq) AS BIGINT) AS nt FROM seg
                  WHERE len(word) <= 12) t),
             ugbase AS (
               SELECT CAST(SUM(freq) AS BIGINT) AS no,
                      CAST(SUM(freq * len(word)) AS BIGINT) AS nc
               FROM uwc),
             ugl AS (
               SELECT b.no, t.nt, b.nc
               FROM ugbase b CROSS JOIN
                 (SELECT CAST(SUM(freq) AS BIGINT) AS nt FROM useg) t)
             SELECT * FROM (
               SELECT 'bpe' AS tokenizer, no AS n_word_occurrences,
                      nt AS n_tokens,
                      CAST(nt AS DOUBLE) / CAST(no AS DOUBLE)
                        AS tokens_per_word,
                      CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)
                        AS chars_per_token
               FROM bpel
               UNION ALL
               SELECT 'char', no, nt,
                      CAST(nt AS DOUBLE) / CAST(no AS DOUBLE),
                      CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) FROM charl
               UNION ALL
               SELECT 'unigram', no, nt,
                      CAST(nt AS DOUBLE) / CAST(no AS DOUBLE),
                      CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) FROM ugl
               UNION ALL
               SELECT 'wordpiece', no, nt,
                      CAST(nt AS DOUBLE) / CAST(no AS DOUBLE),
                      CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE) FROM wpl) u
             ORDER BY tokenizer"""),
    (s, d) => {
      import s.implicits._
      def laneOf(name: String,
          perWord: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        // perWord: (word, freq, k) — k tokens for one occurrence
        perWord.agg(
          sum("freq").cast("long").as("n_word_occurrences"),
          sum(col("freq") * col("k")).cast("long").as("n_tokens"),
          sum(col("freq") * length(col("word"))).cast("long").as("nc"))
          .select(lit(name).as("tokenizer"), col("n_word_occurrences"),
            col("n_tokens"),
            (col("n_tokens").cast("double") /
              col("n_word_occurrences").cast("double"))
              .as("tokens_per_word"),
            (col("nc").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"))
      // char baseline + BPE: the trained w3 segmentation. Lanes read
      // the SHARED len ≤ 12 comparison universe (ADVICE r17);
      // training stays unfiltered.
      val (bpeEnc, _) = bpeTrain(s, d)
      val bpeUni = bpeEnc.filter(length(col("word")) <= 12)
      val bpeLane = laneOf("bpe", bpeUni.select(col("word"), col("freq"),
        size(split(trim(col("seq"), "|"), "\\|\\|")).as("k")))
      val charLane = laneOf("char", bpeUni.select(col("word"),
        col("freq"), length(col("word")).as("k")))
      // WordPiece: longest-match serving over the trained vocab
      // (derived from the FULL trained frame, pre-cap)
      val (wpEnc, _) = wordpieceTrain(s, d)
      val wpFrame = wpEnc.localCheckpoint(true)
      val wpVocab = wpFrame
        .select(explode(split(trim(col("seq"), "|"), "\\|\\|")).as("sym"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      val wpLane = laneOf("wordpiece",
        wpFrame.filter(length(col("word")) <= 12).select(col("word"),
        col("freq"),
        size(graft.functions.WordPieceFunctions.wordpieceEncode(
          col("word"), wpVocab)).as("k")))
      // unigram: Viterbi under the seed model
      val (ugWords, nllq) = unigramSeed(s, d)
      val ugLane = laneOf("unigram", ugWords.select(col("word"),
        col("freq"),
        size(graft.functions.UnigramFunctions.unigramViterbi(
          col("word"), nllq.map { case (t, _, q) => (t, q) })).as("k")))
      bpeLane.unionAll(charLane).unionAll(ugLane).unionAll(wpLane)
        .orderBy("tokenizer")
    })

  // -------------------------------------------------- byte-level bpe

  /** The multibyte fixture the byte-level chain trains over alongside
    * the corpus words: CJK, emoji (a 4-byte astral codepoint) and a
    * Latin-1 accent — every UTF-8 sequence length 1-4 is exercised
    * through the hex-chunking lane on both engines. */
  private[queries] val bpeByteFixture: Seq[(String, Long)] = Seq(
    ("日本語", 900L), ("日本", 800L), ("🙂🙂", 700L), ("naïve", 600L))

  private val bpeByteFixtureSqlVals = bpeByteFixture
    .map { case (w, f) => s"('$w', CAST($f AS BIGINT))" }.mkString(", ")

  /** UTF-8 bytes of a word as a '|sym|'-encoded sequence of lowercase
    * 2-hex-digit byte symbols ("日" → "|e6||97||a5|") — the byte-level
    * twin of the char chain's w0 encoding. hex(encode(...)) is the one
    * portable byte-extraction lane both engines share; the regex chunk
    * into pairs is exact because hex output length is always even. */
  private def hexByteSeq(word: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat_ws("", transform(
      regexp_extract_all(lower(hex(encode(word, "UTF-8"))),
        lit(".."), lit(0)),
      c => concat(lit("|"), c, lit("|"))))

  /** Corpus word-frequency table + the multibyte fixture — the
    * persisted base every byte-level merge round reads (the X31
    * word-table discipline: the corpus is tokenized ONCE; per-round
    * work is bounded by the vocabulary). */
  private[queries] def bpeByteWordTable(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .unionAll(bpeByteFixture.toDF("word", "freq"))
  }

  /** Byte-level BPE training: hex-byte w0 encoding + the shared
    * [[bpeMergeLoop]]. Returns the encoded (word, freq, seq) frame and
    * the chosen merges. */
  private[queries] def bpeTrainBytes(words: org.apache.spark.sql.DataFrame,
      rounds: Int = 4)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, Long)]) = {
    val base = words
      .withColumn("seq", hexByteSeq(col("word")))
      .select("word", "freq", "seq")
      .persist()
    bpeMergeLoop(base, rounds)
  }

  /** Byte-level BPE (X294 — the GPT-2 reality next to X31's char
    * merges, Radford et al. 2019 §2.2: the base alphabet is the 256
    * BYTES, so every string — any script, any emoji, any mojibake —
    * segments with zero <unk>: symbols that never merge stay raw
    * single bytes, which IS the UTF-8 fallback). Words become
    * sequences of 2-hex-digit byte symbols (one portable
    * hex(encode(word)) lane — both engines derive identical byte
    * streams, exercised 1-4 bytes/char by the CJK/emoji/accent
    * fixture), then 4 unrolled rounds of the SAME merge device as
    * q_bpe_merges. Emits the resulting subword vocabulary: token hex
    * string, byte width, occurrence total, distinct word types
    * (COUNT(DISTINCT seq) ≡ distinct words — UTF-8 encoding is
    * injective). Token boundaries are byte-exact by construction —
    * BpeBytesSpec proves per-word segmentation losslessness and, on a
    * single-char-word fixture where intra-character merges run to
    * completion, that every trained token decodes to valid UTF-8 (no
    * invalid token boundaries). */
  val bpeBytes = QueryDef(
    "q_bpe_bytes",
    Some(s"""WITH bwc AS (
               SELECT word, freq FROM (
                 SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
                 FROM (SELECT unnest($sqlToks) AS word FROM documents) bt
                 WHERE regexp_matches(word, '^[a-z]+$$')
                 GROUP BY word
                 UNION ALL
                 SELECT * FROM (VALUES $bpeByteFixtureSqlVals)
                   f(word, freq))),
             bw0 AS (
               SELECT freq,
                      array_to_string(list_transform(
                        regexp_extract_all(lower(hex(encode(word))), '..'),
                        c -> '|' || c || '|'), '') AS seq
               FROM bwc),
             ${(1 to 4).map(bpeRoundSqlX(_, "b")).mkString(",")},
             benc AS (
               SELECT freq, seq,
                      unnest(string_split(trim(seq, '|'), '||')) AS token
               FROM bw4)
             SELECT token,
                    CAST(len(token) // 2 AS INT) AS n_bytes,
                    CAST(SUM(freq) AS BIGINT) AS n_occurrences,
                    CAST(COUNT(DISTINCT seq) AS BIGINT) AS n_words
             FROM benc GROUP BY token ORDER BY token"""),
    (s, d) => {
      val (encoded, _) = bpeTrainBytes(bpeByteWordTable(s, d), rounds = 4)
      encoded
        .select(col("freq"), col("word"),
          explode(split(trim(col("seq"), "|"), "\\|\\|")).as("token"))
        .groupBy("token")
        .agg(sum("freq").cast("long").as("n_occurrences"),
          count_distinct(col("word")).as("n_words"))
        .select(col("token"),
          (length(col("token")) / 2).cast("int").as("n_bytes"),
          col("n_occurrences"), col("n_words"))
        .orderBy("token")
    })

  // ------------------------------------------------------- unigram LM

  /** One unrolled soft-EM round for the X258 oracle (mirrors
    * [[graft.ops.UnigramLm.emRound]] expression-for-expression):
    * probability pivots from v{r-1} via correlated lookups, forward
    * alphas / reversed-word betas as lateral column aliases in the
    * SAME j = 1..MaxPiece left-fold order as the Spark side, the
    * (i, j) occurrence expansion with the identical
    * ((alpha·p)·beta)/alpha_n association, qround(4) expected counts,
    * qround(6) renormalization. */
  private def unigramRoundSql(r: Int): String = unigramRoundSqlS(r, "")

  /** Suffix-parameterized variant (X289 runs THREE chains in one
    * oracle; `x` prefixes every CTE name so they can't collide). */
  private def unigramRoundSqlS(r: Int, x: String): String = {
    val L = graft.ops.UnigramLm.MaxWordLen
    val P = graft.ops.UnigramLm.MaxPiece
    val vPrev = s"v$x${r - 1}"
    val pivots = (for { i <- 0 until L; j <- 1 to P } yield
      s"""COALESCE((SELECT p FROM $vPrev
         |        WHERE piece = substring(word, ${i + 1}, $j)), 0.0)
         |      AS p_${i}_$j""".stripMargin).mkString(",\n    ")
    val rpivots = (for { i <- 0 until L; j <- 1 to P } yield
      s"""COALESCE((SELECT p FROM $vPrev
         |        WHERE piece = reverse(substring(reverse(word), ${i + 1}, $j))), 0.0)
         |      AS r_${i}_$j""".stripMargin).mkString(",\n    ")
    val alphas = (1 to L).map { k =>
      (1 to math.min(P, k)).map(j => s"a${k - j} * p_${k - j}_$j")
        .mkString("", " + ", s" AS a$k")
    }.mkString(",\n    ")
    val betas = (1 to L).map { m =>
      (1 to math.min(P, m)).map(j => s"b${m - j} * r_${m - j}_$j")
        .mkString("", " + ", s" AS b$m")
    }.mkString(",\n    ")
    val pL = (0 until L).map(i =>
      "[" + (1 to P).map(j => s"p_${i}_$j").mkString(", ") + "]")
      .mkString("[", ", ", "]")
    val aList = (0 to L).map(k => s"a$k").mkString("[", ", ", "]")
    val bList = (0 to L).map(k => s"b$k").mkString("[", ", ", "]")
    s"""pv$x$r AS (
  SELECT word, freq, CAST(len(word) AS INT) AS n,
    $pivots,
    $rpivots
  FROM words$x),
dp$x$r AS (
  SELECT word, freq, n, $pL AS pl,
    1.0 AS a0,
    $alphas,
    1.0 AS b0,
    $betas
  FROM pv$x$r),
lx$x$r AS (
  SELECT word, freq, n, pl, $aList AS al, $bList AS bl FROM dp$x$r),
oc$x$r AS (
  SELECT substring(word, i + 1, j) AS piece,
         CAST(freq AS DOUBLE) *
           (((al[i + 1] * pl[i + 1][j]) * bl[n - i - j + 1])
             / al[n + 1]) AS w
  FROM lx$x$r
  CROSS JOIN range(0, $L) t1(i)
  CROSS JOIN range(1, ${P + 1}) t2(j)
  WHERE i + j <= n AND pl[i + 1][j] > 0),
ec$x$r AS (
  SELECT piece, ${Num.qroundSql("SUM(w)", 4)} AS ec
  FROM oc$x$r GROUP BY piece),
v$x$r AS MATERIALIZED (
  SELECT piece,
         ${Num.qroundSql(s"ec / (SELECT SUM(ec) FROM ec$x$r)", 6)} AS p
  FROM ec$x$r)"""
  }

  /** Unigram-LM (SentencePiece-style) tokenizer trainer (X258 — Kudo
    * 2018; see [[graft.ops.UnigramLm]] for the algorithm, scale shape
    * and determinism contract). Two pinned soft-EM rounds from the
    * substring-frequency seed; emits the chosen vocabulary with seed
    * counts, initial and fitted probabilities, and per-piece
    * log-probs (q6 — ln is the one transcendental lane, the
    * q_sample_weighted discipline). The oracle re-derives seed AND
    * both EM rounds as unrolled CTEs. */
  /** Shared oracle chain for X258/X264: word table → substring seed →
    * v0 → two unrolled EM rounds (v2 = the fitted vocabulary). */
  private def unigramChainSql: String = unigramChainSqlS("", "TRUE")

  /** Suffix- and filter-parameterized chain: fit the unigram LM on
    * `documents WHERE $docFilter`, all CTE names prefixed with `x`. */
  private def unigramChainSqlS(x: String, docFilter: String): String = {
    val L = graft.ops.UnigramLm.MaxWordLen
    val P = graft.ops.UnigramLm.MaxPiece
    val M = graft.ops.UnigramLm.TopMulti
    s"""wtok$x AS (SELECT unnest($sqlToks) AS word FROM documents
              WHERE $docFilter),
            words$x AS MATERIALIZED (
              SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
              FROM wtok$x
              WHERE regexp_matches(word, '^[a-z]+$$') AND len(word) <= $L
              GROUP BY word),
            subs$x AS (
              SELECT substring(word, i + 1, j) AS piece, freq
              FROM words$x
              CROSS JOIN range(0, $L) t1(i)
              CROSS JOIN range(1, ${P + 1}) t2(j)
              WHERE i + j <= len(word)),
            cnts$x AS (
              SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
              FROM subs$x GROUP BY piece),
            seed$x AS (
              SELECT piece, cnt FROM cnts$x WHERE len(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM
                (SELECT piece, cnt FROM cnts$x WHERE len(piece) >= 2
                 ORDER BY cnt DESC, piece LIMIT $M)),
            v${x}0 AS MATERIALIZED (
              SELECT piece, ${Num.qroundSql(
                "CAST(cnt AS DOUBLE) / " +
                  s"CAST((SELECT SUM(cnt) FROM seed$x) AS DOUBLE)", 6)} AS p
              FROM seed$x),
            ${unigramRoundSqlS(1, x)},
            ${unigramRoundSqlS(2, x)}"""
  }

  val unigramLm = QueryDef(
    "q_unigram_lm",
    Some {
      s"""WITH $unigramChainSql
            SELECT s.piece AS piece,
                   CAST(len(s.piece) AS INT) AS piece_len,
                   s.cnt AS n_raw,
                   v0.p AS p_init,
                   v2.p AS p_final,
                   ${Num.qroundSql("ln(v2.p)", 6)} AS logp
            FROM seed s
            JOIN v0 ON v0.piece = s.piece
            JOIN v2 ON v2.piece = s.piece
            ORDER BY piece"""
    },
    (s, d) => {
      import graft.ops.UnigramLm
      val words = UnigramLm.wordTable(Tables.documents(s, d)).persist()
      try {
        val seed = UnigramLm.seedVocab(words)
        val p0 = UnigramLm.initProbs(seed).toMap
        var probs = p0
        for (_ <- 1 to 2) probs = UnigramLm.emRound(words, probs).toMap
        import s.implicits._
        seed.map { case (pc, c) =>
          val pf = probs(pc)
          (pc, pc.length, c, p0(pc), pf, Num.qround(math.log(pf), 6))
        }.toDF("piece", "piece_len", "n_raw", "p_init", "p_final",
          "logp").orderBy("piece")
      } finally words.unpersist()
    })

  /** Corpus cross-entropy under the X258 unigram LM (X264 — the
    * scoring pass that completes the unigram family the way
    * q_bpe_encode completes X31: fit the tokenizer, then ask "how
    * well does it model each source?"). Per distinct word the
    * MARGINAL likelihood alpha_n (forward over ALL segmentations —
    * [[graft.ops.UnigramLm.forward]]) gives nll = −ln α, kept RAW:
    * quantizing per-word lns amplifies a single libm 1-ulp boundary
    * hit by word frequency (measured: one q6 word lane moved a q4 sum
    * a full grid step), while raw 1-ulp diffs aggregate to ~1e-11 —
    * the q_lm_score discipline, quantize the AGGREGATE only
    * (qround(4)); the per-char/per-token rates are q6 of
    * quantized/exact-int divides. Shape: the DP runs ONCE over the
    * distinct-word table; per-source aggregation is a word-keyed join
    * + one keyed aggregate — corpus text never re-enters. */
  val unigramScore = QueryDef(
    "q_unigram_score",
    Some {
      val L = graft.ops.UnigramLm.MaxWordLen
      val P = graft.ops.UnigramLm.MaxPiece
      val pivots = (for { i <- 0 until L; j <- 1 to P } yield
        s"""COALESCE((SELECT p FROM v2
           |        WHERE piece = substring(word, ${i + 1}, $j)), 0.0)
           |      AS p_${i}_$j""".stripMargin).mkString(",\n    ")
      val alphas = (1 to L).map { k =>
        (1 to math.min(P, k)).map(j => s"a${k - j} * p_${k - j}_$j")
          .mkString("", " + ", s" AS a$k")
      }.mkString(",\n    ")
      val aList = (0 to L).map(k => s"a$k").mkString("[", ", ", "]")
      s"""WITH $unigramChainSql,
            sp AS (
              SELECT word, CAST(len(word) AS INT) AS n,
                $pivots
              FROM words),
            sd AS (
              SELECT word, n, 1.0 AS a0,
                $alphas
              FROM sp),
            snll AS MATERIALIZED (
              SELECT word, -ln(list_extract($aList, n + 1)) AS nll
              FROM sd),
            wsrc AS (
              SELECT source, word, CAST(COUNT(*) AS BIGINT) AS f
              FROM (SELECT source, unnest($sqlToks) AS word
                    FROM documents)
              WHERE regexp_matches(word, '^[a-z]+$$')
                AND len(word) <= $L
              GROUP BY source, word),
            xs AS (
              SELECT w.source,
                     CAST(SUM(w.f) AS BIGINT) AS n_tokens,
                     CAST(SUM(w.f * len(w.word)) AS BIGINT) AS n_chars,
                     ${Num.qroundSql(
                       "SUM(CAST(w.f AS DOUBLE) * s.nll)", 4)} AS sum_nll
              FROM wsrc w JOIN snll s ON s.word = w.word
              GROUP BY w.source)
            SELECT source, n_tokens, n_chars, sum_nll,
                   ${Num.qroundSql(
                     "sum_nll / CAST(n_chars AS DOUBLE)", 6)}
                     AS xent_per_char,
                   ${Num.qroundSql(
                     "sum_nll / CAST(n_tokens AS DOUBLE)", 6)}
                     AS xent_per_token
            FROM xs ORDER BY source"""
    },
    (s, d) => {
      import graft.ops.UnigramLm
      val docs = Tables.documents(s, d)
      val words = UnigramLm.wordTable(docs).persist()
      try {
        val seed = UnigramLm.seedVocab(words)
        var probs = UnigramLm.initProbs(seed).toMap
        for (_ <- 1 to 2) probs = UnigramLm.emRound(words, probs).toMap
        val snll = UnigramLm.forward(words.select("word"), probs)
          .select(col("word"), (-log(col("alpha_n"))).as("nll"))
        val wsrc = docs.select(col("source"),
            explode(Text.tokens(col("text"))).as("word"))
          .filter(col("word").rlike("^[a-z]+$") &&
            length(col("word")) <= UnigramLm.MaxWordLen)
          .groupBy("source", "word").agg(count(lit(1)).as("f"))
        wsrc.join(snll, "word")
          .groupBy("source")
          .agg(sum("f").as("n_tokens"),
            sum(col("f") * length(col("word"))).as("n_chars"),
            Num.qround(sum(col("f").cast("double") * col("nll")), 4)
              .as("sum_nll"))
          .select(col("source"), col("n_tokens"), col("n_chars"),
            col("sum_nll"),
            Num.qround(col("sum_nll") / col("n_chars").cast("double"), 6)
              .as("xent_per_char"),
            Num.qround(col("sum_nll") / col("n_tokens").cast("double"), 6)
              .as("xent_per_token"))
          .orderBy("source")
      } finally words.unpersist()
    })

  /** F1-optimal threshold selection (X275 — the operating-point sweep
    * between X87's calibration curve and X75's fixed-threshold
    * confusion matrix: given a score and a label, WHICH cutoff should
    * the filter ship? Scores = the X8 quality heuristic, label =
    * lang = 'en'). Every DISTINCT score is a candidate threshold
    * (predict positive iff score ≥ t, ties included); TP/FP at each
    * come from two cumulative passes over the distinct-score table
    * through [[graft.ops.PrefixSum.runningTotalDesc]] — no
    * partition-less window, no per-threshold rescans. Precision,
    * recall and F1 = 2·tp/(tp+fp+P) are exact-integer-fed rationals
    * (hash raw); the top-10 operating points by (F1 DESC, thr DESC)
    * come off a TakeOrdered, and F1 values compare exactly
    * cross-engine because every lane is exact. */
  val f1Threshold = QueryDef(
    "q_f1_threshold",
    Some {
      s"""WITH $qualityChainSql,
            sc AS (
              SELECT $qualityScoreSqlExpr AS score,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              FROM qr),
            dist AS (
              SELECT score, CAST(SUM(pos) AS BIGINT) AS np,
                     CAST(SUM(1 - pos) AS BIGINT) AS nn
              FROM sc GROUP BY score),
            cum AS (
              SELECT score,
                     CAST(SUM(np) OVER w AS BIGINT) AS tp,
                     CAST(SUM(nn) OVER w AS BIGINT) AS fp
              FROM dist
              WINDOW w AS (ORDER BY score DESC
                           ROWS UNBOUNDED PRECEDING)),
            tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS tpos FROM sc),
            m AS (
              SELECT score AS thr, tp, fp, tot.tpos - tp AS fn,
                     CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                       AS precision_,
                     CAST(tp AS DOUBLE) / CAST(tot.tpos AS DOUBLE)
                       AS recall_,
                     2.0 * CAST(tp AS DOUBLE) /
                       CAST(tp + fp + tot.tpos AS DOUBLE) AS f1
              FROM cum CROSS JOIN tot)
            SELECT * FROM
              (SELECT thr, tp, fp, fn, precision_, recall_, f1
               FROM m ORDER BY f1 DESC, thr DESC LIMIT 10) best
            ORDER BY thr DESC"""
    },
    (s, d) => {
      val sc = Tables.documents(s, d)
        .select(Text.qualityScore(col("text")).as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      // the distinct-score table is the ONLY thing every downstream
      // pass needs — checkpoint it so the corpus is tokenized once
      // (PrefixSum's quantile/totals probes and the totPos aggregate
      // all re-read this small frame, not documents)
      val dist = sc.groupBy("score")
        .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
        .localCheckpoint(true)
      val totPos = dist.agg(sum("np")).head().getLong(0)
      val cum1 = graft.ops.PrefixSum.runningTotalDesc(
        dist, "np", "score", "score", "tp")
      val cum = graft.ops.PrefixSum.runningTotalDesc(
        cum1, "nn", "score", "score", "fp")
      cum.select(col("score").as("thr"), col("tp"), col("fp"),
          (lit(totPos) - col("tp")).as("fn"),
          (col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double")).as("precision_"),
          (col("tp").cast("double") / lit(totPos.toDouble))
            .as("recall_"),
          (lit(2.0) * col("tp").cast("double") /
            (col("tp") + col("fp") + lit(totPos)).cast("double"))
            .as("f1"))
        .orderBy(col("f1").desc, col("thr").desc).limit(10)
        .orderBy(col("thr").desc)
    })

  /** Held-out scaling-law probe (X289 — the data-scaling readout
    * behind every "do we need more data?" decision, Kaplan/Hoffmann
    * style run at corpus-curation scale: fit the SAME model family on
    * nested training fractions, evaluate each on a FIXED disjoint
    * holdout, and read the log–log slope of loss vs training size;
    * a slope near 0 says more data stopped helping THIS model).
    * Model = the X258 unigram LM (2 pinned soft-EM rounds); training
    * pools = md5 buckets < {1, 3, 6} of 8 (nested 12.5/37.5/75%);
    * holdout = buckets ≥ 6, never trained on. Holdout words whose
    * marginal likelihood is 0 under a fit (characters the small
    * fraction never saw) are excluded deterministically on BOTH
    * engines and counted as OOV tokens — the coverage caveat made
    * visible instead of an -inf. Per config: exact token counts,
    * qround(4) summed nll, q6 xent, and the q6 log–log slope vs the
    * previous fraction (NULL on the first row). The three fits reuse
    * the X258 machinery verbatim; the oracle runs THREE full chains
    * (suffix-parameterized CTEs) plus three forward-scoring blocks. */
  val scalingProbe = QueryDef(
    "q_scaling_probe",
    Some {
      val L = graft.ops.UnigramLm.MaxWordLen
      val P = graft.ops.UnigramLm.MaxPiece
      def bucketSql = "CAST('0x' || substring(md5('scale:' " +
        "|| CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8"
      def scoreBlock(x: String): String = {
        val pivots = (for { i <- 0 until L; j <- 1 to P } yield
          s"""COALESCE((SELECT p FROM v${x}2
             |        WHERE piece = substring(word, ${i + 1}, $j)), 0.0)
             |      AS p_${i}_$j""".stripMargin).mkString(",\n    ")
        val alphas = (1 to L).map { k =>
          (1 to math.min(P, k)).map(j => s"a${k - j} * p_${k - j}_$j")
            .mkString("", " + ", s" AS a$k")
        }.mkString(",\n    ")
        val aList = (0 to L).map(k => s"a$k").mkString("[", ", ", "]")
        s"""sp$x AS (
  SELECT word, CAST(len(word) AS INT) AS n,
    $pivots
  FROM hww),
sd$x AS (
  SELECT word, n, 1.0 AS a0,
    $alphas
  FROM sp$x),
sn$x AS MATERIALIZED (
  SELECT word,
         CASE WHEN list_extract($aList, n + 1) > 0
              THEN -ln(list_extract($aList, n + 1)) END AS nll
  FROM sd$x),
ag$x AS (
  SELECT CAST(SUM(CASE WHEN s.nll IS NOT NULL THEN w.f END)
           AS BIGINT) AS n_cov,
         CAST(COALESCE(SUM(CASE WHEN s.nll IS NULL THEN w.f END), 0)
           AS BIGINT) AS n_oov,
         ${Num.qroundSql(
           "SUM(CASE WHEN s.nll IS NOT NULL " +
             "THEN CAST(w.f AS DOUBLE) * s.nll END)", 4)} AS sum_nll
  FROM hw w JOIN sn$x s ON s.word = w.word),
tt$x AS (SELECT CAST(SUM(freq) AS BIGINT) AS t FROM words$x)"""
      }
      def xent(x: String) =
        Num.qroundSql(s"ag$x.sum_nll / CAST(ag$x.n_cov AS DOUBLE)", 6)
      def slope(x: String, xp: String) = Num.qroundSql(
        s"""(ln(${xent(x)}) - ln(${xent(xp)}))
            / (ln(CAST(tt$x.t AS DOUBLE)) - ln(CAST(tt$xp.t AS DOUBLE)))""",
        6)
      s"""WITH ${unigramChainSqlS("a", s"$bucketSql < 1")},
            ${unigramChainSqlS("b", s"$bucketSql < 3")},
            ${unigramChainSqlS("c", s"$bucketSql < 6")},
            hw AS MATERIALIZED (
              SELECT word, CAST(COUNT(*) AS BIGINT) AS f
              FROM (SELECT unnest($sqlToks) AS word FROM documents
                    WHERE $bucketSql >= 6) u
              WHERE regexp_matches(word, '^[a-z]+$$')
                AND len(word) <= $L
              GROUP BY word),
            hww AS MATERIALIZED (SELECT word FROM hw),
            ${scoreBlock("a")},
            ${scoreBlock("b")},
            ${scoreBlock("c")}
            SELECT 'f1_train12' AS cfg, tta.t AS n_train_tokens,
                   aga.n_cov AS n_holdout_tokens, aga.n_oov AS n_oov_tokens,
                   aga.sum_nll, ${xent("a")} AS xent_per_token,
                   CAST(NULL AS DOUBLE) AS loglog_slope
            FROM aga, tta
            UNION ALL
            SELECT 'f2_train37', ttb.t, agb.n_cov, agb.n_oov,
                   agb.sum_nll, ${xent("b")},
                   ${slope("b", "a")}
            FROM agb, ttb, aga, tta
            UNION ALL
            SELECT 'f3_train75', ttc.t, agc.n_cov, agc.n_oov,
                   agc.sum_nll, ${xent("c")},
                   ${slope("c", "b")}
            FROM agc, ttc, agb, ttb
            ORDER BY cfg"""
    },
    (s, d) => {
      import graft.ops.UnigramLm
      val bucket = pmod(conv(substring(md5(concat(lit("scale:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(8L))
      val docs = Tables.documents(s, d).withColumn("__b", bucket)
      // tokenize the corpus ONCE into a (word, bucket, freq) table —
      // every train fraction and the holdout derive from this small
      // checkpointed frame with a keyed re-aggregate, so the 3 fits
      // cost 3 corpus scans less than the naive form (measured 9.1 s
      // -> the corpus scan was the bill, not the EM)
      val wb = docs.filter(col("__b") >= 0)
        .select(col("__b"),
          explode(graft.functions.Text.tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$") &&
          length(col("word")) <= graft.ops.UnigramLm.MaxWordLen)
        .groupBy("word", "__b").agg(count(lit(1)).as("freq"))
        .localCheckpoint(true)
      def wordsOf(pred: org.apache.spark.sql.Column) =
        wb.filter(pred).groupBy("word").agg(sum("freq").as("freq"))
      val hw = wordsOf(col("__b") >= 6)
        .withColumnRenamed("freq", "f")
        .localCheckpoint(true) // scored by all three fits
      val rows = Seq(("f1_train12", 1L), ("f2_train37", 3L),
        ("f3_train75", 6L)).map { case (cfg, k) =>
        val words = wordsOf(col("__b") < k).persist()
        try {
          val nTrain = words.agg(sum("freq")).head().getLong(0)
          var probs = UnigramLm.initProbs(
            UnigramLm.seedVocab(words)).toMap
          for (_ <- 1 to 2) probs = UnigramLm.emRound(words, probs).toMap
          val scored = UnigramLm.forward(hw.select("word"), probs)
            .select(col("word"),
              when(col("alpha_n") > 0, -log(col("alpha_n"))).as("nll"))
          val agg = hw.join(scored, "word")
            .agg(
              sum(when(col("nll").isNotNull, col("f"))).as("ncov"),
              coalesce(sum(when(col("nll").isNull, col("f"))), lit(0L))
                .as("noov"),
              Num.qround(sum(when(col("nll").isNotNull,
                col("f").cast("double") * col("nll"))), 4).as("snll"))
            .head() // 1 row: bounded driver metadata
          (cfg, nTrain, agg.getLong(0), agg.getLong(1),
            agg.getDouble(2))
        } finally words.unpersist()
      }
      val out = rows.zipWithIndex.map { case ((cfg, t, cov, oov, snll), i) =>
        val xent = Num.qround(snll / cov.toDouble, 6)
        val slope = if (i == 0) None else {
          val (_, tp, covp, _, snllp) = rows(i - 1)
          val xp = Num.qround(snllp / covp.toDouble, 6)
          Some(Num.qround((math.log(xent) - math.log(xp)) /
            (math.log(t.toDouble) - math.log(tp.toDouble)), 6))
        }
        (cfg, t, cov, oov, snll, xent, slope)
      }
      import s.implicits._
      out.toDF("cfg", "n_train_tokens", "n_holdout_tokens",
        "n_oov_tokens", "sum_nll", "xent_per_token", "loglog_slope")
        .orderBy("cfg")
    })

  // ----------------------------------------------------- model scoring

  /** LM cross-entropy scoring (X: the CCNet/KenLM perplexity filter).
    * A top-24 add-1-smoothed unigram LM is FIT on the corpus itself
    * (one shuffle; the model is ≤24 driver rows), then every document
    * is scored −(1/n)Σ log2 p(tok) in a shuffle-free scan and gated at
    * xent ≤ τ. The oracle re-derives the identical model in SQL — same
    * counts, same (count desc, token asc) top-K boundary, same add-1
    * arithmetic — and re-scores every document; scores are aggregated
    * doubles so both sides quantize (qround 6). τ compares the QUANTIZED
    * score so the kept set is boundary-stable across engines. */
  val lmScore = QueryDef(
    "q_lm_score",
    Some(s"""WITH d0 AS (
               SELECT doc_id, $sqlToks AS toks FROM documents),
             tk AS (
               SELECT doc_id, unnest(toks) AS tok FROM d0),
             cnt AS (
               SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
               FROM tk GROUP BY tok),
             top AS (
               SELECT tok, c FROM (
                 SELECT tok, c,
                        row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
                 FROM cnt) WHERE rn <= 24),
             tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
             tc AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS s,
                           CAST(COUNT(*) AS BIGINT) AS k FROM top),
             lut AS (
               SELECT t.tok,
                      log2((t.c + 1.0) / (tot.n + tc.k + 1.0)) AS lp
               FROM top t, tot, tc),
             unk AS (
               SELECT log2((tot.n - tc.s + 1.0) / (tot.n + tc.k + 1.0))
                        AS ulp
               FROM tot, tc),
             sc AS (
               SELECT tk.doc_id, COUNT(*) AS nt,
                      SUM(COALESCE(l.lp, u.ulp)) AS sm
               FROM tk LEFT JOIN lut l ON tk.tok = l.tok
                    CROSS JOIN unk u
               GROUP BY tk.doc_id)
             SELECT d.doc_id,
                    CAST(COALESCE(sc.nt, 0) AS BIGINT) AS n_tokens,
                    ${graft.functions.Num.qroundSql(
                      "-sc.sm / CAST(sc.nt AS DOUBLE)", 6)} AS xent,
                    (${graft.functions.Num.qroundSql(
                      "-sc.sm / CAST(sc.nt AS DOUBLE)", 6)} <= 4.45) AS kept
             FROM d0 d LEFT JOIN sc ON d.doc_id = sc.doc_id
             ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val m = graft.ops.Scoring.fitUnigram(docs, col("text"), 24)
      val xent = graft.functions.Num.qround(
        graft.ops.Scoring.crossEntropy(col("text"), m), 6)
      docs.select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
          xent.as("xent"))
        .withColumn("kept", col("xent") <= 4.45)
        .orderBy("doc_id")
    })

  /** The head of both bigram oracles: tokens `tk0`, one row per token
    * position `tok` (doc_id, p, tok) and the token counts `cnt`. */
  private val tokCountsSql =
    s"""WITH tk0 AS (
               SELECT doc_id, $sqlToks AS toks FROM documents),
             pos AS (
               SELECT doc_id,
                      unnest(range(1, CAST(len(toks) AS INT) + 1)) AS p,
                      toks
               FROM tk0),
             tok AS (SELECT doc_id, p, toks[p] AS tok FROM pos),
             cnt AS (
               SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
               FROM tok GROUP BY tok)"""

  /** Adjacent class pairs `pr` (doc_id, ca, cb) over a `cls` CTE of
    * (doc_id, p, cid) and their counts `pc`. */
  private val classPairsSql =
    """pr AS (
               SELECT a.doc_id, a.cid AS ca, b.cid AS cb
               FROM cls a JOIN cls b
                 ON a.doc_id = b.doc_id AND b.p = a.p + 1),
             pc AS (
               SELECT ca, cb, CAST(COUNT(*) AS BIGINT) AS c
               FROM pr GROUP BY ca, cb)"""

  /** Bigram-LM conditional cross-entropy (X44's depth step: CCNet's
    * actual filter is an n-gram model, not a unigram one). Tokens are
    * first mapped onto the unigram model's bounded CLASS alphabet
    * (top-24 + <unk>), so the bigram table is (K+1)² driver cells —
    * broadcastable at any corpus size, where a raw-token bigram table
    * would be |V|². Fit = one pair-count shuffle; scoring = shuffle-
    * free scan over a dense log-prob array literal (O(1) per pair).
    * The oracle re-derives vocab, class ids, pair counts, left-context
    * totals, and add-1 conditionals, then re-scores; qround(6). */
  val lmBigram = QueryDef(
    "q_lm_bigram",
    Some(s"""$tokCountsSql,
             top AS (
               SELECT tok, rn - 1 AS cid FROM (
                 SELECT tok, c,
                        row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
                 FROM cnt) WHERE rn <= 24),
             kk AS (SELECT CAST(COUNT(*) AS BIGINT) + 1 AS k FROM top),
             cls AS (
               SELECT t.doc_id, t.p,
                      COALESCE(tp.cid, (SELECT k FROM kk) - 1) AS cid
               FROM tok t LEFT JOIN top tp USING (tok)),
             $classPairsSql,
             lt AS (
               SELECT ca, CAST(SUM(c) AS BIGINT) AS t
               FROM pc GROUP BY ca),
             sc AS (
               SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS np,
                      SUM(log2((pc.c + 1.0) /
                               (lt.t + (SELECT k FROM kk)))) AS sm
               FROM pr
                    JOIN pc USING (ca, cb)
                    JOIN lt USING (ca)
               GROUP BY pr.doc_id)
             SELECT t.doc_id,
                    CAST(COALESCE(sc.np, 0) AS BIGINT) AS n_pairs,
                    ${graft.functions.Num.qroundSql(
                      "-sc.sm / sc.np", 6)} AS xent2
             FROM tk0 t LEFT JOIN sc ON t.doc_id = sc.doc_id
             ORDER BY t.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val uni = graft.ops.Scoring.fitUnigram(docs, col("text"), 24)
      val big = graft.ops.Scoring.fitBigram(docs, col("text"), uni)
      val nToks = size(Text.tokens(col("text")))
      docs.select(col("doc_id"),
          greatest(nToks - 1, lit(0)).cast("long").as("n_pairs"),
          graft.functions.Num.qround(
            graft.ops.Scoring.bigramCrossEntropy(col("text"), big), 6)
            .as("xent2"))
        .orderBy("doc_id")
    })

  /** The hashed-classifier feature stream as CTEs: whitespace tokens
    * `tk` of each `src` row's text, and `fl` = (doc_id, f) over every
    * unigram and adjacent-token bigram f. */
  private[queries] def hashedFeaturesSql(src: String): String =
    s"""tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'),
                                 t -> len(t) > 0) AS toks
              FROM $src),
            fl AS (
              SELECT doc_id, unnest(toks) AS f FROM tk
              UNION ALL
              SELECT doc_id,
                     unnest(CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, CAST(len(toks) AS INT)),
                         i -> toks[i] || ' ' || toks[i+1])
                       ELSE CAST([] AS VARCHAR[]) END) AS f
              FROM tk)"""

  /** Hashed-linear quality classifier (X: the fastText device —
    * "looks like curated text" models in GPT-3/LLaMA-style pipelines),
    * trained as multinomial Naive Bayes over unigram+bigram features
    * hashed to 1024 buckets (portable md5). The supervision is the
    * corpus's own `lang` label (train "is this English?" — the same
    * shape as a curated-vs-crawl quality model), and the classifier
    * genuinely learns it from hashed counts alone. Training reads only
    * a 50% content-hash sample (md5-keyed, so the oracle selects the
    * identical training set) — the realistic shape: labeled data is
    * small, the corpus being scored is not, and the fit's cost must
    * not scale with the corpus. The oracle re-derives the full fit in
    * SQL — identical class-conditional counts, add-1 smoothing over
    * the same occupied-bucket set, same prior — and re-scores every
    * document; margins are aggregated log-weight sums, so both sides
    * qround(6) and the prediction compares the QUANTIZED margin. */
  val hashClassifier = QueryDef(
    "q_hash_classifier",
    Some(s"""WITH base AS (
              SELECT doc_id, text,
                     CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
              FROM documents),
            ${hashedFeaturesSql("base")},
            ft AS (
              SELECT doc_id,
                     CAST('0x' || substring(md5('qc:' || f), 1, 8)
                          AS BIGINT) % 1024 AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM fl GROUP BY 1, 2),
            tr AS (
              SELECT doc_id, y FROM base
              WHERE CAST('0x' || substring(md5('qctrain:'
                      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    < 2147483648),
            cc AS (
              SELECT ft.bucket,
                     CAST(SUM(CASE WHEN b.y = 1.0 THEN ft.x ELSE 0 END)
                          AS BIGINT) AS cp,
                     CAST(SUM(CASE WHEN b.y = 0.0 THEN ft.x ELSE 0 END)
                          AS BIGINT) AS cn
              FROM ft JOIN tr b USING (doc_id) GROUP BY ft.bucket),
            tot AS (
              SELECT CAST(SUM(cp) AS BIGINT) AS np,
                     CAST(SUM(cn) AS BIGINT) AS nn,
                     CAST(COUNT(*) AS BIGINT) AS nb
              FROM cc),
            w AS (
              SELECT cc.bucket,
                     ln((cc.cp + 1.0) / (tot.np + tot.nb)) -
                     ln((cc.cn + 1.0) / (tot.nn + tot.nb)) AS w
              FROM cc, tot),
            pri AS (
              SELECT ln(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                             AS DOUBLE) /
                        CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)
                             AS DOUBLE)) AS bias
              FROM tr
              WHERE doc_id IN (SELECT DISTINCT doc_id FROM ft)),
            fin AS (
              SELECT ft.doc_id,
                     SUM(COALESCE(w.w, 0.0) * ft.x) AS s,
                     CAST(SUM(ft.x) AS BIGINT) AS n_feats
              FROM ft LEFT JOIN w USING (bucket) GROUP BY ft.doc_id)
            SELECT f.doc_id, f.n_feats,
                   ${graft.functions.Num.qroundSql("f.s + p.bias", 6)}
                     AS margin,
                   (${graft.functions.Num.qroundSql("f.s + p.bias", 4)}
                     > 0) AS pred,
                   (b.y = 1.0) AS is_en
            FROM fin f
                 JOIN base b USING (doc_id)
                 CROSS JOIN pri p
            ORDER BY f.doc_id"""),
    (s, d) => hcScores(s, d).orderBy("doc_id"))

  /** The q_hash_classifier scoring frame, unordered — shared by the
    * classifier query itself and the X75 eval-metrics query. */
  private def hcScores(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    // fit on the 50% labeled sample only
    val train = graft.ops.Sampling
      .hashSample(docs, "doc_id", 0.5, "qctrain:")
    val featsTrain = graft.ops.Scoring
      .featureCounts(train, "doc_id", col("text"), 1024)
      .persist()
    val m = graft.ops.Scoring
      .trainNaiveBayes(featsTrain, labelsOf(train), "doc_id")
    featsTrain.unpersist()
    // score the whole corpus: a pure per-row scan (one fused walk
    // yields margin AND feature count = 2·nTok − 1 — no explode, no
    // shuffle, no second tokenization) with the label read off the
    // same row; the stats array is STAGED as an attribute so the
    // kernel runs once per row. The reported margin quantizes at
    // 1e-6; the kept/pred BOOLEAN gates on the coarser 1e-4 grid so
    // a margin within float-fold noise of a fine-grid rounding
    // boundary can't flip the prediction between engines.
    val rawMargin = element_at(col("__st"), 1) + lit(m.bias)
    docs.select(col("doc_id"), col("lang"),
        graft.ops.Scoring.inlineStats(col("text"), 1024, m.w).as("__st"))
      .select(col("doc_id"),
        greatest(element_at(col("__st"), 2).cast("long") * 2 - 1,
          lit(0L)).as("n_feats"),
        graft.functions.Num.qround(rawMargin, 6).as("margin"),
        (graft.functions.Num.qround(rawMargin, 4) > 0).as("pred"),
        (col("lang") === "en").as("is_en"))
  }

  /** Classifier evaluation metrics (X75 — the measurement step a
    * quality-model rollout is gated on, computed distributed over the
    * full scoring frame): ROC-AUC via the tie-aware Mann–Whitney rank
    * statistic, plus the confusion counts and precision / recall / F1
    * at the model's own decision threshold.
    *
    * AUC = (Σ_{pos} avgrank − np(np+1)/2) / (np·nn), with average
    * ranks over the ASCENDING qround(6) margin — computed from
    * per-distinct-margin counts (one groupBy) and a running total via
    * the X52 two-pass PrefixSum, so NO partition-less window appears:
    * avgrank(m) = cum_before(m) + (group_size+1)/2. Every rank term
    * is a multiple of 0.5 below 2^52, so the double sum is exact
    * regardless of fold order; AUC and F1 still qround(6) as
    * discipline. F1 uses the integer identity 2tp/(2tp+fp+fn) — one
    * IEEE divide, no p·r composition. The confusion counts ride the
    * SAME per-margin groupBy as the rank terms, so the whole query is
    * one grouped pass + the prefix sum + ONE 1-row aggregate — no
    * 1-row join anywhere (a literal-key join constant-folds into the
    * banned BNLJ). */
  val classifierEval = QueryDef(
    "q_classifier_eval",
    Some(s"""WITH hc AS (${hashClassifier.oracle.get}),
            g AS (
              SELECT margin, CAST(COUNT(*) AS BIGINT) AS nr,
                     CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END)
                          AS BIGINT) AS np,
                     CAST(SUM(CASE WHEN pred AND is_en
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(SUM(CASE WHEN pred AND NOT is_en
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(SUM(CASE WHEN NOT pred AND is_en
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM hc GROUP BY margin),
            c AS (
              SELECT margin, nr, np, tp, fp, fn,
                     CAST(SUM(nr) OVER (ORDER BY margin) AS BIGINT) AS cum
              FROM g),
            a AS (
              SELECT SUM(CAST(np AS DOUBLE) *
                       (CAST(cum - nr AS DOUBLE) + (nr + 1) / 2.0)) AS sr,
                     CAST(SUM(np) AS BIGINT) AS npt,
                     CAST(SUM(nr) AS BIGINT) AS nrt,
                     CAST(SUM(tp) AS BIGINT) AS tp,
                     CAST(SUM(fp) AS BIGINT) AS fp,
                     CAST(SUM(fn) AS BIGINT) AS fn
              FROM c)
            SELECT a.npt AS n_pos, a.nrt - a.npt AS n_neg,
                   a.tp, a.fp, a.fn,
                   ${graft.functions.Num.qroundSql(
                     "(a.sr - CAST(a.npt AS DOUBLE) * (a.npt + 1) / 2.0)" +
                       " / (CAST(a.npt AS DOUBLE) * (a.nrt - a.npt))", 6)}
                     AS auc,
                   ${graft.functions.Num.qroundSql(
                     "CAST(a.tp AS DOUBLE) / NULLIF(a.tp + a.fp, 0)",
                     6)} AS prec,
                   ${graft.functions.Num.qroundSql(
                     "CAST(a.tp AS DOUBLE) / NULLIF(a.tp + a.fn, 0)",
                     6)} AS rec,
                   ${graft.functions.Num.qroundSql(
                     "CAST(2 * a.tp AS DOUBLE) / " +
                       "NULLIF(2 * a.tp + a.fp + a.fn, 0)", 6)} AS f1
            FROM a"""),
    (s, d) => {
      val hc = hcScores(s, d)
      val g = hc.groupBy("margin")
        .agg(count(lit(1)).as("nr"),
          sum(when(col("is_en"), 1L).otherwise(0L)).as("np"),
          sum(when(col("pred") && col("is_en"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") && !col("is_en"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("pred") && col("is_en"), 1L).otherwise(0L)).as("fn"))
      val c = graft.ops.PrefixSum.runningTotalDesc(
        g.withColumn("__negm", -col("margin")),
        "nr", "__negm", "margin", "cum")
      c.agg(
          sum(col("np").cast("double") *
            ((col("cum") - col("nr")).cast("double") +
              (col("nr") + lit(1L)) / lit(2.0))).as("sr"),
          sum("np").as("npt"), sum("nr").as("nrt"),
          sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"))
        .select(
          col("npt").as("n_pos"), (col("nrt") - col("npt")).as("n_neg"),
          col("tp"), col("fp"), col("fn"),
          graft.functions.Num.qround(
            (col("sr") - col("npt").cast("double") * (col("npt") + lit(1L))
              / lit(2.0)) /
              (col("npt").cast("double") * (col("nrt") - col("npt"))),
            6).as("auc"),
          graft.functions.Num.qround(col("tp").cast("double") /
            nullif(col("tp") + col("fp"), lit(0L)), 6).as("prec"),
          graft.functions.Num.qround(col("tp").cast("double") /
            nullif(col("tp") + col("fn"), lit(0L)), 6).as("rec"),
          graft.functions.Num.qround((col("tp") * 2).cast("double") /
            nullif(col("tp") * 2 + col("fp") + col("fn"), lit(0L)), 6)
            .as("f1"))
    })

  /** Classifier calibration curve (X87 — the reliability diagram next
    * to X75's AUC: AUC says the model RANKS well, calibration says
    * whether the margin MEANS anything — "is a margin-4 bucket
    * actually ~98% positive?" — the thing a threshold choice or a
    * downstream probability consumer depends on). Margins bucket on
    * the integer grid floor(margin/2) (elementwise on the qround(6)
    * margin — identical doubles both engines, so the same bucket);
    * per bucket: count, positives, empirical positive rate (one
    * divide), mean margin (aggregated → qround 6), and the logistic
    * σ(mean margin) the Naive-Bayes margin implies — elementwise on
    * the already-qround'd mean, so exp/division replay exactly. */
  val classifierCalibration = QueryDef(
    "q_classifier_calibration",
    Some(s"""WITH hc AS (${hashClassifier.oracle.get}),
            b AS (
              SELECT CAST(FLOOR(margin / 2.0) AS INT) AS bucket,
                     margin, is_en
              FROM hc)
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) AS pos_rate,
                   ${Num.qroundSql("AVG(margin)", 6)} AS mean_margin,
                   ${Num.qroundSql(
                     s"""1.0 / (1.0 + exp(-(${Num.qroundSql(
                       "AVG(margin)", 6)})))""", 6)} AS implied_p
            FROM b GROUP BY bucket ORDER BY bucket"""),
    (s, d) => {
      val hc = hcScores(s, d)
      val meanM = Num.qround(avg("margin"), 6)
      hc.select(floor(col("margin") / 2.0).cast("int").as("bucket"),
          col("margin"), col("is_en"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_en"), 1L).otherwise(0L)).as("n_pos"),
          (sum(when(col("is_en"), 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("pos_rate"),
          meanM.as("mean_margin"),
          // exp is libm (≤1 ulp, not bit-pinned across engines) →
          // the X63 discipline: qround AFTER the transcendental
          Num.qround(lit(1.0) / (lit(1.0) + exp(-meanM)), 6)
            .as("implied_p"))
        .orderBy("bucket")
    })

  /** Language-ID confusion matrix (X84 — the X75 eval discipline
    * applied to the X8 language identifier: per (labeled, detected)
    * cell counts plus the within-label share, i.e. the diagonal is
    * per-language recall — what a router regression gate watches
    * before swapping lang-ID models). Composition: nests the
    * q_lang_id oracle; the matrix is one groupBy over fixed-width
    * label pairs, the label totals a second bounded aggregate joined
    * back on the label key; share is one IEEE divide. */
  val langidEval = QueryDef(
    "q_langid_eval",
    Some(s"""WITH li AS (${langId.oracle.get}),
            g AS (
              SELECT lang_labeled, lang_detected,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM li GROUP BY 1, 2),
            t AS (
              SELECT lang_labeled, CAST(SUM(n) AS BIGINT) AS tot
              FROM g GROUP BY 1)
            SELECT g.lang_labeled, g.lang_detected, g.n,
                   CAST(g.n AS DOUBLE) / t.tot AS share
            FROM g JOIN t USING (lang_labeled)
            ORDER BY lang_labeled, lang_detected"""),
    (s, d) => {
      val li = langId.fn(s, d)
      val g = li.groupBy("lang_labeled", "lang_detected")
        .agg(count(lit(1)).as("n"))
      val t = g.groupBy("lang_labeled").agg(sum("n").as("tot"))
      g.join(t, "lang_labeled")
        .select(col("lang_labeled"), col("lang_detected"), col("n"),
          (col("n").cast("double") / col("tot")).as("share"))
        .orderBy("lang_labeled", "lang_detected")
    })

  /** Unicode script identification (X76 — the multilingual-corpus
    * routing pass that runs BEFORE token-level language ID: a
    * codepoint-range histogram is script-level ground truth where an
    * n-gram model only guesses, and it's how production pipelines
    * split CJK/Arabic/Cyrillic streams for per-script tokenizers).
    * The corpus text is dressed with deterministic script runs
    * (doc_id-keyed script + repetition count), then each document
    * counts codepoints in five script classes via
    * `length(t) − length(regexp_replace(t, class, ''))` — both
    * engines count CODEPOINTS (Spark's numChars, DuckDB's len) and
    * compile the same `[\x{…}-\x{…}]` pattern text (java.util.regex
    * and RE2 agree on literal BMP ranges), so counts are integer-
    * exact. Dominant script = first-max over a fixed priority chain
    * (deterministic tie-break); ratio = max/total is one IEEE
    * divide. Shuffle-free scan; all five counters run in one
    * codegen'd projection. */
  val scriptId = QueryDef(
    "q_script_id",
    Some("""WITH t AS (
              SELECT doc_id,
                     text || CASE CAST(doc_id % 5 AS INT)
                       WHEN 1 THEN repeat(' привет мир',
                         CAST((doc_id % 3 + 1) * 4 AS INT))
                       WHEN 2 THEN repeat(' 你好世界',
                         CAST((doc_id % 3 + 1) * 4 AS INT))
                       WHEN 3 THEN repeat(' مرحبا بالعالم',
                         CAST((doc_id % 3 + 1) * 4 AS INT))
                       WHEN 4 THEN repeat(' γειά σου κόσμε',
                         CAST((doc_id % 3 + 1) * 4 AS INT))
                       ELSE '' END AS t
              FROM documents),
            n AS (
              SELECT doc_id,
                     len(t) - len(regexp_replace(t,
                       '[A-Za-z]', '', 'g')) AS n_latin,
                     len(t) - len(regexp_replace(t,
                       '[\x{0400}-\x{04FF}]', '', 'g')) AS n_cyrillic,
                     len(t) - len(regexp_replace(t,
                       '[\x{0370}-\x{03FF}]', '', 'g')) AS n_greek,
                     len(t) - len(regexp_replace(t,
                       '[\x{4E00}-\x{9FFF}]', '', 'g')) AS n_cjk,
                     len(t) - len(regexp_replace(t,
                       '[\x{0600}-\x{06FF}]', '', 'g')) AS n_arabic
              FROM t)
            SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
                   CASE
                     WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
                      AND n_latin >= n_cjk AND n_latin >= n_arabic
                       THEN 'latin'
                     WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
                      AND n_cyrillic >= n_arabic THEN 'cyrillic'
                     WHEN n_greek >= n_cjk AND n_greek >= n_arabic
                       THEN 'greek'
                     WHEN n_cjk >= n_arabic THEN 'cjk'
                     ELSE 'arabic' END AS script,
                   CAST(GREATEST(n_latin, n_cyrillic, n_greek, n_cjk,
                       n_arabic) AS DOUBLE) /
                     NULLIF(n_latin + n_cyrillic + n_greek + n_cjk
                       + n_arabic, 0) AS ratio
            FROM n ORDER BY doc_id"""),
    (s, d) => {
      val dressed = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), expr(
          """CASE CAST(doc_id % 5 AS INT)
               WHEN 1 THEN repeat(' привет мир',
                 CAST((doc_id % 3 + 1) * 4 AS INT))
               WHEN 2 THEN repeat(' 你好世界',
                 CAST((doc_id % 3 + 1) * 4 AS INT))
               WHEN 3 THEN repeat(' مرحبا بالعالم',
                 CAST((doc_id % 3 + 1) * 4 AS INT))
               WHEN 4 THEN repeat(' γειά σου κόσμε',
                 CAST((doc_id % 3 + 1) * 4 AS INT))
               ELSE '' END""")).as("t"))
      def cnt(pat: String) =
        length(col("t")) - length(regexp_replace(col("t"), pat, ""))
      val n = dressed.select(col("doc_id"),
        cnt("[A-Za-z]").as("n_latin"),
        cnt("[\\x{0400}-\\x{04FF}]").as("n_cyrillic"),
        cnt("[\\x{0370}-\\x{03FF}]").as("n_greek"),
        cnt("[\\x{4E00}-\\x{9FFF}]").as("n_cjk"),
        cnt("[\\x{0600}-\\x{06FF}]").as("n_arabic"))
      val Seq(la, cy, gr, cj, ar) = Seq("n_latin", "n_cyrillic",
        "n_greek", "n_cjk", "n_arabic").map(col)
      n.select(col("doc_id"), la, cy, gr, cj, ar,
          when(la >= cy && la >= gr && la >= cj && la >= ar, "latin")
            .when(cy >= gr && cy >= cj && cy >= ar, "cyrillic")
            .when(gr >= cj && gr >= ar, "greek")
            .when(cj >= ar, "cjk")
            .otherwise("arabic").as("script"),
          (greatest(la, cy, gr, cj, ar).cast("double") /
            nullif(la + cy + gr + cj + ar, lit(0))).as("ratio"))
        .orderBy("doc_id")
    })

  /** C4-style line-level cleaning (the other granularity of quality
    * filtering: q_quality_filter keeps/drops whole DOCUMENTS, this
    * keeps/drops LINES and re-joins the survivors). The single-line
    * fixture is re-lined deterministically (same six-token separator
    * set as q_dup_lines), then a line survives iff ≥3 tokens, ≥15
    * chars, and no banned token ('slow' — standing in for C4's
    * "javascript" rule); a document survives iff ≥2 lines do. All
    * counts and string ops are exact, so the oracle reproduces the
    * cleaned text byte-for-byte. Line arrays are STAGED as attributes
    * between projections (interpreted-HOF re-evaluation trap). */
  val lineClean = QueryDef(
    "q_line_clean",
    Some(s"""WITH $linesSql,
            k AS (
              SELECT doc_id, ls,
                     list_filter(ls,
                       l -> len(list_filter(string_split(l, ' '),
                              t -> len(t) > 0)) >= 3
                            AND len(l) >= 15
                            AND NOT list_contains(string_split(l, ' '),
                              'slow')) AS kept
              FROM t)
            SELECT doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept,
                   CAST(CASE WHEN len(kept) = 0 THEN 0
                        ELSE list_reduce(list_transform(kept,
                          l -> len(l)), (a, b) -> a + b) END
                     AS BIGINT) AS kept_chars,
                   COALESCE(array_to_string(kept, chr(10)), '')
                     AS cleaned_text,
                   (len(kept) >= 2) AS doc_kept
            FROM k ORDER BY doc_id"""),
    (s, d) => {
      docLines(s, d)
        .select(col("doc_id"), col("ls"),
          Text.keptLines(col("ls"), 3, 15, "slow").as("kept"))
        .select(col("doc_id"),
          size(col("ls")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          aggregate(col("kept"), lit(0L),
            (a, l) => a + length(l).cast("long")).as("kept_chars"),
          array_join(col("kept"), "\n").as("cleaned_text"),
          (size(col("kept")) >= 2).as("doc_kept"))
        .orderBy("doc_id")
    })

  /** Cross-document boilerplate-line removal (the FineWeb/RefinedWeb
    * device: a line appearing in ≥ K distinct documents is page
    * furniture — headers, footers, nav — and is dropped from every
    * document). Complements q_dup_lines (WITHIN-doc repetition) and
    * q_line_clean (per-line quality): this one needs corpus-global
    * line frequencies. Scale shape: the document-frequency count
    * groups on md5(line) — a fixed-width shuffle key, the text itself
    * never shuffles for the count — and the boilerplate set joined
    * back is only the lines over threshold. Counts and strings are
    * exact, so the oracle rebuilds every cleaned document
    * byte-for-byte. */
  val boilerplateLines = QueryDef(
    "q_boilerplate_lines",
    Some(s"""WITH $lineRowsSql,
            lc AS (
              SELECT h, COUNT(DISTINCT doc_id) AS df FROM e2 GROUP BY h),
            b AS (SELECT h FROM lc WHERE df >= 20),
            m AS (
              SELECT e2.doc_id, e2.pos, e2.line,
                     (b.h IS NOT NULL) AS is_b
              FROM e2 LEFT JOIN b ON e2.h = b.h)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_boiler,
                   COALESCE(array_to_string(
                     list(line ORDER BY pos) FILTER (NOT is_b),
                     chr(10)), '') AS cleaned_text
            FROM m GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      val e = lineRows(s, d)
      val boiler = e.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 20)
        .select(col("h"), lit(true).as("is_b"))
      e.join(boiler, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("is_b"), 1L).otherwise(0L)).as("n_boiler"),
          array_join(transform(
            array_sort(collect_list(
              when(col("is_b").isNull,
                struct(col("pos"), col("line"))))),
            st => st.getField("line")), "\n").as("cleaned_text"))
        .orderBy("doc_id")
    })

  /** Unicode NFC normalization (functions.UnicodeNormalize — a
    * codegen'd wrapper over the JDK's UAX #15 implementation; Spark
    * has no built-in). The ASCII fixture can't exercise composition,
    * so mixed-form strings are PLANTED deterministically (the
    * q_pii_scrub device): doc_id%3==0 gets a decomposed e+U+0301
    * prefix (changes under NFC), %3==1 a precomposed U+00E9 prefix
    * (already normal), the rest stay ASCII. Unicode's stability
    * policy makes NFC engine-portable, so the oracle's nfc_normalize
    * must agree byte-for-byte. */
  val unicodeNfc = QueryDef(
    "q_unicode_nfc",
    Some("""WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                            THEN 'cafe' || chr(769) || ' ' || text
                          WHEN doc_id % 3 = 1
                            THEN chr(233) || 'clair ' || text
                          ELSE text END AS planted
              FROM documents),
            n AS (
              SELECT doc_id, planted,
                     nfc_normalize(planted) AS normalized_text
              FROM p)
            SELECT doc_id, normalized_text,
                   (normalized_text != planted) AS changed,
                   CAST(len(planted) AS BIGINT) AS n_chars_before,
                   CAST(len(normalized_text) AS BIGINT) AS n_chars_after
            FROM n ORDER BY doc_id"""),
    (s, d) => {
      val planted = when(col("doc_id") % 3 === 0,
          concat(lit("cafe\u0301 "), col("text")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("\u00e9clair "), col("text")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), planted.as("planted"))
        .select(col("doc_id"), col("planted"),
          graft.functions.NormalizeFunctions.nfc(col("planted"))
            .as("normalized_text"))
        .select(col("doc_id"), col("normalized_text"),
          (col("normalized_text") =!= col("planted")).as("changed"),
          length(col("planted")).cast("long").as("n_chars_before"),
          length(col("normalized_text")).cast("long").as("n_chars_after"))
        .orderBy("doc_id")
    })

  /** CCNet head/middle/tail perplexity buckets (X59 — the missing
    * step of X44's CCNet chain, Wenzek et al. 2020): fit a language
    * model PER LANGUAGE (all fits in one grouped count shuffle —
    * `Scoring.fitUnigramByGroup`), score every document under its own
    * language's model, and bucket each language's documents into
    * perplexity tertiles; training keeps head+middle, drops tail.
    * Per-language bucketing is the point — absolute perplexities are
    * incomparable across languages (the X57 rationale, with a
    * model-based score). Tertile ranks order on the QUANTIZED
    * qround(6) score with doc_id tie-breaks, so bucket boundaries are
    * deterministic cross-engine; pct·3 < 1|2 avoids a decimal-lane
    * 1/3 literal. Zero-token documents surface with NULL xent and
    * sort to the tail via a COALESCE sentinel (never a NULL order
    * key). */
  val ccnetBuckets = QueryDef(
    "q_ccnet_buckets",
    Some(s"""WITH tk AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(text, '\\s+'),
                                 t -> len(t) > 0) AS toks
              FROM documents),
            fl AS (
              SELECT doc_id, lang, unnest(toks) AS tok FROM tk),
            c AS (
              SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM fl GROUP BY 1, 2),
            tp AS (
              SELECT lang, tok, c FROM (
                SELECT lang, tok, c,
                       row_number() OVER (PARTITION BY lang
                         ORDER BY c DESC, tok ASC) AS rn
                FROM c)
              WHERE rn <= 24),
            mk AS (
              SELECT lang, CAST(COUNT(*) AS DOUBLE) AS k,
                     CAST(SUM(c) AS BIGINT) AS topsum
              FROM tp GROUP BY lang),
            nt AS (
              SELECT lang, CAST(SUM(c) AS BIGINT) AS n
              FROM c GROUP BY lang),
            m AS (
              SELECT nt.lang, nt.n + mk.k + 1.0 AS denom,
                     log2((nt.n - mk.topsum + 1.0) / (nt.n + mk.k + 1.0))
                       AS unklogp
              FROM nt JOIN mk ON nt.lang = mk.lang),
            sc AS (
              SELECT fl.doc_id,
                     SUM(CASE WHEN tp.c IS NOT NULL
                              THEN log2((tp.c + 1.0) / m.denom)
                              ELSE m.unklogp END) AS s,
                     CAST(COUNT(*) AS BIGINT) AS nt2
              FROM fl
                   JOIN m ON fl.lang = m.lang
                   LEFT JOIN tp ON fl.lang = tp.lang AND fl.tok = tp.tok
              GROUP BY fl.doc_id),
            px AS (
              SELECT d.doc_id, d.lang,
                     COALESCE(sc.nt2, 0) AS n_tokens,
                     CASE WHEN sc.nt2 > 0 THEN
                       ${graft.functions.Num.qroundSql("-sc.s / sc.nt2", 6)} END AS xent
              FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
            r AS (
              SELECT doc_id, lang, n_tokens, xent,
                     percent_rank() OVER (PARTITION BY lang
                       ORDER BY COALESCE(xent, 1e9), doc_id) AS pct
              FROM px)
            SELECT doc_id, lang, n_tokens, xent, pct,
                   CASE WHEN pct * 3 < 1 THEN 'head'
                        WHEN pct * 3 < 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   (pct * 3 < 2) AS kept
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val models = graft.ops.Scoring
        .fitUnigramByGroup(docs, col("lang"), col("text"), 24)
      val xent = graft.functions.Num.qround(
        graft.ops.Scoring.crossEntropyByGroup(col("lang"), col("text"),
          models), 6)
      val base = docs.select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
        xent.as("xent"))
      val w = Window.partitionBy("lang")
        .orderBy(coalesce(col("xent"), lit(1e9)), col("doc_id"))
      base.withColumn("pct", percent_rank().over(w))
        .withColumn("bucket",
          when(col("pct") * 3 < 1, "head")
            .when(col("pct") * 3 < 2, "middle")
            .otherwise("tail"))
        .withColumn("kept", col("pct") * 3 < 2)
        .orderBy("doc_id")
    })

  /** The planted-markup fixture (the q_unicode_nfc device: the corpus
    * is plain text, so each document is dressed by doc_id % 4 as a
    * full page with style and script blocks, an entity-bearing line,
    * an anchor with entities, or left plain) as the opening `WITH p`
    * CTE. */
  private val plantedSql =
    """WITH p AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 4 = 0 THEN
                       '<html><head><style>p { color: red; }</style>'
                       || '</head><body><p>' || text
                       || '</p><script>var x = 1 < 2;</script></body></html>'
                     WHEN doc_id % 4 = 1 THEN
                       'Tom &amp; Jerry &lt;3 ' || text || ' <br/>'
                     WHEN doc_id % 4 = 2 THEN
                       '<a href="http://x.y">' || text
                       || '</a> &nbsp;&quot;quoted&quot;'
                     ELSE text END AS planted
              FROM documents)"""

  /** The [[graft.functions.StripHtml]] chain over `planted`, verbatim:
    * blocks, then tags, then entities (&amp; last), then whitespace
    * collapse. */
  private val stripSql =
    """trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         replace(
                           regexp_replace(
                             regexp_replace(planted,
                               '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
                               '', 'g'),
                             '<[^>]*>', ' ', 'g'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
                         '&amp;', '&'),
                       '\s+', ' ', 'g')) AS stripped"""

  /** The Spark side of [[plantedSql]]. */
  private def plantedHtml: Column =
    when(col("doc_id") % 4 === 0,
        concat(
          lit("<html><head><style>p { color: red; }</style></head><body><p>"),
          col("text"),
          lit("</p><script>var x = 1 < 2;</script></body></html>")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("Tom &amp; Jerry &lt;3 "), col("text"), lit(" <br/>")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("<a href=\"http://x.y\">"), col("text"),
          lit("</a> &nbsp;&quot;quoted&quot;")))
      .otherwise(col("text"))

  /** The [[graft.functions.SpanDedupStats]] replay (k = 3) over the
    * `toks` of CTE `src`: window strings `w`, duplicate window starts
    * `d`, removed positions `r`, kept positions `k`. */
  private def spanCtesSql(src: String): String =
    s"""w AS (
              SELECT doc_id, toks,
                     list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> array_to_string(toks[i:i+2], ' ')) AS wins
              FROM $src),
            d AS (
              SELECT doc_id, toks,
                     list_filter(range(1, len(wins) + 1),
                       i -> list_position(wins, wins[i]) < i) AS dups
              FROM w),
            r AS (
              SELECT doc_id, toks,
                     CAST(len(dups) AS BIGINT) AS n_dup_windows,
                     flatten(list_transform(dups,
                       i -> [i, i + 1, i + 2])) AS removed
              FROM d),
            k AS (
              SELECT doc_id, toks, n_dup_windows,
                     list_filter(range(1, len(toks) + 1),
                       p -> NOT list_contains(removed, p)) AS kept
              FROM r)"""

  /** Streaming curation chain (X62): the X55→X53 kernels — planted
    * markup → `StripHtml` → `SpanDedupStats` — running INSIDE a
    * Structured Streaming plan (file source, AvailableNow replay,
    * append sink). The point is compatibility: graft's custom codegen
    * expressions are ordinary Catalyst citizens, so the same curation
    * chain that batch-cleans a corpus cleans documents AS THEY ARRIVE
    * from a crawl, stateless and embarrassingly parallel; after
    * bounded replay the sink equals the batch chain, which is what
    * the oracle replays (strip chain + span CTEs over each stripped
    * document). */
  val streamCurate = QueryDef(
    "q_stream_curate",
    Some(s"""$plantedSql,
            s AS (
              SELECT doc_id,
                     $stripSql
              FROM p),
            t2 AS (
              SELECT doc_id,
                     list_filter(string_split(stripped, ' '),
                       x -> len(x) > 0) AS toks
              FROM s),
            ${spanCtesSql("t2")}
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   n_dup_windows,
                   COALESCE(array_to_string(
                     list_transform(kept, p -> toks[p]), ' '), '')
                     AS cleaned_text
            FROM k ORDER BY doc_id"""),
    (s, d) => {
      import graft.streaming.EventStream
      val src = EventStream.stageDir(s"$d/documents.parquet")
      val docs = EventStream.readDocuments(s, src)
      val chain = docs
        .select(col("doc_id"), plantedHtml.as("planted"))
        .select(col("doc_id"),
          graft.functions.HtmlFunctions.stripHtml(col("planted"))
            .as("stripped"))
        .select(col("doc_id"),
          graft.functions.SpanFunctions.spanDedupStats(col("stripped"), 3)
            .as("__s"))
        .select(col("doc_id"),
          col("__s.n_tokens").as("n_tokens"),
          col("__s.n_dup_windows").as("n_dup_windows"),
          col("__s.cleaned_text").as("cleaned_text"))
      EventStream.runAvailableNow(s, chain, "q_stream_curate_sink",
          outputMode = "append")
        .orderBy("doc_id")
    })

  /** Cross-document paragraph dedup (X56 — the Dolma-style global
    * paragraph pass, public recipe: Soldaini et al. 2024): a paragraph
    * (here: line, via the same deterministic relining device the other
    * line ops use) survives only at its GLOBAL first occurrence across
    * the corpus, ordered by (doc_id, position); every later copy in
    * any document is removed and documents are rebuilt. Complements
    * X46 (boilerplate = lines frequent in MANY docs) — this removes
    * the SECOND copy even of a once-repeated paragraph.
    *
    * Scale shape: winner election runs on md5-hash triples only
    * (h, doc_id, pos — fixed width; a viral boilerplate paragraph
    * skews a 24-byte-row group, not a text group), then verdicts
    * rejoin the text rows on (doc_id, pos) — uniformly distributed
    * keys, no skew. A single window-over-h formulation would ship
    * every copy of a hot paragraph's TEXT into one partition; this
    * two-phase form is the 100 TB-safe plan. */
  val paragraphDedup = QueryDef(
    "q_paragraph_dedup",
    Some(s"""WITH $lineRowsSql,
            r AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS rn
              FROM e2)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_paras,
                   CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_paras,
                   COALESCE(array_to_string(
                     list(line ORDER BY pos) FILTER (rn = 1),
                     chr(10)), '') AS cleaned_text
            FROM r GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      val e = lineRows(s, d)
      // phase 1: global first occurrence per hash — only (h, doc_id,
      // pos) triples shuffle; min(struct) is the windowless winner
      val winners = e.select(col("h"), col("doc_id"), col("pos"))
        .groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      val flags = e.select(col("h"), col("doc_id"), col("pos"))
        .join(winners, "h")
        .select(col("doc_id"), col("pos"),
          (col("w.doc_id") === col("doc_id") &&
            col("w.pos") === col("pos")).as("kept"))
      // phase 2: verdicts rejoin text on uniform (doc_id, pos) keys
      e.join(flags, Seq("doc_id", "pos"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dup_paras"),
          array_join(transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("line"))))),
            st => st.getField("line")), "\n").as("cleaned_text"))
        .orderBy("doc_id")
    })

  /** HTML stripping (X55): the crawl→text extraction step, run over
    * documents wearing planted markup (the q_unicode_nfc device — the
    * fixture corpus is plain text, so the query dresses it in
    * deterministic HTML first: a full page with style+script blocks,
    * an entity-bearing line, an anchor+entities line, and a control
    * group). The fused [[graft.functions.StripHtml]] kernel is defined
    * as a regex/replace chain (blocks → tags → entities → collapse)
    * that the oracle replays verbatim, so cleaned text hash-matches
    * byte-for-byte — including the chain's documented quirks (script
    * CONTENT deleted, `a<br>b` spaced, `&amp;lt;` single-decoded). */
  val stripHtml = QueryDef(
    "q_strip_html",
    Some(s"""$plantedSql,
            s AS (
              SELECT doc_id, planted,
                     $stripSql
              FROM p)
            SELECT doc_id, stripped,
                   (stripped != planted) AS changed,
                   CAST(len(planted) AS BIGINT) AS n_chars_before,
                   CAST(len(stripped) AS BIGINT) AS n_chars_after
            FROM s ORDER BY doc_id"""),
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), plantedHtml.as("planted"))
        .select(col("doc_id"), col("planted"),
          graft.functions.HtmlFunctions.stripHtml(col("planted"))
            .as("stripped"))
        .select(col("doc_id"), col("stripped"),
          (col("stripped") =!= col("planted")).as("changed"),
          length(col("planted")).cast("long").as("n_chars_before"),
          length(col("stripped")).cast("long").as("n_chars_after"))
        .orderBy("doc_id")
    })

  /** Intra-document repeated-span removal (X53): the within-document
    * granularity of dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better", §exact-substring — here at
    * token-window granularity): a 3-token window that already occurred
    * earlier in the SAME document marks its tokens for removal, and
    * the document is rebuilt from the surviving tokens. Complements
    * X1/X19 (whole-corpus dedup) and X46 (line granularity); the
    * pathology it targets — generated boilerplate loops, scraper
    * stutter — lives inside single documents where corpus-level dedup
    * can't see it.
    *
    * One fused codegen kernel ([[graft.ops.SpanDedup]] /
    * `SpanDedupStats`): no shuffle, no explode — scales as a pure
    * scan. All arithmetic is integer positions + exact string
    * equality, so the oracle rebuilds cleaned text byte-for-byte with
    * staged list CTEs (dup window starts → flattened removed-position
    * list → membership filter). */
  val dedupSpans = QueryDef(
    "q_dedup_spans",
    Some(s"""WITH t AS (
               SELECT doc_id, $sqlToks AS toks FROM documents),
             ${spanCtesSql("t")}
             SELECT doc_id,
                    CAST(len(toks) AS BIGINT) AS n_tokens,
                    n_dup_windows,
                    CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
                    COALESCE(array_to_string(
                      list_transform(kept, p -> toks[p]), ' '), '')
                      AS cleaned_text
             FROM k ORDER BY doc_id"""),
    (s, d) => graft.ops.SpanDedup
      .clean(Tables.documents(s, d), "doc_id", col("text"), 3)
      .orderBy("doc_id"))

  // --------------------------------- X92 character-class entropy

  /** Per-class count via the length-difference trick — counts chars of
    * class `re` with NO explode (a pure codegen projection; exploding
    * a 100 TB corpus to chars is the anti-pattern this avoids). */
  private def classCount(re: String): Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), re, ""))).cast("long")
  private def sqlClassCount(re: String): String =
    s"""CAST(len(text) -
             len(regexp_replace(text, '$re', '', 'g')) AS BIGINT)"""

  /** One entropy term −p·log2(p), zero when the class is absent.
    * Float discipline: the log2 output is qround(6)'d (transcendental
    * — libm last-ulp differs across engines, the X63 device); the
    * surrounding divide/multiply/sum tree is fixed-order elementwise
    * IEEE, so the entropy value hashes RAW (the X60 precedent). */
  private def entTerm(c: Column, n: Column): Column = {
    val p = c.cast("double") / n.cast("double")
    when(c === 0L, lit(0.0)).otherwise(p * Num.qround(log2(p), 6))
  }
  private def sqlEntTerm(c: String): String =
    // parens around the qround: its trailing `/ 1000000` would
    // otherwise re-associate under the enclosing product ((p·F)/1e6
    // vs p·(F/1e6) — different IEEE rounding)
    s"""CASE WHEN $c = 0 THEN 0.0
             ELSE (CAST($c AS DOUBLE) / CAST(n AS DOUBLE)) *
                  (${Num.qroundSql(
                    s"LOG2(CAST($c AS DOUBLE) / CAST(n AS DOUBLE))", 6)})
        END"""

  /** Character-class Shannon entropy (X92 — the gibberish/encoding
    * detector next to the X8 quality ratios: natural prose mixes
    * lower/upper/digit/space/punct at a characteristic ~1.2–1.8 bits,
    * while base64 blobs, minified code, digit dumps and repeated-char
    * spam collapse toward 0 or skew to a single class; CCNet/Gopher
    * ship exactly this family of composition heuristics). Five fixed
    * classes, counted by the length-difference trick — a shuffle-free
    * codegen scan, no explode, no UDF; entropy is a fixed-order
    * 5-term tree. Empty docs → null entropy. */
  val charEntropy = QueryDef(
    "q_char_entropy",
    Some(s"""WITH c AS (
              SELECT doc_id, CAST(len(text) AS BIGINT) AS n,
                     ${sqlClassCount("[a-z]")} AS c_lower,
                     ${sqlClassCount("[A-Z]")} AS c_upper,
                     ${sqlClassCount("[0-9]")} AS c_digit,
                     ${sqlClassCount("\\s")} AS c_space
              FROM documents),
            k AS (
              SELECT doc_id, n, c_lower, c_upper, c_digit, c_space,
                     n - c_lower - c_upper - c_digit - c_space AS c_other
              FROM c)
            SELECT doc_id, n AS n_chars,
                   c_lower, c_upper, c_digit, c_space, c_other,
                   CASE WHEN n = 0 THEN NULL ELSE
                     0.0 - (${sqlEntTerm("c_lower")} +
                            ${sqlEntTerm("c_upper")} +
                            ${sqlEntTerm("c_digit")} +
                            ${sqlEntTerm("c_space")} +
                            ${sqlEntTerm("c_other")})
                   END AS entropy
            FROM k ORDER BY doc_id"""),
    (s, d) => {
      val n = col("n")
      val counted = Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n"),
        classCount("[a-z]").as("c_lower"),
        classCount("[A-Z]").as("c_upper"),
        classCount("[0-9]").as("c_digit"),
        classCount("\\s").as("c_space"))
      counted
        .withColumn("c_other",
          n - col("c_lower") - col("c_upper") - col("c_digit") -
            col("c_space"))
        .select(col("doc_id"), n.as("n_chars"),
          col("c_lower"), col("c_upper"), col("c_digit"),
          col("c_space"), col("c_other"),
          when(n === 0L, lit(null).cast("double"))
            .otherwise(lit(0.0) -
              (entTerm(col("c_lower"), n) +
               entTerm(col("c_upper"), n) +
               entTerm(col("c_digit"), n) +
               entTerm(col("c_space"), n) +
               entTerm(col("c_other"), n)))
            .as("entropy"))
        .orderBy("doc_id")
    })

  // ------------------------------------ X93 PMI bigram collocations

  private val PmiMinCount = 5L
  private val PmiTopK = 50

  /** Corpus PMI collocations (X93 — Church & Hanks 1990's association
    * ratio, the collocation extractor phrase-aware tokenizers and
    * synthetic-text detectors both run: pmi(x,y) = log2(c_xy·N /
    * (c_x·c_y)) over adjacent lowercase token pairs). Scale shape:
    * token/bigram counts are (key)-keyed aggregates with map-side
    * partial combine; the corpus token total is a 1-row aggregate
    * attached on a constant-key broadcast hash join (the PageRank
    * dangling-mass device); the min-count floor prunes the bigram
    * table BEFORE the two unigram-count joins (keyed equi-joins — the
    * vocab is too large to broadcast at corpus scale); top-k is a
    * TakeOrdered, never a global sort. Integer counts; the one
    * elementwise log2 is qround(6)'d (the X63 transcendental
    * discipline). */
  val pmiBigrams = QueryDef(
    "q_pmi_bigrams",
    Some(s"""WITH tl AS (
              SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> len(t) > 0) AS toks
              FROM documents),
            uni AS (SELECT unnest(toks) AS w FROM tl),
            uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
                   FROM uni GROUP BY w),
            nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
            bg AS (
              SELECT unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS b
              FROM tl WHERE len(toks) >= 2),
            bc AS (
              SELECT b, CAST(COUNT(*) AS BIGINT) AS c_xy
              FROM bg GROUP BY b HAVING COUNT(*) >= $PmiMinCount),
            sp AS (
              SELECT string_split(b, ' ')[1] AS w1,
                     string_split(b, ' ')[2] AS w2, c_xy
              FROM bc),
            j AS (
              SELECT sp.w1, sp.w2, sp.c_xy, u1.c AS c_x, u2.c AS c_y
              FROM sp JOIN uc u1 ON sp.w1 = u1.w
                      JOIN uc u2 ON sp.w2 = u2.w)
            SELECT w1, w2, c_xy, c_x, c_y,
                   ${Num.qroundSql(
                     "LOG2((CAST(c_xy AS DOUBLE) * CAST(nt.n AS DOUBLE)) / " +
                       "(CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))", 6)}
                     AS pmi
            FROM j CROSS JOIN nt
            ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK"""),
    (s, d) => {
      val tl = Tables.documents(s, d)
        .select(Text.tokens(lower(col("text"))).as("toks"))
      val uni = tl.select(explode(col("toks")).as("w"))
      val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
      // corpus token total: ONE bounded 1-row driver action at plan
      // build (the X38/BM25 corpus-stats device — a 1-row frame on a
      // constant key folds into the banned BroadcastNestedLoopJoin);
      // the exact integer is < 2^53, so lit(n) is the same double the
      // oracle casts
      val nTok = uni.count()
      val bg = tl.where(size(col("toks")) >= 2)
        .select(explode(expr(
          """transform(sequence(0, size(toks) - 2),
             i -> concat(element_at(toks, i + 1), ' ',
                         element_at(toks, i + 2)))""")).as("b"))
      val bc = bg.groupBy("b").agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= PmiMinCount)
      val sp = bc.select(
        split(col("b"), " ").getItem(0).as("w1"),
        split(col("b"), " ").getItem(1).as("w2"), col("c_xy"))
      sp
        .join(uc.select(col("w").as("w1"), col("c").as("c_x")), "w1")
        .join(uc.select(col("w").as("w2"), col("c").as("c_y")), "w2")
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"),
          col("c_y"),
          Num.qround(log2(
            (col("c_xy").cast("double") * lit(nTok).cast("double")) /
              (col("c_x").cast("double") * col("c_y").cast("double"))),
            6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(PmiTopK)
    })

  // ------------------------------------ X98 TF-IDF keyword extraction

  private val TfidfTopK = 5

  /** Per-document TF-IDF keywords (X98 — Spärck Jones 1972; the
    * per-DOC extraction twin of X38's per-QUERY BM25 ranking: what a
    * corpus browser shows as document tags, what topic-drift monitors
    * and near-dup triage read first). Smoothed idf = ln((N+1)/(df+1)).
    * Scale shape: (doc, term) tf and term df are keyed aggregates
    * with map-side combine; the doc-count total is the constant-key
    * 1-row broadcast; the df join is a vocab-keyed equi-join (too big
    * to broadcast at corpus scale); top-k per doc is a PARTITIONED
    * row_number window (plan-sweep-legal). Counts are integers; the one
    * ln is qround(6)'d (X63 transcendental discipline) and the
    * tf·idf product is elementwise-exact, so scores hash raw. */
  val tfidfKeywords = QueryDef(
    "q_tfidf_keywords",
    Some(s"""WITH tl AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> len(t) > 0) AS toks
              FROM documents),
            tf AS (
              SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, unnest(toks) AS w FROM tl)
              GROUP BY doc_id, w),
            df AS (
              SELECT w, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY w),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
            sc AS (
              SELECT tf.doc_id, tf.w, tf.tf, df.df,
                     CAST(tf.tf AS DOUBLE) *
                       (${Num.qroundSql(
                         "LN((CAST(nn.n AS DOUBLE) + 1.0) / " +
                           "(CAST(df.df AS DOUBLE) + 1.0))", 6)}) AS score
              FROM tf JOIN df USING (w) CROSS JOIN nn),
            rk AS (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, w) AS BIGINT) AS rank
              FROM sc)
            SELECT doc_id, w AS term, tf, df, score, rank
            FROM rk WHERE rank <= $TfidfTopK
            ORDER BY doc_id, rank"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val ex = docs
        .select(col("doc_id"),
          explode(Text.tokens(lower(col("text")))).as("w"))
      val tf = ex.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      // doc count: one bounded driver action at plan build (the
      // X38/BM25 corpus-stats device; see q_pmi_bigrams note)
      val nDocs = docs.count()
      val sc = tf.join(df, "w")
        .select(col("doc_id"), col("w"), col("tf"), col("df"),
          (col("tf").cast("double") *
            Num.qround(log((lit(nDocs).cast("double") + 1.0) /
              (col("df").cast("double") + 1.0)), 6)).as("score"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("w"))
      sc.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= TfidfTopK)
        .select(col("doc_id"), col("w").as("term"), col("tf"),
          col("df"), col("score"), col("rank"))
        .orderBy("doc_id", "rank")
    })

  /** Flesch readability (X149 — Flesch 1948 reading ease + the
    * Kincaid 1975 grade-level regrading, the standard "how hard is
    * this prose" screens a curation pass runs next to the X20 quality
    * heuristics; in LLM-data practice the band feeds difficulty
    * bucketing/curriculum mixes). All three inputs are deterministic
    * surface heuristics, identical cross-engine: words = \\s+ tokens,
    * sentences = count of [.!?]+ runs (min 1), syllables = per-word
    * count of [aeiouy]+ vowel groups (min 1 per word — the classic
    * approximation). Ratios are exact-integer-fed IEEE; the score
    * arithmetic is element-wise (left unrounded per the float
    * discipline); empty docs degrade to NULL, not a division error.
    * One shuffle-free scan — per-row HOFs, no UDF. */
  val readability = QueryDef(
    "q_readability",
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 w -> len(w) > 0) AS toks,
                     GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS n_sentences
              FROM documents),
            c AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CAST(n_sentences AS BIGINT) AS n_sentences,
                     CAST(COALESCE(list_sum(list_transform(toks,
                       w -> GREATEST(1, len(regexp_extract_all(lower(w),
                              '[aeiouy]+'))))), 0) AS BIGINT)
                       AS n_syllables
              FROM t),
            r AS (
              SELECT doc_id, n_words, n_sentences, n_syllables,
                     CAST(n_words AS DOUBLE) /
                       CAST(n_sentences AS DOUBLE) AS wps,
                     CAST(n_syllables AS DOUBLE) /
                       NULLIF(CAST(n_words AS DOUBLE), 0) AS spw
              FROM c)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   206.835 - 1.015 * wps - 84.6 * spw AS flesch,
                   0.39 * wps + 11.8 * spw - 15.59 AS fk_grade,
                   CASE WHEN spw IS NULL THEN NULL
                        WHEN 206.835 - 1.015 * wps - 84.6 * spw >= 90
                          THEN 'very_easy'
                        WHEN 206.835 - 1.015 * wps - 84.6 * spw >= 70
                          THEN 'easy'
                        WHEN 206.835 - 1.015 * wps - 84.6 * spw >= 50
                          THEN 'standard'
                        WHEN 206.835 - 1.015 * wps - 84.6 * spw >= 30
                          THEN 'difficult'
                        ELSE 'very_confusing' END AS band
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      val toks = filter(split(col("text"), "\\s+"),
        w => length(w) > 0)
      val base = Tables.documents(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long"))
          .as("n_sentences"),
        aggregate(toks, lit(0L), (acc, w) => acc +
          greatest(lit(1L),
            regexp_count(lower(w), lit("[aeiouy]+")).cast("long")))
          .as("n_syllables"))
      val wps = col("n_words").cast("double") /
        col("n_sentences").cast("double")
      val spw = when(col("n_words") === 0L, lit(null).cast("double"))
        .otherwise(col("n_syllables").cast("double") /
          col("n_words").cast("double"))
      val flesch = lit(206.835) - lit(1.015) * wps - lit(84.6) * spw
      base.select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          flesch.as("flesch"),
          (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"),
          when(spw.isNull, lit(null).cast("string"))
            .when(flesch >= 90, "very_easy")
            .when(flesch >= 70, "easy")
            .when(flesch >= 50, "standard")
            .when(flesch >= 30, "difficult")
            .otherwise("very_confusing").as("band"))
        .orderBy("doc_id")
    })

  private val ZipfK = 24

  /** Zipf rank-frequency fit (X156 — Zipf 1949's law, the third
    * member of the corpus-statistics family next to Heaps X112 and
    * char entropy X92: the log-log slope of rank vs frequency over
    * the vocabulary head ≈ −1 for natural language; a corpus whose
    * slope drifts shallow is template/boilerplate-heavy, too steep is
    * degenerate repetition — a one-number "does this read like
    * language" screen). Top-K=24 tokens by (freq DESC, token) —
    * TakeOrdered, no global window on the Spark side; the 24 ln
    * lanes are qround(6) (libm crosses engines ≤1 ulp), the OLS
    * sums are EXPLICIT left-to-right expression chains over the
    * pivoted one-row lanes (the X112 fixed-K device — identical fold
    * order, so the slope is bit-determined before its own qround).
    * K ≤ vocabulary is the recorded contract (31 distinct tokens at
    * the smallest SF). The 24-row collect is bounded metadata (X109
    * device); ranks/slope re-emit as one literal frame. */
  val zipfFit = QueryDef(
    "q_zipf_fit", {
      val q6 = (e: String) => Num.qroundSql(e, 6)
      val ks = 1 to ZipfK
      val px = ks.map(k =>
        s"MAX(CASE WHEN rank = $k THEN lnr END) AS x$k").mkString(", ")
      val py = ks.map(k =>
        s"MAX(CASE WHEN rank = $k THEN lnf END) AS y$k").mkString(", ")
      val sx = ks.map(k => s"x$k").mkString(" + ")
      val sy = ks.map(k => s"y$k").mkString(" + ")
      val sxy = ks.map(k => s"x$k * y$k").mkString(" + ")
      val sxx = ks.map(k => s"x$k * x$k").mkString(" + ")
      Some(s"""WITH tok AS (
                SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                  t -> len(t) > 0)) AS w
                FROM documents),
              c AS (
                SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS freq
                FROM tok GROUP BY w),
              t0 AS (
                SELECT token, freq,
                       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token)
                         AS BIGINT) AS rank
                FROM c ORDER BY freq DESC, token LIMIT $ZipfK),
              l AS (
                SELECT rank, token, freq,
                       ${q6("ln(CAST(rank AS DOUBLE))")} AS lnr,
                       ${q6("ln(CAST(freq AS DOUBLE))")} AS lnf
                FROM t0),
              p AS (SELECT $px, $py FROM l),
              sums AS (
                SELECT ($sx) AS sx, ($sy) AS sy, ($sxy) AS sxy,
                       ($sxx) AS sxx
                FROM p)
              SELECT l.rank, l.token, l.freq, l.lnr AS ln_rank,
                     l.lnf AS ln_freq,
                     ${q6(s"($ZipfK.0 * sums.sxy - sums.sx * sums.sy) / " +
                       s"($ZipfK.0 * sums.sxx - sums.sx * sums.sx)")}
                       AS slope
              FROM l CROSS JOIN sums ORDER BY rank""")
    },
    (s, d) => {
      import s.implicits._
      val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
      val top = Tables.documents(s, d)
        .select(explode(toks).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(ZipfK)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(top.length == ZipfK,
        s"q_zipf_fit needs a vocabulary of >= $ZipfK tokens")
      val lanes = top.zipWithIndex.map { case ((t, f), i) =>
        (i + 1L, t, f, Num.qround(math.log((i + 1).toDouble), 6),
          Num.qround(math.log(f.toDouble), 6))
      }
      // explicit left-to-right folds in rank order — the same chains
      // the oracle builds, so the slope is bit-determined pre-qround
      val sx = lanes.map(_._4).reduceLeft(_ + _)
      val sy = lanes.map(_._5).reduceLeft(_ + _)
      val sxy = lanes.map(l => l._4 * l._5).reduceLeft(_ + _)
      val sxx = lanes.map(l => l._4 * l._4).reduceLeft(_ + _)
      val k = ZipfK.toDouble
      val slope = Num.qround((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
      lanes.toSeq.map { case (r, t, f, lnr, lnf) =>
        (r, t, f, lnr, lnf, slope)
      }.toDF("rank", "token", "freq", "ln_rank", "ln_freq", "slope")
        .orderBy("rank")
    })

  // ------------------------------------------- X185 Brier / ECE

  /** Probability-calibration scores (X185 — Brier 1950 + expected /
    * maximum calibration error, Naeini et al. 2015: X87's reliability
    * DIAGRAM compressed to the three numbers a model gate thresholds
    * on — Brier = mean squared probability error (refinement +
    * calibration together), ECE = bucket-weighted |accuracy −
    * confidence|, MCE = the worst bucket. Composition: nests the X45
    * classifier scores; per-doc p = σ(margin) qround(6)'d AFTER the
    * transcendental (the X63 exp lane); Brier terms (p−y)² are then
    * element-wise exact, bucket confidences qround'd aggregates, and
    * the ECE sum runs over the bounded margin-bucket alphabet —
    * bucket rows and doc totals are two bounded driver actions
    * re-emitted as ONE literal row (X109; a 1-row cross join would
    * fold into the banned BNLJ). */
  val brierEce = QueryDef(
    "q_brier_ece", {
      val pSql = Num.qroundSql("1.0 / (1.0 + exp(-margin))", 6)
      Some(s"""WITH hc AS (${hashClassifier.oracle.get}),
              sc AS (
                SELECT CAST(FLOOR(margin / 2.0) AS INT) AS bucket,
                       $pSql AS p,
                       CASE WHEN is_en THEN 1.0 ELSE 0.0 END AS y
                FROM hc),
              tot AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       ${Num.qroundSql("AVG((p - y) * (p - y))", 6)}
                         AS brier
                FROM sc),
              b AS (
                SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(y) AS DOUBLE) / COUNT(*) AS acc,
                       ${Num.qroundSql("AVG(p)", 6)} AS conf
                FROM sc GROUP BY bucket),
              e AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
                       ${Num.qroundSql(
                         "SUM(CAST(n AS DOUBLE) * ABS(acc - conf))", 6)}
                         AS ece_num,
                       MAX(ABS(acc - conf)) AS mce
                FROM b)
              SELECT tot.n_docs, tot.brier,
                     e.ece_num / CAST(tot.n_docs AS DOUBLE) AS ece,
                     e.mce, e.n_buckets
              FROM tot CROSS JOIN e""")
    },
    (s, d) => {
      val hc = hcScores(s, d)
      val p = Num.qround(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6)
      val sc = hc.select(
          floor(col("margin") / 2.0).cast("int").as("bucket"),
          p.as("p"),
          when(col("is_en"), 1.0).otherwise(0.0).as("y"))
        .localCheckpoint(true) // doc totals + bucket table
      val tRow = sc.agg(count(lit(1)),
        Num.qround(avg((col("p") - col("y")) * (col("p") - col("y"))), 6))
        .head()
      val (nDocs, brier) = (tRow.getLong(0), tRow.getDouble(1))
      val b = sc.groupBy("bucket").agg(count(lit(1)).as("n"),
        (sum("y").cast("double") / count(lit(1))).as("acc"),
        Num.qround(avg("p"), 6).as("conf"))
      val eRow = b.agg(count(lit(1)),
        Num.qround(sum(col("n").cast("double") *
          abs(col("acc") - col("conf"))), 6),
        max(abs(col("acc") - col("conf")))).head()
      s.range(1).select(lit(nDocs).as("n_docs"), lit(brier).as("brier"),
        (lit(eRow.getDouble(1)) / lit(nDocs).cast("double")).as("ece"),
        lit(eRow.getDouble(2)).as("mce"),
        lit(eRow.getLong(0)).as("n_buckets"))
    })

  // --------------------------------------- X182 content-defined chunks

  /** Content-defined chunking (X182 — see
    * [[graft.ops.Chunker.cdcChunks]]: rolling-window breakpoints, the
    * LBFS/FastCDC-ancestor device — a boundary wherever the 3-gram
    * window key ≡ 0 mod 32, expected chunk ≈ 32 grams, boundaries
    * SHIFT-RESISTANT so chunk-hash dedup catches duplicated content
    * that fixed-offset chunking (X29) and whole-doc dedup (X1) miss).
    * The FULL chunk table is the compared result — boundary
    * positions, lengths, the portable 60-bit chunk hashes and the
    * chunk text all hash-check, so a green row pins the cut
    * predicate, the slice arithmetic, and the hash lane at once. */
  val cdcChunks = QueryDef(
    "q_cdc_chunks",
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                       x -> len(x) > 0) AS toks
              FROM documents),
            t2 AS (
              SELECT doc_id, toks, len(toks) AS n
              FROM t WHERE len(toks) > 0),
            ky AS (
              SELECT doc_id, toks, n,
                     list_transform(range(1, n - 1),
                       i -> CAST('0x' || substring(md5(toks[i] || ' '
                         || toks[i + 1] || ' ' || toks[i + 2]), 1, 15)
                         AS BIGINT)) AS keys
              FROM t2),
            ct AS (
              SELECT doc_id, toks, n,
                     list_transform(list_filter(range(1, n - 1),
                       p -> keys[p] % 32 = 0), p -> p + 2) AS cuts
              FROM ky),
            st AS (
              SELECT doc_id, toks, n, cuts,
                     list_filter([1] || list_transform(cuts, e -> e + 1),
                       s -> s <= n) AS starts
              FROM ct),
            u AS (
              SELECT doc_id, toks, n, cuts, starts,
                     unnest(range(1, len(starts) + 1)) AS t
              FROM st),
            ch AS (
              SELECT doc_id, CAST(t AS BIGINT) AS chunk_id,
                     CAST(starts[t] AS BIGINT) AS start_tok,
                     starts[t] AS s,
                     COALESCE(list_filter(cuts,
                       e -> e >= starts[t])[1], n) AS e,
                     toks
              FROM u)
            SELECT doc_id, chunk_id, start_tok,
                   CAST(e - s + 1 AS BIGINT) AS n_chunk_tokens,
                   CAST('0x' || substring(md5(
                     array_to_string(toks[s:e], ' ')), 1, 15) AS BIGINT)
                     AS chunk_hash,
                   array_to_string(toks[s:e], ' ') AS chunk_text
            FROM ch ORDER BY doc_id, chunk_id"""),
    (s, d) => graft.ops.Chunker.cdcChunks(
        Tables.documents(s, d), "doc_id", "text", k = 3, divisor = 32)
      .orderBy("doc_id", "chunk_id"))

  // ------------------------------------------- X189 logistic regression

  /** One GD round as oracle CTEs (the X66/X188 unroll device applied
    * to an optimizer): margins fold sequentially against the previous
    * round's weight list, per-dim gradient means qround(6), updated
    * weights qround(6) again — so round t+1 starts from bit-identical
    * doubles on both engines. */
  /** Shared with X202's propensity fit (DiagnosticsQueries) — the
    * caller's WITH-chain must define CTEs named `sx` (doc_id, y, xs),
    * `nn` (n), and `dms` (j) for the referenced dims. */
  private[queries] def logregRoundSql(t: Int, dims: Int, lr: Double,
      pfx: String = "l"): String = {
    val p = t - 1
    s"""${pfx}p$t AS MATERIALIZED (
              SELECT sx.doc_id, sx.y, sx.xs,
                     1.0 / (1.0 + exp(-(list_reduce(list_transform(
                       range(1, ${dims + 1}), j -> sx.xs[j] * w.w[j]),
                       (a, b) -> a + b)))) AS p
              FROM sx CROSS JOIN ${pfx}w$p w),
            ${pfx}g$t AS MATERIALIZED (
              SELECT dms.j,
                     ${Num.qroundSql(
                       "SUM((p.p - p.y) * p.xs[dms.j]) / nn.n", 6)} AS g
              FROM ${pfx}p$t p CROSS JOIN dms CROSS JOIN nn
              GROUP BY dms.j, nn.n),
            ${pfx}w$t AS MATERIALIZED (
              SELECT list(${Num.qroundSql(s"w.w[g.j] - $lr * g.g", 6)}
                       ORDER BY g.j) AS w
              FROM ${pfx}g$t g CROSS JOIN ${pfx}w$p w)"""
  }

  /** The round-t log-loss lane of chain `pfx` — the loss of the
    * weights ENTERING round t, read off the same per-row sigmoid the
    * round's gradient already computed (zero extra passes); p clamped
    * to (1e-12, 1−1e-12) identically on both engines before the ln
    * lanes. */
  private def logregLossSql(t: Int, lr: Double, pfx: String): String = {
    val pc = "LEAST(GREATEST(p, 1e-12), 1.0 - 1e-12)"
    s"""${pfx}l$t AS (
              SELECT CAST($lr AS DOUBLE) AS lr,
                     CAST($t AS BIGINT) AS round,
                     ${Num.qroundSql(
                       s"-AVG(y * LN($pc) + (1.0 - y) * LN(1.0 - $pc))",
                       6)} AS loss
              FROM ${pfx}p$t)"""
  }

  private val LrK = 128      // hashed feature buckets
  private val LrDims = LrK + 1 // + bias
  private val LrIters = 16
  private val LrRate = 1.0

  /** Hashed-bag-of-words logistic regression (X189 — see
    * [[graft.ops.LogReg]]: the fastText-shaped linear classifier,
    * Joulin et al. 2017, trained by 16 rounds of batch gradient
    * descent where each round is ONE map-side-combining pass through
    * the DoubleVecSum accumulator — 129 doubles per partition cross
    * the wire per round, weights live on the driver and re-enter the
    * scan as literals; the discriminative sibling of X45's generative
    * Naive Bayes on the same portable-md5 unigram+bigram hash
    * features, supervised by the corpus's own `lang` label). Features
    * are bucket-share ratios (exact rationals) standardized against
    * one qround(6) moment pass; the result is PINNED as "16-round GD"
    * (per-round gradient and weight lanes qround(6), w⁰ = 0 — the
    * X66/X188 discipline), so the oracle's unrolled replay lands on
    * bit-identical weights; emitted scores floor at 1e-6 (the X139
    * transcendental-lane device for the sigmoid's exp). Learns
    * genuinely: accuracy 0.70 on sf0.01 vs the 0.56 majority rate. */
  val logreg = QueryDef(
    "q_logreg", {
      val rounds = (1 to LrIters)
        .map(logregRoundSql(_, LrDims, LrRate))
        .mkString(",\n            ")
      Some(s"""WITH $logregBaseSql,
            lw0 AS (SELECT list_transform(range(1, ${LrDims + 1}),
                      j -> 0.0) AS w),
            $rounds
            SELECT sx.doc_id, CAST(sx.y AS BIGINT) AS label,
                   ${Num.qroundSql(
                     s"""1.0 / (1.0 + exp(-(list_reduce(list_transform(
                       range(1, ${LrDims + 1}), j -> sx.xs[j] * w.w[j]),
                       (a, b) -> a + b))))""", 6)} AS score,
                   CAST(CASE WHEN ${Num.qroundSql(
                     s"""1.0 / (1.0 + exp(-(list_reduce(list_transform(
                       range(1, ${LrDims + 1}), j -> sx.xs[j] * w.w[j]),
                       (a, b) -> a + b))))""", 6)} >= 0.5
                     THEN 1 ELSE 0 END AS BIGINT) AS pred
            FROM sx CROSS JOIN lw$LrIters w
            ORDER BY sx.doc_id""")
    },
    (s, d) => {
      val feats = graft.ops.LogReg
        .hashedStdFeatures(Tables.documents(s, d), LrK)
        .localCheckpoint(true) // 18 passes (moments + 16 rounds + score)
      val w = graft.ops.LogReg.fit(feats, "xs", "y", LrDims,
        LrIters, Seq(LrRate)).head._1
      graft.ops.LogReg.score(feats, "doc_id", "xs", "y", w)
        .orderBy("doc_id")
    })

  /** The standardized-feature CTE chain shared by q_logreg and
    * q_learning_curve (tokens → hashed buckets → bucket-share
    * features → qround(6) moment standardization). */
  private lazy val logregBaseSql: String =
    s"""b0 AS (
              SELECT doc_id, lang, $sqlToks AS toks FROM documents),
            lbase AS (
              SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                     list_concat(toks,
                       CASE WHEN len(toks) >= 2 THEN
                         list_transform(range(1, CAST(len(toks) AS INT)),
                           i -> toks[i] || ' ' || toks[i+1])
                       ELSE CAST([] AS VARCHAR[]) END) AS fs
              FROM b0 WHERE len(toks) > 0),
            hh AS MATERIALIZED (
              SELECT doc_id, y, CAST(len(fs) AS DOUBLE) AS nf,
                     list_transform(fs, t ->
                       ${graft.ops.Bloom.hashModSql("lr:", "t", LrK)}) AS hs
              FROM lbase),
            xr AS MATERIALIZED (
              SELECT doc_id, y,
                     list_transform(range(0, $LrK), b ->
                       CAST($LrK * len(list_filter(hs, h -> h = b))
                         AS DOUBLE) / nf) AS xsr
              FROM hh),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM xr),
            rdm AS (SELECT CAST(unnest(range(1, ${LrK + 1})) AS INT) AS j),
            mm AS MATERIALIZED (
              SELECT rdm.j,
                     ${Num.qroundSql("SUM(xr.xsr[rdm.j]) / nn.n", 6)} AS mu,
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
            mus AS MATERIALIZED (SELECT list(mu ORDER BY j) AS v FROM sdt),
            sds AS MATERIALIZED (SELECT list(sd ORDER BY j) AS v FROM sdt),
            sx AS MATERIALIZED (
              SELECT doc_id, y,
                     list_prepend(1.0, list_transform(range(1, ${LrK + 1}),
                       j -> CASE WHEN sds.v[j] > 0.0
                         THEN (xsr[j] - mus.v[j]) / sds.v[j]
                         ELSE 0.0 END)) AS xs
              FROM xr CROSS JOIN mus CROSS JOIN sds),
            dms AS (SELECT CAST(unnest(range(1, ${LrDims + 1})) AS INT) AS j)"""

  // ------------------------------------------- X193 isotonic calibration

  private val IsoFences = (1 to 19).map(_ / 20.0)

  /** Isotonic score calibration via pool-adjacent-violators (X193 —
    * Ayer et al. 1955 / Barlow & Brunk 1972: THE nonparametric
    * monotone calibration behind sklearn's `isotonic` and Zadrozny &
    * Elkan 2002's classifier work — fit the best nondecreasing map
    * score→P(y=1); the shape-constrained completion of X87's merely
    * BINNED reliability curve, which can zig-zag). Score = the X45
    * Naive Bayes margin (nesting the full q_hash_classifier fit —
    * the q_classifier_eval composition precedent — a signal with
    * real slope, AUC 0.753, so the fit genuinely pools rather than
    * collapsing to a constant); 20 quantile
    * bins via the X114 fence device (qround(6) percentiles — Spark
    * exact `percentile`, oracle PERCENTILE_CONT); the fit itself uses
    * the MINIMAX characterization iso_i = min_{k≥i} max_{j≤i}
    * mean(y over bins j..k) — mathematically equal to PAV pooling,
    * and every candidate mean is an exact integer ratio
    * Σc/Σn, so min/max comparisons are bit-identical cross-engine
    * with NO iteration to pin. Scale shape: one doc-keyed pass to
    * bins, then the fit runs on ≤20 bounded rows (driver-side, the
    * X190 device — re-entering as a literal map); the oracle replays
    * the minimax as a bounded triple join. */
  val isotonic = QueryDef(
    "q_isotonic", {
      val fSql = IsoFences.zipWithIndex.map { case (p, i) =>
        s"${Num.qroundSql(s"PERCENTILE_CONT($p) WITHIN GROUP " +
          "(ORDER BY s)", 6)} AS f${i + 1}"
      }.mkString(",\n                   ")
      val bandSql = (1 to 19).map(i =>
        s"(CASE WHEN s0.s > f.f$i THEN 1 ELSE 0 END)").mkString(" + ")
      Some(s"""WITH hc AS (${hashClassifier.oracle.get}),
             s0 AS (
               SELECT doc_id,
                      CASE WHEN is_en THEN 1 ELSE 0 END AS y,
                      margin AS s
               FROM hc),
             f AS (SELECT $fSql FROM s0),
             g AS (
               SELECT $bandSql AS bin,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(s0.y) AS BIGINT) AS c
               FROM s0 CROSS JOIN f GROUP BY 1),
             bs AS (
               SELECT bin, n, c,
                      CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT)
                        AS i
               FROM g),
             tri AS (
               SELECT a.i AS i, j.i AS j, k.i AS k
               FROM bs a
                 JOIN bs j ON j.i <= a.i
                 JOIN bs k ON k.i >= a.i),
             rng AS (
               SELECT t.i, t.j, t.k,
                      CAST(SUM(m.c) AS DOUBLE) / CAST(SUM(m.n) AS DOUBLE)
                        AS a
               FROM tri t JOIN bs m ON m.i >= t.j AND m.i <= t.k
               GROUP BY t.i, t.j, t.k),
             mx AS (SELECT i, k, MAX(a) AS mxa FROM rng GROUP BY i, k),
             iso AS (SELECT i, MIN(mxa) AS iso FROM mx GROUP BY i)
             SELECT bs.bin, bs.n AS n_docs, bs.c AS n_pos,
                    CAST(bs.c AS DOUBLE) / CAST(bs.n AS DOUBLE)
                      AS raw_rate,
                    iso.iso AS iso_rate
             FROM bs JOIN iso USING (i)
             ORDER BY bs.bin""")
    },
    (s, d) => {
      val s0 = hcScores(s, d)
        .select(col("doc_id"),
          when(col("is_en"), 1L).otherwise(0L).as("y"),
          col("margin").as("s"))
        .localCheckpoint(true) // NB fit runs once; 3 consumers below
      // fences: one bounded exact-percentile action (X114 device)
      val fences = s0
        .agg(percentile(col("s"), array(IsoFences.map(lit(_)): _*)))
        .head().getSeq[Double](0)
        .map(Num.qround(_, 6))
      val band = fences.foldLeft(lit(0)) { (acc, fv) =>
        acc + when(col("s") > fv, 1).otherwise(0)
      }
      val g = s0.groupBy(band.as("bin"))
        .agg(count(lit(1)).as("n"), sum("y").as("c"))
        .localCheckpoint(true) // <= 20 bounded rows: fit reads them
      // minimax PAV on the driver over the bounded bin table
      val bins = g.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val ns = bins.map(_._2)
      val cs = bins.map(_._3)
      def mean(j: Int, k: Int): Double =
        cs.slice(j, k + 1).sum.toDouble / ns.slice(j, k + 1).sum.toDouble
      val isoVals = bins.indices.map { i =>
        (i until bins.length).map { k =>
          (0 to i).map(j => mean(j, k)).max
        }.min
      }
      val isoMap = bins.indices.map(i => bins(i)._1 -> isoVals(i)).toMap
      g.select(col("bin"), col("n").as("n_docs"), col("c").as("n_pos"),
          (col("c").cast("double") / col("n").cast("double"))
            .as("raw_rate"),
          element_at(typedLit(isoMap), col("bin")).as("iso_rate"))
        .orderBy("bin")
    })

  // -------------------------------------------- X197 learning curve

  private val CurveRates = Seq(0.25 -> "ca", 1.0 -> "cb", 4.0 -> "cc")

  /** Learning-rate grid with per-round loss curves (X197 — the
    * grid-search / learning-curve readout every training run is
    * tuned from, Bengio 2012 §3's "the learning rate is the single
    * most important hyperparameter": the X189 GD re-run at
    * η ∈ {0.25, 1, 4} with the log-loss of the entering weights
    * emitted EVERY round). The loss lane rides the SAME
    * map-side-combining aggregate as the gradient (one extra qround(6)
    * double per round — zero additional scans; see
    * [[graft.ops.LogReg.fit]]), and the three chains share one
    * standardized-feature pass. The readout is the elbow table: η=4
    * oscillates, η=1 converges fastest, η=0.25 undertrains — the
    * shape a tuner acts on. */
  val learningCurve = QueryDef(
    "q_learning_curve", {
      val chains = CurveRates.map { case (lr, pfx) =>
        val w0 = s"""${pfx}w0 AS (SELECT list_transform(
               range(1, ${LrDims + 1}), j -> 0.0) AS w)"""
        val rounds = (1 to LrIters).flatMap(t => Seq(
          logregRoundSql(t, LrDims, lr, pfx),
          logregLossSql(t, lr, pfx)))
        (w0 +: rounds).mkString(",\n            ")
      }.mkString(",\n            ")
      val union = CurveRates.flatMap { case (_, pfx) =>
        (1 to LrIters).map(t => s"SELECT * FROM ${pfx}l$t")
      }.mkString("\n             UNION ALL ")
      Some(s"""WITH $logregBaseSql,
            $chains
            SELECT lr, round, loss FROM (
             $union
            ) ORDER BY lr, round""")
    },
    (s, d) => {
      val feats = graft.ops.LogReg
        .hashedStdFeatures(Tables.documents(s, d), LrK)
        .localCheckpoint(true) // 16 fused multi-chain rounds read it
      // the 3 chains advance in lock-step — ONE multi-aggregate pass
      // per round instead of a pass per (chain, round); weights and
      // losses bit-identical per chain (LogRegSpec)
      val fitted = graft.ops.LogReg.fit(
        feats, "xs", "y", LrDims, LrIters, CurveRates.map(_._1))
      val rows = CurveRates.zip(fitted).flatMap {
        case ((lr, _), (_, losses)) =>
          losses.zipWithIndex.map { case (l, i) =>
            (lr, (i + 1).toLong, l)
          }
      }
      import s.implicits._
      rows.toDF("lr", "round", "loss").orderBy("lr", "round")
    })

  // ------------------------------------------- X204 gains / lift chart

  /** Cumulative gains and lift chart (X204 — the campaign-targeting
    * readout, Berry & Linoff 2004: rank by model score, cut into
    * deciles, ask "mailing the top k deciles captures what share of
    * all responders, at what lift over random?" — the X75 ROC's
    * business-facing sibling on the same X45 margins). Deciles from
    * 9 qround(6) margin percentiles (X114 fence device); per-decile
    * counts are ONE keyed aggregate over the bounded decile alphabet;
    * cumulative capture re-enters from the driver (X190 device — no
    * window); response rate, lift, and capture are EXACT integer
    * ratios, hashing raw. */
  val gainsChart = QueryDef(
    "q_gains_chart", {
      val fSql = (1 to 9).map { i =>
        s"${Num.qroundSql(s"PERCENTILE_CONT(${i / 10.0}) WITHIN GROUP " +
          "(ORDER BY margin)", 6)} AS f$i"
      }.mkString(",\n                   ")
      val binSql = (1 to 9).map(i =>
        s"(CASE WHEN hc.margin > f.f$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      Some(s"""WITH hc AS (${hashClassifier.oracle.get}),
             f AS (SELECT $fSql FROM hc),
             dec AS (
               SELECT CAST(10 - ($binSql) AS BIGINT) AS decile,
                      CASE WHEN hc.is_en THEN 1 ELSE 0 END AS pos
               FROM hc CROSS JOIN f),
             g AS (
               SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(pos) AS BIGINT) AS n_pos
               FROM dec GROUP BY decile),
             t AS (
               SELECT CAST(SUM(n) AS BIGINT) AS tn,
                      CAST(SUM(n_pos) AS BIGINT) AS tp
               FROM g),
             w AS (
               SELECT g.*, t.tn, t.tp,
                      CAST(SUM(g.n_pos) OVER (ORDER BY g.decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                        ROW) AS BIGINT) AS cum_pos
               FROM g CROSS JOIN t)
             SELECT decile, n, n_pos,
                    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                      AS resp_rate,
                    (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) /
                      (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) AS lift,
                    CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE)
                      AS cum_capture
             FROM w ORDER BY decile""")
    },
    (s, d) => {
      val hc = hcScores(s, d)
        .select(col("margin"),
          when(col("is_en"), 1L).otherwise(0L).as("pos"))
        .localCheckpoint(true) // fences action + the decile aggregate
      val fences = hc.agg(percentile(col("margin"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)))
        .head().getSeq[Double](0)
        .map(Num.qround(_, 6))
      val bin = fences.foldLeft(lit(0)) { (acc, f) =>
        acc + when(col("margin") > f, 1).otherwise(0)
      }
      val g = hc.groupBy((lit(10) - bin).cast("long").as("decile"))
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
        .localCheckpoint(true) // bounded alphabet: driver cum + emit
      // bounded collect: <= 10 decile rows
      val rows = g.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val (tn, tp) = (rows.map(_._2).sum, rows.map(_._3).sum)
      val cumPos = rows.scanLeft(0L)(_ + _._3).tail
      val cumMap = rows.map(_._1).zip(cumPos).toMap
      g.select(col("decile"), col("n"), col("n_pos"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("resp_rate"),
          ((col("n_pos").cast("double") / col("n").cast("double")) /
            (lit(tp).cast("double") / lit(tn).cast("double")))
            .as("lift"),
          (element_at(typedLit(cumMap), col("decile")).cast("double") /
            lit(tp).cast("double")).as("cum_capture"))
        .orderBy("decile")
    })

  /** Interpolated Kneser–Ney bigram cross-entropy (X216 — Kneser &
    * Ney 1995 / Chen & Goodman 1998: the smoother that replaced X51's
    * add-1 in every serious n-gram LM. Absolute discount D = 0.75 on
    * the bigram count, with the discounted mass backed off to the
    * CONTINUATION unigram — "how many distinct left contexts does
    * this word follow" — the device that stops "san francisco"-style
    * collocations from inflating the backoff weight of "francisco").
    * Same bounded class alphabet as X51 (top-24 tokens + OOV, so the
    * count tables stay ≤ 625 rows — broadcast-sized by construction):
    * P(cb|ca) = (c−D)/t(ca) + ((D·N1+(ca·))/t(ca)) · (N1+(·cb)/T).
    * Every scored pair exists in the fit (fit corpus = scored corpus)
    * so c ≥ 1 and the discount never clips. All probability lanes are
    * identical-tree rational arithmetic; the log2 lanes aggregate per
    * doc → qround(6) (the X51 discipline). Per-doc output aligns with
    * q_lm_bigram so the two smoothers are directly comparable. */
  val lmKneserNey = QueryDef(
    "q_lm_kneser_ney", {
      val p = """((pc.c - 0.75) / lt.t +
                 ((0.75 * nr.n1r) / lt.t) * (nl.n1l / (SELECT tt FROM tot)))"""
      Some(s"""$tokCountsSql,
             top AS (
               SELECT tok, rn - 1 AS cid FROM (
                 SELECT tok, c,
                        row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
                 FROM cnt) t0 WHERE rn <= 24),
             cls AS (
               SELECT t.doc_id, t.p, COALESCE(tp.cid, 24) AS cid
               FROM tok t LEFT JOIN top tp USING (tok)),
             $classPairsSql,
             lt AS (
               SELECT ca, CAST(SUM(c) AS DOUBLE) AS t
               FROM pc GROUP BY ca),
             nr AS (
               SELECT ca, CAST(COUNT(*) AS DOUBLE) AS n1r
               FROM pc GROUP BY ca),
             nl AS (
               SELECT cb, CAST(COUNT(*) AS DOUBLE) AS n1l
               FROM pc GROUP BY cb),
             tot AS (
               SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM pc),
             sc AS (
               SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS np,
                      SUM(log2($p)) AS sm
               FROM pr
                    JOIN pc USING (ca, cb)
                    JOIN lt USING (ca)
                    JOIN nr USING (ca)
                    JOIN nl USING (cb)
               GROUP BY pr.doc_id)
             SELECT t.doc_id,
                    CAST(COALESCE(sc.np, 0) AS BIGINT) AS n_pairs,
                    ${Num.qroundSql("-sc.sm / sc.np", 6)} AS xent_kn
             FROM tk0 t LEFT JOIN sc ON t.doc_id = sc.doc_id
             ORDER BY t.doc_id""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .localCheckpoint(true) // feeds the fit and the per-doc shell
      // bounded top-24 vocab -> class-id map literal (X51 alphabet)
      val topRows = docs.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(24).collect()
      val cidMap = topRows.zipWithIndex
        .map { case (r, i) => r.getString(0) -> i }.toMap
      val cids = transform(col("toks"),
        t => coalesce(element_at(typedLit(cidMap), t), lit(24)))
      val pairs = docs.select(col("doc_id"), cids.as("cs"))
        .select(col("doc_id"), explode(when(size(col("cs")) >= 2,
          transform(sequence(lit(1), size(col("cs")) - 1),
            i => struct(element_at(col("cs"), i).as("ca"),
              element_at(col("cs"), i + 1).as("cb"))))
          .otherwise(array().cast("array<struct<ca:int,cb:int>>")))
          .as("pr"))
        .select(col("doc_id"), col("pr.ca").as("ca"), col("pr.cb").as("cb"))
        .localCheckpoint(true) // fit tables AND scoring read this
      val pc = pairs.groupBy("ca", "cb").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // ≤ 625 rows; feeds lt/nr/nl/tot
      val lt = pc.groupBy("ca").agg(sum("c").cast("double").as("t"))
      val nr = pc.groupBy("ca").agg(count(lit(1)).cast("double").as("n1r"))
      val nl = pc.groupBy("cb").agg(count(lit(1)).cast("double").as("n1l"))
      val tt = pc.count().toDouble
      val p = (col("c") - 0.75) / col("t") +
        ((lit(0.75) * col("n1r")) / col("t")) * (col("n1l") / lit(tt))
      val sc = pairs
        .join(broadcast(pc), Seq("ca", "cb"))
        .join(broadcast(lt), Seq("ca"))
        .join(broadcast(nr), Seq("ca"))
        .join(broadcast(nl), Seq("cb"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("np"), sum(log2(p)).as("sm"))
      docs.select(col("doc_id"),
          greatest(size(col("toks")) - 1, lit(0)).cast("long")
            .as("n_pairs"))
        .join(sc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pairs"),
          Num.qround(-col("sm") / col("np"), 6).as("xent_kn"))
        .orderBy("doc_id")
    })

  /** Platt scaling (X232 — Platt 1999: fit p = σ(a·s + b) on a raw
    * classifier score, the PARAMETRIC member completing the
    * calibration family: X87 draws the reliability curve, X185
    * scores it, X193's isotonic fits the monotone nonparametric map —
    * Platt is what production rankers ship when the score backbone is
    * roughly sigmoidal and data per bin is thin). Score = stopword
    * ratio (the cheapest English-ness signal, X8's lane), label =
    * lang = 'en'; empty-token docs drop on both engines. 5 pinned
    * GD rounds on log-loss, the X189/X224 discipline exactly: one
    * aggregated pass per round (both gradient lanes + the
    * entering-weights loss), weights qround(6) re-entering as
    * literals, the per-row sigmoid exp as the one transcendental
    * lane, probabilities clamped to [1e-6, 1−1e-6] (the X139 floor
    * device) before both the gradient and the loss. Output = the
    * rounds-0..5 curve (a, b, loss) — the X197 shape. */
  val plattScaling = QueryDef(
    "q_platt_scaling", {
      val stop = Text.DefaultStopwords.map(w => s"'$w'").mkString(", ")
      def p(w: String) =
        s"""LEAST(GREATEST(1.0 / (1.0 + exp(-($w.a * b.s + $w.b))),
            0.000001), 0.999999)"""
      def lossC(w: String) =
        s"""-(b.y * ln(${p(w)}) + (1.0 - b.y) * ln(1.0 - ${p(w)}))"""
      val rounds = (1 to 5).map { i =>
        val w = s"w_${i - 1}"
        s"""g_$i AS (
             SELECT ${Num.qroundSql(
               s"SUM((${p(w)} - b.y) * b.s) / nn.n", 6)} AS ga,
                    ${Num.qroundSql(
               s"SUM(${p(w)} - b.y) / nn.n", 6)} AS gb,
                    ${Num.qroundSql(s"SUM(${lossC(w)}) / nn.n", 6)}
                      AS loss
             FROM base b CROSS JOIN $w CROSS JOIN nn
             GROUP BY nn.n),
           w_$i AS (
             SELECT ${Num.qroundSql("w.a - 4.0 * g.ga", 6)} AS a,
                    ${Num.qroundSql("w.b - 4.0 * g.gb", 6)} AS b
             FROM $w w CROSS JOIN g_$i g)"""
      }.mkString(",\n")
      Some(s"""WITH t0 AS (
               SELECT lang, $sqlToks AS toks FROM documents),
             base AS (
               SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                      CAST(len(list_filter(toks, t -> lower(t)
                        IN ($stop))) AS DOUBLE) /
                        CAST(len(toks) AS DOUBLE) AS s
               FROM t0 WHERE len(toks) > 0),
             nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
             w_0 AS (SELECT 0.0 AS a, 0.0 AS b),
             $rounds,
             l_6 AS (
               SELECT ${Num.qroundSql(
                 s"SUM(${lossC("w_5")}) / nn.n", 6)} AS loss
               FROM base b CROSS JOIN w_5 CROSS JOIN nn
               GROUP BY nn.n)
             SELECT * FROM (
               ${(1 to 5).map(i =>
                 s"""SELECT ${i - 1} AS gd_round, w.a, w.b, g.loss
                     FROM w_${i - 1} w CROSS JOIN g_$i g""")
                 .mkString(" UNION ALL ")}
               UNION ALL
               SELECT 5, w.a, w.b, l.loss
               FROM w_5 w CROSS JOIN l_6 l) uq
             ORDER BY gd_round""")
    },
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val sw = filter(toks, t =>
        lower(t).isin(Text.DefaultStopwords: _*))
      val base = Tables.documents(s, d)
        .filter(size(toks) > 0)
        .select(when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          (size(sw).cast("double") / size(toks).cast("double"))
            .as("s"))
        .localCheckpoint(true) // 6 aggregated passes over one frame
      var (a, b) = (0.0, 0.0)
      def pCol = least(greatest(
        lit(1.0) / (lit(1.0) + exp(-(lit(a) * col("s") + lit(b)))),
        lit(0.000001)), lit(0.999999))
      def lossCol = -(col("y") * log(pCol) +
        (lit(1.0) - col("y")) * log(lit(1.0) - pCol))
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Double, Double, Double)]
      for (r <- 0 until 5) {
        val row = base.agg(count(lit(1)), sum((pCol - col("y")) * col("s")),
          sum(pCol - col("y")), sum(lossCol)).head()
        val n = row.getLong(0).toDouble
        out += ((r, a, b, Num.qround(row.getDouble(3) / n, 6)))
        val ga = Num.qround(row.getDouble(1) / n, 6)
        val gb = Num.qround(row.getDouble(2) / n, 6)
        a = Num.qround(a - 4.0 * ga, 6)
        b = Num.qround(b - 4.0 * gb, 6)
      }
      val fin = base.agg(count(lit(1)), sum(lossCol)).head()
      out += ((5, a, b, Num.qround(fin.getDouble(1) / fin.getLong(0), 6)))
      import s.implicits._
      out.toSeq.toDF("gd_round", "a", "b", "loss").orderBy("gd_round")
    })

  /** Tokenizer fertility by language (X246 — the bytes-per-token /
    * tokens-per-word numbers every multilingual tokenizer review
    * leads with (Rust et al. 2021): a vocabulary that spends 3
    * subwords per word in one language and 1.2 in another taxes the
    * first language's effective context length — the fairness number
    * behind "byte-premium" debates). Units from the established
    * lanes: bytes = octet_length (DuckDB strlen), chars = length,
    * subwords = the X8 BPE-ish splitter, words = whitespace tokens —
    * all EXACT integer sums per bounded lang group; fertility ratios
    * are exact-integer-fed divides (hash raw). */
  val tokenizerFertility = QueryDef(
    "q_tokenizer_fertility",
    Some(s"""SELECT lang,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
                  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
                  CAST(SUM(len(regexp_extract_all(text,
                    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
                    AS n_subwords,
                  CAST(SUM(len($sqlToks)) AS BIGINT) AS n_words,
                  CAST(SUM(strlen(text)) AS DOUBLE) /
                    CAST(SUM(len(regexp_extract_all(text,
                      '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE)
                    AS bytes_per_subword,
                  CAST(SUM(len(regexp_extract_all(text,
                    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE) /
                    CAST(SUM(len($sqlToks)) AS DOUBLE) AS fertility
           FROM documents GROUP BY lang ORDER BY lang"""),
    (s, d) => Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text"))).as("n_bytes"),
        sum(length(col("text"))).as("n_chars"),
        sum(Text.bpeishTokenCount(col("text"))).as("n_subwords"),
        sum(size(Text.tokens(col("text"))).cast("long")).as("n_words"))
      .select(col("lang"), col("n_docs"), col("n_bytes"),
        col("n_chars"), col("n_subwords"), col("n_words"),
        (col("n_bytes").cast("double") / col("n_subwords").cast("double"))
          .as("bytes_per_subword"),
        (col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
      .orderBy("lang"))

  /** Good–Turing unseen mass + Chao1 richness (X255 — Good 1953 /
    * Chao 1984: "how much of this source's vocabulary have we NOT
    * seen yet" — P(next token is novel) ≈ N₁/N (hapax share), and
    * the bias-corrected Chao1 floor on true vocabulary size
    * V + N₁(N₁−1)/(2(N₂+1)) — the coverage numbers behind corpus-
    * size planning and X112's Heaps-law curve, from frequency-of-
    * frequencies instead of growth fitting). Shape: token counts →
    * frequency-of-frequencies, two keyed aggregates; ALL lanes exact
    * integers, the two estimates exact-integer-fed divides (hash
    * raw); the bias-corrected Chao1 form is always finite (no N₂=0
    * guard needed — the q_ab_test discipline by construction). */
  val goodTuring = QueryDef(
    "q_good_turing",
    Some(s"""WITH tok AS (
             SELECT source, unnest($sqlToks) AS tok FROM documents),
           tc AS (
             SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok GROUP BY source, tok),
           st AS (
             SELECT source,
                    CAST(SUM(c) AS BIGINT) AS n_tokens,
                    CAST(COUNT(*) AS BIGINT) AS v_seen,
                    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n1,
                    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n2
             FROM tc GROUP BY source)
           SELECT source, n_tokens, v_seen, n1, n2,
                  CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                    AS p_unseen,
                  CAST(v_seen AS DOUBLE) +
                    CAST(n1 * (n1 - 1) AS DOUBLE) /
                    CAST(2 * (n2 + 1) AS DOUBLE) AS chao1
           FROM st ORDER BY source"""),
    (s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("source"),
          explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      tc.groupBy("source")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("v_seen"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("n_tokens"), col("v_seen"),
          col("n1"), col("n2"),
          (col("n1").cast("double") / col("n_tokens").cast("double"))
            .as("p_unseen"),
          (col("v_seen").cast("double") +
            (col("n1") * (col("n1") - 1)).cast("double") /
            (lit(2) * (col("n2") + 1)).cast("double")).as("chao1"))
        .orderBy("source")
    })

  /** k-fold cross-validated classifier evaluation (X310 — the
    * model-selection measurement a quality-filter rollout actually
    * rests on, vs X75's single-split eval: 5 md5-keyed folds, each
    * held out once against a Naive-Bayes fit on the other four — the
    * canonical Stone 1974 / Geisser 1975 rotation estimate of
    * generalization accuracy. Reuses the X-classifier device whole
    * (hashed unigram+bigram buckets, add-1 smoothing over occupied
    * buckets, prior over featured train docs, fused inline scoring);
    * fold membership is content-hash-derived so both engines hold
    * out IDENTICAL documents. At 100 TB the cost shape is the
    * X-classifier's ×k: each fit is one keyed aggregate over hashed
    * counts (the corpus is tokenized ONCE into the shared feature
    * table), each eval a per-row scan. Emits per-fold accuracy plus
    * the micro-average row (fold = -1); pred gates on the qround(4)
    * margin grid (the X-classifier boundary discipline), counts and
    * the accuracy divide are exact. The HONEST finding this corpus
    * yields: held-out accuracy ≈ 0.50 while the same fit scores
    * ~0.86 in-sample — the synthetic lang label is content-
    * independent (stopword rates are equal across labels), so the
    * model can only memorize, and CV is the measurement that says so
    * where X75's half-in-sample split reads ~fine. Round16Spec pins
    * the gap. */
  val kfoldCv = QueryDef(
    "q_kfold_cv", {
      val folds = 5
      val foldSql = """CAST('0x' || substring(md5('cv:'
        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5"""
      def foldCtes(f: Int) =
        s""",
            cc$f AS (
              SELECT ft.bucket,
                     CAST(SUM(CASE WHEN b.y = 1.0 THEN ft.x ELSE 0 END)
                          AS BIGINT) AS cp,
                     CAST(SUM(CASE WHEN b.y = 0.0 THEN ft.x ELSE 0 END)
                          AS BIGINT) AS cn
              FROM ft JOIN base b USING (doc_id)
              WHERE b.fold <> $f GROUP BY ft.bucket),
            tot$f AS (
              SELECT CAST(SUM(cp) AS BIGINT) AS np,
                     CAST(SUM(cn) AS BIGINT) AS nn,
                     CAST(COUNT(*) AS BIGINT) AS nb
              FROM cc$f),
            w$f AS (
              SELECT cc$f.bucket,
                     ln((cc$f.cp + 1.0) / (tot$f.np + tot$f.nb)) -
                     ln((cc$f.cn + 1.0) / (tot$f.nn + tot$f.nb)) AS w
              FROM cc$f, tot$f),
            pri$f AS (
              SELECT ln(CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                             AS DOUBLE) /
                        CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END)
                             AS DOUBLE)) AS bias
              FROM base
              WHERE fold <> $f
                AND doc_id IN (SELECT DISTINCT doc_id FROM ft)),
            fin$f AS (
              SELECT b.doc_id, b.y,
                     COALESCE(SUM(COALESCE(w$f.w, 0.0) * ft.x), 0.0) AS s
              FROM base b
              LEFT JOIN ft ON ft.doc_id = b.doc_id
              LEFT JOIN w$f ON w$f.bucket = ft.bucket
              WHERE b.fold = $f
              GROUP BY b.doc_id, b.y),
            res$f AS (
              SELECT CAST($f AS BIGINT) AS fold,
                     CAST(COUNT(*) AS BIGINT) AS n_test,
                     CAST(SUM(CASE WHEN
                       (${Num.qroundSql(s"fin$f.s + p.bias", 4)} > 0)
                         = (fin$f.y = 1.0)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
              FROM fin$f CROSS JOIN pri$f p)"""
      val body = (0 until folds).map(foldCtes).mkString
      Some(s"""WITH base AS MATERIALIZED (
                SELECT doc_id,
                       CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                       $foldSql AS fold
                FROM documents),
              ${hashedFeaturesSql("documents")},
              ft AS MATERIALIZED (
                SELECT doc_id,
                       CAST('0x' || substring(md5('qc:' || f), 1, 8)
                            AS BIGINT) % 1024 AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS x
                FROM fl GROUP BY 1, 2)
              $body,
              allf AS (
                ${(0 until folds).map(f => s"SELECT * FROM res$f")
                  .mkString("\n UNION ALL\n")}),
              micro AS (
                SELECT CAST(-1 AS BIGINT) AS fold,
                       CAST(SUM(n_test) AS BIGINT) AS n_test,
                       CAST(SUM(n_correct) AS BIGINT) AS n_correct
                FROM allf)
              SELECT fold, n_test, n_correct,
                     CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE)
                       AS acc
              FROM (SELECT * FROM allf UNION ALL SELECT * FROM micro) u
              ORDER BY fold""")
    },
    (s, d) => {
      val folds = 5
      val docs = Tables.documents(s, d)
      val foldCol = conv(substring(md5(concat(lit("cv:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % folds
      val base = docs.select(col("doc_id"), col("text"), col("lang"),
        foldCol.as("fold"))
      // r19 (guide §1.2): ONE tokenize+hash pass over the corpus feeds
      // every fold's train counts (the old loop re-ran featureCounts —
      // the dominant cost, ~156 task-seconds at sf0.1 — once per fold);
      // per-fold models are bit-identical (additive long counts, see
      // trainNaiveBayesFolds). Eval is likewise ONE scan: each test doc
      // is scored under ITS fold's model via a fold-dispatched CASE.
      val labels = base.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        col("fold"))
      val feats = graft.ops.Scoring
        .featureCounts(base, "doc_id", col("text"), 1024)
        .localCheckpoint(true) // reused: class counts + prior population
      val models = graft.ops.Scoring
        .trainNaiveBayesFolds(feats, labels, "doc_id", folds)
      val stCase = (0 until folds).map { f =>
        (col("fold") === f,
          graft.ops.Scoring.inlineStats(col("text"), 1024, models(f).w))
      }.foldRight(lit(null).cast("array<double>"): org.apache.spark.sql.Column) {
        case ((p, st), acc) => when(p, st).otherwise(acc)
      }
      val biasCase = (0 until folds).map { f =>
        (col("fold") === f, lit(models(f).bias))
      }.foldRight(lit(null).cast("double"): org.apache.spark.sql.Column) {
        case ((p, b), acc) => when(p, b).otherwise(acc)
      }
      val rawMargin = element_at(col("__st"), 1) + col("__bias")
      val allf = base
        .select(col("fold"), col("lang"), stCase.as("__st"),
          biasCase.as("__bias"))
        .select(col("fold"), ((Num.qround(rawMargin, 4) > 0) ===
          (col("lang") === "en")).as("correct"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
        .localCheckpoint(true)
      val micro = allf.agg(sum("n_test").as("n_test"),
          sum("n_correct").as("n_correct"))
        .select(lit(-1L).as("fold"), col("n_test"), col("n_correct"))
      allf.unionByName(micro)
        .select(col("fold"), col("n_test"), col("n_correct"),
          (col("n_correct").cast("double") / col("n_test").cast("double"))
            .as("acc"))
        .orderBy("fold")
    })

  /** Force every memoized tokenizer-family fit (VERDICT r17 #4 —
    * Bench calls this once, timed, before the per-query loop, so the
    * BPE/WordPiece/unigram rows measure ENCODING and the family's
    * training cost is one disclosed figure, the warmAnnFits twin):
    * BPE merges, WordPiece merges, the quantized unigram seed vocab,
    * and the seed-model EM counts. All deterministic driver-sized
    * values (exact-integer counts, pinned argmax tie-breaks). */
  private[graft] def warmTokFits(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    bpeTrain(s, d)
    wordpieceTrain(s, d)
    val (words, nllq) = unigramSeed(s, d)
    ugEmCounts(s, d, words, nllq)
    ()
  }

  /** Seed-model E-step counts (token → freq-weighted emission count)
    * — deterministic exact-integer Viterbi over the memoized seed
    * vocab, memoized per sf dir. */
  private def ugEmCounts(s: org.apache.spark.sql.SparkSession,
      d: String, words: org.apache.spark.sql.DataFrame,
      nllq: Seq[(String, Long, Long)]): Map[String, Long] =
    graft.ops.FitCache.memo(s"ugem|$d") {
      val seedVocab = nllq.map { case (t, _, q) => (t, q) }
      words.select(col("freq"),
          explode(graft.functions.UnigramFunctions.unigramViterbi(
            col("word"), seedVocab)).as("tok"))
        .groupBy("tok").agg(sum("freq").cast("long").as("emc"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  val all: Seq[QueryDef] = Seq(textStats, textQuality, langId, fingerprint,
    sampleHash, contamination, sampleStratified, packBins, qualityFilter,
    textRepetition, piiScrub, vocabCoverage, docChunks, dupLines,
    bpeMerges, bpeEncode, bpeBytes, lmScore, lmBigram, hashClassifier,
    classifierEval, classifierCalibration, langidEval, scriptId,
    lineClean,
    boilerplateLines, unicodeNfc, dedupSpans, stripHtml, paragraphDedup,
    ccnetBuckets, streamCurate, charEntropy, pmiBigrams, tfidfKeywords,
    readability, zipfFit, cdcChunks, brierEce, logreg, isotonic,
    learningCurve, gainsChart, lmKneserNey, plattScaling,
    tokenizerFertility, goodTuring, unigramLm, unigramScore, f1Threshold,
    scalingProbe, kfoldCv, wordpiece, wordpieceEncode, unigramTokenizer,
    tokenizerCompare, unigramEncode)
}
