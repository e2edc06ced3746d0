package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Num
import graft.ops.{Dedup, Similarity}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Dedup + similarity-search operators (SURVEY §7 extensions) as
  * driver-checkable queries. Exact variants carry DuckDB oracles
  * (list_reduce dot products are bit-identical to Spark's
  * aggregate/zip_with — verified empirically); LSH variants are
  * approximate by construction, so they get rows-only checks, with
  * their recall asserted against the exact variants in ScalaTest.
  */
object SimilarityQueries {

  // DuckDB cosine between two FLOAT[] columns, double math, l-t-r sum
  // (mirrors Similarity.dot/cosine exactly).
  private def sqlDot(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
        (x, y) -> x + y)"""
  private def sqlCosine(a: String, b: String) =
    s"""(${sqlDot(a, b)} /
         NULLIF(SQRT(${sqlDot(a, a)}) * SQRT(${sqlDot(b, b)}), 0.0))"""

  /** DuckDB CTEs mirroring Text/ShingleHashes word-k-shingling: tokens
    * from the \s+ split, whole-doc fallback for <k-token docs, distinct
    * shingle sets. Shared by both Jaccard oracles so the construction
    * can't drift between them. */
  private[queries] def sqlShingleCte(k: Int, extraCols: String = "") = {
    val gram = (1 to k).map(j =>
      if (j == 1) "toks[i]" else s"toks[i + ${j - 1}]").mkString(" || ' ' || ")
    s"""WITH t AS (
          SELECT doc_id,$extraCols
                 list_filter(string_split_regex(text, '\\s+'),
                   t -> len(t) > 0) AS toks
          FROM documents),
        sh AS MATERIALIZED (
          -- several consumers self-join sh (all-pairs verify lanes);
          -- non-materialized, each side re-tokenizes the corpus
          SELECT doc_id,$extraCols
                 CASE WHEN len(toks) = 0 THEN []
                      WHEN len(toks) < $k THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(
                        range(1, len(toks) - ${k - 2}), i -> $gram)) END
                   AS shingles
          FROM t)"""
  }

  /** Distinct-set Jaccard over two shingle lists in DuckDB. */
  private[queries] def sqlJaccard(a: String, b: String) =
    s"""(CAST(len(list_distinct(list_intersect($a, $b))) AS DOUBLE) /
         CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE))"""

  /** Exact Jaccard ≥ τ pair set over `sh(doc_id, shingles)` as a
    * SPARSE shared-shingle join — value-identical to the all-pairs
    * [[sqlJaccard]] scan (r18 selfcheck-wall fix): a zero-overlap
    * pair has J = 0 < τ and can never qualify, and for overlapping
    * pairs |A∩B| = c and |A∪B| = |A| + |B| − c over the
    * already-list_distinct shingle lists — the SAME integers the
    * list form divides, so the τ comparison is bit-identical. Emits
    * `exactp(id_a, id_b)`; helper CTEs are jd/jsz/jix.
    *
    * Preconditions (ADVICE r18 — the equivalence to the all-pairs
    * [[sqlJaccard]] scan rests on BOTH, asserted here and pinned by
    * Round19Spec's empty-doc case):
    *  1. `sh.shingles` lists are DISTINCT (sqlShingleCte emits
    *     list_distinct), so len(shingles) = |set| and the shared-key
    *     COUNT is the exact intersection size;
    *  2. `threshold` > 0, so zero-overlap pairs (dropped by the sparse
    *     join) could never qualify anyway. This includes the
    *     two-empty-docs pair: the all-pairs form evaluates 0/0 = NaN,
    *     which DuckDB orders above any τ (NaN >= τ is TRUE there),
    *     while this form excludes the pair — by POLICY two contentless
    *     docs are not near-duplicate evidence. The Spark side
    *     (verifyJaccard) agrees: its length prefilter admits the
    *     (0, 0) pair but [[graft.functions.JaccardSim]] maps the
    *     empty-union 0/0 to NULL, and `NULL >= τ` filters false — so
    *     no engine emits the pair. Round19Spec pins exactly this so a
    *     future sqlShingleCte change can't silently break the
    *     equivalence. */
  private[queries] def sqlExactJaccardPairs(threshold: Double): String = {
    require(threshold > 0,
      "sqlExactJaccardPairs: threshold must be > 0 (zero-overlap " +
        "pairs are structurally excluded by the sparse join)")
    s"""jd AS MATERIALIZED (
             SELECT doc_id, unnest(shingles) AS k FROM sh),
           jsz AS MATERIALIZED (
             SELECT doc_id, len(shingles) AS n FROM sh),
           jix AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(COUNT(*) AS BIGINT) AS c
             FROM jd a JOIN jd b ON a.k = b.k AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
           exactp AS MATERIALIZED (
             SELECT jix.id_a, jix.id_b FROM jix
             JOIN jsz na ON na.doc_id = jix.id_a
             JOIN jsz nb ON nb.doc_id = jix.id_b
             WHERE CAST(jix.c AS DOUBLE)
                     / CAST(na.n + nb.n - jix.c AS DOUBLE)
                   >= $threshold)"""
  }

  /** Staged-CTE splitmix64 finalizer over a `mix_dom($keys, z)` CTE:
    * xor-shift 30, ·C1, xor-shift 27, ·C2, xor-shift 31, all mod 2^64
    * in HUGEINT — each multiply split into 32-bit halves so nothing
    * exceeds 2^97 (HUGEINT overflows at 2^127). `mix_s5` carries
    * ($keys, h) with h == graft.functions.Mix64.mix(z) as an unsigned
    * 64-bit value. Shared by every hyperplane-LSH oracle so the mix
    * arithmetic can't drift between them. */
  private def sqlMix64(keys: String, px: String = "mix_",
      src: String = "mix_dom", mat: Boolean = false) = s"""
${px}s1 AS (SELECT $keys, xor(z, z >> 30) AS y FROM $src),
${px}s2 AS (SELECT $keys,
  ((y & 4294967295) * 484763065 +
   (((y & 4294967295) * 3210233709 +
     (y >> 32) * 484763065) & 4294967295)
    * 4294967296) & 18446744073709551615 AS z FROM ${px}s1),
${px}s3 AS (SELECT $keys, xor(z, z >> 27) AS y FROM ${px}s2),
${px}s4 AS (SELECT $keys,
  ((y & 4294967295) * 321982955 +
   (((y & 4294967295) * 2496678331 +
     (y >> 32) * 321982955) & 4294967295)
    * 4294967296) & 18446744073709551615 AS z FROM ${px}s3),
${px}s5 AS ${if (mat) "MATERIALIZED " else ""}(
  SELECT $keys, xor(z, z >> 31) AS h FROM ${px}s4)"""

  /** Unsigned-h → Scala's `h.toDouble / Long.MaxValue.toDouble`
    * (two's-complement reinterpretation, then the same IEEE divide). */
  private val sqlSignedUnit =
    """CAST(CASE WHEN h >= 9223372036854775808
                 THEN h - 18446744073709551616
                 ELSE h END AS DOUBLE) / 9.223372036854775807e18"""

  /** Sign-bit bucket packing: Σ_p (dot(vec, plane_p) >= 0) << p over a
    * `planes` CTE carrying ($extraKey, p, pl). */
  private def sqlBucket(vec: String) = s"""
CAST(SUM(CASE WHEN list_reduce(
         list_transform(range(1, 65),
           k -> CAST($vec[k] AS DOUBLE) * pl[k]),
         (x, y) -> x + y) >= 0
       THEN CAST(1 AS BIGINT) << p
       ELSE 0 END) AS BIGINT)"""

  /** mix64 as ONE correlated scalar subquery — for the recursive token
    * fold, where staged CTEs aren't available. (Chained lateral
    * aliases are macro-expanded multiplicatively by the binder —
    * nesting three mixes that way explodes to ~72³ term copies — so
    * the fold applies one mix per recursion step and the shingle
    * combine below goes back to staged CTEs.) */
  private def sqlMixScalar(z0: String) = s"""
    (SELECT xor(z4, z4 >> 31) FROM (
      SELECT ((y3 & 4294967295) * 321982955 +
              (((y3 & 4294967295) * 2496678331 +
                (y3 >> 32) * 321982955) & 4294967295)
               * 4294967296) & 18446744073709551615 AS z4
      FROM (SELECT xor(z2, z2 >> 27) AS y3 FROM (
        SELECT ((y1 & 4294967295) * 484763065 +
                (((y1 & 4294967295) * 3210233709 +
                  (y1 >> 32) * 484763065) & 4294967295)
                 * 4294967296) & 18446744073709551615 AS z2
        FROM (SELECT xor(z0, z0 >> 30) AS y1 FROM (
          SELECT $z0 AS z0) a) b) c) d) e)"""

  /** CTEs replaying ShingleFunctions' token hashing byte-for-byte over
    * `documents`: whitespace tokens, then per token h = golden;
    * h = mix64(h ^ byte) over the bytes (a WITH RECURSIVE fold).
    * Emits tokh(doc_id, pos, h). ASCII precondition: ord(char) == byte
    * — holds for the harness corpus (verified: octet_length == length
    * for every document); the Spark kernel folds raw UTF-8 bytes. */
  private val sqlTokenHashCtes = s"""
tlist AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                  t -> len(t) > 0) AS toks FROM documents),
toks AS MATERIALIZED (
  SELECT doc_id, pos, toks[pos] AS tok
  FROM tlist, UNNEST(range(1, len(toks) + 1)) u(pos)),
-- fold DISTINCT token strings only (r18 selfcheck-wall fix): the
-- byte-at-a-time recursion is the statement's hot loop, and token
-- INSTANCES outnumber the token vocabulary by orders of magnitude;
-- hashing the vocabulary once and joining back is value-identical.
-- tokh MATERIALIZED: it feeds both nt and tri — non-materialized,
-- DuckDB re-evaluates the whole fold per reference.
dtok AS MATERIALIZED (SELECT DISTINCT tok FROM toks),
tokfold(tok, i, h) AS (
  SELECT tok, 0, CAST(11400714819323198485 AS HUGEINT)
  FROM dtok
  UNION ALL
  SELECT tok, i + 1,
    ${sqlMixScalar(
      "xor(h, CAST(ord(substring(tok, i + 1, 1)) AS HUGEINT))")}
  FROM tokfold WHERE i < len(tok)),
dtokh AS MATERIALIZED (
  SELECT tok, h FROM tokfold WHERE i = len(tok)),
tokh AS MATERIALIZED (
  SELECT t.doc_id, t.pos, d.h FROM toks t JOIN dtokh d ON d.tok = t.tok)"""

  /** Word-3-shingle hashes from tokh — the positional-mix combine
    * (c = mix64(c + tokHash) over each 3-token window, golden2 init;
    * whole-doc fallback below 3 tokens), distinct per doc. Emits
    * kset(doc_id, ks) + dkeys(doc_id, x). */
  private val sqlShingleHashCtes = s"""
nt AS (SELECT doc_id, COUNT(*) AS m FROM tokh GROUP BY doc_id),
tri AS (
  SELECT t.doc_id, t.pos, nt.m, t.h AS t1,
         LEAD(t.h, 1) OVER w AS t2, LEAD(t.h, 2) OVER w AS t3
  FROM tokh t JOIN nt ON nt.doc_id = t.doc_id
  WINDOW w AS (PARTITION BY t.doc_id ORDER BY t.pos)),
c1_dom AS (SELECT doc_id, pos, m, t2, t3,
           (CAST(5886160652339039625 AS HUGEINT) + t1)
             & 18446744073709551615 AS z
           FROM tri WHERE (m >= 3 AND t3 IS NOT NULL) OR pos = 1),
${sqlMix64("doc_id, pos, m, t2, t3", "c1_", "c1_dom", mat = true)},
sh1 AS (SELECT doc_id, h AS sh FROM c1_s5 WHERE m = 1),
c2_dom AS (SELECT doc_id, pos, m, t3,
           (h + t2) & 18446744073709551615 AS z
           FROM c1_s5 WHERE m >= 2 AND t2 IS NOT NULL),
${sqlMix64("doc_id, pos, m, t3", "c2_", "c2_dom", mat = true)},
sh2 AS (SELECT doc_id, h AS sh FROM c2_s5 WHERE m = 2),
c3_dom AS (SELECT doc_id, pos, (h + t3) & 18446744073709551615 AS z
           FROM c2_s5 WHERE m >= 3 AND t3 IS NOT NULL),
${sqlMix64("doc_id, pos", "c3_", "c3_dom")},
-- c1_s5/c2_s5/allsh/kset/dkeys all feed ≥ 2 readers: MATERIALIZED,
-- or each reference re-runs the whole upstream mix chain (the r15
-- q_ann_ivfadc lesson — 2 refs per link compounds multiplicatively)
allsh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (
  SELECT doc_id, h AS sh FROM c3_s5
  UNION ALL SELECT * FROM sh1 UNION ALL SELECT * FROM sh2) u),
kset AS MATERIALIZED (
  SELECT doc_id, list(sh) AS ks FROM allsh GROUP BY doc_id),
dkeys AS MATERIALIZED (SELECT doc_id, sh AS x FROM allsh)"""

  /** Shared MinHash+banding pipeline tail: reads dkeys(doc_id,
    * x HUGEINT) and kset(doc_id, ks); replays java.util.Random(42)'s
    * 48-bit LCG for the 128 (a, b) params, the mix64 signatures, the
    * 32×4 banding fold, bucket cap, candidate join, and the exact
    * Jaccard ≥ τ verify over the same key sets. */
  private def sqlMinhashTail(threshold: Double) = s"""
-- java.util.Random(42): 48-bit LCG; each nextLong = two next(32)
-- draws; a_j = nextLong|1, b_j = nextLong
lcg(n, s) AS (
  SELECT 0, CAST(25214903879 AS HUGEINT)
  UNION ALL
  SELECT n + 1, (s * 25214903917 + 11) & 281474976710655
  FROM lcg WHERE n < 512),
n32 AS (SELECT n, s >> 16 AS v FROM lcg WHERE n >= 1),
longs AS (
  SELECT (a.n - 1) // 2 AS idx,
         ((a.v * 4294967296) + b.v +
          CASE WHEN b.v >= 2147483648
               THEN 18446744073709551616 - 4294967296
               ELSE 0 END) & 18446744073709551615 AS u
  FROM n32 a JOIN n32 b ON b.n = a.n + 1
  WHERE a.n % 2 = 1),
params AS (
  SELECT CAST(pa.idx // 2 AS INT) AS j,
         pa.u + (1 - pa.u % 2) AS a, pb.u AS b
  FROM longs pa JOIN longs pb ON pb.idx = pa.idx + 1
  WHERE pa.idx % 2 = 0),
-- h_j over DISTINCT key values only (r18 selfcheck-wall fix):
-- duplicate documents share their whole key sets, so the universal
-- hash + mix chain over (distinct x) × 128 is far smaller than over
-- (doc, x) × 128; the per-doc MIN then reads a hash-join lookup.
dx AS MATERIALIZED (SELECT DISTINCT x FROM dkeys),
sig_dom AS (
  SELECT dx.x, p.j,
         (((p.a & 4294967295) * (dx.x & 4294967295)
          + (((p.a & 4294967295) * (dx.x >> 32)
             + (p.a >> 32) * (dx.x & 4294967295))
             & 4294967295) * 4294967296)
          + p.b) & 18446744073709551615 AS z
  FROM dx, params p),
${sqlMix64("x, j", "sg_", "sig_dom", mat = true)},
sig AS (SELECT k.doc_id, s.j, MIN(s.h) AS s
        FROM dkeys k JOIN sg_s5 s ON s.x = k.x GROUP BY 1, 2),
bandp AS (
  SELECT doc_id, CAST(j // 4 AS INT) AS band,
         MAX(CASE WHEN j % 4 = 0 THEN s END) AS s0,
         MAX(CASE WHEN j % 4 = 1 THEN s END) AS s1,
         MAX(CASE WHEN j % 4 = 2 THEN s END) AS s2,
         MAX(CASE WHEN j % 4 = 3 THEN s END) AS s3
  FROM sig GROUP BY 1, 2),
f0_dom AS (SELECT doc_id, band, s0, s1, s2, s3,
           (CAST(band AS HUGEINT) + 11400714819323198485)
             & 18446744073709551615 AS z FROM bandp),
${sqlMix64("doc_id, band, s0, s1, s2, s3", "f0_", "f0_dom")},
f1_dom AS (SELECT doc_id, band, s1, s2, s3, xor(h, s0) AS z
           FROM f0_s5),
${sqlMix64("doc_id, band, s1, s2, s3", "f1_", "f1_dom")},
f2_dom AS (SELECT doc_id, band, s2, s3, xor(h, s1) AS z
           FROM f1_s5),
${sqlMix64("doc_id, band, s2, s3", "f2_", "f2_dom")},
f3_dom AS (SELECT doc_id, band, s3, xor(h, s2) AS z FROM f2_s5),
${sqlMix64("doc_id, band, s3", "f3_", "f3_dom")},
f4_dom AS (SELECT doc_id, band, xor(h, s3) AS z FROM f3_s5),
${sqlMix64("doc_id, band", "f4_", "f4_dom")},
capped AS MATERIALIZED (
  SELECT doc_id, band, h AS bucket FROM f4_s5
  QUALIFY COUNT(*) OVER (PARTITION BY band, h) <= 1000),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a
  JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
    AND a.doc_id < b.doc_id)
SELECT c.id_a, c.id_b,
       ${sqlJaccard("ka.ks", "kb.ks")} AS jaccard
FROM cand c
JOIN kset ka ON ka.doc_id = c.id_a
JOIN kset kb ON kb.doc_id = c.id_b
WHERE ${sqlJaccard("ka.ks", "kb.ks")} >= $threshold
ORDER BY id_a, id_b"""

  /** MinHash+LSH at a LOW threshold (τ=0.4) with PORTABLE md5 shingle
    * keys — the banding itself is oracle-checked, not argued away:
    * unlike q_dedup_minhash_ht (whose τ=0.9 banding has recall ≈ 1, so
    * its oracle is the exact scan), here the 32-band×4-row s-curve
    * passes only ~56% of τ-level pairs, and the oracle reproduces
    * EXACTLY that set. DuckDB replays java.util.Random(42)'s 48-bit
    * LCG (WITH RECURSIVE) to regenerate the 128 universal-hash params,
    * evaluates h_j(x) = mix64(a_j·x + b_j) with split 64×64
    * wrap-around multiplies, takes per-doc minima, folds the banding
    * (five chained mix64 applications), mirrors the bucket cap and
    * candidate join, and verifies exact Jaccard on the same key sets.
    * Hash-green = the complete MinHash/LSH pipeline (params, signature,
    * banding, buckets, verify) is cross-engine exact. */
  val dedupMinhashMd5 = QueryDef(
    "q_dedup_minhash_md5",
    Some(s"""WITH RECURSIVE t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\\s+'),
                   t -> len(t) > 0) AS toks
          FROM documents),
        shmm AS (
          SELECT doc_id,
                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(
                        range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' ||
                             toks[i + 2])) END AS shingles
          FROM t),
        kset AS MATERIALIZED (
          SELECT doc_id,
                 list_distinct(list_transform(shingles,
                   s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)))
                   AS ks
          FROM shmm),
        dkeys AS MATERIALIZED (
          SELECT doc_id, CAST(unnest(ks) AS HUGEINT) AS x FROM kset),
        ${sqlMinhashTail(0.4)}"""),
    (s, d) => Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.4,
        portableKeys = true)
      .orderBy("id_a", "id_b"))

  /** Exact dedup (hash-groupBy; ref-parity GROUP BY text in the
    * oracle — same groups absent 64-bit hash collisions). */
  val dedupExact = QueryDef(
    "q_dedup_exact",
    Some("""SELECT MIN(doc_id) AS kept_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY text ORDER BY kept_id"""),
    (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text")
      .orderBy("kept_id"))

  /** Literal-semantics exact dedup (groups on the text itself — the
    * no-collision-caveat variant; [[Dedup.exact]] is the fixed-width
    * scale path). Same oracle shape as q_dedup_exact by construction. */
  val dedupExactStrict = QueryDef(
    "q_dedup_exact_strict",
    Some("""SELECT MIN(doc_id) AS kept_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY text ORDER BY kept_id"""),
    (s, d) => Dedup.exactStrict(Tables.documents(s, d), "doc_id", "text")
      .orderBy("kept_id"))

  /** Near-exact dedup on normalized-content fingerprint. */
  val dedupNearExact = QueryDef(
    "q_dedup_near_exact",
    Some("""SELECT MIN(doc_id) AS kept_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
            FROM documents GROUP BY fp ORDER BY kept_id"""),
    (s, d) => Dedup.nearExact(Tables.documents(s, d), "doc_id", "text")
      .orderBy("kept_id"))

  /** MinHash+LSH near-dup pairs on the one-pass production hash —
    * fully oracle-checked: the oracle replays ShingleHashes ITSELF
    * byte-for-byte (per-token mix64 byte fold via WITH RECURSIVE, the
    * positional 3-token combine as staged mixes), then runs the shared
    * Random(42)-params/signature/32×4-banding/verify tail. With this,
    * no deterministic hash in the engine is outside the gate — the
    * md5 "portable" twins remain as the simpler cross-checks.
    * (optimalBanding(128, 0.4) resolves to exactly (32, 4), the tail's
    * banding.) */
  val dedupMinhash = QueryDef(
    "q_dedup_minhash",
    Some(s"""WITH RECURSIVE $sqlTokenHashCtes,
        $sqlShingleHashCtes,
        ${sqlMinhashTail(0.4)}"""),
    (s, d) => Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 128, threshold = 0.4)
      .orderBy("id_a", "id_b"))

  /** MinHash at a HIGH threshold, oracle-checked: with 32 bands × 4
    * rows, a pair at jaccard ≥ 0.9 collides in ≥1 band with
    * probability 1-(1-0.9⁴)³² ≈ 1-3.5e-15 — LSH recall is effectively
    * certain, so the output equals the exact all-pairs scan the DuckDB
    * oracle runs (hash-set jaccard = string-set jaccard modulo 2⁻⁶⁴
    * collisions). */
  val dedupMinhashHt = QueryDef(
    "q_dedup_minhash_ht",
    Some(s"""${sqlShingleCte(3)}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ${sqlJaccard("a.shingles", "b.shingles")} AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              -- exact prefilter: jaccard >= 0.9 forces set sizes within
              -- 10% of each other (|A| >= 0.9|A∪B| >= 0.9|B|), so the
              -- quadratic list work only runs on near-equal-length pairs
              AND len(a.shingles) * 10 >= len(b.shingles) * 9
              AND len(b.shingles) * 10 >= len(a.shingles) * 9
            WHERE ${sqlJaccard("a.shingles", "b.shingles")} >= 0.9
            ORDER BY id_a, id_b"""),
    // The public path keeps the default bucketCap: an uncapped variant
    // is an unbounded quadratic on degenerate buckets and must not be
    // copyable from the query surface (VERDICT r1 #4). On the harness
    // corpora no band bucket approaches the cap, so output still equals
    // the exact scan; DedupSpec asserts capped ≡ uncapped ≡ exact.
    (s, d) => Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.9)
      .orderBy("id_a", "id_b"))

  /** SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures) on
    * the one-pass production hash — fully oracle-checked like
    * q_dedup_minhash: the oracle replays the token byte fold, the
    * per-token decorrelating mix64, the per-bit ±1 majority vote
    * (ties → 0, empty docs → signature 0), then the same 16-bit-chunk
    * pigeonhole blocking, bucket cap, and exact hamming verify. */
  val dedupSimhash = QueryDef(
    "q_dedup_simhash",
    Some(s"""WITH RECURSIVE $sqlTokenHashCtes,
        -- ShingleHashes k=1 still applies the positional combine:
        -- token value = mix64(golden2 + byteFold(tok))
        cmb_dom AS (SELECT doc_id, pos,
                    (CAST(5886160652339039625 AS HUGEINT) + h)
                      & 18446744073709551615 AS z FROM tokh),
        ${sqlMix64("doc_id, pos", "cmb_", "cmb_dom")},
        -- then SimHash64 decorrelates each input with one more mix64
        g_dom AS (SELECT doc_id, pos, h AS z FROM cmb_s5),
        ${sqlMix64("doc_id, pos", "g_", "g_dom")},
        bitsum AS (
          SELECT g.doc_id, t.b,
                 SUM(CASE WHEN (g.h >> CAST(t.b AS INT)) % 2 = 1
                          THEN 1 ELSE -1 END) AS v
          FROM g_s5 g, range(0, 64) t(b) GROUP BY g.doc_id, t.b),
        sig0 AS (
          SELECT doc_id,
                 SUM(CASE WHEN v > 0
                          THEN CAST(1 AS HUGEINT) << CAST(b AS INT)
                          ELSE 0 END) AS sig
          FROM bitsum GROUP BY doc_id),
        sig AS (
          SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
          FROM documents d LEFT JOIN sig0 s ON s.doc_id = d.doc_id),
        chunked AS (
          SELECT doc_id, sig, CAST(c.c AS INT) AS chunk_idx,
                 (sig >> (16 * CAST(c.c AS INT))) % 65536 AS chunk
          FROM sig, range(0, 4) c(c)),
        capped AS (
          SELECT doc_id, sig, chunk_idx, chunk FROM chunked
          QUALIFY COUNT(*) OVER (PARTITION BY chunk_idx, chunk) <= 1000),
        ham AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(CAST(xor(a.sig, b.sig) % 65536 AS INT)) +
                      bit_count(CAST((xor(a.sig, b.sig) >> 16) % 65536 AS INT)) +
                      bit_count(CAST((xor(a.sig, b.sig) >> 32) % 65536 AS INT)) +
                      bit_count(CAST((xor(a.sig, b.sig) >> 48) % 65536 AS INT))
                      AS INT) AS hamming
          FROM capped a
          JOIN capped b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
            AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        ORDER BY id_a, id_b"""),
    (s, d) => Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3)
      .orderBy("id_a", "id_b"))

  /** Portable-simhash near-dup pairs, FULLY oracle-checked (VERDICT r1
    * #6): the signature is md5-derived (Dedup.simhashMd5Sig — every
    * step ANSI SQL), so DuckDB recomputes the exact 60-bit signatures
    * and runs the all-pairs hamming scan; the Spark side answers with
    * chunk blocking, whose pigeonhole recall is exact for hamming ≤ 3.
    * Blocking ≡ all-pairs is therefore a checkable equality, not an
    * approximation. The production path stays the one-pass SimHash64
    * expression (q_dedup_simhash); this is its verification twin in
    * the q_dedup_minhash_ht mold. */
  val dedupSimhashMd5 = QueryDef(
    "q_dedup_simhash_md5",
    Some {
      val votes = (0 until 60).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(",\n                 ")
      val bits = (0 until 60).map(b =>
        s"(CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" |\n                 ")
      s"""WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                     t -> len(t) > 0)) AS w
            FROM documents),
          th AS (
            SELECT doc_id,
                   CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h
            FROM tok),
          votes AS (
            SELECT doc_id,
                 $votes
            FROM th GROUP BY doc_id),
          sig AS (
            SELECT doc_id,
                 $bits AS sig
            FROM votes)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 3
          ORDER BY id_a, id_b"""
    },
    (s, d) => {
      val sig = Dedup.simhashMd5Sig(Tables.documents(s, d), "doc_id", "text")
      Dedup.simhashPairsFromSig(sig, maxHamming = 3, bits = 60)
        .orderBy("id_a", "id_b")
    })

  /** SimHash-dedup precision/recall evaluation (X290 — the X138
    * discipline applied to the OTHER near-dup sketch: X138 measured
    * MinHash-LSH against the exact ≥0.4 3-gram-Jaccard truth; this
    * row measures the hamming ≤ 3 portable-SimHash candidate set
    * against the SAME truth, so the two sketches' operating points
    * are directly comparable on one fixture. SimHash targets cosine
    * of token multisets, not set Jaccard — a LOW recall here is the
    * honest readout of that mismatch, which is exactly why the eval
    * row exists. Composition only: both pair sets are the existing
    * oracle-checked queries (X3-md5 + the X135 prefix join); three
    * bounded pair-count actions → one literal row (X109). */
  val simhashDedupEval = QueryDef(
    "q_simhash_dedup_eval", {
      val exact =
        s"""${sqlShingleCte(3).replace("WITH ", "")},
           ${sqlExactJaccardPairs(0.4)}"""
      Some(s"""WITH sh0 AS (${dedupSimhashMd5.oracle.get}),
              shp AS MATERIALIZED (SELECT id_a, id_b FROM sh0),
              $exact,
              ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash
                     FROM shp),
              ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
                     FROM exactp),
              nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
                     FROM shp JOIN exactp USING (id_a, id_b))
              SELECT ns.n_simhash, ne.n_exact, nh.n_hit,
                     CAST(nh.n_hit AS DOUBLE) /
                       NULLIF(CAST(ns.n_simhash AS DOUBLE), 0)
                       AS precision,
                     CAST(nh.n_hit AS DOUBLE) /
                       NULLIF(CAST(ne.n_exact AS DOUBLE), 0) AS recall
              FROM ns CROSS JOIN ne CROSS JOIN nh""")
    },
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sig = Dedup.simhashMd5Sig(docs, "doc_id", "text")
      val sh = Dedup.simhashPairsFromSig(sig, maxHamming = 3, bits = 60)
        .select("id_a", "id_b")
        .localCheckpoint(true) // count + hit join share
      // r20: widen the raw docs before the shingle projection — the
      // eval corpus is one split (Skew.widen no-ops at corpus scale)
      val shingles = graft.ops.Skew.widen(docs)
        .select(col("doc_id").as("id"),
          graft.functions.ShingleFunctions
            .shingleHashes(col("text"), 3).as("sh"))
      val exact = graft.ops.SetJoin.prefixJaccardPairsFromSets(
          shingles, tauNum = 2, tauDen = 5).select("id_a", "id_b")
        .localCheckpoint(true) // count + hit join share
      val nS = sh.count()
      val nE = exact.count()
      val nH = sh.join(exact, Seq("id_a", "id_b")).count()
      import s.implicits._
      Seq((nS, nE, nH)).toDF("n_simhash", "n_exact", "n_hit")
        .select(col("n_simhash"), col("n_exact"), col("n_hit"),
          (col("n_hit").cast("double") /
            nullif(col("n_simhash").cast("double"), lit(0.0)))
            .as("precision"),
          (col("n_hit").cast("double") /
            nullif(col("n_exact").cast("double"), lit(0.0)))
            .as("recall"))
    })

  /** Exact n-gram Jaccard all-pairs within `source` blocks — the
    * oracle recomputes the same shingle sets and set sizes in DuckDB. */
  val ngramJaccard = QueryDef(
    "q_ngram_jaccard",
    Some(s"""${sqlShingleCte(2, extraCols = " source,")}
            SELECT a.source AS block, a.doc_id AS id_a, b.doc_id AS id_b,
                   ${sqlJaccard("a.shingles", "b.shingles")} AS jaccard
            FROM sh a JOIN sh b
              ON a.source = b.source AND a.doc_id < b.doc_id
              -- exact prefilter, mirroring Dedup.lengthCompatible
              AND len(a.shingles) * 20 >= len(b.shingles)
              AND len(b.shingles) * 20 >= len(a.shingles)
            WHERE ${sqlJaccard("a.shingles", "b.shingles")} >= 0.05
            ORDER BY block, id_a, id_b"""),
    (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id",
        "text", "source", shingleK = 2, threshold = 0.05)
      .orderBy("block", "id_a", "id_b"))

  /** Asymmetric containment dedup (X81 — Broder 1997's containment
    * next to the resemblance measures above: C(A→B) = |A∩B|/|A| over
    * 3-shingle sets catches a short document QUOTED inside a long one,
    * whose symmetric Jaccard stays low; see
    * [[graft.ops.Dedup.containmentPairs]] for the inverted-index +
    * doc-frequency-prune scale shape). The fixture plants real
    * containment: every doc_id ≡ 0 (mod 20) gets a quote twin
    * (id + 10⁶) carrying its first ⌈n/2⌉ tokens — a strict shingle
    * subset, so each twin reports containment 1.0 in its base. The
    * oracle rebuilds the planted corpus and replays index, prune,
    * intersection counts and the one containment divide on shingle
    * STRINGS (set cardinalities are hash-invariant — the
    * q_ngram_jaccard device). */
  val dedupContainment = QueryDef(
    "q_dedup_containment",
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     array_to_string(
                       toks[1:CAST(ceil(len(toks) / 2.0) AS INT)], ' ')
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'),
                             t -> len(t) > 0) AS toks
                    FROM documents WHERE doc_id % 20 = 0)),
            t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                       t -> len(t) > 0) AS toks
              FROM corpus),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 3
                          THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(
                            range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' '
                                 || toks[i+2])) END AS shingles
              FROM t),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            sizes AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM ex GROUP BY doc_id),
            hot AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) > 100),
            pr AS (SELECT doc_id, s FROM ex
                   WHERE s NOT IN (SELECT s FROM hot)),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS n_shared
              FROM pr a JOIN pr b
                ON a.s = b.s AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
            SELECT i.id_a, i.id_b, i.n_shared, z.n AS size_a,
                   CAST(i.n_shared AS DOUBLE) / z.n AS containment
            FROM inter i JOIN sizes z ON z.doc_id = i.id_a
            WHERE CAST(i.n_shared AS DOUBLE) / z.n >= 0.8
            ORDER BY id_a, id_b"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = graft.functions.Text.tokens(col("text"))
      val quotes = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(toks, lit(1),
            ceil(size(toks) / lit(2.0)).cast("int")), " ").as("text"))
      val corpus = docs.select("doc_id", "text").unionAll(quotes)
      Dedup.containmentPairs(corpus, "doc_id", "text",
          shingleK = 3, threshold = 0.8, maxDocFreq = 100L)
        .orderBy("id_a", "id_b")
    })

  /** Embedding-cosine near-dup pairs, exact all-pairs (oracle-checked;
    * the LSH-bucketed variant is q_dedup_embedding_lsh). */
  val dupEmbeddingExact = QueryDef(
    "q_dedup_embedding_exact",
    Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    ${sqlCosine("a.embedding", "b.embedding")} AS cosine
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE ${sqlCosine("a.embedding", "b.embedding")} >= 0.4
             ORDER BY id_a, id_b"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // norms once per row (the oracle recomputes per pair — same
      // values, so outputs still hash-match)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"),
        Similarity.norm(col("embedding")).as("norm_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"),
        Similarity.norm(col("embedding")).as("norm_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cosine", Similarity.cosineWithNorms(col("vec_a"),
          col("vec_b"), col("norm_a"), col("norm_b")))
        .filter(col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    })

  /** LSH-bucketed embedding near-dup (scale path) — oracle-checked
    * like q_ann_lsh: the multi-table hyperplane signatures are a
    * deterministic function of the seed, so DuckDB re-derives all 12
    * tables' planes (seed 42 + t·7919) via the shared splitmix64
    * chain, packs the same sign-bit buckets, reproduces the bucket
    * cap, the banded candidate join, and the exact cosine≥τ verify.
    * Hash-green means the full multi-table LSH pipeline — not just the
    * exact verify — is cross-engine exact. */
  val dupEmbeddingLsh = QueryDef(
    "q_dedup_embedding_lsh",
    Some(s"""WITH mix_dom AS (
               -- table t's planes use seed 42 + t*7919 (recall
               -- amplification across 12 independent tables)
               SELECT t.range AS t,
                      CAST(p.range AS HUGEINT) AS p,
                      CAST(i.range AS HUGEINT) AS i,
                      CAST(42 AS HUGEINT) + CAST(t.range AS HUGEINT) * 7919
                        + CAST(p.range AS HUGEINT) * 1000003
                        + CAST(i.range AS HUGEINT) AS z
               FROM range(0, 12) t, range(0, 6) p, range(0, 64) i),
             ${sqlMix64("t, p, i")},
             planes AS (
               SELECT CAST(t AS INT) AS t, CAST(p AS INT) AS p,
                      list($sqlSignedUnit ORDER BY i) AS pl
               FROM mix_s5 GROUP BY 1, 2),
             sig AS (
               SELECT e.vec_id, t, ${sqlBucket("e.embedding")} AS bucket
               FROM embeddings e, planes GROUP BY e.vec_id, t),
             capped AS (
               SELECT vec_id, t, bucket FROM sig
               QUALIFY COUNT(*) OVER (PARTITION BY t, bucket) <= 2000),
             cand AS (
               SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM capped a
               JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id)
             SELECT c.id_a, c.id_b,
                    ${sqlCosine("ea.embedding", "eb.embedding")} AS cosine
             FROM cand c
             JOIN embeddings ea ON ea.vec_id = c.id_a
             JOIN embeddings eb ON eb.vec_id = c.id_b
             WHERE ${sqlCosine("ea.embedding", "eb.embedding")} >= 0.4
             ORDER BY id_a, id_b"""),
    (s, d) => Dedup.embeddingPairs(Tables.embeddings(s, d), "vec_id",
        "embedding", threshold = 0.4, planes = 6, tables = 12)
      .orderBy("id_a", "id_b"))

  /** Margin-based bitext mining (X83 — Artetxe & Schwenk 2019, the
    * CCMatrix/LASER device that builds parallel training corpora:
    * absolute cosine is miscalibrated across embedding neighbourhoods,
    * so a candidate pair is scored by its cosine RELATIVE to each
    * side's average nearest-neighbour cosine — margin(x,y) =
    * cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2) — and mined iff the
    * margin clears a threshold). Sides are the deterministic parity
    * split of the embeddings corpus (even = source, odd = target).
    *
    * Scale shape: candidates come from a single-table hyperplane-LSH
    * bucket EQUI-join (no broadcast, no all-pairs — the faiss-shard
    * role in the published pipeline), both ranking directions and both
    * k-NN averages read the SAME candidate pair set (one join, two
    * partitioned windows), and only (id, id, cosine) rows flow after
    * the bucket join. Float discipline: cosines are element-wise
    * exact; the two k-NN averages are aggregated doubles → qround(6);
    * the margin is one IEEE divide, qround(6) for the reported value
    * and the X45 coarser qround(4) grid for the kept boolean. */
  val bitextMine = QueryDef(
    "q_bitext_mine",
    Some(s"""WITH mix_dom AS (
               SELECT CAST(a.range AS HUGEINT) AS p,
                      CAST(b.range AS HUGEINT) AS i,
                      CAST(42 AS HUGEINT) + CAST(a.range AS HUGEINT) * 1000003
                        + CAST(b.range AS HUGEINT) AS z
               FROM range(0, 3) a, range(0, 64) b),
             ${sqlMix64("p, i")},
             planes AS (
               SELECT CAST(p AS INT) AS p,
                      list($sqlSignedUnit ORDER BY i) AS pl
               FROM mix_s5 GROUP BY 1),
             sig AS (
               SELECT e.vec_id, ${sqlBucket("e.embedding")} AS bucket
               FROM embeddings e, planes GROUP BY e.vec_id),
             pairs AS (
               SELECT q.vec_id AS qa, c.vec_id AS yb,
                      ${sqlCosine("qe.embedding", "ce.embedding")} AS cosine
               FROM sig q
               JOIN sig c ON q.bucket = c.bucket
               JOIN embeddings qe ON qe.vec_id = q.vec_id
               JOIN embeddings ce ON ce.vec_id = c.vec_id
               WHERE q.vec_id % 2 = 0 AND c.vec_id % 2 = 1),
             f AS (
               SELECT qa, yb, cosine,
                      ROW_NUMBER() OVER (PARTITION BY qa
                        ORDER BY cosine DESC, yb) AS rn
               FROM pairs),
             r AS (
               SELECT qa, yb, cosine,
                      ROW_NUMBER() OVER (PARTITION BY yb
                        ORDER BY cosine DESC, qa) AS rn
               FROM pairs),
             favg AS (
               SELECT qa, ${Num.qroundSql("AVG(cosine)", 6)} AS favg
               FROM f WHERE rn <= 4 GROUP BY qa),
             ravg AS (
               SELECT yb, ${Num.qroundSql("AVG(cosine)", 6)} AS ravg
               FROM r WHERE rn <= 4 GROUP BY yb),
             best AS (SELECT qa, yb, cosine FROM f WHERE rn = 1)
             SELECT best.qa AS id_a, best.yb AS id_b, best.cosine,
                    ${Num.qroundSql(
                      "best.cosine / ((favg.favg + ravg.ravg) / 2.0)", 6)}
                      AS margin,
                    (${Num.qroundSql(
                      "best.cosine / ((favg.favg + ravg.ravg) / 2.0)", 4)}
                      > 1.05) AS kept
             FROM best
               JOIN favg ON favg.qa = best.qa
               JOIN ravg ON ravg.yb = best.yb
             ORDER BY id_a"""),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      def bucketOf(v: org.apache.spark.sql.Column) = element_at(
        graft.functions.HashFunctions.hyperplaneBuckets(v, 3, 1, 42L), 1)
      val sig = e.select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"),
        bucketOf(col("embedding")).as("bucket"))
      val a = sig.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("qa"), col("embedding").as("va"),
          col("nrm").as("na"), col("bucket"))
      val b = sig.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("yb"), col("embedding").as("vb"),
          col("nrm").as("nb"), col("bucket"))
      val pairs = a.join(b, "bucket")
        .withColumn("cosine", Similarity.cosineWithNorms(col("va"),
          col("vb"), col("na"), col("nb")))
        .select("qa", "yb", "cosine")
      val wf = Window.partitionBy("qa")
        .orderBy(col("cosine").desc, col("yb"))
      val wr = Window.partitionBy("yb")
        .orderBy(col("cosine").desc, col("qa"))
      val f = pairs.withColumn("rn", row_number().over(wf))
      val r = pairs.withColumn("rn", row_number().over(wr))
      val favg = f.filter(col("rn") <= 4).groupBy("qa")
        .agg(Num.qround(avg("cosine"), 6).as("favg"))
      val ravg = r.filter(col("rn") <= 4).groupBy("yb")
        .agg(Num.qround(avg("cosine"), 6).as("ravg"))
      val best = f.filter(col("rn") === 1).select("qa", "yb", "cosine")
      val rawMargin =
        col("cosine") / ((col("favg") + col("ravg")) / lit(2.0))
      best.join(favg, "qa").join(ravg, "yb")
        .select(col("qa").as("id_a"), col("yb").as("id_b"),
          col("cosine"),
          Num.qround(rawMargin, 6).as("margin"),
          (Num.qround(rawMargin, 4) > 1.05).as("kept"))
        .orderBy("id_a")
    })

  /** Brute-force exact top-k cosine ANN: queries = vec_id < 5
    * broadcast against the full corpus. Ranks are total-ordered
    * (cosine desc, id) and cosines are bit-identical cross-engine, so
    * the full output is oracle-checkable. */
  val annBruteForce = QueryDef(
    "q_ann_bruteforce",
    Some(s"""WITH scored AS (
               SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      ${sqlCosine("q.embedding", "c.embedding")} AS cosine
               FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
               JOIN embeddings c ON c.vec_id <> q.vec_id),
             ranked AS (
               SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
               FROM scored)
             SELECT query_id, neighbor_id, rank, cosine FROM ranked
             WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    })

  /** Int8-quantized brute-force top-k — the bandwidth-lean ANN scan
    * (4× smaller codes, integer dot kernel), ranked by QUANTIZED
    * cosine. FULLY oracle-checked: symmetric quantization is
    * half-up-rounded IEEE arithmetic (floor(x/scale + 0.5) — the same
    * rule both engines implement, unlike round()'s negative ties), the
    * dots/norms are 64-bit-integer exact, and the final divide is one
    * IEEE operation — so DuckDB replays quantize → integer dot →
    * cosine → rank bit-for-bit. Hash-green means the lossy
    * representation ITSELF is cross-engine exact, not just some
    * surviving row set. */
  val annInt8 = QueryDef(
    "q_ann_int8",
    Some("""WITH quant AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
              FROM embeddings),
            codes AS (
              SELECT vec_id,
                     CASE WHEN scale = 0 THEN
                       list_transform(embedding, x -> CAST(0 AS BIGINT))
                     ELSE
                       list_transform(embedding, x ->
                         CAST(GREATEST(-127.0, LEAST(127.0,
                           FLOOR(CAST(x AS DOUBLE) / scale + 0.5)))
                           AS BIGINT))
                     END AS q
              FROM quant),
            norms AS (
              SELECT vec_id, q,
                     SQRT(CAST(list_reduce(
                       list_transform(range(1, len(q) + 1),
                         i -> q[i] * q[i]),
                       (a, b) -> a + b) AS DOUBLE)) AS n
              FROM codes),
            scored AS (
              SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
                     CAST(list_reduce(
                       list_transform(range(1, len(qr.q) + 1),
                         i -> qr.q[i] * c.q[i]),
                       (a, b) -> a + b) AS DOUBLE)
                       / NULLIF(qr.n * c.n, 0.0) AS cosine
              FROM norms qr JOIN norms c ON c.vec_id <> qr.vec_id
              WHERE qr.vec_id < 5),
            ranked AS (
              SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, rank, cosine FROM ranked
            WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.int8TopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    })

  /** LSH-bucketed approximate top-k (scale path) — FULLY oracle-checked
    * despite being "approximate": the approximation is a deterministic
    * function of the seeded hyperplanes, and the whole pipeline is
    * reproducible in DuckDB. The oracle re-derives the planes from
    * first principles — splitmix64 finalizer in wrap-around 64-bit
    * arithmetic (HUGEINT staged CTEs; each multiply split into 32-bit
    * halves so nothing exceeds 2^97), signed-double mapping, then the
    * same left-to-right float→double dot products, sign-bit bucket
    * packing, bucket equi-join and (cosine DESC, id) ranking the Spark
    * side runs. Hash-green here means Mix64, ArrayDot, and the banding
    * join are all cross-engine exact — not just "some 50 rows".
    *
    * Operating point (tuned via the X74 q_ann_recall eval, which
    * measured single-probe 4-plane recall@10 at 0.14): 6 planes with
    * Hamming≤2 multiprobe — 22 of 64 buckets probed per query (~34% of
    * the corpus as candidates) for 0.66 mean recall@10 at sf0.01. The
    * probe expansion replays in SQL as an XOR-mask cross join: a
    * candidate matches exactly one mask (the pair's signature XOR), so
    * no pair dedup is needed. */
  val annLsh = QueryDef(
    "q_ann_lsh",
    Some(s"""WITH mix_dom AS (
               -- splitmix64 input: seed 42, plane p, component i
               SELECT CAST(a.range AS HUGEINT) AS p,
                      CAST(b.range AS HUGEINT) AS i,
                      CAST(42 AS HUGEINT) + CAST(a.range AS HUGEINT) * 1000003
                        + CAST(b.range AS HUGEINT) AS z
               FROM range(0, 6) a, range(0, 64) b),
             ${sqlMix64("p, i")},
             planes AS (
               SELECT CAST(p AS INT) AS p,
                      list($sqlSignedUnit ORDER BY i) AS pl
               FROM mix_s5 GROUP BY 1),
             sig AS (
               SELECT e.vec_id, ${sqlBucket("e.embedding")} AS bucket
               FROM embeddings e, planes GROUP BY e.vec_id),
             masks AS (
               SELECT CAST(m.range AS BIGINT) AS mask FROM range(0, 64) m
               WHERE bit_count(CAST(m.range AS BIGINT)) <= 2),
             scored AS (
               SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      ${sqlCosine("qe.embedding", "ce.embedding")} AS cosine
               FROM sig q CROSS JOIN masks m
               JOIN sig c ON c.bucket = xor(q.bucket, m.mask)
                 AND c.vec_id <> q.vec_id
               JOIN embeddings qe ON qe.vec_id = q.vec_id
               JOIN embeddings ce ON ce.vec_id = c.vec_id
               WHERE q.vec_id < 5),
             ranked AS (
               SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
               FROM scored)
             SELECT query_id, neighbor_id, rank, cosine FROM ranked
             WHERE rank <= 10 ORDER BY query_id, rank"""),
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "vec_id", "embedding", k = 10, planes = 6,
          maxFlips = 2)
        .orderBy("query_id", "rank")
    })

  /** Exact near-dup clustering as oracle CTEs: 3-shingle Jaccard ≥ 0.9
    * pairs (length-ratio prefiltered), their undirected transitive
    * closure `reach`, and each clustered doc's min-id canonical in
    * `canon` (doc_id, canonical_id). */
  private val nearDupCanonSql =
    s"""${sqlShingleCte(3).replaceFirst("WITH ", "WITH RECURSIVE ")},
          pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              AND len(a.shingles) * 10 >= len(b.shingles) * 9
              AND len(b.shingles) * 10 >= len(a.shingles) * 9
            WHERE ${sqlJaccard("a.shingles", "b.shingles")} >= 0.9),
          und AS (SELECT id_a AS a, id_b AS b FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
          reach(src, dst) AS (
            SELECT a, b FROM und
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
          canon AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
            FROM reach GROUP BY src)"""

  /** The Spark side of [[nearDupCanonSql]]: MinHash LSH pairs (k = 3,
    * 128 hashes, 32 bands, τ = 0.9) closed into min-id clusters,
    * (doc_id, canonical_id) for every document. */
  private def nearDupClusters(docs: DataFrame): DataFrame =
    Dedup.clusterKeepMin(docs.select("doc_id"), "doc_id",
      Dedup.minhashPairs(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.9))

  /** Near-dup clustering: MinHash-LSH pairs → connected components →
    * canonical keep-set (one row per doc with its component's min id).
    *
    * FULLY oracle-checked: the pair source is the high-threshold
    * banding (recall ≈ 1-3.5e-15 at τ=0.9, the q_dedup_minhash_ht
    * argument), so DuckDB can independently recompute the exact pair
    * set and resolve components with a recursive transitive closure —
    * the pointer-jumping/union-find machinery is verified end to end,
    * closure semantics included. The τ=0.4 pipeline stays exercised by
    * q_dedup_minhash + the DedupSpec recall assertions. */
  val dedupClusters = QueryDef(
    "q_dedup_clusters",
    Some(s"""$nearDupCanonSql
          SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN canon c USING (doc_id)
          ORDER BY d.doc_id"""),
    (s, d) => {
      nearDupClusters(Tables.documents(s, d)).orderBy("doc_id")
    })

  /** The from-scratch dedup clustering COMPARISON LANE shared by the
    * three maintenance-equivalence rows (q_incremental_clusters,
    * q_stream_incremental_dedup, q_dedup_index_compact — each proves
    * maintained ≡ recomputed, so each needs the identical full
    * recompute next to its maintained lane). The verified pair set at
    * (k=3, 128 hashes, 32 bands, τ=0.9, uncapped) is a deterministic
    * function of the corpus and DRIVER-SIZED (the near-dup pair count
    * is the duplicate mass, hundreds of rows at bench sf) — memoized
    * through [[graft.ops.FitCache]] per sf dir, the ann/tok-family
    * shared-lane pattern; Bench warms it once, disclosed as
    * `dedup_family_fit_sec`. The MEASURED machinery of each row (the
    * delta probes, the index lifecycle, the contracted closures)
    * stays real and uncached — only the redundant cross-check lane
    * shares. */
  private[queries] def recomputedClusters(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val pairs = graft.ops.FitCache.memo(s"dedup_full_pairs|$d") {
      Dedup.minhashPairs(docs, "doc_id", "text", shingleK = 3,
        numHashes = 128, bands = 32, threshold = 0.9,
        bucketCap = Int.MaxValue)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    Dedup.clusterKeepMin(docs.select("doc_id"), "doc_id",
      pairs.toSeq.toDF("id_a", "id_b"))
  }

  /** Bench family warm (the warmAnnFits / warmTokFits pattern):
    * compute the shared from-scratch pair lane once, timed and
    * disclosed, so the three equivalence rows measure maintenance,
    * not three re-paid LSH recomputes of the identical cross-check. */
  def warmDedupFits(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    recomputedClusters(s, d)
    ()
  }

  /** Incremental near-dup cluster maintenance (X295 — VERDICT r14 #7,
    * composing X32's snapshot carve with X6's clusters the way X176
    * warm-starts PageRank: the old corpus (doc_id % 10 <> 7) carries a
    * PERSISTED clustering; the refresh's new docs (doc_id % 10 = 7)
    * probe the existing LSH index ([[Dedup.minhashPairsDelta]] — only
    * delta-sided candidates, never a re-banded world), old components
    * contract to their canonical supernodes, and ONLY components
    * touched by a delta pair re-close ([[Dedup.maintainClusters]] —
    * the contracted graph is O(|Δ pairs|)). The query runs BOTH lanes
    * and emits them side by side with an equality verdict — the
    * q_ivm_join discipline: maintained ≡ recomputed, hash-checked row
    * by row, because contraction preserves connectivity and min-label
    * is associative across merges. The oracle re-derives old pairs,
    * delta pairs, both closures (old + contracted) and the
    * full-recompute closure from exact Jaccard at τ = 0.9 (the
    * recall≈1 banding argument of q_dedup_clusters). At 100 TB the
    * refresh cost is the delta probe + a tiny contracted closure —
    * the full pipeline never re-runs. */
  val incrementalClusters = QueryDef(
    "q_incremental_clusters",
    Some(s"""${sqlShingleCte(3).replaceFirst("WITH ", "WITH RECURSIVE ")},
          -- MATERIALIZED (r18 selfcheck-wall fix): pairs_full feeds
          -- pairs_old, delta_pairs and undf(×2) — inlined, the
          -- all-pairs jaccard scan re-runs per reference
          pairs_full AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              AND len(a.shingles) * 10 >= len(b.shingles) * 9
              AND len(b.shingles) * 10 >= len(a.shingles) * 9
            WHERE ${sqlJaccard("a.shingles", "b.shingles")} >= 0.9),
          pairs_old AS (
            SELECT * FROM pairs_full
            WHERE id_a % 10 <> 7 AND id_b % 10 <> 7),
          delta_pairs AS (
            SELECT * FROM pairs_full
            WHERE id_a % 10 = 7 OR id_b % 10 = 7),
          undo AS (SELECT id_a AS a, id_b AS b FROM pairs_old
                   UNION SELECT id_b, id_a FROM pairs_old),
          reacho(src, dst) AS (
            SELECT a, b FROM undo
            UNION
            SELECT r.src, u.b FROM reacho r JOIN undo u ON r.dst = u.a),
          canono AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
            FROM reacho GROUP BY src),
          superm AS MATERIALIZED (
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 10 = 7 THEN d.doc_id
                        ELSE COALESCE(c.canonical_id, d.doc_id)
                   END AS super
            FROM documents d LEFT JOIN canono c USING (doc_id)),
          cedges AS (
            SELECT sa.super AS a, sb.super AS b
            FROM delta_pairs p
            JOIN superm sa ON sa.doc_id = p.id_a
            JOIN superm sb ON sb.doc_id = p.id_b
            WHERE sa.super <> sb.super),
          undc AS (SELECT a, b FROM cedges
                   UNION SELECT b, a FROM cedges),
          reachc(src, dst) AS (
            SELECT a, b FROM undc
            UNION
            SELECT r.src, u.b FROM reachc r JOIN undc u ON r.dst = u.a),
          canonc AS (
            SELECT src, LEAST(src, MIN(dst)) AS m
            FROM reachc GROUP BY src),
          undf AS (SELECT id_a AS a, id_b AS b FROM pairs_full
                   UNION SELECT id_b, id_a FROM pairs_full),
          reachf(src, dst) AS (
            SELECT a, b FROM undf
            UNION
            SELECT r.src, u.b FROM reachf r JOIN undf u ON r.dst = u.a),
          canonf AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
            FROM reachf GROUP BY src)
          SELECT s.doc_id,
                 COALESCE(c.m, s.super) AS canon_inc,
                 COALESCE(f.canonical_id, s.doc_id) AS canon_full,
                 COALESCE(c.m, s.super) =
                   COALESCE(f.canonical_id, s.doc_id) AS consistent
          FROM superm s
          LEFT JOIN canonc c ON c.src = s.super
          LEFT JOIN canonf f ON f.doc_id = s.doc_id
          ORDER BY s.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d).localCheckpoint(true)
      val oldDocs = docs.filter(col("doc_id") % 10 =!= 7)
      val newDocs = docs.filter(col("doc_id") % 10 === 7)
      // the clustering a previous build persisted. All three lanes
      // run UNCAPPED (ADVICE r15: capBuckets keeps the lowest-id cap
      // members per lane's own banded frame, so a bucket near the cap
      // could be kept in the old-only lane and truncated in the
      // full-corpus lanes, breaking the per-row equality verdict once
      // occupancy crosses the cap — the equivalence proof must feed
      // both closures identical candidate sets)
      val oldPairs = Dedup.minhashPairs(oldDocs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.9,
        bucketCap = Int.MaxValue)
      val oldClusters = Dedup.clusterKeepMin(oldDocs.select("doc_id"),
        "doc_id", oldPairs)
      // refresh: new docs probe the existing index; affected
      // components re-close over the contracted delta graph
      val deltaPairs = Dedup.minhashPairsDelta(docs, "doc_id", "text",
        newDocs.select("doc_id"), shingleK = 3, numHashes = 128,
        bands = 32, threshold = 0.9, bucketCap = Int.MaxValue)
      val maintained = Dedup.maintainClusters(oldClusters, "doc_id",
        newDocs.select("doc_id"), deltaPairs)
      // the from-scratch lane the maintained one must equal (shared
      // with the streaming/index-lifecycle twins via recomputedClusters)
      val recomputed = recomputedClusters(s, d)
      maintained.select(col("doc_id"),
          col("canonical_id").as("canon_inc"))
        .join(recomputed.select(col("doc_id"),
          col("canonical_id").as("canon_full")), Seq("doc_id"))
        .withColumn("consistent", col("canon_inc") === col("canon_full"))
        .orderBy("doc_id")
    })

  /** A drop folder under a fresh temp dir `tmp` that a file stream
    * source replays: `stage` writes a batch as ONE flat parquet file in
    * it (the file source lists one level), and `drain` runs every file
    * not yet seen through `sink` under an AvailableNow trigger, one
    * checkpoint across runs (the scheduled-catch-up pattern). */
  private[queries] final class DropFolder(s: SparkSession, prefix: String) {
    val tmp: Path = Files.createTempDirectory(prefix)
    private val srcDir = Files.createDirectories(tmp.resolve("src"))

    def stage(df: DataFrame, name: String): Unit = {
      val part = tmp.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(part.toString)
      val f = Files.list(part).iterator()
      var staged = false
      while (f.hasNext) {
        val p = f.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.createSymbolicLink(srcDir.resolve(s"$name.parquet"), p)
          staged = true
        }
      }
      require(staged, s"stage: no parquet part for $name")
    }

    def drain(schema: StructType, sink: (DataFrame, Long) => Unit): Unit =
      s.readStream
        .schema(schema)
        .parquet(srcDir.toString)
        .writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
  }

  /** STREAMING incremental near-dup cluster maintenance (X302 —
    * VERDICT r15 #6, the streaming twin of X295 in the X15/X43
    * discipline: the corpus ARRIVES — the old 90% in microbatch 0,
    * the refresh's docs in microbatch 1 (two AvailableNow runs over a
    * drop-folder sharing one checkpoint, the scheduled-catch-up
    * pattern — the checkpoint guarantees batch 0's file is never
    * reprocessed) — and EVERY batch runs the X295 maintenance inside
    * `foreachBatch`: new docs probe the LSH index over the
    * accumulated corpus ([[Dedup.minhashPairsDelta]], delta-sided
    * candidates only), old components contract to supernodes, and
    * only delta-touched components re-close
    * ([[Dedup.maintainClusters]]). Batch 0 is the same code path
    * against EMPTY state (identity supernodes — maintenance IS the
    * initial build, no special case).
    *
    * r19 (VERDICT r18 #1): state across batches now lives in the
    * COMMITTED [[graft.ops.DedupIndex]] — append-only band/shingle
    * segments + the sparse clusters mapping behind one manifest, the
    * X318 discipline: the stream job itself is stateless, a crashed
    * worker resumes from the checkpoint against the last consistent
    * manifest. Each microbatch shingles and bands ONLY its delta and
    * probes the committed index (broadcast delta-bucket semi-join) —
    * the pre-r19 form re-shingled the whole accumulated corpus per
    * batch, the probe-growth term that made this the slowest
    * streaming row. The query emits the stream-maintained canonicals
    * next to a from-scratch batch recompute with a per-row equality
    * verdict; the oracle is the X295 contracted-closure chain
    * VERBATIM (same split, same algebra — the stream replay must
    * land on the identical clustering), with the equivalence lanes
    * uncapped as in X295. */
  val streamIncrementalDedup = QueryDef(
    "q_stream_incremental_dedup",
    incrementalClusters.oracle.map(_
      .replace("canon_inc", "canon_stream")
      .replace("canon_full", "canon_batch")),
    (s, d) => {
      graft.streaming.StreamWarm.ensure(s) // one-time engine warm (r18)
      val docs = Tables.documents(s, d).localCheckpoint(true)
      val drop = new DropFolder(s, "graft-incdedup")
      val idxDir = drop.tmp.resolve("index").toString
      graft.ops.DedupIndex.init(s, idxDir)
      // every batch is ONE index delta-ingest: delta-only shingling,
      // committed-index probe, contracted-closure maintenance, one
      // manifest swap (uncapped — the equivalence-lane precondition)
      def maintain(batch: org.apache.spark.sql.DataFrame,
          batchId: Long): Unit = {
        val b = batch.select("doc_id", "text").localCheckpoint(true)
        if (b.head(1).nonEmpty)
          graft.ops.DedupIndex.ingest(b, "doc_id", "text", idxDir,
            shingleK = 3, numHashes = 128, bands = 32, threshold = 0.9,
            bucketCap = Int.MaxValue)
      }
      val schema = graft.streaming.EventStream.documentSchema
      // arrival 1: the old corpus; arrival 2: the refresh
      drop.stage(docs.filter(col("doc_id") % 10 =!= 7), "b0")
      drop.drain(schema, maintain)
      drop.stage(docs.filter(col("doc_id") % 10 === 7), "b1")
      drop.drain(schema, maintain)
      // from-scratch lane the stream-maintained one must equal
      val recomputed = recomputedClusters(s, d)
      graft.ops.DedupIndex.clusters(s, idxDir)
        .select(col("id").as("doc_id"),
          col("canonical_id").as("canon_stream"))
        .join(recomputed.select(col("doc_id"),
          col("canonical_id").as("canon_batch")), Seq("doc_id"))
        .withColumn("consistent",
          col("canon_stream") === col("canon_batch"))
        .orderBy("doc_id")
    })

  /** Persisted dedup-index COMPACTION lifecycle (X326 — VERDICT r18
    * #1: the LSH dedup index gets the ANN index's X317 discipline.
    * [[graft.ops.DedupIndex]] commits append-only band/shingle
    * segments + a sparse clusters state behind ONE manifest; this row
    * exercises the full lifecycle: init an empty index, ingest the
    * old corpus (doc_id % 10 ≠ 7) as batch 0 — maintenance against
    * empty state IS the build, no special case — then ingest the
    * refresh (doc_id % 10 = 7) as a delta (asserting the segment
    * chain really fragmented), COMPACT (asserting exactly one live
    * prefix remains), and read the clustering back through the
    * compacted manifest. Each ingest shingles/bands only its delta
    * and probes the committed index restricted to delta-occupied
    * buckets — at 100 TB the refresh pays O(Δ·occupancy) probe work
    * plus O(delta) append I/O, and compaction is the amortized
    * background fold that bounds segment fan-in. The result is the
    * index clustering next to the from-scratch recompute with a
    * per-row equality verdict — hash-green proves
    * ingest∘ingest∘compact ≡ one batch recompute (banding is per-row,
    * so the accumulated index is bit-identical to re-banding the
    * world; contraction preserves connectivity; compaction moves
    * files, not rows). The oracle is the X295 contracted-closure
    * chain verbatim (same split, same algebra); Round19Spec
    * additionally pins compaction invisibility and the
    * fragmented-chain states. */
  val dedupIndexCompact = QueryDef(
    "q_dedup_index_compact",
    incrementalClusters.oracle.map(_
      .replace("canon_inc", "canon_idx")),
    (s, d) => {
      val docs = Tables.documents(s, d).localCheckpoint(true)
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-dedupidx").resolve("index").toString
      graft.ops.DedupIndex.init(s, idxDir)
      graft.ops.DedupIndex.ingest(docs.filter(col("doc_id") % 10 =!= 7),
        "doc_id", "text", idxDir, shingleK = 3, numHashes = 128,
        bands = 32, threshold = 0.9, bucketCap = Int.MaxValue)
      graft.ops.DedupIndex.ingest(docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", idxDir, shingleK = 3, numHashes = 128,
        bands = 32, threshold = 0.9, bucketCap = Int.MaxValue)
      require(graft.ops.Shard.livePrefixes(s, idxDir).size > 1,
        "delta ingests should leave a fragmented segment chain")
      graft.ops.DedupIndex.compact(s, idxDir)
      require(graft.ops.Shard.livePrefixes(s, idxDir).size == 1,
        "compaction should leave exactly one live segment")
      val recomputed = recomputedClusters(s, d)
      graft.ops.DedupIndex.clusters(s, idxDir)
        .select(col("id").as("doc_id"),
          col("canonical_id").as("canon_idx"))
        .join(recomputed.select(col("doc_id"),
          col("canonical_id").as("canon_full")), Seq("doc_id"))
        .withColumn("consistent", col("canon_idx") === col("canon_full"))
        .orderBy("doc_id")
    })

  /** The composed dedup pipeline end to end: LSH pairs → connected
    * components → keepCanonical → the SURVIVING corpus (one
    * representative per near-dup cluster, everything else untouched).
    * This is the query a corpus build actually runs; fully
    * oracle-checked on the same recursive-closure argument as
    * q_dedup_clusters. */
  val dedupKeep = QueryDef(
    "q_dedup_keep",
    Some(s"""$nearDupCanonSql
          SELECT d.doc_id, d.source
          FROM documents d LEFT JOIN canon c USING (doc_id)
          WHERE COALESCE(c.canonical_id, d.doc_id) = d.doc_id
          ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.keepCanonical(docs, "doc_id", nearDupClusters(docs))
        .select("doc_id", "source")
        .orderBy("doc_id")
    })

  /** Dedup yield report (X86 — the summary every corpus build prints
    * next to its dedup pass: how much did dedup actually remove, and
    * is the duplication mass in a few huge clusters or many pairs?):
    * near-dup clusters (X6) → cluster-size histogram on power-of-two
    * buckets → per-bucket clusters / docs / removed counts. The
    * bucket boundaries are an INTEGER comparison chain (no log2 —
    * libm rounding at exact powers of two would be the only float in
    * an otherwise integer query), so every value hash-matches with no
    * rounding anywhere. Composition over the X6 oracle; the histogram
    * is two bounded aggregates over fixed-width (canonical, count)
    * rows. */
  val dedupYield = QueryDef(
    "q_dedup_yield", {
      val whens = (0 to 20).map(k =>
        s"WHEN csize <= ${1L << k} THEN $k").mkString(" ")
      Some(s"""WITH dc AS (${dedupClusters.oracle.get}),
             cs AS (
               SELECT canonical_id,
                      CAST(COUNT(*) AS BIGINT) AS csize
               FROM dc GROUP BY canonical_id)
             SELECT CAST(CASE $whens ELSE 21 END AS INT) AS bucket,
                    CAST(COUNT(*) AS BIGINT) AS n_clusters,
                    CAST(SUM(csize) AS BIGINT) AS n_docs,
                    CAST(SUM(csize) - COUNT(*) AS BIGINT) AS n_removed
             FROM cs GROUP BY 1 ORDER BY bucket""")
    },
    (s, d) => {
      val clusters = nearDupClusters(Tables.documents(s, d))
      val cs = clusters.groupBy("canonical_id")
        .agg(count(lit(1)).as("csize"))
      val bucket = (0 to 20).foldRight(lit(21): org.apache.spark.sql
          .Column) { (k, acc) =>
        when(col("csize") <= (1L << k), k).otherwise(acc)
      }
      cs.groupBy(bucket.cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_clusters"),
          sum("csize").as("n_docs"),
          (sum("csize") - count(lit(1))).as("n_removed"))
        .orderBy("bucket")
    })

  /** Leakage-free train/valid/test split: the content-hash split
    * (q_sample_hash) keyed on the near-dup CLUSTER representative
    * instead of the document — two near-duplicates can never straddle
    * train and test, the leakage a naive per-doc split permits and
    * eval-set contamination audits exist to catch. Composition:
    * LSH pairs → connected components → canonical id → md5 bucket of
    * the canonical id → 80/10/10. Thresholds are integer LITERALS on
    * both sides (0.8·2³² truncates in Scala but rounds under DuckDB's
    * CAST — spelling 3435973836 avoids the boundary divergence). The
    * every-member-shares-its-cluster's-split invariant is structural;
    * DedupSpec asserts it anyway. */
  val leakageSplit = QueryDef(
    "q_leakage_split",
    Some(s"""$nearDupCanonSql,
          spl AS (
            SELECT d.doc_id,
                   COALESCE(c.canonical_id, d.doc_id) AS canonical_id
            FROM documents d LEFT JOIN canon c USING (doc_id)),
          u AS (
            SELECT doc_id, canonical_id,
                   CAST('0x' || substring(md5('split:'
                     || CAST(canonical_id AS VARCHAR)), 1, 8) AS BIGINT)
                     AS ub
            FROM spl)
          SELECT doc_id, canonical_id,
                 CASE WHEN ub < 3435973836 THEN 'train'
                      WHEN ub < 3865470566 THEN 'valid'
                      ELSE 'test' END AS split
          FROM u ORDER BY doc_id"""),
    (s, d) => {
      val clustered = nearDupClusters(Tables.documents(s, d))
      val ub = graft.ops.Sampling.hashBucket(col("canonical_id"), "split:")
      clustered.select(col("doc_id"), col("canonical_id"),
          when(ub < 3435973836L, "train")
            .when(ub < 3865470566L, "valid")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    })

  /** md5-derived Rademacher sign: ±1 from the parity of the first hex
    * nibble of md5(key) — the portable analogue of a seeded ±1 draw. */
  private def rpSign(key: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    1 - 2 * ((d(0) >> 4) & 1)
  }

  /** Random-projection dimension reduction (Achlioptas '01: a ±1
    * Rademacher matrix satisfies Johnson–Lindenstrauss — no Gaussian
    * needed), 64 → 16 dims. The sign matrix is derived from md5, so
    * it is reproducible on any cluster AND re-derivable by the oracle
    * in SQL; each projected coordinate is a left-to-right fold of
    * exact ±embedding[i] doubles (float→double widening and sign
    * flips are exact), so projections hash-match UNROUNDED. Spark
    * inlines the 16×64 sign matrix as literals (model metadata —
    * zero per-row hashing); the oracle recomputes it from md5 to pin
    * the derivation itself. Scale shape: shuffle-free scan, output is
    * 4× narrower — the standard pre-ANN compaction. */
  val embedRp = QueryDef(
    "q_embed_rp",
    Some("""WITH w AS (
              SELECT j, list_transform(range(1, 65),
                       i -> 1 - 2 * (CAST('0x' || substring(
                         md5('rp:' || j || ':' || i), 1, 1) AS INT) % 2))
                       AS s
              FROM (SELECT unnest(range(1, 17)) AS j)),
            proj AS (
              SELECT e.vec_id, w.j,
                     list_reduce(list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) * w.s[i]),
                       (a, b) -> a + b) AS p
              FROM embeddings e, w)
            SELECT vec_id, CAST(j AS INT) AS dim, p AS proj
            FROM proj ORDER BY vec_id, dim"""),
    (s, d) => {
      val projStructs = (1 to 16).map { j =>
        val signs = (1 to 64).map(i => rpSign(s"rp:$j:$i")).toArray
        struct(lit(j).as("dim"),
          aggregate(
            zip_with(col("embedding"), lit(signs),
              (e, sg) => e.cast("double") * sg),
            lit(0.0), (a, x) => a + x).as("proj"))
      }
      Tables.embeddings(s, d)
        .select(col("vec_id"), explode(array(projStructs: _*)).as("pr"))
        .select(col("vec_id"), col("pr.dim").as("dim"),
          col("pr.proj").as("proj"))
        .orderBy("vec_id", "dim")
    })

  /** Cross-document exact-substring dedup (X61 — Lee et al. 2021's
    * headline device, corpus-wide): a k-token window whose exact text
    * occurs ANYWHERE earlier in the corpus (global (doc_id, pos)
    * order) marks its tokens for removal; overlapping spans union and
    * every document is rebuilt from survivors. Generalizes X53 (same
    * span semantics, intra-doc scope) and complements X56 (whole
    * paragraphs): this catches partial overlap at token granularity.
    *
    * Lee et al. build suffix arrays; the shuffle-native equivalent at
    * k-gram granularity keys each window with the portable 60-bit md5
    * shingle key ([[graft.functions.Md5ShingleKeysAll]] — positional,
    * duplicates kept), so winner election shuffles 16-byte
    * (key, doc_id, pos) triples only, never text; dup positions
    * rejoin documents on doc_id and the rebuild is expression-only
    * HOFs. The oracle recomputes the same keys from md5 hex, replays
    * the election with a window, and rebuilds byte-for-byte. */
  val dedupSubstring = QueryDef(
    "q_dedup_substring",
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> len(t) > 0) AS toks
              FROM documents),
            w AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                         i -> CAST('0x' || substring(md5(
                                array_to_string(toks[i:i+2], ' ')), 1, 15)
                              AS BIGINT))
                     ELSE CAST([] AS BIGINT[]) END AS keys
              FROM t),
            e AS (
              SELECT doc_id,
                     unnest(range(1, CAST(len(keys) AS INT) + 1)) AS pos,
                     keys
              FROM w),
            e2 AS (SELECT doc_id, pos, keys[pos] AS key FROM e),
            r AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY key
                       ORDER BY doc_id, pos) AS rn
              FROM e2),
            d AS (
              SELECT doc_id, list(pos ORDER BY pos) FILTER (rn > 1) AS dups
              FROM r GROUP BY doc_id),
            k2 AS (
              SELECT t.doc_id, t.toks, COALESCE(d.dups, []) AS dups
              FROM t LEFT JOIN d USING (doc_id)),
            r2 AS (
              SELECT doc_id, toks, dups,
                     list_distinct(flatten(list_transform(dups,
                       p -> [p, p + 1, p + 2]))) AS rm
              FROM k2),
            k3 AS (
              SELECT doc_id, toks,
                     CAST(len(dups) AS BIGINT) AS n_dup_windows, rm,
                     list_filter(range(1, len(toks) + 1),
                       p -> NOT list_contains(rm, p)) AS kept
              FROM r2)
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   n_dup_windows,
                   CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
                   COALESCE(array_to_string(
                     list_transform(kept, p -> toks[p]), ' '), '')
                     AS cleaned_text
            FROM k3 ORDER BY doc_id"""),
    (s, d) => graft.ops.SubstringDedup
      .clean(Tables.documents(s, d), "doc_id", col("text"), 3)
      .orderBy("doc_id"))

  /** Embedding-space outlier filter (X60): drop vectors whose distance
    * to the corpus centroid is an extreme z-score — the embedding-side
    * noise pass (mislabeled scrapes, encoder failures, empty-content
    * vectors) that runs next to SemDeDup in embedding-based curation.
    *
    * Scale shape: the centroid is one fixed-width (dim, value) shuffle
    * with map-side partial sums → 64 driver cells; distance and
    * z-scoring are shuffle-free scans with the centroid inlined as a
    * 64-double literal. Cross-engine: centroid components and the
    * μ/σ scalars quantize at 1e-6 (aggregated floats), after which
    * distances are IDENTICAL left-to-right folds of exact operands
    * (the list_reduce device) and sqrt is IEEE-correctly-rounded — so
    * dist, z, and the outlier boolean all hash-match UNROUNDED. */
  val embedOutlier = QueryDef(
    "q_embed_outlier", {
      val sq = "(CAST(embedding[i] AS DOUBLE) - cl.c[i])"
      Some(s"""WITH dims AS (
              SELECT t.i AS dim,
                     FLOOR((SUM(CAST(embedding[t.i] AS DOUBLE))
                            / COUNT(*)) * 1000000 + 0.5) / 1000000 AS cq
              FROM embeddings, range(1, 65) t(i) GROUP BY t.i),
            cl AS (SELECT list(cq ORDER BY dim) AS c FROM dims),
            d AS (
              SELECT vec_id,
                     SQRT(list_reduce(list_transform(range(1, 65),
                       i -> $sq * $sq), (x, y) -> x + y)) AS dist
              FROM embeddings, cl),
            st AS (
              SELECT FLOOR((SUM(dist) / COUNT(*)) * 1000000 + 0.5)
                       / 1000000 AS mu,
                     FLOOR((SUM(dist * dist) / COUNT(*)) * 1000000 + 0.5)
                       / 1000000 AS m2
              FROM d)
            SELECT vec_id, dist,
                   (dist - mu) / SQRT(m2 - mu * mu) AS z,
                   ((dist - mu) / SQRT(m2 - mu * mu) > 2.0) AS outlier
            FROM d, st ORDER BY vec_id""")
    },
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val cq: Seq[Double] = emb
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(sum(col("v").cast("double")).as("sv"), count(lit(1)).as("n"))
        .collect().sortBy(_.getInt(0))
        .map(r => Num.qround(r.getDouble(1) / r.getLong(2), 6)).toSeq
      val diffSq = zip_with(col("embedding"), lit(cq.toArray),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c))
      val dist = sqrt(aggregate(diffSq, lit(0.0), (a, x) => a + x))
      val dd = emb.select(col("vec_id"), dist.as("dist"))
      val st = dd
        .agg(sum("dist"), count(lit(1)), sum(col("dist") * col("dist")))
        .head
      val n = st.getLong(1).toDouble
      val mu = Num.qround(st.getDouble(0) / n, 6)
      val m2 = Num.qround(st.getDouble(2) / n, 6)
      val sigma = math.sqrt(m2 - mu * mu)
      dd.select(col("vec_id"), col("dist"),
          ((col("dist") - mu) / sigma).as("z"),
          ((col("dist") - mu) / sigma > 2.0).as("outlier"))
        .orderBy("vec_id")
    })

  // ------------------------------ X91 blocked fuzzy join (edit dist)

  /** The fuzzy joins' candidate pairs: distinct part names `names`
    * (name, n, blk = last word) and the head of the output row, over
    * `names a JOIN names b` on the block with a.name < b.name. */
  private val partNamesSql =
    """WITH names AS (
              SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n,
                     string_split(p_name, ' ')[-1] AS blk
              FROM part GROUP BY p_name)
            SELECT a.name AS name_a, b.name AS name_b,
                   a.n AS n_a, b.n AS n_b,"""

  /** The Spark side of [[partNamesSql]]: same-block name pairs
    * (blk, name_a, n_a, name_b, n_b) with name_a < name_b. */
  private def namePairs(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n"))
      .withColumn("blk", element_at(split(col("name"), " "), -1))
    val a = names.select(col("name").as("name_a"), col("n").as("n_a"),
      col("blk"))
    val b = names.select(col("name").as("name_b"), col("n").as("n_b"),
      col("blk"))
    a.join(b, Seq("blk")).where(col("name_a") < col("name_b"))
  }

  /** Blocked fuzzy self-join (X91 — the record-linkage primitive next
    * to the set-similarity family X2–X4: entity resolution over dirty
    * catalogs/author names matches by EDIT distance, which shingle
    * Jaccard can't see at short-string scale). Classic
    * blocking-key design (Fellegi–Sunter practice): exact-dedup names
    * first (keyed aggregate), block on the name's last token, pair
    * quadratically ONLY within a block (the X4 contract — never
    * all-pairs), keep Levenshtein ≤ 2. Cross-block typos in the
    * blocking token itself are missed BY DESIGN — that is the
    * documented blocking trade-off (production systems union several
    * blocking passes). Levenshtein is the standard unweighted DP on
    * both engines — integer-exact, no float discipline needed. */
  val fuzzyJoin = QueryDef(
    "q_fuzzy_join",
    Some(s"""$partNamesSql
                   CAST(levenshtein(a.name, b.name) AS INT) AS dist
            FROM names a JOIN names b
              ON a.blk = b.blk AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 2
            ORDER BY name_a, name_b"""),
    (s, d) => {
      namePairs(s, d)
        .where(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .orderBy("name_a", "name_b")
    })

  /** Blocked Jaro–Winkler fuzzy join (X150 — the transposition-
    * tolerant record-linkage member of the fuzzy family next to X91's
    * levenshtein ≤ 2: JW forgives swapped/shifted characters and
    * boosts agreeing prefixes, the standard for dirty name strings).
    * Same scale shape as q_fuzzy_join: exact-dedup names, block on
    * the last token, quadratic ONLY within a block. The similarity is
    * the native codegen [[graft.functions.JaroWinkler]] expression,
    * pinned bit-for-bit to DuckDB's jaro_winkler_similarity (3000
    * random-pair validation, zero double mismatches) — so the scores
    * hash UNROUNDED and the ≥ τ verdict set is cross-engine exact. */
  val fuzzyJoinJw = QueryDef(
    "q_fuzzy_join_jw",
    Some(s"""$partNamesSql
                   jaro_winkler_similarity(a.name, b.name) AS jw
            FROM names a JOIN names b
              ON a.blk = b.blk AND a.name < b.name
            WHERE jaro_winkler_similarity(a.name, b.name) >= 0.93
            ORDER BY name_a, name_b"""),
    (s, d) => {
      import graft.functions.StringSim
      namePairs(s, d)
        .where(StringSim.jaroWinkler(col("name_a"), col("name_b")) >= 0.93)
        .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
          StringSim.jaroWinkler(col("name_a"), col("name_b")).as("jw"))
        .orderBy("name_a", "name_b")
    })

  /** Soundex phonetic encoding (X161 — Russell/Odell's 1918 code, the
    * phonetic BLOCKING key of classic record linkage: names that
    * sound alike share a code, so candidate pairs come from one
    * equi-join on the code instead of any pairwise scan — the third
    * fuzzy-family member next to levenshtein X91 and Jaro–Winkler
    * X150). Spark side is the BUILT-IN `soundex` (codegen'd — the
    * functions-not-UDFs rule); the oracle replays the exact
    * H/W-transparent algorithm (H/W never reset the last code,
    * vowels do; the first letter's code participates in collapse) as
    * a list_reduce state machine over the letter-code map string —
    * validated on the classic vectors (Ashcraft→A261, Pfister→P236,
    * Honeyman→H555, Tymczak→T522) against the builtin bit-for-bit.
    * Names are the corpus token vocabulary normalized to letters only
    * (the standard pre-encoding cleanup — Soundex is defined on
    * alphabetic strings; non-letter handling is engine-defined, so
    * the normalization is part of the recorded contract). Per-name
    * rows hash-check EVERY encoding; the blocking histogram is one
    * groupBy away. */
  val soundexBlock = QueryDef(
    "q_soundex_block",
    Some("""WITH names AS (
              SELECT DISTINCT regexp_replace(t, '[^A-Za-z]', '', 'g')
                       AS name
              FROM (SELECT unnest(list_filter(
                      string_split_regex(text, '\s+'),
                      x -> len(x) > 0)) AS t
                    FROM documents)
              WHERE len(regexp_replace(t, '[^A-Za-z]', '', 'g')) > 0),
            s AS (
              SELECT name,
                CASE WHEN len(name) <= 1 THEN upper(name) || '000'
                ELSE upper(name[1]) || rpad(substring(split_part(
                  list_reduce(
                    list_prepend('|' ||
                        substring('01230127022455012623017202',
                          ascii(upper(name[1])) - 64, 1),
                      list_transform(
                        list_filter(string_split_regex(
                            substring(upper(name), 2), ''),
                          c -> c <> ''),
                        c -> substring('01230127022455012623017202',
                               ascii(c) - 64, 1))),
                    (acc, c) -> CASE
                      WHEN c = '7' THEN acc
                      WHEN c = '0' THEN split_part(acc, '|', 1) || '|0'
                      WHEN c = split_part(acc, '|', 2) THEN acc
                      ELSE split_part(acc, '|', 1) || c || '|' || c END),
                  '|', 1), 1, 3), 3, '0') END AS code
              FROM names)
            SELECT name, code FROM s ORDER BY name"""),
    (s, d) => Tables.documents(s, d)
      .select(explode(filter(split(col("text"), "\\s+"),
        t => length(t) > 0)).as("t"))
      .select(regexp_replace(col("t"), "[^A-Za-z]", "").as("name"))
      .filter(length(col("name")) > 0)
      .distinct()
      .select(col("name"), soundex(col("name")).as("code"))
      .orderBy("name"))

  /** Sorted-neighborhood linkage (X162 — Hernández & Stolfo 1995; see
    * [[graft.ops.SortedNeighborhood]]): every part-name pair within 3
    * sorted positions, verified at Jaro–Winkler ≥ 0.9 with the X150
    * bit-identical expression. The sliding-window alternative to key
    * blocking: candidate budget n·w by construction, rank from the
    * two-pass bucket device, neighbor pairs from rank-bucketization —
    * no global window, no same-key quadratic anywhere. */
  val sortedNeighborhood = QueryDef(
    "q_sorted_neighborhood",
    Some("""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
            r AS (
              SELECT name, CAST(ROW_NUMBER() OVER (ORDER BY name)
                AS BIGINT) AS rk
              FROM names),
            p AS (
              SELECT a.name AS name_a, b.name AS name_b,
                     b.rk - a.rk AS rank_dist
              FROM r a JOIN r b
                ON b.rk > a.rk AND b.rk <= a.rk + 3)
            SELECT name_a, name_b, rank_dist,
                   jaro_winkler_similarity(name_a, name_b) AS jw,
                   jaro_winkler_similarity(name_a, name_b) >= 0.9
                     AS is_match
            FROM p
            ORDER BY name_a, name_b"""),
    (s, d) => {
      import graft.functions.StringSim
      // the FULL n·w window pair set is the compared result (not just
      // the matches): a hash-green row proves every global rank the
      // two-pass device assigned and every JW score
      val pairs = graft.ops.SortedNeighborhood.pairs(
        Tables.part(s, d).select(col("p_name")), "p_name", w = 3)
      val jw = StringSim.jaroWinkler(col("name_a"), col("name_b"))
      pairs
        .select(col("name_a"), col("name_b"), col("rank_dist"),
          jw.as("jw"), (jw >= 0.9).as("is_match"))
        .orderBy("name_a", "name_b")
    })

  // ----------------------------------- X103 n-gram novelty curve

  /** Per-document n-gram novelty (X103 — the corpus-growth diagnostic
    * next to the X86 yield report: what fraction of each document's
    * 3-shingles appears HERE for the first time, in doc_id order? A
    * crawl whose novelty curve collapses is re-crawling what it
    * already has — the "diminishing returns" signal incremental
    * corpus builds (X32) key their stop rule on). First occurrence =
    * min(doc_id) per shingle: one keyed aggregate over the portable
    * 60-bit md5 shingle keys (only (key, id) longs shuffle — the X81
    * device; the oracle works on shingle STRINGS, hash-invariant
    * modulo the negligible-collision assumption X81 records), joined
    * back on the key, counted per doc. Shingle-less docs emit 0/null
    * (full-universe discipline). */
  val ngramNovelty = QueryDef(
    "q_ngram_novelty",
    Some(s"""${sqlShingleCte(3)},
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            f AS (SELECT s, CAST(MIN(doc_id) AS BIGINT) AS first
                  FROM ex GROUP BY s),
            per AS (
              SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                     CAST(SUM(CASE WHEN f.first = ex.doc_id
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_novel
              FROM ex JOIN f USING (s) GROUP BY ex.doc_id)
            SELECT d.doc_id,
                   COALESCE(per.n_shingles, 0) AS n_shingles,
                   COALESCE(per.n_novel, 0) AS n_novel,
                   CASE WHEN COALESCE(per.n_shingles, 0) > 0 THEN
                     CAST(per.n_novel AS DOUBLE) /
                       CAST(per.n_shingles AS DOUBLE) END AS novelty
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sh = docs.select(col("doc_id"),
        explode(graft.functions.ShingleFunctions
          .md5ShingleKeys(col("text"), 3)).as("h"))
      val first = sh.groupBy("h").agg(min("doc_id").as("first"))
      val per = sh.join(first, "h")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("first") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(coalesce(col("n_shingles"), lit(0L)) > 0,
            col("n_novel").cast("double") /
              col("n_shingles").cast("double")).as("novelty"))
        .orderBy("doc_id")
    })

  /** Winnowing fingerprints (X147 — Schleimer/Wilkerson/Aiken 2003;
    * see [[graft.ops.Winnow]]): k=3 token grams, window w=8 — every
    * w-window's rightmost minimal key, distinct per (pos, key). The
    * full fingerprint TABLE is the compared result (not counts), so a
    * hash-green row proves every selection — window minima, the
    * rightmost tie rule, the distinct fold — is cross-engine exact.
    * Expected density 2/(w+1) ≈ 0.22 of gram positions; WinnowSpec
    * pins the paper's guarantee (a shared run ≥ w+k−1 tokens shares a
    * fingerprint key) on planted overlaps. */
  val winnowFp = QueryDef(
    "q_winnow_fp",
    Some("""WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\s+'),
                                 t -> len(t) > 0) AS toks
              FROM documents),
            w0 AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                         i -> CAST('0x' || substring(md5(
                                array_to_string(toks[i:i+2], ' ')), 1, 15)
                              AS BIGINT))
                     ELSE CAST([] AS BIGINT[]) END AS keys
              FROM t),
            nn0 AS (
              SELECT doc_id, CAST(len(keys) AS INT) AS ng, keys
              FROM w0 WHERE len(keys) > 0),
            e AS (
              SELECT doc_id,
                     unnest(range(1, ng + 1)) AS pos, keys
              FROM nn0),
            e2 AS (SELECT doc_id, pos, keys[pos] AS key FROM e),
            st AS (SELECT doc_id, ng, LEAST(8, ng) AS wl FROM nn0),
            ws AS (
              SELECT doc_id, wl,
                     unnest(range(1, ng - wl + 2)) AS s
              FROM st),
            mem AS (
              SELECT ws.doc_id, ws.s, e2.pos, e2.key
              FROM ws JOIN e2 ON e2.doc_id = ws.doc_id
               AND e2.pos >= ws.s AND e2.pos < ws.s + ws.wl),
            mn AS (
              SELECT doc_id, s, MIN(key) AS mh FROM mem GROUP BY 1, 2),
            sel AS (
              -- rightmost position of the window minimum (the
              -- stateless winnowing tie rule)
              SELECT mem.doc_id, mem.s, mn.mh AS fp_key,
                     MAX(mem.pos) AS pos
              FROM mem JOIN mn ON mn.doc_id = mem.doc_id
               AND mn.s = mem.s AND mem.key = mn.mh
              GROUP BY 1, 2, 3)
            SELECT DISTINCT doc_id, pos, fp_key
            FROM sel ORDER BY doc_id, pos"""),
    (s, d) => graft.ops.Winnow.fingerprints(
        Tables.documents(s, d), "doc_id", "text", k = 3, w = 8)
      .orderBy("doc_id", "pos"))

  /** Winnowing overlap report (X168 — the MOSS detection readout the
    * X147 index exists for: document pairs ranked by DISTINCT shared
    * fingerprint keys; keys on more than 100 docs dropped first —
    * boilerplate protection, the capBuckets contract). Top-25 pairs
    * under the total (n_shared DESC, id_a, id_b) order. The oracle
    * nests the X147 selection replay and re-runs cap, pair join and
    * count. */
  val winnowPairs = QueryDef(
    "q_winnow_pairs", {
      val fpCte = winnowFp.oracle.get
        .replaceAll("ORDER BY doc_id, pos$", "")
      Some(s"""WITH wfp AS ($fpCte),
              sel AS (SELECT DISTINCT doc_id, fp_key FROM wfp),
              keys AS (
                SELECT fp_key FROM sel GROUP BY fp_key
                HAVING COUNT(*) <= 100),
              capped AS (
                SELECT sel.doc_id, sel.fp_key
                FROM sel JOIN keys USING (fp_key)),
              pr AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(COUNT(*) AS BIGINT) AS n_shared
                FROM capped a JOIN capped b
                  ON a.fp_key = b.fp_key AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              SELECT id_a, id_b, n_shared FROM pr
              ORDER BY n_shared DESC, id_a, id_b LIMIT 25""")
    },
    (s, d) => graft.ops.Winnow.sharedFingerprintPairs(
        Tables.documents(s, d), "doc_id", "text", k = 3, w = 8,
        keyCap = 100)
      .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
      .limit(25))

  // ------------------------------------------------- X188 PCA

  /** One power-iteration round as oracle CTEs (the X66 unroll device
    * applied to an eigen-solve): matvec components, the norm, and the
    * normalized state each qround(6) so round t+1 starts from
    * bit-identical doubles on both engines. */
  private def pcaRoundSql(t: Int, g: String, cv: String,
      ortho: Option[String] = None): String = {
    val p = t - 1
    // MATERIALIZED is load-bearing on every per-round state: without
    // it DuckDB re-inlines the covariance CTE (and, through it, the
    // parquet scan) at EVERY round of the chain — exponential plan
    // blowup that exhausts file descriptors before executing.
    val mv = s"""u$g$t AS MATERIALIZED (
              SELECT $cv.i AS i,
                     ${Num.qroundSql(s"SUM($cv.c * v$g$p.x)", 6)} AS u
              FROM $cv JOIN v$g$p ON $cv.j = v$g$p.i GROUP BY $cv.i)"""
    // second-component rounds Gram-Schmidt-project off the given
    // unit vector EVERY round (see Pca.powerIter: deflation alone
    // converges at (λ2/λ1)^t — never orthogonal on a flat spectrum)
    val (src, proj) = ortho match {
      case None => (s"u$g$t", "")
      case Some(o) => (s"o$g$t", s""",
            d$g$t AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM(u$g$t.u * o.x)", 6)} AS d
              FROM u$g$t JOIN $o o ON u$g$t.i = o.i),
            o$g$t AS MATERIALIZED (
              SELECT u$g$t.i,
                     ${Num.qroundSql(s"u$g$t.u - d$g$t.d * o.x", 6)} AS u
              FROM u$g$t JOIN $o o ON u$g$t.i = o.i
                CROSS JOIN d$g$t)""")
    }
    s"""$mv$proj,
            n$g$t AS MATERIALIZED (
              SELECT SQRT(${Num.qroundSql("SUM(u * u)", 6)}) AS nm
              FROM $src),
            v$g$t AS MATERIALIZED (
              SELECT i, ${Num.qroundSql("u / nm", 6)} AS x
              FROM $src CROSS JOIN n$g$t)"""
  }

  private val PcaIters = 12

  /** Two-component PCA projection of the embedding table (X188 — see
    * [[graft.ops.Pca]]: ONE map-side-combining moment pass (count,
    * Σx, Σxxᵀ through the DoubleVecSum accumulator — 4160 doubles per
    * partition cross the wire, never rows), 64×64 covariance
    * eigen-solved ON THE DRIVER by fixed-round deflated power
    * iteration, components re-entering the projection scan as
    * literals; the dimensionality-reduction classic next to X49's
    * random projection — RP preserves distances obliviously, PCA
    * finds the variance-optimal axes). The result is PINNED as
    * "12-round power-iteration PCA" (qround(6) state per round, the
    * X66 discipline; uniform unit start, never random), so the
    * oracle's unrolled replay lands on bit-identical components;
    * projections are sequential zip-folds off identical (μ, v) lanes
    * (the X49 device) and hash RAW. */
  val pcaProject = QueryDef(
    "q_pca_project", {
      val roundsA = (1 to PcaIters).map(pcaRoundSql(_, "a", "cv1"))
        .mkString(",\n            ")
      val roundsB = (1 to PcaIters)
        .map(pcaRoundSql(_, "b", "cv2", ortho = Some(s"va$PcaIters")))
        .mkString(",\n            ")
      val vA = s"va$PcaIters"
      val vB = s"vb$PcaIters"
      Some(s"""WITH ee AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ee),
            dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
            mu AS MATERIALIZED (
              SELECT d.i,
                     ${Num.qroundSql(
                       "SUM(CAST(e.embedding[d.i] AS DOUBLE)) / nn.n",
                       6)} AS x
              FROM ee e CROSS JOIN dims d CROSS JOIN nn
              GROUP BY d.i, nn.n),
            cv1 AS MATERIALIZED (
              SELECT di.i, dj.i AS j,
                     ${Num.qroundSql(
                       "SUM(CAST(e.embedding[di.i] AS DOUBLE) * " +
                         "CAST(e.embedding[dj.i] AS DOUBLE)) / nn.n",
                       6)} - mi.x * mj.x AS c
              FROM ee e CROSS JOIN dims di CROSS JOIN dims dj
                CROSS JOIN nn
                JOIN mu mi ON mi.i = di.i
                JOIN mu mj ON mj.i = dj.i
              GROUP BY di.i, dj.i, nn.n, mi.x, mj.x),
            va0 AS MATERIALIZED (SELECT i, 0.125 AS x FROM dims),
            $roundsA,
            uaf AS MATERIALIZED (
              SELECT cv1.i AS i,
                     ${Num.qroundSql(s"SUM(cv1.c * $vA.x)", 6)} AS u
              FROM cv1 JOIN $vA ON cv1.j = $vA.i GROUP BY cv1.i),
            la AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM($vA.x * uaf.u)", 6)} AS l
              FROM $vA JOIN uaf ON $vA.i = uaf.i),
            cv2 AS MATERIALIZED (
              SELECT cv1.i, cv1.j, cv1.c - la.l * vi.x * vj.x AS c
              FROM cv1 CROSS JOIN la
                JOIN $vA vi ON vi.i = cv1.i
                JOIN $vA vj ON vj.i = cv1.j),
            vb0 AS MATERIALIZED (SELECT i, 0.125 AS x FROM dims),
            $roundsB,
            wa AS MATERIALIZED (
              SELECT cv1.i AS i,
                     ${Num.qroundSql(s"SUM(cv1.c * $vA.x)", 12)} AS u
              FROM cv1 JOIN $vA ON cv1.j = $vA.i GROUP BY cv1.i),
            wb AS MATERIALIZED (
              SELECT cv1.i AS i,
                     ${Num.qroundSql(s"SUM(cv1.c * $vB.x)", 12)} AS u
              FROM cv1 JOIN $vB ON cv1.j = $vB.i GROUP BY cv1.i),
            h11 AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM($vA.x * wa.u)", 12)} AS h
              FROM $vA JOIN wa ON $vA.i = wa.i),
            h12 AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM($vB.x * wa.u)", 12)} AS h
              FROM $vB JOIN wa ON $vB.i = wa.i),
            h22 AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM($vB.x * wb.u)", 12)} AS h
              FROM $vB JOIN wb ON $vB.i = wb.i),
            dsc AS MATERIALIZED (
              SELECT ${Num.qroundSql(
                s"SQRT(${Num.qroundSql(
                  "(h11.h - h22.h) * (h11.h - h22.h) + 4.0 * h12.h * h12.h",
                  12)})", 12)} AS d
              FROM h11 CROSS JOIN h22 CROSS JOIN h12),
            eg1 AS MATERIALIZED (
              SELECT (h12.h = 0.0) AS z, (h11.h < h22.h) AS sw,
                     h11.h AS h11, h12.h AS h12,
                     ${Num.qroundSql("(h11.h + h22.h + dsc.d) / 2.0", 12)}
                       AS l1,
                     ${Num.qroundSql("(h11.h + h22.h - dsc.d) / 2.0", 12)}
                       AS l2
              FROM h11 CROSS JOIN h22 CROSS JOIN h12 CROSS JOIN dsc),
            eg AS MATERIALIZED (
              SELECT z, sw, l1, l2,
                     CASE WHEN z THEN NULL ELSE ${Num.qroundSql(
                       s"h12 / SQRT(${Num.qroundSql(
                         "h12 * h12 + (l1 - h11) * (l1 - h11)", 12)})",
                       12)} END AS al,
                     CASE WHEN z THEN NULL ELSE ${Num.qroundSql(
                       s"(l1 - h11) / SQRT(${Num.qroundSql(
                         "h12 * h12 + (l1 - h11) * (l1 - h11)", 12)})",
                       12)} END AS be
              FROM eg1),
            v1f AS MATERIALIZED (
              SELECT va.i,
                     CASE WHEN eg.z THEN
                       (CASE WHEN eg.sw THEN vb.x ELSE va.x END)
                     ELSE ${Num.qroundSql(
                       "eg.al * va.x + eg.be * vb.x", 6)} END AS x
              FROM $vA va JOIN $vB vb ON va.i = vb.i CROSS JOIN eg),
            v2f AS MATERIALIZED (
              SELECT va.i,
                     CASE WHEN eg.z THEN
                       (CASE WHEN eg.sw THEN va.x ELSE vb.x END)
                     ELSE ${Num.qroundSql(
                       "eg.be * va.x - eg.al * vb.x", 6)} END AS x
              FROM $vA va JOIN $vB vb ON va.i = vb.i CROSS JOIN eg),
            mul AS MATERIALIZED (SELECT list(x ORDER BY i) AS m FROM mu),
            v1l AS MATERIALIZED (SELECT list(x ORDER BY i) AS v FROM v1f),
            v2l AS MATERIALIZED (SELECT list(x ORDER BY i) AS v FROM v2f)
            SELECT e.vec_id,
                   list_reduce(list_transform(range(1, 65),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - mul.m[i])
                          * v1l.v[i]), (a, b) -> a + b) AS pc1,
                   list_reduce(list_transform(range(1, 65),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - mul.m[i])
                          * v2l.v[i]), (a, b) -> a + b) AS pc2,
                   eg.l1 AS lambda1, eg.l2 AS lambda2
            FROM ee e CROSS JOIN mul CROSS JOIN v1l CROSS JOIN v2l
              CROSS JOIN eg
            ORDER BY e.vec_id""")
    },
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val m = graft.ops.Pca.fit(emb, "embedding", dims = 64,
        iters = PcaIters)
      graft.ops.Pca.project(emb, "vec_id", "embedding", m)
        .orderBy("vec_id")
    })

  // --------------------------------------- X178 Fellegi–Sunter

  /** Fellegi–Sunter probabilistic record linkage (X178 — Fellegi &
    * Sunter 1969, the decision theory every production linker
    * (Splink, the Census Bureau matchers) implements: each field
    * comparison contributes log2(m/u) evidence on agreement and
    * log2((1−m)/(1−u)) on disagreement, the pair's total weight is
    * classified by two thresholds into match / possible / non-match —
    * the calibrated upgrade over X91/X150's single-field cutoffs).
    * Records = distinct (p_name, p_brand, p_type) part tuples;
    * candidate pairs from the X91 last-token block (quadratic only
    * within a block); name agreement = the X150 bit-identical
    * Jaro–Winkler ≥ 0.9, brand/container exact equality. m/u are
    * DOCUMENTED priors (match probability / chance-agreement rate —
    * u from each field's alphabet: 25 brands, 6 types, within-block
    * name similarity),
    * their log2 weights computed ONCE in Scala and interpolated into
    * both engines as identical double literals — the 3-term weight
    * sum is then element-wise fixed-order IEEE and rows hash RAW.
    * Emits the positive-evidence pairs (weight > 0), top-50 under the
    * total (weight DESC, fields) order. */
  val fellegiSunter = QueryDef(
    "q_fellegi_sunter", {
      // (m, u) priors per field: P(agree | same entity), P(agree |
      // different entities). u reflects the field's alphabet (25
      // brands, 6 types, within-block name similarity).
      def w(m: Double, u: Double) =
        (math.log(m / u) / math.log(2.0),
          math.log((1.0 - m) / (1.0 - u)) / math.log(2.0))
      val (wNameA, wNameD) = w(0.95, 0.10)
      val (wBrandA, wBrandD) = w(0.95, 0.04)
      val (wContA, wContD) = w(0.95, 1.0 / 6.0)
      val weight =
        s"""(CASE WHEN jaro_winkler_similarity(a.name, b.name) >= 0.9
                  THEN CAST('$wNameA' AS DOUBLE)
                  ELSE CAST('$wNameD' AS DOUBLE) END) +
            (CASE WHEN a.brand = b.brand
                  THEN CAST('$wBrandA' AS DOUBLE)
                  ELSE CAST('$wBrandD' AS DOUBLE) END) +
            (CASE WHEN a.ptype = b.ptype
                  THEN CAST('$wContA' AS DOUBLE)
                  ELSE CAST('$wContD' AS DOUBLE) END)"""
      Some(s"""WITH rec AS (
                SELECT DISTINCT p_name AS name, p_brand AS brand,
                       p_type AS ptype,
                       string_split(p_name, ' ')[-1] AS blk
                FROM part),
              pr AS (
                SELECT a.name AS name_a, a.brand AS brand_a,
                       a.ptype AS type_a,
                       b.name AS name_b, b.brand AS brand_b,
                       b.ptype AS type_b,
                       jaro_winkler_similarity(a.name, b.name) AS jw,
                       $weight AS weight
                FROM rec a JOIN rec b
                  ON a.blk = b.blk
                 AND (a.name, a.brand, a.ptype) <
                     (b.name, b.brand, b.ptype))
              SELECT *,
                     CASE WHEN weight >= 6.0 THEN 'match'
                          ELSE 'possible' END AS verdict
              FROM pr WHERE weight > 0.0
              ORDER BY weight DESC, name_a, brand_a, type_a,
                       name_b, brand_b, type_b
              LIMIT 50""")
    },
    (s, d) => {
      def w(m: Double, u: Double) =
        (math.log(m / u) / math.log(2.0),
          math.log((1.0 - m) / (1.0 - u)) / math.log(2.0))
      val (wNameA, wNameD) = w(0.95, 0.10)
      val (wBrandA, wBrandD) = w(0.95, 0.04)
      val (wContA, wContD) = w(0.95, 1.0 / 6.0)
      val rec = Tables.part(s, d)
        .select(col("p_name").as("name"), col("p_brand").as("brand"),
          col("p_type").as("ptype")).distinct()
        .withColumn("blk", element_at(split(col("name"), " "), -1))
        .localCheckpoint(true) // both sides of the block join
      val a = rec.select(col("name").as("name_a"),
        col("brand").as("brand_a"), col("ptype").as("type_a"),
        col("blk"))
      val b = rec.select(col("name").as("name_b"),
        col("brand").as("brand_b"), col("ptype").as("type_b"),
        col("blk"))
      val jw = graft.functions.StringSim
        .jaroWinkler(col("name_a"), col("name_b"))
      val weight =
        when(jw >= 0.9, lit(wNameA)).otherwise(lit(wNameD)) +
        when(col("brand_a") === col("brand_b"), lit(wBrandA))
          .otherwise(lit(wBrandD)) +
        when(col("type_a") === col("type_b"), lit(wContA))
          .otherwise(lit(wContD))
      a.join(b, Seq("blk"))
        .where(struct(col("name_a"), col("brand_a"), col("type_a")) <
          struct(col("name_b"), col("brand_b"), col("type_b")))
        .select(col("name_a"), col("brand_a"), col("type_a"),
          col("name_b"), col("brand_b"), col("type_b"),
          jw.as("jw"), weight.as("weight"))
        .where(col("weight") > 0.0)
        .withColumn("verdict",
          when(col("weight") >= 6.0, "match").otherwise("possible"))
        .orderBy(col("weight").desc, col("name_a"), col("brand_a"),
          col("type_a"), col("name_b"), col("brand_b"),
          col("type_b"))
        .limit(50)
    })

  // ------------------------------------------------ X206 PPMI-SVD

  private val PpmiV = 32       // vocabulary size (top tokens)
  private val PpmiWin = 2      // symmetric co-occurrence window
  private val PpmiIters = 12

  /** PPMI-SVD static token embeddings (X206 — Levy & Goldberg NIPS
    * 2014: factorizing the positive-PMI co-occurrence matrix is
    * implicitly what skip-gram/word2vec optimizes, and the
    * count-based route is exactly distributable — count, transform,
    * eigen-solve. The count passes (token frequencies, windowed
    * co-occurrence pairs) stream over the corpus map-side-combining;
    * the PPMI matrix is vocabulary-bounded (V² = 1024 cells by the
    * LITERAL V — driver metadata at any corpus scale), and the
    * 2-dim factorization reuses X188's pinned-round deflated power
    * iteration verbatim, components re-emitted as literals. Window =
    * ±2 via the X93 offset-pair device (element-wise, no self-join);
    * vocabulary = top-32 tokens, deterministic (count DESC, token)
    * tie-break; PPMI lanes = max(0, qround(ln(N·c_ab/(c_a·c_b)), 6))
    * off exact integer counts; embeddings e = qround(v·√λ⁺, 6)
    * (PPMI is NOT PSD — a negative λ zeroes the axis, recorded). */
  val ppmiSvd = QueryDef(
    "q_ppmi_svd", {
      val offs = (1 to PpmiWin).map { off =>
        s"""CASE WHEN len(toks) >= ${off + 1} THEN
               list_transform(range(1, CAST(len(toks) AS INT) - ${off - 1}),
                 k -> [toks[k], toks[k + $off]])
             ELSE CAST([] AS VARCHAR[][]) END"""
      }.mkString(" || ")
      val roundsA = (1 to PpmiIters).map(pcaRoundSql(_, "a", "pm"))
        .mkString(",\n            ")
      val roundsB = (1 to PpmiIters)
        .map(pcaRoundSql(_, "b", "pm2", ortho = Some(s"va$PpmiIters")))
        .mkString(",\n            ")
      val vA = s"va$PpmiIters"
      val vB = s"vb$PpmiIters"
      Some(s"""WITH tk AS MATERIALIZED (
              SELECT ${TextQueries.sqlToksShared} AS toks FROM documents),
            tf AS MATERIALIZED (
              SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(toks) AS t FROM tk) GROUP BY t),
            vb AS MATERIALIZED (
              SELECT t, cnt, i FROM (
                SELECT t, cnt, CAST(ROW_NUMBER() OVER
                  (ORDER BY cnt DESC, t) AS INT) AS i
                FROM tf) WHERE i <= $PpmiV),
            pr AS MATERIALIZED (
              SELECT p[1] AS a, p[2] AS b
              FROM (SELECT unnest($offs) AS p FROM tk)),
            pc AS MATERIALIZED (
              SELECT va.i AS i, vbb.i AS j, CAST(COUNT(*) AS BIGINT) AS c
              FROM pr JOIN vb va ON pr.a = va.t
                      JOIN vb vbb ON pr.b = vbb.t
              GROUP BY va.i, vbb.i),
            grid AS (
              SELECT va.i AS i, vbb.i AS j
              FROM vb va CROSS JOIN vb vbb),
            sym AS MATERIALIZED (
              SELECT g.i, g.j,
                     COALESCE(f.c, 0) + COALESCE(r.c, 0) AS c
              FROM grid g
                LEFT JOIN pc f ON f.i = g.i AND f.j = g.j
                LEFT JOIN pc r ON r.i = g.j AND r.j = g.i),
            mg AS MATERIALIZED (
              SELECT i, CAST(SUM(c) AS BIGINT) AS c
              FROM sym GROUP BY i),
            nnp AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM sym),
            pm AS MATERIALIZED (
              SELECT s.i, s.j,
                     CASE WHEN s.c > 0 THEN
                       GREATEST(0.0, ${Num.qroundSql(
                         "LN((CAST(nnp.tot AS DOUBLE) * " +
                           "CAST(s.c AS DOUBLE)) / " +
                           "(CAST(mi.c AS DOUBLE) * CAST(mj.c AS DOUBLE)))",
                         6)})
                     ELSE 0.0 END AS c
              FROM sym s
                JOIN mg mi ON mi.i = s.i
                JOIN mg mj ON mj.i = s.j
                CROSS JOIN nnp),
            va0 AS MATERIALIZED (SELECT i, 0.125 AS x FROM mg),
            $roundsA,
            uaf AS MATERIALIZED (
              SELECT pm.i AS i,
                     ${Num.qroundSql(s"SUM(pm.c * $vA.x)", 6)} AS u
              FROM pm JOIN $vA ON pm.j = $vA.i GROUP BY pm.i),
            la AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM($vA.x * uaf.u)", 6)} AS l
              FROM $vA JOIN uaf ON $vA.i = uaf.i),
            pm2 AS MATERIALIZED (
              SELECT pm.i, pm.j, pm.c - la.l * vi.x * vj.x AS c
              FROM pm CROSS JOIN la
                JOIN $vA vi ON vi.i = pm.i
                JOIN $vA vj ON vj.i = pm.j),
            vb0 AS MATERIALIZED (SELECT i, 0.125 AS x FROM mg),
            $roundsB,
            ubf AS MATERIALIZED (
              SELECT pm.i AS i,
                     ${Num.qroundSql(s"SUM(pm.c * $vB.x)", 6)} AS u
              FROM pm JOIN $vB ON pm.j = $vB.i GROUP BY pm.i),
            lb AS MATERIALIZED (
              SELECT ${Num.qroundSql(s"SUM($vB.x * ubf.u)", 6)} AS l
              FROM $vB JOIN ubf ON $vB.i = ubf.i)
            SELECT vb.t AS token, CAST(vb.i AS BIGINT) AS rnk,
                   vb.cnt,
                   ${Num.qroundSql(
                     s"""v1.x * (CASE WHEN la.l > 0.0
                       THEN SQRT(la.l) ELSE 0.0 END)""", 6)} AS e1,
                   ${Num.qroundSql(
                     s"""v2.x * (CASE WHEN lb.l > 0.0
                       THEN SQRT(lb.l) ELSE 0.0 END)""", 6)} AS e2,
                   la.l AS lambda1, lb.l AS lambda2
            FROM vb
              JOIN $vA v1 ON v1.i = vb.i
              JOIN $vB v2 ON v2.i = vb.i
              CROSS JOIN la CROSS JOIN lb
            ORDER BY rnk""")
    },
    (s, d) => {
      import graft.functions.Text
      val toks = Text.tokens(col("text"))
      val tk = Tables.documents(s, d).select(toks.as("toks"))
        .localCheckpoint(true) // token counts + pair counts read it
      // vocabulary: top-V by count, deterministic tie-break — bounded
      // collect by the LITERAL V
      val vocab = tk.select(explode(col("toks")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t")).limit(PpmiV)
        .collect().zipWithIndex
        .map { case (r, k) => (r.getString(0), r.getLong(1), k + 1) }
      val idx = vocab.map(v => v._1 -> v._3).toMap
      // forward windowed pairs (offsets 1..win), filtered to the
      // vocabulary, counted distributed; the result is <= V^2 rows
      val offCols = (1 to PpmiWin).map { off =>
        when(size(col("toks")) >= off + 1,
          transform(sequence(lit(1), size(col("toks")) - off),
            k => array(element_at(col("toks"), k),
              element_at(col("toks"), k + off))))
          .otherwise(array().cast("array<array<string>>"))
      }
      val fwd = tk.select(explode(concat(offCols: _*)).as("p"))
        .select(element_at(col("p"), 1).as("a"),
          element_at(col("p"), 2).as("b"))
        .filter(col("a").isInCollection(idx.keys.toSeq) &&
          col("b").isInCollection(idx.keys.toSeq))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (idx(r.getString(0)), idx(r.getString(1)),
          r.getLong(2))).toSeq
      val fwdMap = fwd.map { case (i, j, c) => (i, j) -> c }.toMap
        .withDefaultValue(0L)
      val csym = Array.tabulate(PpmiV, PpmiV)((i0, j0) =>
        fwdMap((i0 + 1, j0 + 1)) + fwdMap((j0 + 1, i0 + 1)))
      val marg = Array.tabulate(PpmiV)(i0 => csym(i0).sum)
      val nTot = marg.sum
      val pmM = Array.tabulate(PpmiV, PpmiV) { (i0, j0) =>
        val c = csym(i0)(j0)
        if (c > 0)
          math.max(0.0, Num.qround(math.log(
            (nTot.toDouble * c.toDouble) /
              (marg(i0).toDouble * marg(j0).toDouble)), 6))
        else 0.0
      }
      val (v1, l1, v2, l2) =
        graft.ops.Pca.eigen2(pmM, PpmiV, PpmiIters)
      def scale(l: Double) = if (l > 0.0) math.sqrt(l) else 0.0
      val rows = vocab.map { case (t, cnt, i) =>
        (t, i.toLong, cnt, Num.qround(v1(i - 1) * scale(l1), 6),
          Num.qround(v2(i - 1) * scale(l2), 6), l1, l2)
      }.toSeq
      import s.implicits._
      rows.toDF("token", "rnk", "cnt", "e1", "e2",
          "lambda1", "lambda2")
        .orderBy("rnk")
    })

  /** Blocked Damerau–Levenshtein fuzzy join (X231 — the third member
    * of the string-kernel linkage family: X91 levenshtein (no
    * transpositions), X150 Jaro–Winkler (normalized similarity), and
    * now the UNRESTRICTED transposition edit DISTANCE via the native
    * codegen [[graft.functions.DamerauLevenshtein]] kernel, pinned to
    * DuckDB's damerau_levenshtein (3000 random-pair validation, zero
    * mismatches — the X150 discipline). Same scale shape as both
    * siblings: exact-dedup names, block on the last token, quadratic
    * only within a block. Both distances emitted so the rows SHOW
    * where the transposition credit changes the verdict (dl < lev on
    * swapped-token names); the ≤ 2 gate is on the DL lane. Exact
    * integer lanes — hash raw. */
  val fuzzyJoinDl = QueryDef(
    "q_fuzzy_join_dl",
    Some(s"""$partNamesSql
                   CAST(damerau_levenshtein(a.name, b.name) AS INT)
                     AS dist_dl,
                   CAST(levenshtein(a.name, b.name) AS INT) AS dist_lev
            FROM names a JOIN names b
              ON a.blk = b.blk AND a.name < b.name
            WHERE damerau_levenshtein(a.name, b.name) <= 2
            ORDER BY name_a, name_b"""),
    (s, d) => {
      import graft.functions.StringKernels
      namePairs(s, d)
        .where(StringKernels.damerauLevenshtein(col("name_a"),
          col("name_b")) <= 2)
        .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
          StringKernels.damerauLevenshtein(col("name_a"), col("name_b"))
            .as("dist_dl"),
          levenshtein(col("name_a"), col("name_b")).as("dist_lev"))
        .orderBy("name_a", "name_b")
    })

  /** Golden-record entity resolution (X228 — the MDM step AFTER
    * linkage: X91's fuzzy pairs are only evidence; master data wants
    * CLUSTERS (transitive closure of the match graph) and ONE
    * canonical survivor per cluster under a survivorship rule —
    * here: highest frequency, then shortest, then lexicographic
    * name; the cluster id is the lexicographically-least member, so
    * ids are content-derived and stable across runs). Pairs = the
    * exact q_fuzzy_join construction (same block, same levenshtein
    * ≤ 2 gate — shared so evidence and resolution can't drift).
    * Closure = the X222 path-doubling device on the symmetrized
    * match graph seeded with identity pairs, doubled to FIXPOINT
    * (count-stable probe, ≤ 8 rounds = paths ≤ 2⁸; require guards
    * the pathological chain) — pair volume bounded by the blocked
    * match graph, never |names|². All-integer/string lanes. */
  val goldenRecord = QueryDef(
    "q_golden_record",
    Some("""WITH RECURSIVE names AS (
              SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n,
                     string_split(p_name, ' ')[-1] AS blk
              FROM part GROUP BY p_name),
            pairs AS (
              SELECT a.name AS x, b.name AS y
              FROM names a JOIN names b
                ON a.blk = b.blk AND a.name < b.name
              WHERE levenshtein(a.name, b.name) <= 2),
            und AS (
              SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
            memb AS (SELECT DISTINCT x AS name FROM und),
            reach(s, t) AS (
              SELECT name, name FROM memb
              UNION
              SELECT r.s, u.y FROM reach r JOIN und u ON u.x = r.t),
            lab AS (
              SELECT s AS name, MIN(t) AS cluster_id
              FROM reach GROUP BY s),
            clustered AS (
              SELECT l.cluster_id, l.name, nm.n
              FROM lab l JOIN names nm ON nm.name = l.name),
            ranked AS (
              SELECT cluster_id, name, n,
                     ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY n DESC, length(name) ASC, name ASC)
                       AS rn
              FROM clustered)
            SELECT cluster_id, name, n, rn = 1 AS is_canonical
            FROM ranked ORDER BY cluster_id, name"""),
    (s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n"))
        .withColumn("blk", element_at(split(col("name"), " "), -1))
        .localCheckpoint(true) // pair build + the n re-join
      val a = names.select(col("name").as("x"), col("blk"))
      val b = names.select(col("name").as("y"), col("blk"))
      val pairs = a.join(b, Seq("blk"))
        .where(col("x") < col("y") &&
          levenshtein(col("x"), col("y")) <= 2)
        .select("x", "y")
      val und = pairs
        .union(pairs.select(col("y").as("x"), col("x").as("y")))
        .localCheckpoint()
      val memb = und.select(col("x").as("name")).distinct()
      var reach = memb
        .select(col("name").as("s"), col("name").as("t"))
        .union(und.select(col("x").as("s"), col("y").as("t")))
        .distinct().localCheckpoint()
      // path doubling to fixpoint: closure exact once count stabilizes
      var prev = -1L
      var cnt = reach.count()
      var rounds = 0
      while (cnt != prev && rounds < 8) {
        prev = cnt
        val hop = reach.select(col("s"), col("t").as("m"))
          .join(reach.select(col("s").as("m"), col("t").as("t2")),
            Seq("m"))
          .select(col("s"), col("t2").as("t"))
        reach = reach.union(hop).distinct().localCheckpoint()
        cnt = reach.count()
        rounds += 1
      }
      require(cnt == prev, "golden-record closure did not converge")
      val lab = reach.groupBy(col("s").as("name"))
        .agg(min("t").as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id")
        .orderBy(col("n").desc, length(col("name")).asc,
          col("name").asc)
      lab.join(names.select("name", "n"), Seq("name"))
        .withColumn("rn", row_number().over(w))
        .select(col("cluster_id"), col("name"), col("n"),
          (col("rn") === 1).as("is_canonical"))
        .orderBy("cluster_id", "name")
    })

  /** Near-dup transitivity audit (X287 — the number that decides
    * between X1-style PAIRWISE dedup and X6-style CLUSTER dedup: the
    * ≥0.4-Jaccard candidate relation is not transitive, and every
    * open wedge a–b–c (b near-dups both, a–c below threshold) is a
    * pair transitive closure WOULD merge that pairwise policy keeps —
    * if the open-wedge count is high, connected-components dedup
    * over-merges; if ~0, the policies agree and the cheap one wins).
    * Pairs = the X2 md5-portable MinHash candidates verbatim; wedges
    * = one self-join of the undirected pair list keyed by the shared
    * endpoint (fan-out bounded by the banded candidate degree — the
    * X2 bucketCap keeps that bounded at scale); closure = one keyed
    * left join back to the pair set. All lanes exact integers; the
    * transitivity ratio is an exact-rational (NULL when wedge-free,
    * pinned identically on both engines). */
  val dedupTransitivity = QueryDef(
    "q_dedup_transitivity",
    Some(s"""WITH p0 AS (${dedupMinhashMd5.oracle.get}),
            p AS MATERIALIZED (SELECT id_a, id_b FROM p0),
            u AS (SELECT id_a AS b, id_b AS x FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
            w AS (
              SELECT u1.x AS a, u1.b AS b, u2.x AS c
              FROM u u1 JOIN u u2 ON u2.b = u1.b AND u1.x < u2.x),
            cl AS (
              SELECT w.a, w.c, (p2.id_a IS NOT NULL) AS closed
              FROM w LEFT JOIN p p2
                ON p2.id_a = w.a AND p2.id_b = w.c)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs,
                   CAST(COUNT(*) AS BIGINT) AS n_wedges,
                   CAST(SUM(CASE WHEN closed THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_closed,
                   CASE WHEN COUNT(*) = 0 THEN NULL
                        ELSE CAST(SUM(CASE WHEN closed THEN 1 ELSE 0
                               END) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) END AS transitivity
            FROM cl"""),
    (s, d) => {
      val p = Dedup.minhashPairs(Tables.documents(s, d), "doc_id",
          "text", shingleK = 3, numHashes = 128, bands = 32,
          threshold = 0.4, portableKeys = true)
        .select("id_a", "id_b")
        .localCheckpoint(true) // undirect, wedge join, closure share
      val nPairs = p.count()
      val u = p.select(col("id_a").as("b"), col("id_b").as("x"))
        .unionAll(p.select(col("id_b").as("b"), col("id_a").as("x")))
      val w = u.select(col("b"), col("x").as("a"))
        .join(u.select(col("b").as("b2"), col("x").as("c")),
          col("b2") === col("b") && col("a") < col("c"))
      val cl = w.join(
        p.select(col("id_a").as("pa"), col("id_b").as("pc"))
          .withColumn("closed0", lit(true)),
        col("pa") === col("a") && col("pc") === col("c"), "left")
      cl.agg(count(lit(1)).as("n_wedges"),
          sum(when(col("closed0"), 1L).otherwise(0L)).as("n_closed"))
        .select(lit(nPairs).as("n_pairs"), col("n_wedges"),
          col("n_closed"),
          when(col("n_wedges") === 0, lit(null).cast("double"))
            .otherwise(col("n_closed").cast("double") /
              col("n_wedges").cast("double")).as("transitivity"))
    })

  /** NN-descent k-NN graph construction (X303 — Dong, Moses & Li,
    * WWW 2011: the generic kNN-graph builder behind SemDeDup-scale
    * embedding pipelines, UMAP, and HNSW bootstrapping). The insight:
    * "a neighbor of a neighbor is likely a neighbor" — start from an
    * arbitrary k-regular graph and iterate LOCAL joins only: each
    * round, every node offers its (forward ∪ reverse-capped)
    * neighborhood B(v) as candidate pairs, new pairs are scored, and
    * each node keeps its k best — candidate volume is n·|B|² per
    * round (|B| ≤ 2k), NEVER an n² cross product, which is why this
    * is the 100 TB path where the exact kNN graph cannot run. All
    * shuffles are fixed-width (id, id, cos) rows; each round is
    * localCheckpointed (the X176 iterative discipline — lineage cut
    * per superstep). Paper extras this pinned-5-round form drops:
    * ρ-sampling and new/old incremental flags reduce RESCORING, not
    * results — at fixture scale full rescoring keeps both engines
    * trivially aligned. Init is a deterministic stride lattice
    * (neighbor j = (id + 37·j) mod n — the "arbitrary" start the
    * paper requires, recall ≈ k/n by construction; self-loops are
    * filtered in both lanes — a corpus size divisible by 37 would
    * otherwise seed dst = src edges whose cos = 1.0 squats a top-k
    * slot through every round, ADVICE r16), so the measured
    * recall_init → recall_final lift per eval node IS the descent
    * (0.028 → 0.684 mean recall@16 at n=500; synthetic near-random
    * vectors are the paper's worst case — no local structure to
    * exploit — and rounds-to-converge grows with n, hence the
    * documented ~log n iteration count on real corpora).
    * Everything (init, per-round top-k by bit-identical cosine,
    * ground-truth brute force over the 50 eval nodes) replays in SQL:
    * the oracle unrolls all 5 rounds as MATERIALIZED CTE chains
    * (materialization is load-bearing: each round references its
    * predecessor twice, so inlined CTEs re-evaluate 2^rounds times). */
  /** The X303 NN-descent replay as a CTE chain `e … g$rounds` —
    * shared by q_knn_descent's oracle and the X315 persisted-index
    * oracles (build, query, recall-curve graph lane), which must
    * predict the SAME graph the Spark builder commits. Every
    * multiply-referenced CTE is MATERIALIZED (inlined CTEs re-evaluate
    * 2^rounds times). */
  private[queries] def descentChainSql(k: Int, rounds: Int,
      stride: Int, pfx: String = "", where: String = "",
      eSql: String = ""): String = {
    // `eSql` (X328): override the corpus CTE body entirely — the
    // coarse layer builds over a RANK-REMAPPED mod-s sample
    // (id = vec_id / s over vec_id % s = 0), which keeps ids
    // contiguous so the stride-lattice modulus stays valid
    val cosAB = sqlCosine("a.v", "b.v")
    val wh = if (where.isEmpty) "" else s" WHERE $where"
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s"""${pfx}rev$r AS (
            SELECT node, nbr FROM (
              SELECT dst AS node, src AS nbr,
                     ROW_NUMBER() OVER (PARTITION BY dst
                       ORDER BY cos DESC, src) AS rn
              FROM ${pfx}g$p) ${pfx}rr$r WHERE rn <= $k),
          ${pfx}b$r AS MATERIALIZED (
            SELECT src AS node, dst AS nbr FROM ${pfx}g$p
            UNION
            SELECT node, nbr FROM ${pfx}rev$r),
          ${pfx}cand$r AS (
            SELECT DISTINCT x.nbr AS src, y.nbr AS dst
            FROM ${pfx}b$r x JOIN ${pfx}b$r y
              ON x.node = y.node AND x.nbr <> y.nbr),
          ${pfx}sc$r AS (
            SELECT c.src, c.dst, $cosAB AS cos
            FROM ${pfx}cand$r c
            JOIN ${pfx}e a ON a.id = c.src
            JOIN ${pfx}e b ON b.id = c.dst),
          ${pfx}g$r AS MATERIALIZED (
            SELECT src, dst, cos FROM (
              SELECT src, dst, cos,
                     ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY cos DESC, dst) AS rn
              FROM (SELECT * FROM ${pfx}g$p
                    UNION SELECT * FROM ${pfx}sc$r) u$r) ${pfx}ru$r
            WHERE rn <= $k)"""
    }.mkString(",\n")
    val eBody =
      if (eSql.isEmpty) s"SELECT vec_id AS id, embedding AS v FROM embeddings$wh"
      else eSql
    s"""${pfx}e AS MATERIALIZED ($eBody),
        ${pfx}nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ${pfx}e),
        ${pfx}init AS (
          SELECT src, dst FROM (
            SELECT a.id AS src,
                   CAST((a.id + j.j * $stride) % nn.n AS BIGINT) AS dst
            FROM ${pfx}e a CROSS JOIN ${pfx}nn nn
            CROSS JOIN (SELECT unnest(range(1, ${k + 1})) AS j) j) i0
          WHERE dst <> src),
        ${pfx}g0 AS MATERIALIZED (
          SELECT i.src, i.dst, $cosAB AS cos
          FROM ${pfx}init i
          JOIN ${pfx}e a ON a.id = i.src
          JOIN ${pfx}e b ON b.id = i.dst),
        $roundCtes"""
  }

  /** The X313 RNG prune + X315 entry selection over the descent's
    * final graph `g$rounds` — CTEs `gkd / candp / violp / kept /
    * entryn` predicting exactly what [[graft.ops.AnnGraph.build]]
    * commits: ranked edges, the MRNG keep-set, and the max-out-degree
    * entry node (ties → min id; an exact INTEGER argmax — a centroid
    * entry would compare engine-order-dependent float averages). */
  private[queries] def descentPruneSql(rounds: Int, pfx: String = "",
      srcCte: String = "", eCte: String = "e"): String = {
    val cosAB = sqlCosine("a.v", "b.v")
    val src = if (srcCte.isEmpty) s"g$rounds" else srcCte
    s"""${pfx}gkd AS MATERIALIZED (
          SELECT src, dst, cos,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY cos DESC, dst) AS rn
          FROM $src),
        ${pfx}candp AS (
          SELECT g1.src, g1.dst AS b, g1.cos AS cos_qb, g2.dst AS a
          FROM ${pfx}gkd g1 JOIN ${pfx}gkd g2
            ON g1.src = g2.src AND g2.rn < g1.rn),
        ${pfx}violp AS (
          SELECT DISTINCT c.src, c.b
          FROM ${pfx}candp c
          JOIN $eCte a ON a.id = c.a
          JOIN $eCte b ON b.id = c.b
          WHERE $cosAB > c.cos_qb),
        ${pfx}kept AS MATERIALIZED (
          -- DENSE kept ranks (r19): the committed form re-ranks the
          -- pruned rows 1..m in the same (cos desc, dst) order — the
          -- rank→prune→rerank fixpoint that lets ingest carry
          -- untouched lists (AnnGraph.rerankKept)
          SELECT src, dst, cos,
                 ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY cos DESC, dst) AS rn
          FROM (SELECT g.src, g.dst, g.cos FROM ${pfx}gkd g
                LEFT JOIN ${pfx}violp v
                  ON v.src = g.src AND v.b = g.dst
                WHERE v.b IS NULL) ${pfx}kf),
        ${pfx}entryn AS (
          SELECT src AS node FROM ${pfx}kept GROUP BY src
          ORDER BY COUNT(*) DESC, src ASC LIMIT 1)"""
  }

  val knnDescent = QueryDef(
    "q_knn_descent", {
      val k = 16
      val rounds = 5
      val stride = 37
      val evalN = 50
      val cosAB = sqlCosine("a.v", "b.v")
      Some(s"""WITH ${descentChainSql(k, rounds, stride)},
              truth AS (
                SELECT src, dst FROM (
                  SELECT a.id AS src, b.id AS dst,
                         ROW_NUMBER() OVER (PARTITION BY a.id
                           ORDER BY $cosAB DESC, b.id) AS rn
                  FROM e a JOIN e b ON b.id <> a.id
                  WHERE a.id < $evalN) tr WHERE rn <= $k),
              h0 AS (
                SELECT g.src, CAST(COUNT(*) AS BIGINT) AS h
                FROM g0 g JOIN truth t
                  ON t.src = g.src AND t.dst = g.dst GROUP BY 1),
              hf AS (
                SELECT g.src, CAST(COUNT(*) AS BIGINT) AS h
                FROM g$rounds g JOIN truth t
                  ON t.src = g.src AND t.dst = g.dst GROUP BY 1),
              q AS (SELECT DISTINCT src FROM truth)
              SELECT q.src AS query_id,
                     COALESCE(h0.h, CAST(0 AS BIGINT)) AS hits_init,
                     COALESCE(hf.h, CAST(0 AS BIGINT)) AS hits_final,
                     CAST(COALESCE(h0.h, CAST(0 AS BIGINT)) AS DOUBLE)
                       / $k.0 AS recall_init,
                     CAST(COALESCE(hf.h, CAST(0 AS BIGINT)) AS DOUBLE)
                       / $k.0 AS recall_final
              FROM q
              LEFT JOIN h0 ON h0.src = q.src
              LEFT JOIN hf ON hf.src = q.src
              ORDER BY query_id""")
    },
    (s, d) => {
      val k = 16
      val rounds = 5
      val stride = 37L
      val evalN = 50
      val e = simEmbFrame(s, d) // n×(64 floats): reused by every round
      val n = e.count() // bounded action: table cardinality for the lattice
      // the shared X315 builder — self-loop lattice guard included
      // (ADVICE r16); g0 rides along for the recall-lift readout
      val (g0, g) = graft.ops.AnnGraph.nnDescent(e, n, k, rounds, stride)
      val truth = Similarity.bruteForceTopK(e.select(col("id").as("vec_id"),
            col("v").as("embedding")),
          e.filter(col("id") < evalN).select(col("id").as("vec_id"),
            col("v").as("embedding")),
          "vec_id", "embedding", "vec_id", "embedding", k = k)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      def hits(gr: org.apache.spark.sql.DataFrame) =
        gr.join(truth, Seq("src", "dst")).groupBy("src")
          .agg(count(lit(1)).as("h"))
      val q = truth.select("src").distinct()
      q.join(hits(g0).withColumnRenamed("h", "h0"), Seq("src"), "left")
        .join(hits(g).withColumnRenamed("h", "hf"), Seq("src"), "left")
        .select(col("src").as("query_id"),
          coalesce(col("h0"), lit(0L)).as("hits_init"),
          coalesce(col("hf"), lit(0L)).as("hits_final"),
          (coalesce(col("h0"), lit(0L)).cast("double") / lit(k.toDouble))
            .as("recall_init"),
          (coalesce(col("hf"), lit(0L)).cast("double") / lit(k.toDouble))
            .as("recall_final"))
        .orderBy("query_id")
    })

  /** Greedy beam search over a k-NN graph (X307 — the SERVE half of
    * graph-based ANN: HNSW's layer-0 search loop (Malkov & Yashunin
    * 2018, `ef`=beam) / NSG's routing (Fu et al. VLDB 2019), run on a
    * flat kNN graph: keep a beam of the best-so-far nodes, expand
    * their graph neighbors, score only UNSEEN candidates, repeat —
    * the query never scans the corpus, it walks toward the target.
    * Measured here on the EXACT kNN graph as scaffold (declared
    * brute-force lane — it isolates ROUTING quality from build
    * quality; at scale the graph comes from X303's NN-descent, whose
    * recall price is measured separately). The efficiency readout is
    * n_scored: ~1 + beam·kg·hops candidates regardless of corpus
    * size (measured 243 of 500 at this fixture; the fraction is what
    * shrinks as n grows — that is the serving story). All hops are
    * fixed-width (qid, node) equi-joins + partitioned windows; the
    * anti-join against `seen` is what keeps rescoring zero, mirroring
    * HNSW's visited set. Fully deterministic: entry node pinned,
    * ties break on node id, so the oracle unrolls all 5 hops as
    * MATERIALIZED CTEs and the walk replays bit-for-bit. */
  val knnGraphSearch = QueryDef(
    "q_knn_graph_search", {
      val kg = 16
      val cosAB = sqlCosine("a.v", "b.v")
      Some(s"""WITH e AS MATERIALIZED (
                SELECT vec_id AS id, embedding AS v FROM embeddings),
              gk AS MATERIALIZED (
                SELECT src, dst FROM (
                  SELECT a.id AS src, b.id AS dst,
                         ROW_NUMBER() OVER (PARTITION BY a.id
                           ORDER BY $cosAB DESC, b.id) AS rn
                  FROM e a JOIN e b ON b.id <> a.id) rg
                WHERE rn <= $kg),
              ug AS MATERIALIZED (
                SELECT src AS node, dst AS nbr FROM gk
                UNION SELECT dst, src FROM gk),
              ${beamWalkSql(q0 = 100, q1 = 120, entrySql = "0",
                beam = 8, hops = 5)},
              ${beamReadoutSql(hops = 5, k = 10)}""")
    },
    (s, d) => {
      val kg = 16
      val e = simEmbFrame(s, d)
      val gk = exactGraphEdges(e, kg)
      val ug = symmetrized(gk)
      beamSearchEval(e, ug, q0 = 100L, q1 = 120L, beam = 8, hops = 5,
        k = 10)
    })

  /** (id, v, nrm) embedding frame, checkpointed — shared scaffold of
    * the X307/X313 graph queries and Round16Spec's pruned-search
    * cross-check. */
  private[queries] def simEmbFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("v"),
        Similarity.norm(col("embedding")).as("nrm"))
      .localCheckpoint(true)

  /** Exact kNN edges (src, dst, cos, rn ≤ kg) — the declared
    * brute-force graph scaffold. */
  private[queries] def exactGraphEdges(e: org.apache.spark.sql.DataFrame,
      kg: Int): org.apache.spark.sql.DataFrame = {
    val eIdVec = e.select(col("id").as("vec_id"), col("v").as("embedding"))
    Similarity.bruteForceTopK(eIdVec, eIdVec,
        "vec_id", "embedding", "vec_id", "embedding", k = kg)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cosine").as("cos"), col("rank").as("rn"))
  }

  /** fwd ∪ rev distinct (node, nbr) adjacency of an edge set. */
  private[queries] def symmetrized(gk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    gk.select(col("src").as("node"), col("dst").as("nbr"))
      .union(gk.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct().localCheckpoint(true)

  /** SQL twin of [[beamWalk]]: the `qs / seen0 / f0 / hop`
    * CTE chain — assumes CTEs `e` (id, v) and `ug` (node, nbr) are
    * already defined; `entrySql` is the entry-node expression (a
    * literal for the pinned-scaffold query, `(SELECT node FROM
    * entryn)` for the X315 committed index). Ends WITHOUT a trailing
    * comma (the hop CTEs each lead with one). Hop CTE names are
    * w-prefixed (wc/wn/ws) so the chain can share one WITH clause
    * with [[descentChainSql]]'s cand/sc rounds. */
  private[queries] def beamWalkSql(q0: Int, q1: Int, entrySql: String,
      beam: Int, hops: Int, pfx: String = "",
      entrySetSql: String = "", ugCte: String = "ug",
      seedsCte: String = ""): String = {
    val cosQN = sqlCosine("q.v", "c.v")
    // single entry (`c.id = expr`), an entry SET (`c.id IN (…)`,
    // the X325 multi-entry lane), or PER-QUERY seeds (`seedsCte`
    // rows (qid, node) — the X328 layered lane, where the coarse
    // walk's exit seeds each query's own layer-0 beam) — the hop
    // chain is identical; `ugCte` names the adjacency (the coarse
    // layer walks its own edge set)
    val entryJoin =
      if (entrySetSql.isEmpty) s"c.id = $entrySql"
      else s"c.id IN $entrySetSql"
    val hopCtes = (1 to hops).map { t =>
      val p = t - 1
      s""",
          ${pfx}wc$t AS (
            SELECT DISTINCT f.qid, $ugCte.nbr AS node
            FROM ${pfx}f$p f JOIN $ugCte ON $ugCte.node = f.node
            WHERE $ugCte.nbr <> f.qid),
          ${pfx}wn$t AS (
            SELECT c.qid, c.node FROM ${pfx}wc$t c
            LEFT JOIN ${pfx}seen$p s ON s.qid = c.qid AND s.node = c.node
            WHERE s.node IS NULL),
          ${pfx}ws$t AS (
            SELECT n.qid, n.node, $cosQN AS cos
            FROM ${pfx}wn$t n
            JOIN ${pfx}qs q ON q.qid = n.qid
            JOIN e c ON c.id = n.node),
          ${pfx}seen$t AS MATERIALIZED (
            SELECT * FROM ${pfx}seen$p UNION ALL SELECT * FROM ${pfx}ws$t),
          ${pfx}f$t AS (
            SELECT qid, node FROM (
              SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cos DESC, node) AS rn
              FROM ${pfx}seen$t) ${pfx}r$t WHERE rn <= $beam)"""
    }.mkString
    val seen0 =
      if (seedsCte.isEmpty)
        s"""${pfx}seen0 AS MATERIALIZED (
          SELECT q.qid, c.id AS node, $cosQN AS cos
          FROM ${pfx}qs q JOIN e c ON $entryJoin AND c.id <> q.qid)"""
      else
        s"""${pfx}seen0 AS MATERIALIZED (
          SELECT q.qid, c.id AS node, $cosQN AS cos
          FROM ${pfx}qs q
          JOIN $seedsCte sd ON sd.qid = q.qid
          JOIN e c ON c.id = sd.node AND c.id <> q.qid)"""
    s"""${pfx}qs AS MATERIALIZED (
          SELECT id AS qid, v FROM e
          WHERE id >= $q0 AND id < $q1),
        $seen0,
        ${pfx}f0 AS (SELECT qid, node FROM ${pfx}seen0)
        $hopCtes"""
  }

  /** SQL readout of a beam walk: top-k result set, brute-force truth,
    * n_scored and recall — the q_knn_graph_search /
    * q_ann_graph_index_query output shape. Starts at `res AS` (the
    * caller supplies the comma after [[beamWalkSql]]). */
  private[queries] def beamReadoutSql(hops: Int, k: Int): String = {
    val cosQN = sqlCosine("q.v", "c.v")
    s"""res AS (
          SELECT qid, node FROM (
            SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos DESC, node) AS rn
            FROM seen$hops) rr WHERE rn <= $k),
        truth AS (
          SELECT qid, node FROM (
            SELECT q.qid, c.id AS node,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                     ORDER BY $cosQN DESC, c.id) AS rn
            FROM qs q JOIN e c ON c.id <> q.qid) rt
          WHERE rn <= $k),
        ns AS (
          SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_scored
          FROM seen$hops GROUP BY 1),
        hits AS (
          SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS h
          FROM res r JOIN truth t
            ON t.qid = r.qid AND t.node = r.node GROUP BY 1)
        SELECT ns.qid AS query_id, ns.n_scored,
               COALESCE(hits.h, CAST(0 AS BIGINT)) AS hits,
               CAST(COALESCE(hits.h, CAST(0 AS BIGINT)) AS DOUBLE)
                 / $k.0 AS recall
        FROM ns LEFT JOIN hits ON hits.qid = ns.qid
        ORDER BY query_id"""
  }

  /** A lane's recall readout as CTEs prefixed `p`: its top-10 `res`
    * from the visited set `seenCte`, the visited count `ns` and the
    * hits against the `truth` CTE (qid, node). */
  private def laneReadoutSql(p: String, seenCte: String, truth: String)
      : String =
    s"""${p}res AS (
              SELECT qid, node FROM (
                SELECT qid, node,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cos DESC, node) AS rn
                FROM $seenCte) ${p}rr WHERE rn <= 10),
            ${p}ns AS (
              SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_scored
              FROM $seenCte GROUP BY 1),
            ${p}hits AS (
              SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS h
              FROM ${p}res r JOIN $truth t
                ON t.qid = r.qid AND t.node = r.node GROUP BY 1)"""

  /** A lane's output rows, (key = label, query_id, n_scored, hits,
    * recall@10), from its `<p>ns` and `<p>hits` CTEs. */
  private def laneRowsSql(key: String, label: String, p: String): String =
    s"""SELECT $label AS $key, ns.qid AS query_id, ns.n_scored,
                   COALESCE(h.h, CAST(0 AS BIGINT)) AS hits,
                   CAST(COALESCE(h.h, CAST(0 AS BIGINT)) AS DOUBLE)
                     / 10.0 AS recall
            FROM ${p}ns ns LEFT JOIN ${p}hits h ON h.qid = ns.qid"""

  /** Walk key of a scored frame: (lane, qid) when it carries a `lane`
    * column, else (qid) — an unlaned walk plans with no lane at all. */
  private def walkKeys(df: org.apache.spark.sql.DataFrame): Seq[String] =
    if (df.columns.contains("lane")) Seq("lane", "qid") else Seq("qid")

  /** Rows ranked `rn` ≤ `n` per walk key by (cos DESC, node) — the
    * frontier, seed and top-k cut of every walk, with the tie-break
    * [[beamWalkSql]] replays. */
  private def topByScore(seen: org.apache.spark.sql.DataFrame,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(walkKeys(seen).map(col): _*)
      .orderBy(col("cos").desc, col("node"))
    seen.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** The walk's scorer: ((lane,) qid, node) rows → ((lane,) qid, node,
    * cos) against the query vectors `qs` = (qid, qv, qn). Seeded
    * callers build [[beamWalk]]'s `seen0` with it (self seeds
    * dropped first). */
  private[queries] def beamScore(e: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame,
      rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val corpus = e.select(col("id").as("node"), col("v").as("cv"),
      col("nrm").as("cn"))
    rows.join(qs.select("qid", "qv", "qn"), "qid").join(corpus, "node")
      .select(walkKeys(rows).map(col) ++ Seq(col("node"),
        Similarity.cosineWithNorms(col("qv"), col("cv"),
          col("qn"), col("cn")).as("cos")): _*)
  }

  /** `seen0` of a walk from one shared `entry` node: the entry scored
    * for every query in `qs` (a query that IS the entry gets no seed). */
  private def entrySeen(e: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame,
      entry: Long): org.apache.spark.sql.DataFrame =
    beamScore(e, qs,
      qs.select(col("qid"), explode(array(lit(entry))).as("node"))
        .filter(col("node") =!= col("qid")))

  /** The X307 greedy graph walk — the one hop loop behind every graph
    * serve row. From the scored visited set `seen0`, each hop expands
    * the frontier over adjacency `ug`, scores only UNSEEN candidates
    * (the anti-join against `seen` mirrors HNSW's visited set, so
    * rescoring is zero) and re-fronts to the top-beam of the
    * accumulated set. Returns the scored visited set, which only
    * grows — the superset property the filtered and layered rows'
    * per-query recall dominance rests on.
    *
    *  - Lanes: keyed (lane, qid) when `seen0` has a `lane` column, else
    *    (qid). Every join, distinct, anti-join and window is key-local,
    *    so ONE loop advancing L lanes computes bit-identical per-lane
    *    sets while paying each hop's exchanges and checkpoint once
    *    (r19: q_ann_beam_curve 224 → ~70 driver jobs).
    *  - `beam` / `hops`: per-lane budgets (an unlaned walk passes one
    *    entry); a lane whose hops are spent drops out of the frontier.
    *  - `ug` with a `lane` column is per-lane adjacency (the layered
    *    row's coarse vs fine graphs); otherwise all lanes share it.
    *  - `frontier0`: the first frontier, default all of `seen0` (a
    *    seeded walk). Continuing with frontier0 = top-beam(seen0) IS
    *    the same walk run for more hops; the layered lane passes each
    *    query's coarse-walk exits instead.
    *  - `returnable` (node): re-front only over these nodes (X327
    *    filtered serving). The walk still routes through failing
    *    nodes — they stay in `seen` and their neighbors stay reachable,
    *    the connectivity ACORN keeps by predicate-agnostic traversal —
    *    while beam slots go only to nodes that can be RETURNED. */
  private[queries] def beamWalk(e: org.apache.spark.sql.DataFrame,
      ug: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame,
      seen0: org.apache.spark.sql.DataFrame,
      beam: Map[Int, Int], hops: Map[Int, Int],
      frontier0: Option[org.apache.spark.sql.DataFrame] = None,
      returnable: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val keys = walkKeys(seen0)
    val keyNode = (keys :+ "node").map(col)
    val ugKeys = if (ug.columns.contains("lane")) Seq("lane", "node")
      else Seq("node")
    val beamCol =
      if (beam.values.toSet.size == 1) lit(beam.values.head)
      else beam.foldLeft(lit(0)) { case (acc, (l, b)) =>
        when(col("lane") === l, lit(b)).otherwise(acc) }
    var seen = seen0.localCheckpoint(true)
    var frontier = frontier0.getOrElse(seen).select(keyNode: _*)
    for (t <- 1 to hops.values.max) {
      val live = hops.collect { case (l, h) if h >= t => l }.toSeq
      val cand = (if (live.size == hops.size) frontier
          else frontier.filter(col("lane").isin(live: _*)))
        .join(ug, ugKeys)
        .select(keys.map(col) :+ col("nbr").as("node"): _*)
        .filter(col("node") =!= col("qid")).distinct()
      val fresh = cand.join(seen.select(keyNode: _*), keys :+ "node",
        "left_anti")
      seen = seen.unionByName(beamScore(e, qs, fresh)).localCheckpoint(true)
      frontier = topByScore(returnable.fold(seen)(
          seen.join(_, Seq("node"), "left_semi")), beamCol)
        .select(keyNode: _*)
    }
    seen
  }

  /** Recall readout of scored visited sets for query ids [q0, q1):
    * ((lane,) query_id, n_scored, hits, recall), per walk key — top-k
    * by score against the brute-force top-k (one truth pass shared by
    * every lane), n_scored the exact visited-set size. */
  private[queries] def beamReadout(e: org.apache.spark.sql.DataFrame,
      seen: org.apache.spark.sql.DataFrame, q0: Long, q1: Long, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val keys = walkKeys(seen)
    val truth = Similarity.bruteForceTopK(
        e.select(col("id").as("vec_id"), col("v").as("embedding")),
        e.filter(col("id") >= q0 && col("id") < q1)
          .select(col("id").as("vec_id"), col("v").as("embedding")),
        "vec_id", "embedding", "vec_id", "embedding", k = k)
      .select(col("query_id").as("qid"), col("neighbor_id").as("node"))
    val res = topByScore(seen, lit(k)).select((keys :+ "node").map(col): _*)
    val ns = seen.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_scored"))
    val hits = res.join(truth, Seq("qid", "node"))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("h"))
    ns.join(hits, keys, "left")
      .select(keys.init.map(col) ++ Seq(col("qid").as("query_id"),
        col("n_scored"), coalesce(col("h"), lit(0L)).as("hits"),
        (coalesce(col("h"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall")): _*)
  }

  /** The X307 greedy beam search device over adjacency `ug` from
    * `entry`, with the brute-force recall readout — (query_id,
    * n_scored, hits, recall) for query nodes id ∈ [q0, q1). */
  private[queries] def beamSearchEval(e: org.apache.spark.sql.DataFrame,
      ug: org.apache.spark.sql.DataFrame, q0: Long, q1: Long,
      beam: Int, hops: Int, k: Int, entry: Long = 0L)
      : org.apache.spark.sql.DataFrame = {
    val qs = e.filter(col("id") >= q0 && col("id") < q1)
      .select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seen = beamWalk(e, ug, qs, entrySeen(e, qs, entry),
      beam = Map(0 -> beam), hops = Map(0 -> hops))
    beamReadout(e, seen, q0, q1, k).orderBy("query_id")
  }

  /** The X313 MRNG keep-set over an exact-graph edge frame (body
    * lives in [[graft.ops.AnnGraph.rngPrune]] — shared with the X315
    * persisted-index build). */
  private[queries] def rngKeptEdges(gk: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ops.AnnGraph.rngPrune(gk, e)

  /** RNG-rule k-NN graph pruning (X313 — the edge-diversification
    * step that turns a raw kNN graph into a NAVIGABLE one: NSG's
    * MRNG rule (Fu et al. VLDB 2019), the exhaustive form of HNSW's
    * select-neighbors heuristic (Malkov & Yashunin 2018 §4). A raw
    * kNN list wastes edges on neighbors that are all on the same
    * side of q — routing needs direction DIVERSITY. The rule: drop
    * edge (q, b) when some closer-ranked neighbor a has cos(a, b) >
    * cos(q, b) — b is better reached THROUGH a, so the edge is
    * redundant for greedy routing. We implement the MRNG "all closer
    * candidates" form (one relational NOT-EXISTS — HNSW's kept-only
    * variant is a sequential greedy approximation of it and would
    * need a per-node fold). Cost is local by construction: pair
    * generation is quadratic only WITHIN one node's k-list (n·k²
    * fixed-width rows, never corpus²); the raw graph is the declared
    * exact scaffold (X303 builds it at scale). Output: per-node
    * post-prune degree + a kept-set rank fingerprint. Round16Spec
    * drives the X307 beam search over BOTH edge sets and pins the
    * measured trade: on this near-random fixture the pruned graph
    * scores a materially smaller candidate set at 0.625 vs 0.825
    * recall — a real efficiency-for-recall trade (the published
    * navigability wins need cluster structure for edge diversity to
    * exploit; random vectors are the rule's worst case, same caveat
    * as X303's convergence). */
  val graphPrune = QueryDef(
    "q_graph_prune", {
      val kg = 16
      val cosAB = sqlCosine("a.v", "b.v")
      Some(s"""WITH e AS MATERIALIZED (
                SELECT vec_id AS id, embedding AS v FROM embeddings),
              gk AS MATERIALIZED (
                SELECT src, dst, cos, rn FROM (
                  SELECT a.id AS src, b.id AS dst, $cosAB AS cos,
                         ROW_NUMBER() OVER (PARTITION BY a.id
                           ORDER BY $cosAB DESC, b.id) AS rn
                  FROM e a JOIN e b ON b.id <> a.id) rg
                WHERE rn <= $kg),
              cand AS (
                SELECT g1.src, g1.dst AS b, g1.rn AS rnb,
                       g1.cos AS cos_qb, g2.dst AS a
                FROM gk g1 JOIN gk g2
                  ON g1.src = g2.src AND g2.rn < g1.rn),
              viol AS (
                SELECT DISTINCT c.src, c.b
                FROM cand c
                JOIN e a ON a.id = c.a
                JOIN e b ON b.id = c.b
                WHERE $cosAB > c.cos_qb),
              kept AS (
                SELECT g.src, g.dst, g.rn FROM gk g
                LEFT JOIN viol v ON v.src = g.src AND v.b = g.dst
                WHERE v.b IS NULL)
              SELECT k.src AS node,
                     CAST(COUNT(*) AS BIGINT) AS deg_after,
                     CAST(${kg} AS BIGINT) AS deg_before,
                     CAST(SUM(k.rn) AS BIGINT) AS kept_rank_sum
              FROM kept k GROUP BY k.src
              ORDER BY node""")
    },
    (s, d) => {
      val kg = 16
      val e = simEmbFrame(s, d)
      val gk = exactGraphEdges(e, kg)
        .localCheckpoint(true) // reused: candidate pairs + kept filter
      val kept = rngKeptEdges(gk, e)
      kept.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg_after"),
          sum("rn").as("kept_rank_sum"))
        .select(col("node"), col("deg_after"),
          lit(kg.toLong).as("deg_before"), col("kept_rank_sum"))
        .orderBy("node")
    })

  /** One graph-index directory per (JVM, sf dir) — the q_ann_index_*
    * discipline: concurrent sessions never collide; the build/query/
    * curve rows in one run share the committed artifacts. */
  private[queries] def annGraphDir(d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ann_graph_${ProcessHandle.current().pid()}_$key").getPath
  }

  /** Navigable-graph ANN index BUILD as a committed artifact set
    * (X315 — VERDICT r16 #1: NN-descent construction (X303) + RNG
    * pruning (X313) + entry selection, published through ONE X299
    * manifest swap by [[graft.ops.AnnGraph.build]]; see its scaladoc
    * for the HNSW/NSG correspondence and the integer-argmax entry
    * rationale). The result is the graph's audit computed ONLY from
    * artifacts READ BACK THROUGH THE MANIFEST — per node: post-prune
    * out-degree, kept-rank checksum (Σ rn over kept edges, tying
    * every committed edge to the predicted descent ranking), and the
    * entry flag. The oracle replays the whole build from first
    * principles (descent chain + prune + entry CTEs); a missing
    * manifest file, an edge from a stale build, or a drifted entry
    * all break the hash. All-integer output. */
  val annGraphIndexBuild = QueryDef(
    "q_ann_graph_index_build",
    Some(s"""WITH ${descentChainSql(16, 5, 37)},
            ${descentPruneSql(5)}
            SELECT k.src AS node,
                   CAST(COUNT(*) AS BIGINT) AS deg_after,
                   CAST(SUM(k.rn) AS BIGINT) AS kept_rank_sum,
                   k.src = (SELECT node FROM entryn) AS is_entry
            FROM kept k GROUP BY k.src
            ORDER BY node"""),
    (s, d) => {
      val dir = annGraphDir(d)
      val e = simEmbFrame(s, d)
      graft.ops.AnnGraph.build(e, dir)
      val (edges, entry) = graft.ops.AnnGraph.load(s, dir)
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg_after"),
          sum("rn").cast("long").as("kept_rank_sum"))
        .select(col("node"), col("deg_after"), col("kept_rank_sum"),
          (col("node") === entry).as("is_entry"))
        .orderBy("node")
    })

  /** Navigable-graph ANN index QUERY — serve-only beam search (X315's
    * second half, closing VERDICT r16 #1: the X307 walk answered FROM
    * THE COMMITTED ARTIFACTS ONLY — no n² exact-graph scaffold, no
    * descent, no prune on the serving path; ensureBuilt is the only
    * build trigger). Adjacency is the committed pruned edge set
    * symmetrized; the entry node comes from the committed `entry`
    * table. Readout = the X307 eval (n_scored / hits / recall over
    * the 20-query slice), so the scan-fraction-vs-recall trade of the
    * SERVED graph reads next to q_knn_graph_search's exact-scaffold
    * row. The oracle replays build + walk end to end; the truth lane
    * is the declared 20-query brute force (QueriesSpec bnljByDesign).
    * Serving cost is ~1 + beam·k·hops scored candidates regardless
    * of corpus size — the sf1 probe reads this row's ratio. */
  val annGraphIndexQuery = QueryDef(
    "q_ann_graph_index_query",
    Some(s"""WITH ${descentChainSql(16, 5, 37)},
            ${descentPruneSql(5)},
            ug AS MATERIALIZED (
              SELECT src AS node, dst AS nbr FROM kept
              UNION SELECT dst, src FROM kept),
            ${beamWalkSql(q0 = 100, q1 = 120,
              entrySql = "(SELECT node FROM entryn)",
              beam = 8, hops = 5)},
            ${beamReadoutSql(hops = 5, k = 10)}"""),
    (s, d) => {
      val dir = annGraphDir(d)
      val e = simEmbFrame(s, d)
      graft.ops.AnnGraph.ensureBuilt(e, dir)
      val (edges, entry) = graft.ops.AnnGraph.load(s, dir)
      beamSearchEval(e, symmetrized(edges), q0 = 100L, q1 = 120L,
        beam = 8, hops = 5, k = 10, entry = entry)
    })

  /** Graph-ANN BEAM operating curve (X320 — the X298 discipline
    * applied to the graph family: nprobe is the IVF knob, beam (ef)
    * is the graph knob, and a deployment tunes it off exactly this
    * table — recall and SCANNED CANDIDATE VOLUME at beam = 2/4/8/16
    * over the SAME committed index, read off one result set). All
    * four walks serve from the X315 manifest artifacts (ensureBuilt
    * — one build per JVM, shared with the other graph rows); n_scored
    * is the exact per-query visited-set size, so the cost axis is
    * exact (the IvfPqSpec occupancy identity's graph twin). The
    * oracle replays build + all four walks in ONE statement
    * (prefixed CTE chains); truth is the shared 20-query brute-force
    * lane (declared, QueriesSpec bnljByDesign). Round17Spec pins the
    * measured trade: widening the beam buys recall with scan, and
    * the curve's endpoints bracket the q_ann_graph_index_query
    * operating point. */
  val annBeamCurve = QueryDef(
    "q_ann_beam_curve", {
      val beams = Seq(2, 4, 8, 16)
      val walks = beams.map { b =>
        beamWalkSql(q0 = 100, q1 = 120,
          entrySql = "(SELECT node FROM entryn)", beam = b, hops = 5,
          pfx = s"b${b}_")
      }.mkString(",\n")
      val readouts = beams.map(b =>
        laneReadoutSql(s"b${b}_", s"b${b}_seen5", "btruth")).mkString(",\n")
      val lanes = beams.map(b =>
        laneRowsSql("beam", s"CAST($b AS INT)", s"b${b}_"))
        .mkString("\nUNION ALL\n")
      Some(s"""WITH ${descentChainSql(16, 5, 37)},
              ${descentPruneSql(5)},
              ug AS MATERIALIZED (
                SELECT src AS node, dst AS nbr FROM kept
                UNION SELECT dst, src FROM kept),
              $walks,
              btruth AS MATERIALIZED (
                SELECT qid, node FROM (
                  SELECT q.qid, c.id AS node,
                         ROW_NUMBER() OVER (PARTITION BY q.qid
                           ORDER BY ${sqlCosine("q.v", "c.v")} DESC,
                             c.id) AS rn
                  FROM b2_qs q JOIN e c ON c.id <> q.qid) bt
                WHERE rn <= 10),
              $readouts
              SELECT * FROM ($lanes) u
              ORDER BY beam, query_id""")
    },
    (s, d) => {
      // ONE lane-batched walk for all four beams + ONE shared
      // brute-force truth — per-lane rows bit-identical to four
      // single-lane walks (see beamWalk).
      val beams = Seq(2, 4, 8, 16)
      val dir = annGraphDir(d)
      val e = simEmbFrame(s, d)
      graft.ops.AnnGraph.ensureBuilt(e, dir)
      val (edges, entry) = graft.ops.AnnGraph.load(s, dir)
      val ug = symmetrized(edges)
      val qs = e.filter(col("id") >= 100L && col("id") < 120L)
        .select(col("id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      val seedRows = qs.select(col("qid"),
          explode(array(beams.map(b => lit(b)): _*)).as("lane"),
          lit(entry).as("node"))
        .select("lane", "qid", "node")
      val seen = beamWalk(e, ug, qs,
        beamScore(e, qs, seedRows.filter(col("node") =!= col("qid"))),
        beam = beams.map(b => b -> b).toMap,
        hops = beams.map(b => b -> 5).toMap)
      beamReadout(e, seen, 100L, 120L, k = 10)
        .withColumnRenamed("lane", "beam").orderBy("beam", "query_id")
    })

  /** MULTI-ENTRY beam search over the committed graph index (X325 —
    * VERDICT r17 #5: serving walks from ONE hub with fixed hops, and
    * at 100× corpus the graph diameter grows while hops stay fixed,
    * so single-entry recall decays; HNSW answers with a coarse layer,
    * NSG with a medoid spanning tree — the cheapest relational form
    * is s SPREAD ENTRY POINTS feeding one beam, +{s−1} seed scores
    * of overhead. Entry set = the top-s out-degree hubs of the
    * pruned graph (ties → min id) — the committed single entry IS
    * s = 1 by construction, so the lanes are directly comparable.
    * Output: recall and exact scanned volume for s = 1 vs s = 4 at
    * the SAME beam/hops, one row per (n_entries, query) — the
    * operating table a deployment reads next to q_ann_beam_curve's
    * beam axis. Serves from committed artifacts only (ensureBuilt);
    * the oracle replays build + both walks, deriving each entry set
    * from the replayed kept graph with the same integer argmax.
    * Round18Spec pins the contract: at equal beam the multi-entry
    * walk's recall is ≥ single-entry IN AGGREGATE at a bounded extra
    * scan (per query the trade is not monotone — the beam still
    * truncates, so an extra seed can displace a frontier slot; the
    * per-query rows exist to show exactly that spread). */
  val annGraphMultiEntry = QueryDef(
    "q_ann_graph_multi_entry", {
      val sizes = Seq(1, 4)
      val entrySets = sizes.map { sN =>
        s"""es$sN AS (
              SELECT node FROM (
                SELECT src AS node,
                       ROW_NUMBER() OVER (ORDER BY cnt DESC, src ASC)
                         AS rk
                FROM (SELECT src, CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM kept GROUP BY src) h$sN) r$sN
              WHERE rk <= $sN)"""
      }.mkString(",\n")
      val walks = sizes.map { sN =>
        beamWalkSql(q0 = 100, q1 = 120, entrySql = "",
          beam = 8, hops = 5, pfx = s"m${sN}_",
          entrySetSql = s"(SELECT node FROM es$sN)")
      }.mkString(",\n")
      val readouts = sizes.map(sN =>
        laneReadoutSql(s"m${sN}_", s"m${sN}_seen5", "mtruth")).mkString(",\n")
      val lanes = sizes.map(sN =>
        laneRowsSql("n_entries", s"CAST($sN AS INT)", s"m${sN}_"))
        .mkString("\nUNION ALL\n")
      Some(s"""WITH ${descentChainSql(16, 5, 37)},
              ${descentPruneSql(5)},
              ug AS MATERIALIZED (
                SELECT src AS node, dst AS nbr FROM kept
                UNION SELECT dst, src FROM kept),
              $entrySets,
              $walks,
              mtruth AS MATERIALIZED (
                SELECT qid, node FROM (
                  SELECT q.qid, c.id AS node,
                         ROW_NUMBER() OVER (PARTITION BY q.qid
                           ORDER BY ${sqlCosine("q.v", "c.v")} DESC,
                             c.id) AS rn
                  FROM m1_qs q JOIN e c ON c.id <> q.qid) mt
                WHERE rn <= 10),
              $readouts
              SELECT * FROM ($lanes) u
              ORDER BY n_entries, query_id""")
    },
    (s, d) => {
      val dir = annGraphDir(d)
      val e = simEmbFrame(s, d)
      graft.ops.AnnGraph.ensureBuilt(e, dir)
      val (edges, _) = graft.ops.AnnGraph.load(s, dir)
      val ug = symmetrized(edges)
      val hubs = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("src").asc)
        .select("src").limit(4).collect().map(_.getLong(0)).toSeq
      // r19: both entry-set lanes advance in ONE walk and share ONE
      // brute-force truth (bit-identical per lane — see beamWalk).
      val sizes = Seq(1, 4)
      val qs = e.filter(col("id") >= 100L && col("id") < 120L)
        .select(col("id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      val seedRows = sizes.map { sN =>
        qs.select(lit(sN).as("lane"), col("qid"),
          explode(array(hubs.take(sN).map(lit(_)): _*)).as("node"))
      }.reduce(_ unionByName _)
      val seen = beamWalk(e, ug, qs,
        beamScore(e, qs, seedRows.filter(col("node") =!= col("qid"))),
        beam = sizes.map(_ -> 8).toMap, hops = sizes.map(_ -> 5).toMap)
      beamReadout(e, seen, 100L, 120L, k = 10)
        .withColumnRenamed("lane", "n_entries")
        .orderBy("n_entries", "query_id")
    })

  /** FILTERED ANN serving over the committed graph index (X327 —
    * VERDICT r18 #2: the production retrieval shape none of the ANN
    * rows covered — top-k under a metadata predicate (`label < 3`,
    * ~30% selectivity), the "filtered vector search" every retrieval
    * stack runs. Two lanes at EQUAL beam/hops from the SAME committed
    * X315 artifacts:
    *
    *  - `post` — the naive baseline: the standard unfiltered walk,
    *    visited set post-filtered to passing nodes, top-k;
    *  - `dual` — filter-aware serving: the SAME unfiltered walk
    *    (predicate-agnostic traversal keeps routing through failing
    *    nodes — the connectivity argument of ACORN, Patel et al.
    *    SIGMOD 2024) PLUS a passing-frontier extension ([[beamWalk]]
    *    with `returnable`): `hops` further rounds whose beam spends
    *    slots only on RETURNABLE nodes, ≤ beam·k extra scores per
    *    hop.
    *
    * The dual lane's visited set is a SUPERSET of post's by
    * construction, so its recall vs the filtered ground truth is ≥
    * post's PER QUERY (top-k over a candidate superset: hits =
    * min(k, |truth ∩ visited|), monotone in the visited set —
    * Round19Spec pins both the superset and the recall dominance).
    * Truth is the exact top-k over the PASSING corpus for the
    * 20-query slice (declared brute force, QueriesSpec bnljByDesign —
    * the X74 discipline). n_scored is the exact per-lane visited
    * volume, so the recall-vs-scan price of filter-awareness reads
    * directly off the result. Serving cost stays ~beam·k·hops scored
    * candidates per lane, corpus-independent; at 100 TB the
    * predicate column rides the fixed-width id stream (a semi-join
    * against the metadata table, broadcast at eval scale,
    * co-partitioned at corpus scale). The oracle replays build +
    * walk + extension + filtered truth end to end. */
  val annFiltered = QueryDef(
    "q_ann_filtered", {
      val beam = 8
      val hops = 5
      val cosQN = sqlCosine("q.v", "c.v")
      val extCtes = (1 to hops).map { t =>
        val p = t - 1
        s""",
            e_f$p AS (
              SELECT qid, node FROM (
                SELECT s.qid, s.node,
                       ROW_NUMBER() OVER (PARTITION BY s.qid
                         ORDER BY s.cos DESC, s.node) AS rn
                FROM e_seen$p s JOIN pass pp ON pp.node = s.node) ef$p
              WHERE rn <= $beam),
            e_wc$t AS (
              SELECT DISTINCT f.qid, ug.nbr AS node
              FROM e_f$p f JOIN ug ON ug.node = f.node
              WHERE ug.nbr <> f.qid),
            e_wn$t AS (
              SELECT c.qid, c.node FROM e_wc$t c
              LEFT JOIN e_seen$p s ON s.qid = c.qid AND s.node = c.node
              WHERE s.node IS NULL),
            e_ws$t AS (
              SELECT n.qid, n.node, $cosQN AS cos
              FROM e_wn$t n
              JOIN qs q ON q.qid = n.qid
              JOIN e c ON c.id = n.node),
            e_seen$t AS MATERIALIZED (
              SELECT * FROM e_seen$p UNION ALL SELECT * FROM e_ws$t)"""
      }.mkString
      def readout(p: String, seenCte: String) =
        s"""${p}res AS (
              SELECT qid, node FROM (
                SELECT s.qid, s.node,
                       ROW_NUMBER() OVER (PARTITION BY s.qid
                         ORDER BY s.cos DESC, s.node) AS rn
                FROM $seenCte s JOIN pass pp ON pp.node = s.node) ${p}rr
              WHERE rn <= 10),
            ${p}ns AS (
              SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_scored
              FROM $seenCte GROUP BY 1),
            ${p}hits AS (
              SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS h
              FROM ${p}res r JOIN ptruth t
                ON t.qid = r.qid AND t.node = r.node GROUP BY 1)"""
      Some(s"""WITH ${descentChainSql(16, 5, 37)},
              ${descentPruneSql(5)},
              ug AS MATERIALIZED (
                SELECT src AS node, dst AS nbr FROM kept
                UNION SELECT dst, src FROM kept),
              pass AS MATERIALIZED (
                SELECT vec_id AS node FROM embeddings WHERE label < 3),
              ${beamWalkSql(q0 = 100, q1 = 120,
                entrySql = "(SELECT node FROM entryn)",
                beam = beam, hops = hops)},
              e_seen0 AS MATERIALIZED (
                SELECT qid, node, cos FROM seen$hops)
              $extCtes,
              ptruth AS MATERIALIZED (
                SELECT qid, node FROM (
                  SELECT q.qid, c.id AS node,
                         ROW_NUMBER() OVER (PARTITION BY q.qid
                           ORDER BY $cosQN DESC, c.id) AS rn
                  FROM qs q JOIN e c ON c.id <> q.qid
                  JOIN pass pp ON pp.node = c.id) pt
                WHERE rn <= 10),
              ${readout("p_", s"seen$hops")},
              ${readout("d_", s"e_seen$hops")}
              SELECT * FROM (${laneRowsSql("variant", "'post'", "p_")}
                UNION ALL ${laneRowsSql("variant", "'dual'", "d_")}) u
              ORDER BY variant, query_id""")
    },
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dir = annGraphDir(d)
      val e = simEmbFrame(s, d)
      graft.ops.AnnGraph.ensureBuilt(e, dir)
      val (edges, entry) = graft.ops.AnnGraph.load(s, dir)
      val ug = symmetrized(edges)
      val qs = e.filter(col("id") >= 100 && col("id") < 120)
        .select(col("id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      val pass = Tables.embeddings(s, d).filter(col("label") < 3)
        .select(col("vec_id").as("node")).localCheckpoint(true)
      // the unfiltered walk, shared by both lanes + the extension
      val seenW = beamWalk(e, ug, qs, entrySeen(e, qs, entry),
        beam = Map(0 -> 8), hops = Map(0 -> 5))
      // passing-frontier extension: 5 more hops re-fronted over
      // passing nodes only, starting from seenW's passing top beam
      val seenD = beamWalk(e, ug, qs, seenW,
        beam = Map(0 -> 8), hops = Map(0 -> 5),
        frontier0 = Some(topByScore(seenW.join(pass, Seq("node"),
          "left_semi"), lit(8)).select("qid", "node")),
        returnable = Some(pass))
      // exact top-10 over the PASSING corpus (declared BNLJ truth)
      val truth = Similarity.bruteForceTopK(
          e.join(pass.withColumnRenamed("node", "id"), Seq("id"),
              "left_semi")
            .select(col("id").as("vec_id"), col("v").as("embedding")),
          e.filter(col("id") >= 100 && col("id") < 120)
            .select(col("id").as("vec_id"), col("v").as("embedding")),
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
        .select(col("query_id").as("qid"), col("neighbor_id").as("node"))
        .localCheckpoint(true)
      // r19: one window/agg pass over both variant-tagged lanes
      // instead of a per-lane readout chain (rows bit-identical —
      // the window partitions by (variant, qid)).
      val tagged = seenW.select(lit("post").as("variant"), col("qid"),
          col("node"), col("cos"))
        .unionByName(seenD.select(lit("dual").as("variant"),
          col("qid"), col("node"), col("cos")))
      val wv = Window.partitionBy("variant", "qid")
        .orderBy(col("cos").desc, col("node"))
      val res = tagged.join(pass, Seq("node"), "left_semi")
        .withColumn("rn", row_number().over(wv))
        .filter(col("rn") <= 10).select("variant", "qid", "node")
      val ns = tagged.groupBy("variant", "qid")
        .agg(count(lit(1)).as("n_scored"))
      val hits = res.join(truth, Seq("qid", "node"))
        .groupBy("variant", "qid").agg(count(lit(1)).as("h"))
      ns.join(hits, Seq("variant", "qid"), "left")
        .select(col("variant"), col("qid").as("query_id"),
          col("n_scored"), coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)).cast("double") / lit(10.0))
            .as("recall"))
        .orderBy("variant", "query_id")
    })

  /** LAYERED coarse-entry graph serving (X328 — VERDICT r18 #3:
    * q_ann_graph_index_query straddled 2× at sf1 and X325's flat
    * multi-entry is only the cheap approximation; at 100× corpus the
    * graph DIAMETER grows while hops stay fixed, and the HNSW answer
    * is a coarse upper layer routed first). Construction: the coarse
    * layer is the mod-8 node sample RANK-REMAPPED to contiguous ids
    * (id = vec_id/8 over vec_id % 8 = 0 — rank space keeps the
    * stride-lattice modulus valid, and with content-keyed ids a
    * residue class IS a uniform sample), built by the SAME
    * [[graft.ops.AnnGraph.build]] machinery (NN-descent k=8, 3
    * rounds, RNG prune, hub entry) and committed to its OWN manifest
    * dir — an independent routing accelerator, no cross-manifest
    * coupling with layer 0. Serving composes three lanes at equal
    * layer-0 beam, all from committed artifacts:
    *
    *  - `multi4` — the X325 s=4 hub walk (the flat baseline);
    *  - `multi4ext` — the SAME walk continued 3 more hops
    *    ([[beamWalk]] from its own top beam): the control that
    *    prices what plain extra exploration buys;
    *  - `layered` — the multi4 walk UNION the coarse walk (beam 4,
    *    3 hops over the coarse graph — cost bounded by the COARSE
    *    k·beam·hops, corpus-independent), continued 3 hops with the
    *    first frontier = each query's top-4 COARSE EXITS: the
    *    query-adaptive entries the coarse layer exists to provide.
    *
    * layered's visited set ⊇ multi4's by construction (the X327
    * superset device), so its recall dominates the flat baseline PER
    * QUERY — Round19Spec pins dominance and that adaptivity beats
    * the control per scanned candidate in aggregate; n_scored is the
    * exact per-lane scored volume so the trade reads off the table.
    * At 100× the coarse walk's cost is corpus-independent while its
    * exits track the query into the grown graph — the diameter
    * answer the flat hubs cannot give. The oracle replays BOTH
    * builds (the coarse chain over the rank-remapped corpus CTE),
    * all three serve paths and the inherited 20-query brute-force
    * truth end to end. */
  val annGraphLayered = QueryDef(
    "q_ann_graph_layered", {
      val cosQN = sqlCosine("q.v", "c.v")
      // generic continuation chain: from ${p}seen0/${p}f0, `hops`
      // rounds of expand → minus-seen → score → top-beam refrontier
      def extChain(p: String, beam: Int, hops: Int) =
        (1 to hops).map { t =>
          val pr = t - 1
          s""",
              ${p}wc$t AS (
                SELECT DISTINCT f.qid, ug.nbr AS node
                FROM ${p}f$pr f JOIN ug ON ug.node = f.node
                WHERE ug.nbr <> f.qid),
              ${p}wn$t AS (
                SELECT c.qid, c.node FROM ${p}wc$t c
                LEFT JOIN ${p}seen$pr s
                  ON s.qid = c.qid AND s.node = c.node
                WHERE s.node IS NULL),
              ${p}ws$t AS (
                SELECT n.qid, n.node, $cosQN AS cos
                FROM ${p}wn$t n
                JOIN m4_qs q ON q.qid = n.qid
                JOIN e c ON c.id = n.node),
              ${p}seen$t AS MATERIALIZED (
                SELECT * FROM ${p}seen$pr UNION ALL
                SELECT * FROM ${p}ws$t),
              ${p}f$t AS (
                SELECT qid, node FROM (
                  SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos DESC, node) AS rn
                  FROM ${p}seen$t) ${p}r$t WHERE rn <= $beam)"""
        }.mkString
      Some(s"""WITH ${descentChainSql(16, 5, 37)},
              ${descentPruneSql(5)},
              ug AS MATERIALIZED (
                SELECT src AS node, dst AS nbr FROM kept
                UNION SELECT dst, src FROM kept),
              ${descentChainSql(8, 3, 37, pfx = "c",
                eSql = "SELECT vec_id // 8 AS id, embedding AS v " +
                  "FROM embeddings WHERE vec_id % 8 = 0")},
              ${descentPruneSql(3, pfx = "c", srcCte = "cg3",
                eCte = "ce")},
              cug AS MATERIALIZED (
                SELECT src * 8 AS node, dst * 8 AS nbr FROM ckept
                UNION SELECT dst * 8, src * 8 FROM ckept),
              ${beamWalkSql(q0 = 100, q1 = 120,
                entrySql = "(SELECT node * 8 FROM centryn)",
                beam = 4, hops = 3, pfx = "cw_", ugCte = "cug")},
              seeds AS (
                SELECT qid, node FROM (
                  SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos DESC, node) AS rn
                  FROM cw_seen3) sx WHERE rn <= 4),
              es4 AS (
                SELECT node FROM (
                  SELECT src AS node,
                         ROW_NUMBER() OVER (ORDER BY cnt DESC, src ASC)
                           AS rk
                  FROM (SELECT src, CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM kept GROUP BY src) h4) r4
                WHERE rk <= 4),
              ${beamWalkSql(q0 = 100, q1 = 120, entrySql = "",
                beam = 8, hops = 5, pfx = "m4_",
                entrySetSql = "(SELECT node FROM es4)")},
              xc_seen0 AS MATERIALIZED (
                SELECT qid, node, cos FROM m4_seen5),
              xc_f0 AS (
                SELECT qid, node FROM (
                  SELECT qid, node, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cos DESC, node) AS rn
                  FROM xc_seen0) xcf WHERE rn <= 8)
              ${extChain("xc_", beam = 8, hops = 3)},
              xl_seen0 AS MATERIALIZED (
                SELECT qid, node, cos FROM m4_seen5
                UNION
                SELECT qid, node, cos FROM cw_seen3),
              xl_f0 AS (SELECT qid, node FROM seeds)
              ${extChain("xl_", beam = 8, hops = 3)},
              ltruth AS MATERIALIZED (
                SELECT qid, node FROM (
                  SELECT q.qid, c.id AS node,
                         ROW_NUMBER() OVER (PARTITION BY q.qid
                           ORDER BY $cosQN DESC, c.id) AS rn
                  FROM m4_qs q JOIN e c ON c.id <> q.qid) lt
                WHERE rn <= 10),
              ${laneReadoutSql("m4r_", "m4_seen5", "ltruth")},
              ${laneReadoutSql("xcr_", "xc_seen3", "ltruth")},
              ${laneReadoutSql("xlr_", "xl_seen3", "ltruth")}
              SELECT * FROM (${laneRowsSql("variant", "'layered'", "xlr_")}
                UNION ALL ${laneRowsSql("variant", "'multi4'", "m4r_")}
                UNION ALL ${laneRowsSql("variant", "'multi4ext'", "xcr_")}) u
              ORDER BY variant, query_id""")
    },
    (s, d) => {
      val dir = annGraphDir(d)
      val e = simEmbFrame(s, d)
      graft.ops.AnnGraph.ensureBuilt(e, dir)
      val (edges, _) = graft.ops.AnnGraph.load(s, dir)
      val ug = symmetrized(edges)
      // coarse layer: rank-remapped mod-8 sample, own committed dir
      val dirC = annGraphDir(d) + "_coarse"
      if (!graft.ops.Shard.hasCommittedTables(s, dirC,
          graft.ops.AnnGraph.tableNames))
        graft.ops.AnnGraph.build(
          Tables.embeddings(s, d).filter(col("vec_id") % 8 === 0)
            .select((col("vec_id") / lit(8)).cast("long").as("id"),
              col("embedding").as("v"),
              Similarity.norm(col("embedding")).as("nrm"))
            .localCheckpoint(true),
          dirC, k = 8, rounds = 3)
      val (cEdges, cEntryRank) = graft.ops.AnnGraph.load(s, dirC)
      val cug = symmetrized(cEdges.select((col("src") * 8).as("src"),
        (col("dst") * 8).as("dst")))
      val qs = e.filter(col("id") >= 100 && col("id") < 120)
        .select(col("id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"))
      val hubs = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("src").asc)
        .select("src").limit(4).collect().map(_.getLong(0)).toSeq
      // r19: the coarse walk (lane 0: cug, beam 4, 3 hops) and the m4
      // hub walk (lane 1: ug, beam 8, 5 hops) advance in ONE walk over
      // lane-keyed adjacency; the two continuation lanes likewise share
      // one walk; the three readouts share one pass. Per-lane rows
      // bit-identical (see beamWalk); 167 driver jobs -> ~70 at sf0.1.
      val ugLaned = cug.select(lit(0).as("lane"), col("node"), col("nbr"))
        .unionByName(ug.select(lit(1).as("lane"), col("node"),
          col("nbr")))
      val seedRows =
        qs.select(lit(0).as("lane"), col("qid"),
            lit(cEntryRank * 8).as("node"))
          .unionByName(qs.select(lit(1).as("lane"), col("qid"),
            explode(array(hubs.map(lit(_)): _*)).as("node")))
      val walk = beamWalk(e, ugLaned, qs,
        beamScore(e, qs, seedRows.filter(col("node") =!= col("qid"))),
        beam = Map(0 -> 4, 1 -> 8), hops = Map(0 -> 3, 1 -> 5))
      def lane(df: org.apache.spark.sql.DataFrame, l: Int) =
        df.filter(col("lane") === l).select("qid", "node", "cos")
      def tag(df: org.apache.spark.sql.DataFrame, l: Any) =
        df.select(lit(l).as("lane"), col("qid"), col("node"), col("cos"))
      val (cSeen, m4Seen) = (lane(walk, 0), lane(walk, 1))
      // continuations: multi4ext from m4's own top beam (lane 0),
      // layered from m4 ∪ coarse with each query's top-4 coarse exits
      // as the first frontier (lane 1)
      val cont = beamWalk(e, ug, qs,
        tag(m4Seen, 0)
          .unionByName(tag(m4Seen.unionByName(cSeen).distinct(), 1)),
        beam = Map(0 -> 8, 1 -> 8), hops = Map(0 -> 3, 1 -> 3),
        frontier0 = Some(
          topByScore(m4Seen, lit(8)).select(lit(0).as("lane"), col("qid"),
            col("node"))
          .unionByName(topByScore(cSeen, lit(4)).select(lit(1).as("lane"),
            col("qid"), col("node")))))
      beamReadout(e, tag(lane(cont, 1), "layered")
          .unionByName(tag(m4Seen, "multi4"))
          .unionByName(tag(lane(cont, 0), "multi4ext")),
          100L, 120L, k = 10)
        .withColumnRenamed("lane", "variant").orderBy("variant", "query_id")
    })

  /** Navigable-graph index DELTA-INGEST (X321 — the corpus-growth
    * path for the X315 graph index, completing the lifecycle symmetry
    * with the IVF index's X311/X317: build on the first half, then
    * the second half ARRIVES and [[graft.ops.AnnGraph.ingest]]
    * warm-starts flagged NN-descent from the COMMITTED pruned lists
    * (stale) + the new nodes' lattice edges (fresh). The flag rule is
    * Dong et al. §2.3's new/old optimization — the one the pinned
    * X303 form documents dropping: a B(v) pair whose sides both
    * predate this round was already scored, so per-round work is
    * bounded by delta-touched neighborhoods, and Round17Spec proves
    * the rule changes NOTHING (flagged ≡ full-rescore on an all-fresh
    * init). After 2 warm rounds: re-prune (RNG), re-select the entry,
    * republish edges + entry in ONE swap — readers flip atomically
    * from the half-corpus graph to the grown graph. The oracle
    * replays the whole lifecycle: the base build (prefixed descent
    * chain over ids < n/2 + prune), the warm flagged rounds
    * (fresh-propagation as a left-join derived column), the final
    * prune and entry — and audits the committed artifacts per node
    * exactly as q_ann_graph_index_build does. All-integer output. */
  val annGraphIndexDelta = QueryDef(
    "q_ann_graph_index_delta", {
      val k = 16
      val warm = 2
      val cosAB = sqlCosine("a.v", "b.v")
      val basePred =
        "vec_id < (SELECT CAST(FLOOR(COUNT(*) / 2) AS BIGINT) FROM embeddings)"
      val warmCtes = (1 to warm).map { r =>
        val p = r - 1
        s"""wrev$r AS (
              SELECT node, nbr, fresh FROM (
                SELECT dst AS node, src AS nbr, fresh,
                       ROW_NUMBER() OVER (PARTITION BY dst
                         ORDER BY cos DESC, src) AS rn
                FROM w$p) wr$r WHERE rn <= $k),
            wbb$r AS MATERIALIZED (
              SELECT node, nbr, MAX(fr) AS fr FROM (
                SELECT src AS node, dst AS nbr,
                       CASE WHEN fresh THEN 1 ELSE 0 END AS fr FROM w$p
                UNION ALL
                SELECT node, nbr, CASE WHEN fresh THEN 1 ELSE 0 END
                FROM wrev$r) wu$r
              GROUP BY node, nbr),
            wcand$r AS (
              SELECT DISTINCT x.nbr AS src, y.nbr AS dst
              FROM wbb$r x JOIN wbb$r y
                ON x.node = y.node AND x.nbr <> y.nbr
              WHERE x.fr = 1 OR y.fr = 1),
            wsc$r AS (
              SELECT c.src, c.dst, $cosAB AS cos
              FROM wcand$r c
              JOIN e a ON a.id = c.src
              JOIN e b ON b.id = c.dst),
            wm$r AS MATERIALIZED (
              SELECT src, dst, cos FROM (
                SELECT src, dst, cos,
                       ROW_NUMBER() OVER (PARTITION BY src
                         ORDER BY cos DESC, dst) AS rn
                FROM (SELECT src, dst, cos FROM w$p
                      UNION SELECT * FROM wsc$r) wz$r) wq$r
              WHERE rn <= $k),
            w$r AS MATERIALIZED (
              SELECT m.src, m.dst, m.cos, p.dst IS NULL AS fresh
              FROM wm$r m LEFT JOIN w$p p
                ON p.src = m.src AND p.dst = m.dst)"""
      }.mkString(",\n")
      Some(s"""WITH e AS MATERIALIZED (
                SELECT vec_id AS id, embedding AS v FROM embeddings),
              nfull AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
              nb AS (SELECT CAST(FLOOR(n / 2) AS BIGINT) AS n
                     FROM nfull),
              ${descentChainSql(k, 5, 37, pfx = "b",
                where = basePred)},
              ${descentPruneSql(5, pfx = "b", srcCte = "bg5",
                eCte = "be")},
              dinit AS (
                SELECT src, dst FROM (
                  SELECT a.id AS src,
                         CAST((a.id + j.j * 37) % nfull.n AS BIGINT)
                           AS dst
                  FROM e a CROSS JOIN nfull nfull
                  CROSS JOIN (SELECT unnest(range(1, ${k + 1})) AS j) j
                  WHERE a.id >= (SELECT n FROM nb)) di
                WHERE dst <> src),
              w0 AS MATERIALIZED (
                SELECT src, dst, cos, FALSE AS fresh FROM bkept
                UNION ALL
                SELECT i.src, i.dst, $cosAB AS cos, TRUE
                FROM dinit i
                JOIN e a ON a.id = i.src
                JOIN e b ON b.id = i.dst),
              $warmCtes,
              ${descentPruneSql(5, pfx = "d", srcCte = s"w$warm",
                eCte = "e")}
              SELECT k.src AS node,
                     CAST(COUNT(*) AS BIGINT) AS deg_after,
                     CAST(SUM(k.rn) AS BIGINT) AS kept_rank_sum,
                     k.src = (SELECT node FROM dentryn) AS is_entry
              FROM dkept k GROUP BY k.src
              ORDER BY node""")
    },
    (s, d) => {
      val dir = annGraphDir(d) + "_delta"
      val e = simEmbFrame(s, d)
      val nBase = e.count() / 2
      // lifecycle: build on the first half, ingest the second
      graft.ops.AnnGraph.build(e.filter(col("id") < nBase), dir)
      graft.ops.AnnGraph.ingest(e, col("id") >= nBase, dir)
      val (edges, entry) = graft.ops.AnnGraph.load(s, dir)
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg_after"),
          sum("rn").cast("long").as("kept_rank_sum"))
        .select(col("node"), col("deg_after"), col("kept_rank_sum"),
          (col("node") === entry).as("is_entry"))
        .orderBy("node")
    })

  /** Standalone (query_id, neighbor_id, rank) SQL of the X315
    * served-graph walk for query ids < 5 — the recall-curve graph
    * lane (VERDICT r16 #4) embeds this whole statement as a CTE. */
  private[queries] def graphLaneRankSql: String =
    s"""WITH ${descentChainSql(16, 5, 37)},
        ${descentPruneSql(5)},
        ug AS MATERIALIZED (
          SELECT src AS node, dst AS nbr FROM kept
          UNION SELECT dst, src FROM kept),
        ${beamWalkSql(q0 = 0, q1 = 5,
          entrySql = "(SELECT node FROM entryn)", beam = 8, hops = 5)}
        SELECT query_id, neighbor_id, rank FROM (
          SELECT qid AS query_id, node AS neighbor_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, node) AS BIGINT) AS rank
          FROM seen5) zg WHERE rank <= 10"""

  /** Spark twin of [[graphLaneRankSql]]: serve ranks for query ids
    * < `qMax` from the committed graph index (building it once per
    * (JVM, sf) if absent). */
  private[queries] def graphLaneRanks(s: org.apache.spark.sql.SparkSession,
      d: String, qMax: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val dir = annGraphDir(d)
    val e = simEmbFrame(s, d)
    graft.ops.AnnGraph.ensureBuilt(e, dir)
    val (edges, entry) = graft.ops.AnnGraph.load(s, dir)
    val qs = e.filter(col("id") < qMax)
      .select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))
    val seen = beamWalk(e, symmetrized(edges), qs, entrySeen(e, qs, entry),
      beam = Map(0 -> 8), hops = Map(0 -> 5))
    topByScore(seen, lit(k)).select(col("qid").as("query_id"),
      col("node").as("neighbor_id"), col("rn").cast("long").as("rank"))
  }

  val all: Seq[QueryDef] = Seq(dedupExact, dedupExactStrict, dedupNearExact, ppmiSvd,
    dedupTransitivity,
    dedupMinhash, dedupMinhashHt, dedupMinhashMd5, dedupSimhash,
    dedupSimhashMd5, simhashDedupEval, ngramJaccard, dedupContainment,
    dupEmbeddingExact, dupEmbeddingLsh,
    bitextMine,
    annBruteForce, annInt8, annLsh, dedupClusters,
    incrementalClusters, streamIncrementalDedup, dedupIndexCompact,
    dedupKeep,
    dedupYield, leakageSplit,
    embedRp, embedOutlier, dedupSubstring, fuzzyJoin, fuzzyJoinJw,
    ngramNovelty, winnowFp, winnowPairs, soundexBlock, sortedNeighborhood,
    fellegiSunter, pcaProject, goldenRecord, fuzzyJoinDl, knnDescent,
    knnGraphSearch, graphPrune, annGraphIndexBuild, annGraphIndexQuery,
    annBeamCurve, annGraphMultiEntry, annFiltered, annGraphLayered,
    annGraphIndexDelta)
}
