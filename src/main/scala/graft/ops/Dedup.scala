package graft.ops

import graft.functions.{HashFunctions, ShingleFunctions, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §7
  * extensions; constructions follow the public literature — Broder'97
  * MinHash, Charikar'02 SimHash, Gyawali et al. LSH dedup).
  *
  * Scale design notes (100 TB): every variant shuffles FIXED-WIDTH
  * keys (hashes, band ids, 16-bit chunks), never full documents; the
  * only stage that re-reads text is final pair verification, which is
  * an equi-join on doc ids after candidates are already pruned. Bucket
  * caps bound worst-case quadratic blowup inside a degenerate bucket
  * (boilerplate shingles); AQE handles residual skew.
  */
object Dedup {


  /** Exact length prefilter for Jaccard thresholds: jaccard ≥ τ
    * implies min(|A|,|B|) ≥ τ·max(|A|,|B|) — size-incompatible pairs
    * drop before any element work; never changes the result. */
  private def lengthCompatible(shA: org.apache.spark.sql.Column,
      shB: org.apache.spark.sql.Column, threshold: Double) =
    size(shA).cast("double") >= lit(threshold) * size(shB).cast("double") &&
      size(shB).cast("double") >= lit(threshold) * size(shA).cast("double")

  /** Drop bucket groups larger than `cap` before a quadratic self-join
    * (degenerate-bucket protection; trades recall for bounded cost). */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String],
      cap: Int): DataFrame =
    df.join(
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= cap).drop("__n"),
      keys, "left_semi")

  /** Exact dedup by content hash: keeps the minimum id per identical
    * text. Grouping key is (xxhash64, length) — 64-bit + length makes
    * collisions vanishingly rare and keeps the shuffle narrow; the
    * document body never shuffles. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("content_hash"),
        length(col(textCol)).as("content_len"))
      .agg(min(col(idCol)).as("kept_id"),
        count(lit(1)).as("n_copies"))
      .select("kept_id", "n_copies")

  /** Exact dedup with LITERAL text-equality semantics: groups on the
    * document body itself, so two distinct texts can never merge (no
    * hash-collision caveat). The price is shuffling full text as the
    * grouping key — prefer [[exact]] (fixed-width (hash, length) key)
    * at scale, this variant when "exact" must mean exact. */
  def exactStrict(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))
      .select("kept_id", "n_copies")

  /** Near-exact dedup on the normalized fingerprint (case/punct/ws
    * insensitive). */
  def nearExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprintMd5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))
      .select("kept_id", "n_copies", "fp")

  /** Pick (bands, rows) for an LSH banding from the Jaccard threshold:
    * among divisor pairs of `numHashes`, minimize the s-curve error
    * `∫₀^τ P(s)ds + fnWeight·∫τ^1 (1-P(s))ds` where
    * P(s) = 1-(1-s^rows)^bands — false candidates below τ vs missed
    * pairs above it (the datasketch-style optimization; Broder '97
    * banding). fnWeight > 1 biases toward recall. */
  def optimalBanding(numHashes: Int, threshold: Double,
      fnWeight: Double = 2.0): (Int, Int) = {
    val steps = 500
    def err(bands: Int, rows: Int): Double = {
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, rows), bands)
      val fp = (0 until steps).map { i =>
        p((i + 0.5) * threshold / steps) * threshold / steps
      }.sum
      val fn = (0 until steps).map { i =>
        (1.0 - p(threshold + (i + 0.5) * (1 - threshold) / steps)) *
          (1 - threshold) / steps
      }.sum
      fp + fnWeight * fn
    }
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
      .minBy { case (b, r) => err(b, r) }
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle → hash → band buckets (ONE custom one-pass expression —
    * the full signature array is never materialized) → bucket-join on
    * (band, bucket-hash) → verify exact Jaccard on shingle sets.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, only verified
    * pairs ≥ `threshold`.
    *
    * @param bands bands of the LSH banding; pass 0 (the default) to
    *   derive (bands, rows) from `threshold` via [[optimalBanding]] —
    *   the s-curve midpoint lands near τ, so sub-threshold pairs are
    *   pruned before the candidate shuffle instead of flooding
    *   verification.
    * @param bucketCap drop buckets larger than this (degenerate
    *   boilerplate protection; dropped buckets trade recall for
    *   bounded cost — the standard production compromise).
    * @param portableKeys hash shingles with the SQL-reproducible
    *   md5-derived 60-bit keys (Md5ShingleKeys) instead of the
    *   one-pass ShingleHashes — slower per byte, but every stage of
    *   the pipeline (keys, signature, banding, verify) becomes
    *   oracle-checkable; set semantics are identical either way.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 0,
      threshold: Double = 0.7, bucketCap: Int = 1000,
      portableKeys: Boolean = false): DataFrame = {
    // one-pass tokenize+shingle+hash: shingle sets live as array<long>
    // end to end (8-byte elements through the candidate shuffle, no
    // string materialization). r20: widen the input first — at eval
    // scale the corpus is ONE parquet split and this heaviest
    // projection ran serial (Skew.widen is a no-op at corpus scale)
    val sh = Skew.widen(df).select(col(idCol).as("id"),
      (if (portableKeys) ShingleFunctions.md5ShingleKeys(col(textCol), shingleK)
       else ShingleFunctions.shingleHashes(col(textCol), shingleK))
        .as("shingles"))
      // the shingle pass is the corpus's heaviest projection and is
      // consumed by banding AND both verify sides — materialize once
      // (r13 sf1 decomposition: un-checkpointed, the 3x recompute
      // dominated the scale curve)
      .localCheckpoint(true)
    minhashPairsFromShingles(sh, numHashes, bands, threshold, bucketCap)
  }

  /** [[minhashPairs]] over an ALREADY-shingled frame `(id, shingles:
    * array<long>)` — the entry point for callers that share one
    * shingle pass across several pipelines (q_lsh_dedup_eval feeds the
    * same localCheckpoint'ed frame to this AND the exact prefix join,
    * so the corpus is tokenized once, not per pipeline). Semantics and
    * plan from the shingle sets on are identical to [[minhashPairs]]:
    * any injective shingle→long keying yields the same verified pair
    * set, since both the minhash s-curve and the exact Jaccard are
    * functions of the underlying shingle SETS. */
  def minhashPairsFromShingles(sh: DataFrame, numHashes: Int = 128,
      bands: Int = 0, threshold: Double = 0.7,
      bucketCap: Int = 1000): DataFrame = {
    val (nBands, rows) =
      if (bands == 0) optimalBanding(numHashes, threshold)
      else { require(numHashes % bands == 0, "bands must divide numHashes")
        (bands, numHashes / bands) }
    val bucketed = sh.select(col("id"),
      HashFunctions.minhashBandBuckets(col("shingles"), nBands, rows)
        .as("buckets"))
    // (id, band, bucket) is fixed-width and bands·n rows; WITHOUT this
    // checkpoint the 128-minhash signature kernel re-runs for every
    // consumer (capBuckets' two sides + both join sides = 4x) — the
    // r13 sf1 stage decomposition measured the minhash stage at 66.7 s
    // for 50k docs, almost all of it signature recompute
    val banded = bucketed.select(col("id"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
      .localCheckpoint(true)

    val capped = capBuckets(banded, Seq("band", "bucket"), bucketCap)

    val a = capped.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    verifyJaccard(candidates, sh, threshold)
  }

  /** Exact Jaccard verification of candidate pairs against the shingle
    * sets in `sh` (id, shingles). A length prefilter runs before the
    * set intersection: jaccard ≥ τ implies min(|A|,|B|) ≥ τ·max, so
    * size-incompatible pairs are dropped without touching elements —
    * exact, never changes the result. */
  private[ops] def verifyJaccard(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sh.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = sh.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .filter(lengthCompatible(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard",
        graft.functions.ArrayFunctions.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** DELTA-sided MinHash-LSH pairs (X295 candidate stage): verified
    * near-dup pairs where at least one side is in `deltaIds` — the
    * probe a corpus refresh runs when NEW documents join an EXISTING
    * LSH index instead of re-banding the world. The banded (id, band,
    * bucket) index covers the full corpus (in production the old
    * rows' bands are the persisted index and only delta rows band
    * fresh — band keys are per-row, so appending is exact); the
    * candidate join is delta-bands × all-bands, so its cost is
    * O(|Δ| × bucket occupancy), never corpus². Covers delta-vs-old
    * AND delta-vs-delta pairs; verification is the same exact-Jaccard
    * gate as [[minhashPairs]], so the returned set equals the full
    * recompute's pairs restricted to pairs touching the delta
    * (identical banding ⇒ identical candidates per pair).
    *
    * Cap precondition (ADVICE r15): the "delta pairs ≡ full-recompute
    * pairs restricted to the delta" identity holds VERBATIM only when
    * both lanes see identical candidate sets. `capBuckets` keeps the
    * lowest-id `bucketCap` members PER LANE'S OWN banded frame — here
    * the full corpus; a comparison lane that bands only the old docs
    * can keep a near-cap bucket this lane truncates. Equivalence
    * proofs (q_incremental_clusters) therefore pass
    * bucketCap = Int.MaxValue on every lane; production callers keep
    * the cap (a truncated mega-bucket loses candidates identically in
    * maintained and recomputed runs only if both band the same frame). */
  def minhashPairsDelta(df: DataFrame, idCol: String, textCol: String,
      deltaIds: DataFrame, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 0, threshold: Double = 0.7,
      bucketCap: Int = 1000): DataFrame = {
    val (nBands, rows) =
      if (bands == 0) optimalBanding(numHashes, threshold)
      else { require(numHashes % bands == 0, "bands must divide numHashes")
        (bands, numHashes / bands) }
    val sh = df.select(col(idCol).as("id"),
      ShingleFunctions.shingleHashes(col(textCol), shingleK)
        .as("shingles"))
      .localCheckpoint(true)
    val banded = sh.select(col("id"),
      HashFunctions.minhashBandBuckets(col("shingles"), nBands, rows)
        .as("buckets"))
      .select(col("id"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
      .localCheckpoint(true)
    val capped = capBuckets(banded, Seq("band", "bucket"), bucketCap)
    val delta = capped.join(
      broadcast(deltaIds.select(col(deltaIds.columns.head).as("id"))),
      Seq("id"), "left_semi")
      .select(col("band"), col("bucket"), col("id").as("id_d"))
    val allSide = capped.select(col("band"), col("bucket"),
      col("id").as("id_o"))
    val candidates = delta.join(allSide, Seq("band", "bucket"))
      .filter(col("id_d") =!= col("id_o"))
      .select(least(col("id_d"), col("id_o")).as("id_a"),
        greatest(col("id_d"), col("id_o")).as("id_b"))
      .distinct()
    verifyJaccard(candidates, sh, threshold)
  }

  /** Incrementally maintain a canonical-min clustering under document
    * INSERTIONS (X295 merge stage — the dedup sibling of X176's
    * warm-started PageRank and X256's join-view delta rule): old
    * components contract to SUPERNODES (their canonical ids — already
    * the component minimum, so min over merged supernodes IS the
    * global minimum), delta pairs map endpoints through the old
    * mapping, and connected components re-close ONLY over that
    * contracted delta graph — O(|Δ pairs|), never the full corpus's
    * edge set. Docs whose supernode touches no delta edge keep their
    * old canonical untouched. Maintained ≡ recomputed exactly
    * (q_incremental_clusters carries the side-by-side proof), because
    * contraction preserves connectivity and the min-label is
    * associative across merges. */
  def maintainClusters(oldClusters: DataFrame, idCol: String,
      newIds: DataFrame, deltaPairs: DataFrame): DataFrame = {
    val superMap = oldClusters
      .select(col(idCol).as("id"), col("canonical_id").as("super"))
      .unionAll(newIds.select(col(newIds.columns.head).as("id"),
        col(newIds.columns.head).as("super")))
      .localCheckpoint(true) // read by edges, closure ids and the join-back
    val edges = deltaPairs
      .join(superMap.select(col("id").as("id_a"), col("super").as("sa")),
        Seq("id_a"))
      .join(superMap.select(col("id").as("id_b"), col("super").as("sb")),
        Seq("id_b"))
      .filter(col("sa") =!= col("sb"))
      .select(col("sa").as("id_a"), col("sb").as("id_b"))
    val supers = superMap.select(col("super").as("id")).distinct()
    val merged = clusterKeepMin(supers, "id", edges)
      .select(col("id").as("super"), col("canonical_id").as("m"))
    superMap.join(merged, Seq("super"), "left")
      .select(col("id").as(idCol),
        coalesce(col("m"), col("super")).as("canonical_id"))
  }

  /** SimHash near-duplicate pairs: 64-bit signature, candidates via
    * 16-bit chunk blocking (pigeonhole: hamming ≤ 3 guarantees an
    * equal chunk), verified by exact hamming distance. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bucketCap: Int = 1000): DataFrame =
    simhashPairsFromSig(
      df.select(col(idCol).as("id"),
        HashFunctions.simhash64(ShingleFunctions.tokenHashes(col(textCol)))
          .as("sig")),
      maxHamming, bucketCap, bits = 64)

  /** A PORTABLE simhash signature both Spark and a SQL oracle can
    * compute bit-identically — the cross-engine verification twin of
    * [[graft.functions.SimHash64]] (which stays the production path:
    * one custom-expression pass instead of an explode + 60-way
    * aggregate).
    *
    * Construction: whitespace tokens → md5(token) → first 15 hex chars
    * as a 60-bit non-negative int → per-bit ±1 majority vote across the
    * doc's tokens (strictly-positive count sets the bit). Every step is
    * ANSI SQL (md5, substring, hex cast, bit ops), so DuckDB reproduces
    * the exact signature. Docs with no tokens produce no signature. */
  def simhashMd5Sig(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60): DataFrame =
    // r20: widen first — the per-doc md5 simhash kernel is the heavy
    // projection and the eval corpus is one split (no-op at scale)
    Skew.widen(df)
      .filter(size(graft.functions.Text.tokens(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        graft.functions.ShingleFunctions.md5SimHash(col(textCol), bits)
          .as("sig"))

  /** The explode + 60-way conditional-sum formulation of
    * [[simhashMd5Sig]] — exactly what the SQL oracle runs. Kept as the
    * cross-validation reference for the fused Md5SimHash expression;
    * not a production path (it shuffles one row per token). */
  private[ops] def simhashMd5SigReference(df: DataFrame, idCol: String,
      textCol: String, bits: Int = 60): DataFrame = {
    require(bits <= 60, "15 hex chars carry 60 bits")
    val tok = df.select(col(idCol).as("id"),
        explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val h = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b"))
    tok.select(col("id"), h.as("h"))
      .groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until bits).map(b =>
            when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sig"))
  }

  /** Chunk-blocked hamming pairs over precomputed (id, sig)
    * signatures: candidates via `bits/4`-bit chunk blocking
    * (pigeonhole: hamming ≤ 3 guarantees an equal chunk), verified by
    * exact hamming distance. */
  def simhashPairsFromSig(sig: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = 1000, bits: Int = 64): DataFrame = {
    require(maxHamming <= 3, "4 chunks guarantee recall only to hamming 3")
    require(bits % 4 == 0, "chunking assumes 4 equal-width chunks")
    val width = bits / 4
    val mask = (1L << width) - 1L
    val chunks = (0 until 4).map(i =>
      shiftright(col("sig"), i * width).bitwiseAND(lit(mask)))
    val chunked = sig.select(col("id"), col("sig"),
      posexplode(array(chunks: _*)).as(Seq("chunk_idx", "chunk")))

    val capped = capBuckets(chunked, Seq("chunk_idx", "chunk"), bucketCap)

    val a = capped.select(col("chunk_idx"), col("chunk"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = capped.select(col("chunk_idx"), col("chunk"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected-component clustering of near-dup pairs → canonical
    * keep-set: every document gets the minimum id of its component as
    * `canonical_id` (keep where id == canonical_id).
    *
    * Label propagation with pointer-jumping: each round joins current
    * labels through the pair edges AND through the label graph itself,
    * so chain lengths halve-then-square — `iters` = ⌈log₂ diameter⌉
    * rounds suffice (near-dup components are tiny; 8 covers diameter
    * 256). Deterministic fixpoint. At scale each round is one
    * shuffle-join on ids.
    */
  def clusterKeepMin(ids: DataFrame, idCol: String, pairs: DataFrame,
      iters: Int = 8, localThreshold: Long = 1000000L): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // Hybrid: near-dup edge sets are usually minuscule relative to the
    // corpus — when the DISTINCT pair count fits comfortably on the
    // driver, a local union-find beats several distributed join rounds
    // (one job vs ~3 jobs x iterations). The distributed path below
    // remains for pathological edge volumes.
    val fwdPairs = pairs.select(col("id_a").cast("long"),
      col("id_b").cast("long")).distinct().localCheckpoint(true)
    // threshold probe, not a full count: limit(k+1).count() answers
    // "≤ k?" after reading at most k+1 rows, so choosing the
    // distributed path never pays a full scan of a huge edge set
    val probe = fwdPairs
      .limit(math.min(localThreshold, Int.MaxValue - 1L).toInt + 1).count()
    if (probe <= localThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent(c); parent(c) = r; c = next
        }
        r
      }
      fwdPairs.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val canon = parent.keys.map(k => k -> find(k)).toSeq
      val labelDf = broadcast(canon.toDF("id", "canonical"))
      return ids.select(col(idCol).cast("long").as("id"))
        .join(labelDf, Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("canonical"), col("id")).as("canonical_id"))
    }
    clusterKeepMinDistributed(ids, idCol, fwdPairs, iters)
  }

  /** Distributed label-propagation path (see clusterKeepMin). */
  private def clusterKeepMinDistributed(ids: DataFrame, idCol: String,
      pairs: DataFrame, iters: Int): DataFrame = {
    // undirected edges, both directions — materialized once: the pair
    // source is typically an expensive LSH pipeline, and every
    // propagation round joins through these edges
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Only nodes that appear in an edge can change label — iterate over
    // that (tiny) subgraph and left-join the result back over the full
    // id set at the end. At 100 TB near-dup rates the edge subgraph is
    // orders of magnitude smaller than the corpus.
    val edgeNodes = edges.select(col("src").as("id")).distinct()
    val own = edgeNodes.select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    val labels = Rounds.iterate("dedup cc", own, iters) { (labels, _) =>
      val viaEdges = edges.join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nlabel"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("nlabel").as("elabel"))
      // pointer jumping: adopt your label's label
      val viaLabels = labels.select(col("id"), col("label").as("lid"))
        .join(labels.select(col("id").as("lid"), col("label").as("llabel")),
          Seq("lid"))
        .select(col("id"), col("llabel"))
      val next = labels
        .join(viaEdges, Seq("id"), "left")
        .join(viaLabels, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("elabel"), col("label")),
            coalesce(col("llabel"), col("label"))).as("label"))
        .localCheckpoint(true)
      (next, Rounds.unchanged(labels, next, "id", "label"))
    }
    ids.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("canonical_id"))
  }

  /** The kept-documents view of a clustering: rows whose id IS the
    * component canonical (one representative per near-dup cluster). */
  def keepCanonical(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    df.join(clusters.filter(col(idCol) === col("canonical_id"))
      .select(idCol), Seq(idCol), "left_semi")

  /** Exact n-gram Jaccard similarity for all pairs within a blocking
    * key (use after LSH, or with a natural block like source/domain).
    * Quadratic IN THE BLOCK only — callers own block sizing. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleK: Int = 2,
      threshold: Double = 0.1): DataFrame = {
    // r20 (guide §2.5/§2.6): the shingle projection AND the per-pair
    // jaccard in the join's probe-side stage both hang off ONE parquet
    // split at eval scale (serial on 32 cores) — widen the raw input
    // BEFORE the projection so both run cluster-wide (no-op at corpus
    // scale; widening raw rows, not computed arrays)
    val sh = Skew.widen(df)
      .select(col(blockCol).as("block"), col(idCol).as("id"),
        ShingleFunctions.shingleHashes(col(textCol), shingleK).as("shingles"))
    val a = sh.select(col("block"), col("id").as("id_a"),
      col("shingles").as("sh_a"))
    val b = sh.select(col("block"), col("id").as("id_b"),
      col("shingles").as("sh_b"))
    a.join(b, "block").filter(col("id_a") < col("id_b"))
      .filter(lengthCompatible(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard",
        graft.functions.ArrayFunctions.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("block", "id_a", "id_b", "jaccard")
  }

  /** Asymmetric containment near-dup pairs (Broder 1997's
    * CONTAINMENT next to the resemblance MinHash measures):
    * C(A→B) = |S(A) ∩ S(B)| / |S(A)| over word-shingle sets — catches
    * the quote/subset page (a short doc wholly inside a long one)
    * whose symmetric Jaccard is low because |B| dwarfs the overlap.
    *
    * Candidate generation is an INVERTED-INDEX join on the portable
    * 60-bit md5 shingle keys — only (key, id) longs shuffle, never
    * text — with a document-frequency prune: shingles in more than
    * `maxDocFreq` docs are boilerplate furniture (the X46 rationale)
    * and would otherwise square the index join on hot keys. Pruned
    * shingles still count toward |S(A)| (containment is measured
    * against the full set), so pruning can only LOWER a reported
    * containment — a conservative, deterministic approximation,
    * mirrored exactly by the oracle. Both directions of a pair are
    * reported independently (containment is not symmetric). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Long = 100L): DataFrame = {
    // value-distinct portable keys (oracle-replayable md5 device)
    val sh = df.select(col(idCol).as("id"),
      explode(ShingleFunctions.md5ShingleKeys(col(textCol), shingleK))
        .as("h"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("h")
    val pruned = sh.join(hot, Seq("h"), "left_anti")
    val a = pruned.select(col("h"), col("id").as("id_a"))
    val b = pruned.select(col("h"), col("id").as("id_b"))
    val inter = a.join(b, "h").filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("size_a")),
        "id_a")
      .withColumn("containment",
        col("n_shared").cast("double") / col("size_a"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_shared", "size_a", "containment")
  }

  /** Embedding-cosine near-duplicate pairs: multi-table random-
    * hyperplane LSH (L independent tables of `planes` bits — recall
    * amplification 1-(1-p^planes)^L) then exact cosine verification
    * within buckets. Pairs colliding in several tables dedup via
    * distinct before verification. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 8, tables: Int = 8,
      seed: Long = 42L, bucketCap: Int = 2000): DataFrame = {
    // fused signature kernel: all tables×planes dot products in ONE
    // pass over the vector (HyperplaneBuckets), vs re-reading the
    // vector per plane in the composed expression form — bit-identical
    // buckets (SimilaritySpec pins fused ≡ composed)
    val withBucket = df
      .select(col(idCol).as("id"),
        graft.functions.HashFunctions.hyperplaneBuckets(col(vecCol),
          planes, tables, seed).as("buckets"))
      .select(col("id"),
        posexplode(col("buckets")).as(Seq("table_idx", "bucket")))
    val capped = capBuckets(withBucket, Seq("table_idx", "bucket"),
      bucketCap)
    val a = capped.select(col("table_idx"), col("bucket"),
      col("id").as("id_a"))
    val b = capped.select(col("table_idx"), col("bucket"),
      col("id").as("id_b"))
    val candidates = a.join(b, Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      Similarity.norm(col(vecCol)).as("norm_a"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      Similarity.norm(col(vecCol)).as("norm_b"))
    candidates.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", Similarity.cosineWithNorms(col("vec_a"),
        col("vec_b"), col("norm_a"), col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
