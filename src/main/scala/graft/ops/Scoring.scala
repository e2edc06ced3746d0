package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Model-based corpus scoring — the two classifier stages every large
  * training-data pipeline runs between heuristic filtering and dedup:
  *
  *   1. n-gram language-model cross-entropy (the CCNet/KenLM device:
  *      score each document by how surprising it is under a LM fit on
  *      the corpus; filter on the score), here as an add-1-smoothed
  *      top-K unigram LM — the model FIT is a one-shuffle distributed
  *      count and the model itself is driver metadata (≤ topK rows),
  *      broadcast back into a shuffle-free scoring scan;
  *
  *   2. a hashed bag-of-ngrams linear classifier (the fastText device
  *      used for GPT-3/LLaMA-style "looks like curated text" quality
  *      models), trained as multinomial Naive Bayes: the training pass
  *      is a single fixed-width count shuffle, the model is a log-
  *      likelihood-ratio weight per hash bucket, and scoring is a
  *      linear margin — the same w·x + b surface a trained fastText
  *      model deploys, with the fit itself replayable in ANSI SQL.
  *
  * Scale contract (100 TB): per-epoch work is two fixed-width shuffles
  * (features are (id, bucket, count) — text never shuffles); the only
  * driver state is the weight vector (`buckets` doubles) and the LM's
  * top-K counts. Scoring scans are shuffle-free with the model inlined
  * as a literal map (a broadcast in plan form).
  */
object Scoring {

  // ------------------------------------------------------------ unigram LM

  /** Top-K unigram model with add-1 smoothing over K+1 classes (the
    * top-K tokens plus one <unk> class absorbing the tail mass).
    * p(class) = (c + 1) / (N + K + 1), which sums to 1 across classes.
    */
  final case class UnigramModel(top: Seq[(String, Long)], total: Long) {
    private val denom: Double = total.toDouble + top.size.toDouble + 1.0
    /** log2 p for a class with count c (element-wise double math — the
      * oracle's log2() agrees to ulps; scores are qround'd after the
      * per-document aggregation). */
    def logp(c: Long): Double =
      math.log((c + 1.0) / denom) / math.log(2.0)
    val unkLogp: Double = logp(total - top.map(_._2).sum)
  }

  /** Fit the LM: one distributed token count (the single shuffle), then
    * collect only the top-K (count desc, token asc — a total order, so
    * the boundary is deterministic) plus the grand total. */
  def fitUnigram(docs: DataFrame, textCol: Column, topK: Int): UnigramModel = {
    val counts = docs.select(explode(Text.tokens(textCol)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .persist()
    val total = counts.agg(sum("c")).head.getLong(0)
    val top = counts.orderBy(col("c").desc, col("tok").asc).limit(topK)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    counts.unpersist()
    UnigramModel(top, total)
  }

  /** Per-document cross-entropy −(1/n)·Σ log2 p(class(tᵢ)) under `m`,
    * as a shuffle-free column: the model is a literal map, tokens fold
    * left-to-right. NULL for empty documents. */
  def crossEntropy(textCol: Column, m: UnigramModel): Column = {
    val lut = map(m.top.flatMap { case (t, c) =>
      Seq(lit(t), lit(m.logp(c))) }: _*)
    val toks = Text.tokens(textCol)
    val s = aggregate(
      transform(toks, t => coalesce(element_at(lut, t), lit(m.unkLogp))),
      lit(0.0), (a, x) => a + x)
    -s / nullif(size(toks).cast("double"), lit(0.0))
  }

  /** Per-group unigram fits (CCNet's per-language models) in ONE
    * grouped count shuffle: token counts key on (group, token), the
    * top-K cut runs as a group-partitioned window over the fixed-width
    * count rows, and the models collected are ≤ (K+1)·|groups| driver
    * cells — the group dimension is bounded (languages, sources), so
    * this stays metadata at any corpus size. */
  def fitUnigramByGroup(docs: DataFrame, groupCol: Column, textCol: Column,
      topK: Int): Map[String, UnigramModel] = {
    val counts = docs
      .select(groupCol.as("g"), explode(Text.tokens(textCol)).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
      .persist()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("c").desc, col("tok").asc)
    val top = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK).select("g", "tok", "c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counts.groupBy("g").agg(sum("c").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.unpersist()
    top.groupBy(_._1).map { case (g, rows) =>
      g -> UnigramModel(
        rows.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq,
        totals(g))
    }
  }

  /** Cross-entropy under the document's OWN group's model — one
    * shuffle-free scan with all models inlined as one literal map
    * keyed "group token". The space separator is collision-free:
    * [[Text.tokens]] splits on `\s+` so a token can never contain a
    * space, which makes the token the unique suffix after the key's
    * LAST space — (group, token) → key is injective even for group
    * values that themselves contain spaces. NULL for empty
    * documents. */
  def crossEntropyByGroup(groupCol: Column, textCol: Column,
      models: Map[String, UnigramModel]): Column = {
    val sep = " "
    val ms = models.toSeq.sortBy(_._1)
    val lut = map(ms.flatMap { case (g, m) =>
      m.top.flatMap { case (t, c) => Seq(lit(g + sep + t), lit(m.logp(c))) }
    }: _*)
    val unk = map(ms.flatMap { case (g, m) =>
      Seq(lit(g), lit(m.unkLogp)) }: _*)
    val toks = Text.tokens(textCol)
    val s = aggregate(
      transform(toks, t =>
        coalesce(element_at(lut, concat(groupCol, lit(sep), t)),
          element_at(unk, groupCol))),
      lit(0.0), (a, x) => a + x)
    -s / nullif(size(toks).cast("double"), lit(0.0))
  }

  // ------------------------------------------------------- bigram LM

  /** Bigram model over the CLASS alphabet of a fitted [[UnigramModel]]
    * (top-K tokens + <unk> = K+1 classes): conditional add-1
    * probabilities p(b|a) = (c(ab)+1)/(c(a·)+K+1), where c(a·) is a's
    * occurrences as a left context. Mapping tokens to a bounded class
    * alphabet FIRST is what keeps the bigram table bounded — (K+1)²
    * cells of driver metadata — instead of |V|², which is the
    * difference between a broadcastable model and a join at 100 TB. */
  final case class BigramModel(uni: UnigramModel,
      pairCounts: Map[(Int, Int), Long]) {
    val k: Int = uni.top.size + 1 // class count incl. <unk>
    private val leftTotals: Map[Int, Long] =
      pairCounts.groupMapReduce(_._1._1)(_._2)(_ + _)
    def logp(a: Int, b: Int): Double =
      math.log((pairCounts.getOrElse((a, b), 0L) + 1.0) /
        (leftTotals.getOrElse(a, 0L) + k.toDouble)) / math.log(2.0)
    /** Dense row-major (K+1)² log-prob table for O(1) scan lookups. */
    def dense: Array[Double] =
      Array.tabulate(k * k)(i => logp(i / k, i % k))
  }

  /** Class id of a token under the model's vocab (top index, else K). */
  private def classIds(textCol: Column, m: UnigramModel): Column = {
    val clsMap = map(m.top.zipWithIndex.flatMap { case ((t, _), i) =>
      Seq(lit(t), lit(i)) }: _*)
    transform(Text.tokens(textCol),
      t => coalesce(element_at(clsMap, t), lit(m.top.size)))
  }

  /** Fit bigram pair counts over class ids — one shuffle, ≤ (K+1)²
    * result rows. */
  def fitBigram(docs: DataFrame, textCol: Column,
      uni: UnigramModel): BigramModel = {
    val cls = classIds(textCol, uni)
    val pairs = docs.select(explode(zip_with(
        slice(cls, lit(1), greatest(size(cls) - 1, lit(0))),
        slice(cls, lit(2), greatest(size(cls) - 1, lit(0))),
        (a, b) => a * (uni.top.size + 1) + b)).as("ab"))
      .groupBy("ab").agg(count(lit(1)).as("c"))
      .collect()
      .map { r =>
        val ab = r.getInt(0); val k = uni.top.size + 1
        (ab / k, ab % k) -> r.getLong(1)
      }.toMap
    BigramModel(uni, pairs)
  }

  /** Per-document conditional cross-entropy −(1/(n−1))·Σ log2
    * p(cᵢ|cᵢ₋₁) — shuffle-free: class mapping + a dense (K+1)²
    * log-prob array literal, O(1) per pair. NULL for docs with < 2
    * tokens. */
  def bigramCrossEntropy(textCol: Column, m: BigramModel): Column = {
    val cls = classIds(textCol, m.uni)
    val table = lit(m.dense)
    val idx = zip_with(
      slice(cls, lit(1), greatest(size(cls) - 1, lit(0))),
      slice(cls, lit(2), greatest(size(cls) - 1, lit(0))),
      (a, b) => a * m.k + b)
    val s = aggregate(
      transform(idx, i => element_at(table, i + 1)),
      lit(0.0), (a, x) => a + x)
    when(size(cls) >= 2, -s / (size(cls) - 1).cast("double"))
  }

  // ------------------------------------------------- hashed linear model

  /** Portable feature hash: md5 keeps the bucketing engine-agnostic
    * (first 8 hex chars as an int, mod `buckets`). */
  def featureBucket(f: Column, buckets: Int): Column =
    conv(substring(md5(concat(lit("qc:"), f)), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Hashed bag-of-features design matrix in sparse triplet form:
    * (id, bucket, x) with x the integer collision-summed count of the
    * document's unigrams + bigrams in that bucket. Buckets come from
    * the fused one-pass kernel (no feature-string materialization —
    * the composed explode-strings-then-md5 form was the training-side
    * bottleneck); only ints reach the explode + groupBy. */
  def featureCounts(docs: DataFrame, idCol: String, textCol: Column,
      buckets: Int): DataFrame =
    docs.select(col(idCol),
        explode(graft.functions.ScoringFunctions
          .hashedBagBuckets(textCol, buckets, "qc:")).as("b"))
      .select(col(idCol), col("b").cast("long").as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("x"))

  /** Composed-Column form of [[featureCounts]] — the cross-check the
    * bucket kernel is pinned against in ScoringSpec. */
  private[graft] def featureCountsComposed(docs: DataFrame, idCol: String,
      textCol: Column, buckets: Int): DataFrame = {
    val feats = concat(Text.tokens(textCol), Text.wordNgramsAll(textCol, 2))
    docs.select(col(idCol), explode(feats).as("f"))
      .select(col(idCol), featureBucket(col("f"), buckets).as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("x"))
  }

  /** Trained hashed-NB model: per-bucket log-likelihood-ratio weights
    * plus the class-prior bias. Margin = Σ_b w[b]·x[b] + bias; predict
    * positive iff margin > 0. */
  final case class NbModel(w: Map[Long, Double], bias: Double)

  /** Multinomial Naive Bayes over the hashed features — the trainer
    * that actually fits the one-pass-at-scale constraint: class-
    * conditional bucket counts are ONE fixed-width shuffle (a groupBy
    * over ≤ `buckets` keys), the model is ≤ `buckets` driver rows, and
    * scoring is a literal-map lookup scan. Add-1 smoothing over the
    * OCCUPIED buckets (both engines derive the same occupied set):
    *   w[b] = ln((c⁺_b+1)/(N⁺+B)) − ln((c⁻_b+1)/(N⁻+B)),
    *   bias = ln(n⁺/n⁻).
    * Iterative gradient methods are deliberately NOT used here: with a
    * batch update the gradient magnitude scales with the corpus while
    * the labels are ±1, so the fit oscillates between all-positive and
    * all-negative epochs — NB's closed-form count ratios are both
    * stabler and cheaper (one pass, not one per epoch).
    *
    * `labels` must carry (idCol, y) with y ∈ {0.0, 1.0}. */
  def trainNaiveBayes(feats: DataFrame, labels: DataFrame,
      idCol: String): NbModel = {
    // labels = the labeled sample (bounded by contract) — broadcast,
    // so the count pass is scan → explode → one fixed-width groupBy,
    // never a shuffle join on doc id
    val cc = feats.join(broadcast(labels), idCol)
      .groupBy("bucket")
      .agg(sum(when(col("y") === 1.0, col("x")).otherwise(0L))
             .cast("long").as("cp"),
           sum(when(col("y") === 0.0, col("x")).otherwise(0L))
             .cast("long").as("cn"))
      .collect()
    // prior over the population the conditional counts were fit on:
    // labeled docs that actually contributed features (a zero-feature
    // doc adds nothing to cc, so it must add nothing to the prior)
    val prior = labels
      .join(feats.select(idCol).distinct(), Seq(idCol), "left_semi")
      .agg(
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).cast("double"),
        sum(when(col("y") === 0.0, 1L).otherwise(0L)).cast("double")).head
    val nPos = if (prior.isNullAt(0)) 0.0 else prior.getDouble(0)
    val nNeg = if (prior.isNullAt(1)) 0.0 else prior.getDouble(1)
    nbModel(cc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
      nPos, nNeg,
      s"trainNaiveBayes: both classes must appear among labeled docs " +
        s"with features (n+=$nPos, n-=$nNeg) — the log prior is " +
        s"undefined otherwise")
  }

  /** The NB model from the occupied buckets' class counts (bucket, cp,
    * cn) — add-1 log-ratio weights — and the log prior's per-class doc
    * counts, which must both be positive (else `missingClass`). */
  private def nbModel(counts: Iterable[(Long, Long, Long)], nPos: Double,
      nNeg: Double, missingClass: => String): NbModel = {
    val np = counts.iterator.map(_._2).sum.toDouble
    val nn = counts.iterator.map(_._3).sum.toDouble
    val nb = counts.size.toDouble
    val w = counts.iterator.map { case (b, cp, cn) =>
      b -> (math.log((cp + 1.0) / (np + nb)) -
        math.log((cn + 1.0) / (nn + nb)))
    }.toMap
    require(nPos > 0 && nNeg > 0, missingClass)
    NbModel(w, math.log(nPos / nNeg))
  }

  /** Per-fold NB models from ONE pooled counting pass (r19, guide
    * §1.2 "don't compute things you throw away": the k-fold loop
    * called [[trainNaiveBayes]] on the fold-filtered features, which
    * re-ran the tokenize+hash scan once per fold — 5 passes over the
    * corpus for 5 folds. Class-conditional bucket counts are ADDITIVE
    * integers, so one (bucket, fold) count table contains every
    * fold's train counts: fold f's count for bucket b is the Σ over
    * the other folds' rows — exact long arithmetic, so each fold's
    * weight map and bias are BIT-IDENTICAL to trainNaiveBayes on the
    * fold-filtered features (ScoringSpec pins it). One corpus scan,
    * two bounded collects (≤ buckets·folds rows + folds rows),
    * instead of folds scans and 2·folds collects.
    *
    * `labels` must carry (idCol, y ∈ {0.0, 1.0}, fold ∈ [0, folds)). */
  def trainNaiveBayesFolds(feats: DataFrame, labels: DataFrame,
      idCol: String, folds: Int): Map[Int, NbModel] = {
    val cc = feats.join(broadcast(labels), idCol)
      .groupBy("bucket", "fold")
      .agg(sum(when(col("y") === 1.0, col("x")).otherwise(0L))
             .cast("long").as("cp"),
           sum(when(col("y") === 0.0, col("x")).otherwise(0L))
             .cast("long").as("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // labeled docs that contributed ≥1 feature, per (fold, class) —
    // the prior population trainNaiveBayes counts (a zero-feature doc
    // adds nothing to cc, so it must add nothing to the prior)
    val pr = labels
      .join(feats.select(idCol).distinct(), Seq(idCol), "left_semi")
      .groupBy("fold")
      .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
           sum(when(col("y") === 0.0, 1L).otherwise(0L)).as("nn"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0 until folds).map { f =>
      // train side of fold f = every OTHER fold's rows, re-aggregated
      // per bucket (long sums — same integers trainNaiveBayes collects)
      val train = cc.filter(_._2 != f.toLong)
        .groupBy(_._1).toSeq
        .map { case (b, rs) => (b, rs.map(_._3).sum, rs.map(_._4).sum) }
      val (nPos, nNeg) = pr.view.filterKeys(_ != f.toLong).values
        .foldLeft((0L, 0L)) { case ((a, b), (p, n)) => (a + p, b + n) }
      f -> nbModel(train, nPos.toDouble, nNeg.toDouble,
        s"trainNaiveBayesFolds: both classes must appear among fold-$f " +
          s"train docs with features (n+=$nPos, n-=$nNeg)")
    }.toMap
  }

  /** The composed Column formulation of [[inlineStats]]'s margin
    * (element 1) — two string arrays + one md5 Column per feature per
    * row. Kept as the cross-check the fused kernel is pinned against
    * (ScoringSpec asserts bit-identical margins); the kernel is ~10⁸
    * fewer allocations per 1M-doc scan. Note the DENSE array literal, not a
    * map literal: element_at on a map literal scans all entries per
    * lookup (O(buckets) per feature — measured 3× slower end-to-end at
    * 1M docs); on an array it is an O(1) index. */
  private[graft] def inlineMarginComposed(textCol: Column, buckets: Int,
      w: Map[Long, Double]): Column = {
    val feats = concat(Text.tokens(textCol), Text.wordNgramsAll(textCol, 2))
    val dense = lit(Array.tabulate(buckets)(b => w.getOrElse(b.toLong, 0.0)))
    aggregate(
      transform(feats,
        f => element_at(dense, (featureBucket(f, buckets) + 1).cast("int"))),
      lit(0.0), (a, x) => a + x)
  }

  /** Feature count of the unigram+bigram sequence [[inlineStats]]
    * folds. */
  def inlineFeatureCount(textCol: Column): Column =
    size(concat(Text.tokens(textCol), Text.wordNgramsAll(textCol, 2)))
      .cast("long")

  /** Shuffle-free [raw margin, token count] as one fused walk: because
    * Σ_b w[b]·x[b] = Σ_f w[bucket(f)], the margin folds directly over
    * the document's feature sequence — a pure per-row expression
    * (model inlined as a dense literal), no explode, no groupBy. This
    * is the SCORING path; [[featureCounts]] + [[marginsUnder]] remain
    * the training shape (counts are what the fit needs) and the
    * cross-check (ScoringSpec pins inline ≡ counted to float-fold
    * tolerance; both sides qround before use). The scoring scan needs
    * the token count too, and the composed [[inlineFeatureCount]]
    * would re-tokenize the document and materialize every bigram
    * string per row just to take a length (the feature count is
    * 2·nTok − 1 for nTok ≥ 1). */
  def inlineStats(textCol: Column, buckets: Int,
      w: Map[Long, Double]): Column =
    graft.functions.ScoringFunctions.hashedBagStats(textCol,
      Array.tabulate(buckets)(b => w.getOrElse(b.toLong, 0.0)).toSeq, "qc:")

  /** Per-id margins under a weight map (literal-map lookup — broadcast
    * in plan form; one fixed-width groupBy). */
  def marginsUnder(feats: DataFrame, idCol: String,
      w: Map[Long, Double]): DataFrame = {
    val wc: Column =
      if (w.isEmpty) lit(0.0)
      else {
        // dense array literal — O(1) per lookup (see inlineMarginComposed)
        val maxB = w.keys.max.toInt + 1
        val dense = lit(Array.tabulate(maxB)(b => w.getOrElse(b.toLong, 0.0)))
        coalesce(
          element_at(dense, (col("bucket") + 1).cast("int")), lit(0.0))
      }
    feats.groupBy(idCol).agg(
      sum(wc * col("x")).as("margin"),
      sum(col("x")).cast("long").as("n_feats"))
  }
}
