package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Num

/** Distributed logistic regression by fixed-round batch gradient
  * descent (X189 — the fastText-shaped linear quality classifier,
  * Joulin et al. 2017, trained the way a 1000-executor cluster has
  * to: each round is ONE map-side-combining pass where every
  * partition folds its rows into a `dims`-double gradient buffer
  * through [[graft.functions.DoubleVecSum]], partials merge pairwise,
  * and only `dims` doubles per partition cross the wire — the weight
  * vector lives on the driver (dims-sized metadata, independent of
  * row count) and re-enters the next round's scan as a literal. The
  * discriminative sibling of X45's generative Naive Bayes fit on the
  * same hashed bag-of-words features.
  *
  * Determinism contract (the X66/X188 pinned-round discipline): the
  * result is "`iters`-round GD", not "the converged optimum" — the
  * gradient means are aggregated doubles so each lane is qround(6),
  * and the updated weights are qround(6) again, so any engine
  * replaying the same rounds from w⁰ = 0 lands on bit-identical
  * weights. Margins are sequential zip-folds of exact per-row
  * features against the quantized weight literals (the X49 device);
  * the per-row sigmoid's exp is the one transcendental lane —
  * emitted scores go through the same 1e-6 floor both engines
  * (the X139 device). */
object LogReg {


  /** X45's hashed unigram+bigram bag-of-words as a DENSE bucket-share
    * vector, standardized: raw feature j = k·count_j/n_features (an
    * exact rational — integer-fed, bit-identical cross-engine), then
    * (x−μ)/σ against ONE qround(6) moment pass (μ, E[x²] through
    * [[graft.functions.DoubleVecSum]]; σ = 0 buckets zero out), bias
    * 1.0 prepended. Standardization is what keeps fixed-round GD
    * stable — on the raw shares the loss oscillates (measured:
    * diverges at every η tried), z-scored it descends monotonically.
    * Returns (doc_id, y, xs[dims=k+1]); empty-token docs are dropped
    * on both engines. The raw frame is localCheckpoint'ed so the
    * moment pass doesn't re-hash the corpus (at warehouse scale:
    * persist to storage instead). */
  def hashedStdFeatures(docs: DataFrame, k: Int): DataFrame = {
    val toks = graft.functions.Text.tokens(col("text"))
    val base = docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        toks.as("toks"))
      .filter(size(col("toks")) > 0)
    val fs = concat(col("toks"),
      when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>")))
    // bucket counts via explode + map-side-combining groupBy, NOT a
    // per-row k-wide filter scan: the k·|tokens| interpreted-HOF form
    // measured 100+ s at sf0.1 (one lambda dispatch per bucket per
    // token); the exploded form is one shuffle whose map side already
    // reduces each doc to <= k rows — the scale shape
    val hashed = base.select(col("doc_id"), col("y"),
      explode(transform(fs, t => Bloom.hashMod("lr:", t, k))).as("h"))
    val raw = hashed.groupBy("doc_id", "y", "h")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "y")
      .agg(map_from_entries(collect_list(struct(col("h"), col("c"))))
        .as("m"), sum("c").cast("double").as("nf"))
      .select(col("doc_id"), col("y"),
        transform(sequence(lit(0), lit(k - 1)), b =>
          (lit(k) * coalesce(element_at(col("m"), b.cast("long")),
            lit(0L))).cast("double") / col("nf")).as("xsr"))
      .localCheckpoint(true)
    standardized(raw, k)
  }

  /** Moment-standardize a raw feature frame (idCols…, `yCol`,
    * `xsrCol`: array<double> of length k) and prepend the bias —
    * the (x−μ)/σ + bias-1 tail of [[hashedStdFeatures]], reusable
    * for any caller's engineered features (X202's propensity fit):
    * one qround(6) moment pass through DoubleVecSum, σ = 0 features
    * zero out, output column `xs` of length k+1. */
  def standardized(raw: DataFrame, k: Int): DataFrame = {
    val mrow = raw.agg(count(lit(1)),
        graft.functions.VecAggregates.vecSum(col("xsr"), k),
        graft.functions.VecAggregates.vecSum(
          transform(col("xsr"), x => x * x), k))
      .head()
    val nD = mrow.getLong(0).toDouble
    require(nD > 0, "LogReg.standardized: empty input")
    val mu = mrow.getSeq[Double](1).map(s => Num.qround(s / nD, 6)).toArray
    val ex2 = mrow.getSeq[Double](2).map(s => Num.qround(s / nD, 6)).toArray
    val sd = Array.tabulate(k) { j =>
      val v = ex2(j) - mu(j) * mu(j)
      if (v > 0.0) math.sqrt(v) else 0.0
    }
    val std = zip_with(
      zip_with(col("xsr"), typedLit(mu.toSeq), (x, m) => x - m),
      typedLit(sd.toSeq),
      (d0, s0) => when(s0 > 0.0, d0 / s0).otherwise(0.0))
    raw.withColumn("xs", concat(array(lit(1.0)), std)).drop("xsr")
  }

  /** σ(Σ_j w_j·x_j) for a features array column against a literal
    * weight vector. The dot product is the codegen
    * [[graft.functions.ArrayDot]] kernel — a left-to-right
    * accumulation from 0.0, BIT-IDENTICAL to the oracle's
    * `list_reduce(list_transform(...))` zip-fold, but inside
    * whole-stage codegen instead of one interpreted lambda dispatch
    * per element (the dispatch cost dominated the sf0.1 bench). */
  def sigmoid(xs: Column, w: Array[Double]): Column = {
    val z = graft.functions.ArrayFunctions
      .arrayDot(xs, typedLit(w.toSeq))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** `iters` rounds of η-step batch GD on log-loss from w⁰ = 0, one
    * chain per learning rate in `lrs`, run in lock-step. `feats` must
    * carry `xsCol: array<double>` of length `dims` (bias folded in as
    * a constant-1 feature by the caller) and `yCol` ∈ {0.0, 1.0}.
    *
    * Round t of every chain reads the same rows, so ONE aggregate
    * pass per round carries each chain's dims-double gradient lane
    * plus a qround(6) log-loss lane (same per-row sigmoid — the loss
    * of the weights ENTERING round t comes free): one bounded count
    * action + `iters` aggregate actions in all, whatever |lrs|. Each
    * chain's lanes are its own buffers fed the same per-row values in
    * the same order as a 1-rate run, so a chain's weights and losses
    * do not depend on which other rates ride along (LogRegSpec pins
    * it). p clamps to (1e-12, 1−1e-12) before the ln lanes,
    * identically to the oracle. Returns (finalWeights,
    * losses(1..iters)) per rate. */
  def fit(feats: DataFrame, xsCol: String, yCol: String,
      dims: Int, iters: Int, lrs: Seq[Double])
      : Seq[(Array[Double], Seq[Double])] = {
    val n = feats.count()
    require(n > 0, "LogReg.fit: empty input")
    val nD = n.toDouble
    val m = lrs.length
    val ws = Array.fill(m)(new Array[Double](dims))
    val losses = Array.fill(m)(Seq.newBuilder[Double])
    var t = 0
    while (t < iters) {
      val aggs = (0 until m).flatMap { i =>
        val p = sigmoid(col(xsCol), ws(i))
        val pc = least(greatest(p, lit(1e-12)), lit(1.0) - lit(1e-12))
        val resid = p - col(yCol)
        Seq(
          graft.functions.VecAggregates.vecAxpy(col(xsCol), resid, dims),
          Num.qround(-avg(col(yCol) * log(pc) +
            (lit(1.0) - col(yCol)) * log(lit(1.0) - pc)), 6))
      }
      val row = feats.agg(aggs.head, aggs.tail: _*).head()
      for (i <- 0 until m) {
        val g = row.getSeq[Double](2 * i)
        losses(i) += row.getDouble(2 * i + 1)
        ws(i) = Array.tabulate(dims) { j =>
          Num.qround(ws(i)(j) - lrs(i) * Num.qround(g(j) / nD, 6), 6)
        }
      }
      t += 1
    }
    (0 until m).map(i => (ws(i), losses(i).result()))
  }

  /** Score a corpus with the fitted weights: (idCol, yCol,
    * score=σ floored 1e-6, pred). */
  def score(feats: DataFrame, idCol: String, xsCol: String,
      yCol: String, w: Array[Double]): DataFrame =
    feats.select(col(idCol),
        col(yCol).cast("long").as("label"),
        Num.qround(sigmoid(col(xsCol), w), 6).as("score"))
      .withColumn("pred",
        when(col("score") >= 0.5, 1L).otherwise(0L))
}
