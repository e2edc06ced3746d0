package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Num

/** Histogram-based gradient-boosted stumps (X201 — Friedman 2001's
  * gradient boosting in the shape XGBoost/LightGBM made canonical at
  * scale, Chen & Guestrin 2016 §3.3 "approximate/hist algorithm":
  * features pre-bucketed into static quantile bins ONCE, then each
  * boosting round needs only ONE map-side-combining pass building the
  * per-(feature, bin) residual histogram — counts + qround(6)
  * residual sums, a features×bins bounded table — and the split
  * search, leaf values, and model update all happen driver-side on
  * that metadata-sized table, re-entering the next round's scan as
  * literals. Rows never leave the cluster; the wire carries
  * features×bins doubles per partition per round. Depth-1 trees keep
  * the split search exact and the model a chain of CASE literals.
  *
  * Determinism: bins from qround(6) percentile fences (the X114
  * device); histogram sums qround(6); prefix sums run in bin order
  * (sequential — bit-identical to the oracle's ordered window); gains
  * element-wise off those lanes; argmax tie-breaks (gain DESC, j ASC,
  * bin ASC); leaf values qround(6). Any engine replaying the rounds
  * picks the identical stumps. */
object Gbdt {

  /** One chosen stump: split on feature `j` at bin ≤ `bin`, leaf
    * values vl/vr (already unscaled — caller applies the shrinkage). */
  final case class Stump(j: Int, bin: Int, vl: Double, vr: Double)


  /** Split search on the collected histogram rows (j, bin, count,
    * residual-sum): sequential per-feature prefixes in bin order,
    * SSE-reduction gain, deterministic argmax. */
  private[ops] def bestSplit(
      hist: Seq[(Int, Int, Long, Double)]): Stump = {
    val cands = hist.groupBy(_._1).toSeq.flatMap { case (j, rows) =>
      val ordered = rows.sortBy(_._2)
      var nl = 0L
      var sl = 0.0
      val prefixes = ordered.map { case (_, bin, c, s) =>
        nl += c
        sl += s
        (bin, nl, sl)
      }
      val (_, nt, st) = prefixes.last
      prefixes.init // a split at the last bin sends everything left
        .filter { case (_, nlK, _) => nlK > 0 && nt - nlK > 0 }
        .map { case (bin, nlK, slK) =>
          val gain = slK * slK / nlK + (st - slK) * (st - slK) /
            (nt - nlK) - st * st / nt
          (gain, j, bin, Num.qround(slK / nlK, 6),
            Num.qround((st - slK) / (nt - nlK), 6))
        }
    }
    require(cands.nonEmpty, "Gbdt.bestSplit: no valid split")
    val best = cands.minBy { case (g, j, b, _, _) => (-g, j, b) }
    Stump(best._2, best._3, best._4, best._5)
  }

  /** Fit `iters` shrinkage-`nu` stumps over `binned`, which carries
    * `yCol` plus bin columns `b1..b<nFeats>` (ints). Returns
    * (f0, stumps) — the model as driver literals. */
  def fit(binned: DataFrame, yCol: String, nFeats: Int, iters: Int,
      nu: Double): (Double, Seq[Stump]) = {
    val f0 = Num.qround(binned.agg(avg(yCol)).head().getDouble(0), 6)
    var pred: Column = lit(f0)
    val stumps = Seq.newBuilder[Stump]
    var m = 0
    while (m < iters) {
      val r = col(yCol) - pred
      // one pass: per-(feature, bin) residual histogram
      val long = binned.select(r.as("r"),
        explode(array((1 to nFeats).map(j =>
          struct(lit(j).as("j"), col(s"b$j").as("bin"))): _*))
          .as("fb"))
      val hist = long.groupBy(col("fb.j"), col("fb.bin"))
        .agg(count(lit(1)).as("c"), Num.qround(sum("r"), 6).as("s"))
        .collect()
        .map(x => (x.getInt(0), x.getInt(1), x.getLong(2),
          x.getDouble(3)))
        .toSeq
      val st = bestSplit(hist)
      stumps += st
      pred = pred + lit(nu) *
        when(col(s"b${st.j}") <= st.bin, st.vl).otherwise(st.vr)
      m += 1
    }
    (f0, stumps.result())
  }

  /** The prediction column for a fitted model over the binned frame. */
  def predict(f0: Double, stumps: Seq[Stump], nu: Double): Column =
    stumps.foldLeft(lit(f0): Column) { (acc, st) =>
      acc + lit(nu) *
        when(col(s"b${st.j}") <= st.bin, st.vl).otherwise(st.vr)
    }
}
