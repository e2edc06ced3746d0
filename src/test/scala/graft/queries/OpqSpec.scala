package graft.queries

import graft.SparkSuite
import graft.ops.Lloyd
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X301 parametric OPQ (permutation form — Ge et al. 2013 eigenvalue
  * allocation in the coordinate basis; see ClusterQueries.opqOrder):
  *
  *  - the allocation is a valid permutation and balances per-subspace
  *    variance on an ANISOTROPIC fixture (variance ramp), where the
  *    identity split is maximally unbalanced;
  *  - the balanced allocation measurably lowers PQ reconstruction
  *    error at the same byte budget on that fixture — the gain OPQ
  *    exists for;
  *  - the REAL corpus is measured near-isotropic (the documented
  *    reason q_ann_opq's corpus-lane delta is ≈ 0: no orthogonal
  *    rotation can concentrate variance that is already flat).
  */
class OpqSpec extends SparkSuite {

  /** Deterministic anisotropic fixture: 256 vectors whose dim-d lane
    * is a fixed pseudo-random value scaled by (1 + d/4) — per-dim
    * variance ramps ~256× from d = 0 to d = 63, so the identity
    * 16-dim split puts all the variance in the last subspace. */
  private def rampFrame(): DataFrame = {
    val rows = (0L until 256L).map { id =>
      val v = Array.tabulate(64) { d =>
        val h = graft.functions.Mix64.mix(id * 64 + d + 7)
        (h.toDouble / Long.MaxValue.toDouble) * (1.0 + d / 4.0)
      }
      (id, v.toSeq)
    }
    import spark.implicits._
    rows.toDF("vec_id", "v")
  }

  /** Total PQ reconstruction error of `frame` under the standard
    * 4×16-dim / k=4 / 2-round budget (the q_pq_recall fit). */
  private def pqMse(frame: DataFrame): Double = {
    val books = Lloyd.fitL2(frame,
      (0 until 4).map(sub => slice(col("v"), 16 * sub + 1, 16)), "vec_id",
      k = 4, dim = 16, iters = 2)
    val err = (0 until 4).map { sub =>
      val sl = slice(col("v"), 16 * sub + 1, 16)
      array_min(array(books(sub).map(c => Lloyd.sqDist(sl, c)): _*))
    }.reduce(_ + _)
    frame.select(err.as("e")).agg(sum("e")).head().getDouble(0)
  }

  test("allocation is a permutation that balances subspace variance " +
      "and lowers PQ MSE on anisotropic data") {
    val frame = rampFrame().localCheckpoint(true)
    val order = ClusterQueries.opqOrder(frame)
    assert(order.sorted.toSeq === (0 until 64))
    // per-dim variance from the data (driver, exact enough for the
    // balance readout)
    val x = frame.collect().map(_.getSeq[Double](1).toArray)
    val n = x.length.toDouble
    val vr = Array.tabulate(64) { d =>
      val mu = x.map(_(d)).sum / n
      x.map(v => (v(d) - mu) * (v(d) - mu)).sum / n
    }
    def bucketVars(dimOf: Int => Int) =
      (0 until 4).map(b =>
        (0 until 16).map(s => vr(dimOf(b * 16 + s))).sum)
    val idSplit = bucketVars(p => p)
    val opq = bucketVars(p => order(p))
    val balId = idSplit.max / idSplit.min
    val balOpq = opq.max / opq.min
    assert(balOpq < balId / 4,
      s"allocation did not balance: identity $balId, opq $balOpq")
    // same budget, permuted layout → measurably lower reconstruction
    // error (the gain the rotation exists for)
    val framep = frame.select(col("vec_id"),
      ClusterQueries.applyPerm(col("v"), order).as("v"))
      .localCheckpoint(true)
    val mseId = pqMse(frame)
    val mseOpq = pqMse(framep)
    assert(mseOpq < 0.9 * mseId,
      s"OPQ MSE $mseOpq not below identity MSE $mseId")
  }

  test("real corpus is near-isotropic — the documented reason the " +
      "corpus-lane OPQ delta is ~0") {
    val frame = graft.Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("v"))
    val x = frame.collect().map(_.getSeq[Double](1).toArray)
    val n = x.length.toDouble
    val vr = Array.tabulate(64) { d =>
      val mu = x.map(_(d)).sum / n
      x.map(v => (v(d) - mu) * (v(d) - mu)).sum / n
    }
    // variance spread under 2x: no permutation can rebalance what is
    // already balanced (measured 1.31x at sf0.01)
    assert(vr.max / vr.min < 2.5, s"corpus anisotropy grew: ${vr.max / vr.min}")
    // identity split is already near-balanced across the 4 subspaces
    val sv = (0 until 4).map(b => (0 until 16).map(s => vr(b * 16 + s)).sum)
    assert(sv.max / sv.min < 1.2)
  }
}
