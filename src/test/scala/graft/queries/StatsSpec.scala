package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contracts of the X169–X174 statistical monitors beyond the oracle
  * hash: each statistic must MEAN what the named method claims
  * (closed-form identities recomputed from the query's own rows, plus
  * range invariants at sf0.001). */
class StatsSpec extends SparkSuite {

  test("q_js_divergence: total recomputes from contributions, 0 ≤ JS ≤ 1") {
    val rows = query("q_js_divergence").collect()
    assert(rows.nonEmpty)
    val js = rows.head.getDouble(6)
    assert(rows.forall(_.getDouble(6) === js))
    assert(js >= 0.0 && js <= 1.0) // log2 units
    val recomputed = rows.map(_.getDouble(5)).sum
    assert(math.abs(js - recomputed) < 1e-5)
    // probability lanes: each period's masses sum to 1
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-12)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-12)
  }

  test("q_cramers_v: chi2 recomputes from cells, V in [0,1], " +
      "marginal identity holds") {
    val rows = query("q_cramers_v").collect()
    assert(rows.nonEmpty)
    val chi2 = rows.head.getDouble(5)
    assert(rows.forall(_.getDouble(5) === chi2))
    assert(math.abs(chi2 - rows.map(_.getDouble(4)).sum) < 1e-4)
    val v = rows.head.getDouble(6)
    assert(v >= 0.0 && v <= 1.0)
    // expected counts sum to N over present cells' rows (the
    // contingency covers every observed pair at sf0.001)
    val n = rows.map(_.getLong(2)).sum
    assert(n === graft.Tables.documents(spark, Sf0001).count())
  }

  test("q_ols_trend: slope/intercept reproduce the normal equations " +
      "on the query's own daily series") {
    val rows = query("q_ols_trend").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sx, sy) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (slope, icpt) = (r.getDouble(4), r.getDouble(5))
      // the fitted line passes through the centroid (x̄, ȳ)
      assert(math.abs((sy.toDouble / n) -
        (slope * sx.toDouble / n + icpt)) < 1e-9, r.getString(0))
      val r2 = r.getDouble(6)
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-12)
    }
  }

  test("q_lexical_diversity: identities and ranges") {
    val rows = query("q_lexical_diversity").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nTyp, nHap) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTyp <= nTok && nHap <= nTyp)
      assert(r.getDouble(4) === nTyp.toDouble / nTok)
      assert(r.getDouble(5) === nHap.toDouble / nTyp)
      assert(r.getDouble(6) >= 0.0) // Yule's K: Σm²Vm ≥ N always
    }
    // type counts are per-source vocabularies: the distinct global
    // vocabulary is ≤ the sum of per-source vocabularies
    val vocab = graft.Tables.documents(spark, Sf0001)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .agg(countDistinct("t")).head().getLong(0)
    assert(vocab <= rows.map(_.getLong(2)).sum)
  }

  test("q_cusum_change: D_t lane is exact and the flag marks max |D|") {
    val rows = query("q_cusum_change").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    val nDays = rows.length.toLong
    // last cumulative equals the total; d_stat recomputes exactly
    assert(rows.maxBy(_.getLong(0)).getLong(2) === total)
    rows.foreach { r =>
      assert(r.getLong(4) === nDays * r.getLong(2) - r.getLong(3) * total)
    }
    val maxAbs = rows.map(r => math.abs(r.getLong(4))).max
    rows.foreach { r =>
      assert(r.getBoolean(5) === (math.abs(r.getLong(4)) === maxAbs))
    }
    assert(rows.count(_.getBoolean(5)) >= 1)
  }

  test("q_mase_eval: MASE is the ratio of its own printed numerators") {
    val rows = query("q_mase_eval").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (smape, maeEval, naiveMae) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(smape >= 0.0 && smape <= 2.0) // sMAPE's hard bound
      assert(maeEval >= 0.0 && naiveMae >= 0.0)
      if (naiveMae > 0.0)
        assert(math.abs(r.getDouble(5) - maeEval / naiveMae) < 1e-12)
      else assert(r.isNullAt(5))
    }
  }
}
