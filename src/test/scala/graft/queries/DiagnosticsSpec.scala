package graft.queries

import graft.SparkSuite
import graft.ops.Concentration
import org.apache.spark.sql.functions._

/** Contracts of the X106–X112 diagnostics beyond the oracle hash: the
  * statistics must MEAN what they claim (hand-checked closed forms on
  * synthetic rows, plus semantic invariants at sf0.001). */
class DiagnosticsSpec extends SparkSuite {

  test("Concentration.giniByGroup: uniform magnitudes give gini 0") {
    import spark.implicits._
    val df = Seq(("a", 5L), ("a", 5L), ("a", 5L), ("a", 5L))
      .toDF("g", "x")
    val r = Concentration.giniByGroup(df, "g", "x").head()
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 20L)
    assert(r.getDouble(3) === 0.0)
  }

  test("Concentration.giniByGroup: matches the mean-abs-diff closed form") {
    import spark.implicits._
    // G = ΣΣ|xi−xj| / (2 n² μ): for (1,3) → 4/16 = 0.25; ties between
    // groups must not leak across the group key
    val df = Seq(("a", 1L), ("a", 3L), ("b", 2L), ("b", 2L), ("b", 8L))
      .toDF("g", "x")
    val out = Concentration.giniByGroup(df, "g", "x")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(out("a") - 0.25) < 1e-12)
    // (2,2,8): ΣΣ|xi−xj| = 2*(6+6) = 24; 2·n²·μ = 2·9·4 = 72 → 1/3
    assert(math.abs(out("b") - 24.0 / 72.0) < 1e-12)
  }

  test("q_engagement_gini: bounded and consistent with event totals") {
    val rows = query("q_engagement_gini").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    val nEvents = spark.read.parquet(s"$Sf0001/events.parquet").count()
    assert(total === nEvents)
    rows.foreach { r =>
      val g = r.getDouble(3)
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)} gini=$g")
    }
  }

  test("q_mad_outliers: fences and counts are coherent") {
    val rows = query("q_mad_outliers").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)                      // n_docs
      assert(r.getDouble(2) > 0)                    // med
      assert(r.getDouble(3) >= 0)                   // mad
      assert(r.getLong(4) <= r.getLong(1))          // outliers ≤ docs
      if (!r.isNullAt(5)) assert(r.getDouble(5) >= 0)
    }
  }

  test("q_trimmed_mean: trimmed/winsorized land inside the fences") {
    val rows = query("q_trimmed_mean").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi) = (r.getDouble(1), r.getDouble(2))
      val (n, kept) = (r.getLong(3), r.getLong(4))
      assert(lo <= hi)
      // central 90% band: p05/p95 fences keep ~90% (exact count
      // depends on ties/interpolation — generous envelope)
      assert(kept >= (n * 0.85).toLong && kept <= n)
      assert(r.getDouble(6) >= lo && r.getDouble(6) <= hi) // trimmed
      assert(r.getDouble(7) >= lo && r.getDouble(7) <= hi) // winsor
    }
  }

  test("q_benford: shares partition the order population") {
    val rows = query("q_benford").collect()
    assert(rows.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    val nOrders = spark.read.parquet(s"$Sf0001/orders.parquet")
      .filter(col("o_totalprice") >= 1).count()
    assert(rows.map(_.getLong(1)).sum === nOrders)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    rows.foreach(r => assert(r.getDouble(4) >= 0.0)) // χ² terms
    // TPC-H prices are sums of uniforms, NOT Benford: the audit must
    // actually fire (χ² across 8 dof at α=0.001 is ~26)
    assert(rows.map(_.getDouble(4)).sum > 100.0)
  }

  test("q_annotator_kappa: chance-corrected identity holds") {
    val r = query("q_annotator_kappa").head()
    val (po, pe, k) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(po >= 0.0 && po <= 1.0)
    assert(pe > 0.0 && pe < 1.0)
    assert(k <= 1.0)
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-12)
    val nDocs = spark.read.parquet(s"$Sf0001/documents.parquet").count()
    assert(r.getLong(0) === nDocs)
  }

  test("q_ewma_chart: head of each series equals its first observation") {
    val rows = query("q_ewma_chart").collect()
    assert(rows.nonEmpty)
    val firstByType = rows.groupBy(_.getString(0))
      .map { case (_, rs) => rs.minBy(_.getDate(1).getTime) }
    // single-term normalization: ewma = w0·x/w0 = x exactly
    firstByType.foreach { r =>
      assert(r.getDouble(3) === r.getLong(2).toDouble, s"${r.getString(0)}")
    }
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0)
      assert(r.getDouble(4) > 0.0)
      assert(r.getBoolean(5) === (r.getDouble(4) > 1.5))
    }
  }

  test("q_ks_test: D rows are true ECDF gaps and respect the critical band") {
    val rows = query("q_ks_test").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val (nA, nB) = (rows.head.getLong(6), rows.head.getLong(7))
    val crit = rows.head.getDouble(8)
    assert(math.abs(crit -
      1.358 * math.sqrt((nA + nB).toDouble / (nA.toDouble * nB.toDouble)))
      < 1e-15)
    rows.foreach { r =>
      val (ca, cb) = (r.getLong(1), r.getLong(2))
      assert(ca <= nA && cb <= nB)
      val d = math.abs(ca.toDouble / nA - cb.toDouble / nB)
      assert(math.abs(r.getDouble(5) - d) < 1e-15)
      assert(r.getBoolean(9) === (r.getDouble(5) > crit))
    }
    // rows arrive sorted by D descending
    val ds = rows.map(_.getDouble(5))
    assert(ds.toSeq === ds.sortBy(-_).toSeq)
  }

  test("q_psi_drift: nonnegative-ish and small on a stationary stream") {
    val rows = query("q_psi_drift").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      // PSI is a sum of (q-p)·ln(q/p) terms, each ≥ 0 up to the
      // qround quantization of the ln factor
      assert(r.getDouble(3) > -1e-4, s"${r.getString(0)}: ${r.getDouble(3)}")
      // the synthetic stream is stationary, but at sf0.001 each
      // period holds only ~100 events per type across 10 bands — the
      // PSI noise floor is ~2(K−1)/n ≈ 0.18, so bound well above it
      // while still catching a real regime shift (PSI ≥ 1)
      assert(r.getDouble(3) < 0.75, s"${r.getString(0)}: ${r.getDouble(3)}")
    }
  }

  test("q_markov_transitions: rows of the matrix are distributions") {
    val rows = query("q_markov_transitions").collect()
    assert(rows.nonEmpty)
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (from, rs) =>
      val probSum = rs.map(_.getDouble(4)).sum
      assert(math.abs(probSum - 1.0) < 1e-9, s"$from sums to $probSum")
      val nFrom = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum === nFrom)
    }
  }

  test("q_burstiness: B is the (σ−μ)/(σ+μ) of its own μ/σ columns") {
    val rows = query("q_burstiness").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      val mu = r.getDouble(2)
      assert(mu > 0)
      if (!r.isNullAt(3)) {
        val sigma = r.getDouble(3)
        assert(sigma >= 0)
        assert(math.abs(r.getDouble(4) - sigma / mu) < 1e-15)
        assert(math.abs(r.getDouble(5) - (sigma - mu) / (sigma + mu))
          < 1e-15)
        assert(r.getDouble(5) > -1.0 && r.getDouble(5) < 1.0)
      }
    }
  }

  test("q_stream_transitions equals the batch matrix row for row") {
    val batch = query("q_markov_transitions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val stream = query("q_stream_transitions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(stream.toSeq === batch.toSeq)
  }

  test("q_ooo_depth: shares partition the stream, depth is banded") {
    val rows = query("q_ooo_depth").collect()
    assert(rows.nonEmpty)
    // the block-16 dressing must actually produce late rows
    assert(rows.length > 1, "histogram collapsed to one band")
    val nEvents = spark.read.parquet(s"$Sf0001/events.parquet").count()
    assert(rows.map(_.getLong(2)).sum === nEvents)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 6)
      assert(r.getDouble(4) >= 0.0)
    }
  }

  test("q_top_paths: step counts match the path strings") {
    val rows = query("q_top_paths").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val path = r.getString(0)
      assert(path.nonEmpty)
      assert(r.getInt(1) === path.split(">").length)
      assert(r.getLong(3) <= r.getLong(2)) // users ≤ sessions
    }
    // arrives sorted by popularity
    val ns = rows.map(_.getLong(2))
    assert(ns.toSeq === ns.sortBy(-_).toSeq)
  }

  test("q_silhouette: bounded scores over the full embedding set") {
    val rows = query("q_silhouette").collect()
    assert(rows.nonEmpty)
    val nVecs = spark.read.parquet(s"$Sf0001/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum === nVecs)
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val sil = r.getDouble(2)
        assert(sil >= -1.0 && sil <= 1.0, s"label ${r.getInt(0)}: $sil")
      }
      assert(r.getLong(3) <= r.getLong(1)) // misfits ≤ members
    }
  }

  test("q_ri_audit: this corpus's keys are fully referenced (the contract)") {
    val rows = query("q_ri_audit").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"${r.getString(0)} empty child")
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) === 0L,
        s"${r.getString(0)} has orphans — the testdata contract broke")
      assert(r.getDouble(4) === 0.0)
    }
  }

  test("q_islands: island multiset re-covers every event") {
    val rows = query("q_islands").collect()
    assert(rows.nonEmpty)
    val nEvents = spark.read.parquet(s"$Sf0001/events.parquet").count()
    // Σ (run_len × n_islands) over the profile = total events
    assert(rows.map(r => r.getLong(1) * r.getLong(2)).sum === nEvents)
    rows.foreach(r => assert(r.getLong(1) >= 1 && r.getLong(2) >= 1))
  }

  test("q_funnel_latency: legs are ordered and compose") {
    val rows = query("q_funnel_latency").collect()
    assert(rows.length === 3)
    val byLeg = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (n1, _, _, _) = byLeg("1_view_to_click")
    val (n2, _, _, _) = byLeg("2_click_to_purchase")
    val (n3, _, _, _) = byLeg("3_view_to_purchase")
    assert(n2 >= n3 && n1 >= n2, "funnel counts must be monotone")
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0 && r.getDouble(3) >= 0)
      assert(r.getDouble(4) >= r.getDouble(3)) // p90 ≥ p50
    }
    // end-to-end latency dominates either single leg (same cohort's
    // v→p = v→c + c→p pointwise)
    assert(byLeg("3_view_to_purchase")._2 > 0)
  }

  test("q_recency_score: decay weights are sane and ranking is strict") {
    val rows = query("q_recency_score").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getLong(1) > 0))
    val scores = rows.map(_.getDouble(2))
    assert(scores.toSeq === scores.sortBy(-_).toSeq)
  }

  test("q_ab_test: pooled z identity and cohort exhaustiveness") {
    val r = query("q_ab_test").head()
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(3),
      r.getLong(4))
    assert(ca <= na && cb <= nb)
    val nUsers = spark.read.parquet(s"$Sf0001/events.parquet")
      .select("user_id").distinct().count()
    assert(na + nb === nUsers)
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pp = (ca + cb).toDouble / (na + nb)
    val den = math.sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb))
    if (den == 0.0) {
      // degenerate cohort (sf0.001: every user converts) → NULL z by
      // the explicit guard, on both engines
      assert(r.isNullAt(6) && r.isNullAt(7))
    } else {
      val z = (pb - pa) / den
      assert(math.abs(r.getDouble(6) - z) < 1e-12)
      assert(r.getBoolean(7) === (math.abs(r.getDouble(6)) > 1.96))
    }
  }

  test("q_followed_by: support bounded by antecedent cohort") {
    val rows = query("q_followed_by").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3),
        s"${r.getString(0)}->${r.getString(1)}")
      val sup = r.getDouble(4)
      assert(sup >= 0.0 && sup <= 1.0)
    }
    // the diagonal (a before another a) requires ≥2 events — support
    // must still be a valid rate
    assert(rows.exists(r => r.getString(0) == r.getString(1)))
  }

  test("q_corr_matrix: correlations are bounded") {
    val r = query("q_corr_matrix").head()
    (0 until 6).foreach { i =>
      val c = r.getDouble(i)
      assert(c >= -1.0 && c <= 1.0, s"col $i: $c")
    }
  }

  test("q_pareto_coverage: thresholds are monotone and exact") {
    val r = query("q_pareto_coverage").head()
    val (nUsers, nEvents) = (r.getLong(0), r.getLong(1))
    val (n50, n80, n95) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n50 <= n80 && n80 <= n95 && n95 <= nUsers)
    assert(n50 >= 1)
    // exact-coverage identity: the top-n50 users really do carry
    // ≥ half the events, and n50−1 do not
    val counts = spark.read.parquet(s"$Sf0001/events.parquet")
      .groupBy("user_id").count()
      .collect().map(_.getLong(1)).sortBy(-_)
    val cum = counts.scanLeft(0L)(_ + _).drop(1)
    val th = (nEvents + 1) / 2
    assert(cum(n50.toInt - 1) >= th)
    if (n50 > 1) assert(cum(n50.toInt - 2) < th)
  }

  test("q_window_ranks: relative ranks behave per definition") {
    val rows = query("q_window_ranks").collect()
    assert(rows.nonEmpty)
    val byPart = rows.groupBy(_.getString(0))
    byPart.foreach { case (prio, rs) =>
      val n = rs.length
      // quartiles partition with remainder-first sizes
      val sizes = rs.groupBy(_.getInt(3)).map { case (q, g) => q -> g.length }
      assert(sizes.keySet.subsetOf(Set(1, 2, 3, 4)), prio)
      assert(sizes.values.max - sizes.values.min <= 1, prio)
      // percent_rank spans [0, 1], cume_dist ends at exactly 1
      val prs = rs.map(_.getDouble(4))
      assert(prs.min === 0.0 && prs.max === 1.0, prio)
      val cds = rs.map(_.getDouble(5))
      assert(cds.max === 1.0 && cds.min > 0.0, prio)
      assert(n === rs.map(_.getLong(1)).distinct.length, prio)
    }
  }

  test("q_cdc_compact: one current row per key, latest version wins") {
    val rows = query("q_cdc_compact").collect()
    val nUsers = spark.read.parquet(s"$Sf0001/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.length === nUsers)
    val nEvents = spark.read.parquet(s"$Sf0001/events.parquet").count()
    assert(rows.map(_.getLong(4)).sum === nEvents)
    // spot-check: the reported last event really is the max-ts row
    // (read through Tables.events — raw parquet may carry NTZ
    // timestamps, the r9 lesson)
    val ev = graft.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us")).collect()
      .groupBy(_.getLong(0))
    rows.take(10).foreach { r =>
      val best = ev(r.getLong(0)).maxBy(e => (e.getLong(2), e.getLong(1)))
      assert(r.getLong(1) === best.getLong(1), s"user ${r.getLong(0)}")
    }
  }

  test("q_kmv_union: merged sketch estimate is within contract") {
    val rows = query("q_kmv_union").collect()
    assert(rows.map(_.getString(0)).contains("<union>"))
    rows.foreach { r =>
      assert(r.getBoolean(3),
        s"${r.getString(0)}: est ${r.getDouble(2)} vs ${r.getLong(1)}")
      assert(r.getDouble(2) > 0)
    }
    // the union scope counts at least as many as any single type
    val un = rows.filter(_.getString(0) == "<union>").head.getLong(1)
    rows.filter(_.getString(0) != "<union>")
      .foreach(r => assert(r.getLong(1) <= un))
  }

  test("q_html_extract: every document round-trips through the markup") {
    val rows = query("q_html_extract").collect()
    val nDocs = spark.read.parquet(s"$Sf0001/documents.parquet").count()
    assert(rows.length === nDocs)
    rows.foreach { r =>
      assert(r.getBoolean(3), s"doc ${r.getLong(0)} failed round-trip")
      assert(r.getLong(1) > r.getLong(2)) // markup strictly adds chars
    }
  }

  test("q_coverage_at_k: monotone in k, exact at the tail") {
    val rows = query("q_coverage_at_k").collect().sortBy(_.getInt(0))
    assert(rows.length === 3)
    val covs = rows.map(_.getDouble(4))
    assert(covs.toSeq === covs.sorted.toSeq)
    covs.foreach(cv => assert(cv > 0.0 && cv <= 1.0))
    val (nTypes, nInst) = (rows.head.getLong(1), rows.head.getLong(2))
    assert(nTypes > 0 && nInst >= nTypes)
    // k beyond the whole vocabulary covers everything exactly
    rows.filter(_.getInt(0) >= nTypes)
      .foreach(r => assert(r.getLong(3) === nInst))
  }

  test("q_interval_union: dwell time between single-interval and sum bounds") {
    val rows = query("q_interval_union").collect()
    assert(rows.nonEmpty)
    val perUser = graft.Tables.events(spark, Sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (u, nI, activeUs) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val n = perUser(u)
      assert(nI >= 1 && nI <= n)
      // every island is ≥ one 30-min interval; union ≤ naive sum
      assert(activeUs >= nI * 1800000000L)
      assert(activeUs <= n * 1800000000L)
      assert(math.abs(r.getDouble(3) - activeUs / 1e6) < 1e-9)
    }
  }

  test("q_setjoin_prefix: pairs are genuine near-dups above threshold") {
    val rows = query("q_setjoin_prefix").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (inter, sa, sb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(r.getLong(0) < r.getLong(1))
      assert(inter <= math.min(sa, sb))
      val j = inter.toDouble / (sa + sb - inter)
      assert(math.abs(r.getDouble(5) - j) < 1e-15)
      assert(j >= 0.6)
    }
  }

  test("q_graph_shape: bounded whole-graph statistics") {
    val r = query("q_graph_shape").head()
    assert(r.getLong(0) > 0)
    assert(r.getLong(1) <= r.getLong(0))
    val rec = r.getDouble(2)
    assert(rec >= 0.0 && rec <= 1.0)
    if (!r.isNullAt(3))
      assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0)
  }

  test("q_welch_ttest: t recomputes from its own moments") {
    val r = query("q_welch_ttest").head()
    val (na, ma, va) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    val (nb, mb, vb) = (r.getLong(3), r.getDouble(4), r.getDouble(5))
    assert(na > 1 && nb > 1)
    assert(va >= 0 && vb >= 0)
    val sea = va / na; val seb = vb / nb
    if (sea + seb > 0) {
      val t = (mb - ma) / math.sqrt(sea + seb)
      assert(math.abs(r.getDouble(6) - t) < 1e-9)
      val df = (sea + seb) * (sea + seb) /
        (sea * sea / (na - 1) + seb * seb / (nb - 1))
      assert(math.abs(r.getDouble(7) - df) < 1e-6)
      // Welch df is bounded by min-1 and the pooled df
      assert(df >= math.min(na, nb) - 1 && df <= na + nb - 2)
    }
  }

  test("q_item_cosine: cosine is a true cosine over the rating vectors") {
    val rows = query("q_item_cosine").collect()
    assert(rows.length === 10) // 5 choose 2 pairs
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      val cos = r.getDouble(4)
      assert(cos > 0.0 && cos <= 1.0)
      assert(r.getLong(2) > 0 && r.getLong(3) > 0)
    }
  }

  test("q_lsh_dedup_eval: grading identities hold") {
    val r = query("q_lsh_dedup_eval").head()
    val (nL, nE, nH) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nH <= nL && nH <= nE)
    assert(nL > 0 && nE > 0)
    assert(math.abs(r.getDouble(3) - nH.toDouble / nL) < 1e-15)
    assert(math.abs(r.getDouble(4) - nH.toDouble / nE) < 1e-15)
  }

  test("q_kaplan_meier: survival is a proper decreasing step function") {
    val rows = query("q_kaplan_meier").collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val nUsers = graft.Tables.events(spark, Sf0001)
      .select("user_id").distinct().count()
    assert(rows.head.getLong(1) === nUsers) // everyone at risk at t=0
    // at-risk depletes by exactly the prior events + censors
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(1) === a.getLong(1) - a.getLong(2) - a.getLong(3))
      case _ =>
    }
    val s = rows.map(_.getDouble(4))
    assert(s.zip(s.tail).forall { case (x, y) => y <= x + 1e-12 })
    s.foreach(v => assert(v >= 0.0 && v < 1.0))
    // risk-set exhaustion (if present) pins survival to exactly 0
    rows.filter(r => r.getLong(2) === r.getLong(1))
      .foreach(r => assert(rows.filter(_.getLong(0) >= r.getLong(0))
        .forall(_.getDouble(4) === 0.0)))
  }

  test("q_mutual_info: MI recomputes from its own cells and is ≥ 0-ish") {
    val rows = query("q_mutual_info").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    val mi = rows.head.getDouble(4)
    assert(rows.forall(_.getDouble(4) === mi))
    val recomputed = rows.map(r =>
      (r.getLong(2).toDouble / total) * r.getDouble(3)).sum
    assert(math.abs(mi - recomputed) < 1e-6)
    // MI ≥ 0 up to the qround quantization of the ln lanes
    assert(mi > -1e-4)
  }

  test("q_stream_kmv: streaming sketch matches the batch sketch estimate") {
    // one streaming run; both the (exact, est) pairs and the
    // within_tol flag come from the same collected rows (ADVICE r11 —
    // the second run only re-launched the AvailableNow job to re-read
    // a column already present in the first collect)
    val rows = query("q_stream_kmv").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getDouble(2))
      assert(exact > 0 && est > 0)
      assert(math.abs(est - exact) / exact <= 0.3)
      assert(r.getBoolean(3))
    }
  }

  test("q_boxplot: counting-device quantiles equal Spark's own " +
      "percentile aggregate (definition pin)") {
    import org.apache.spark.sql.functions._
    // one run; both the quantile pins and the outlier recount read the
    // same collected rows (same single-collect discipline as
    // q_stream_kmv above)
    val rows = query("q_boxplot").collect()
    val got = rows
      .map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val want = graft.Tables.documents(spark, Sf0001)
      .groupBy("source")
      .agg(percentile(col("n_chars"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("p"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (s, (p25, p50, p75)) =>
      assert(Seq(p25, p50, p75) === want(s).toSeq, s)
    }
    // outlier counts recount exactly under the fences
    rows.foreach { r =>
      val (src, lo, hi) = (r.getString(0), r.getDouble(6), r.getDouble(7))
      val n = graft.Tables.documents(spark, Sf0001)
        .filter(col("source") === src &&
          (col("n_chars").cast("double") < lo ||
           col("n_chars").cast("double") > hi)).count()
      assert(r.getLong(8) === n, src)
    }
  }

  test("q_seasonal_dow: flag fires exactly per its own ratio") {
    val rows = query("q_seasonal_dow").collect()
    assert(rows.nonEmpty)
    val nEvents = graft.Tables.events(spark, Sf0001).count()
    assert(rows.map(_.getLong(3)).sum === nEvents)
    rows.foreach { r =>
      val ratio = r.getDouble(5)
      assert(ratio > 0)
      assert(r.getBoolean(6) === (ratio > 1.3 || ratio < 0.7))
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 7)
    }
  }

  test("q_quantile_normalize: the mapped value is the true pooled quantile") {
    val rows = query("q_quantile_normalize").collect()
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("n_chars").collect().map(_.getLong(0)).sorted
    val n = docs.length
    assert(rows.length === n)
    rows.foreach { r =>
      val (rank, norm) = (r.getDouble(3), r.getLong(4))
      assert(rank >= 0.0 && rank <= 1.0)
      // recompute min{v : ecdf(v) >= rank} from the raw sorted pool
      val expected = docs(docs.indices.find(i =>
        (i + 1).toDouble / n >= rank).get)
      assert(norm === expected, s"doc ${r.getLong(0)} rank=$rank")
    }
    // normalization preserves within-source order
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getDouble(3))
      val norms = sorted.map(_.getLong(4))
      assert(norms.toSeq === norms.sorted.toSeq)
    }
  }

  test("q_balanced_sample: k per class, deterministically drawn") {
    val rows = query("q_balanced_sample").collect()
    val byLang = rows.groupBy(_.getString(0))
    val langSizes = spark.read.parquet(s"$Sf0001/documents.parquet")
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, rs) =>
      assert(rs.length === math.min(10L, langSizes(lang)))
      assert(rs.map(_.getLong(1)).distinct.length === rs.length)
      // ranks are 1..k and ordered by the draw
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to rs.length).toSeq)
      val draws = sorted.map(_.getLong(2))
      assert(draws.toSeq === draws.sorted.toSeq)
    }
  }

  test("q_heaps_law: growth curve is monotone and β is sublinear-ish") {
    val rows = query("q_heaps_law").collect().sortBy(_.getInt(0))
    assert(rows.length === 10)
    val toks = rows.map(_.getLong(2))
    val vocab = rows.map(_.getLong(3))
    assert(toks.toSeq === toks.sorted.toSeq)
    assert(vocab.toSeq === vocab.sorted.toSeq)
    assert(vocab.last <= toks.last)
    // final decile covers the whole shingle universe
    val allVocab = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(explode(graft.functions.ShingleFunctions
        .md5ShingleKeys(col("text"), 3)).as("w"))
      .select("w").distinct().count()
    assert(vocab.last === allVocab)
    // growth must be REAL on this corpus (the word-level unit
    // saturates and fits 0 — the reason the unit is the 3-shingle)
    assert(vocab.last > vocab.head)
    val beta = rows.head.getDouble(6)
    assert(beta > 0.0 && beta < 1.2, s"beta=$beta")
    assert(rows.forall(_.getDouble(6) === beta))
  }
}
