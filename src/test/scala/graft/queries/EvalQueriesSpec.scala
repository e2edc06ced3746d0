package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contracts of the round-10 measurement/analysis queries beyond the
  * oracle hash: the metrics they emit must MEAN what they claim. */
class EvalQueriesSpec extends SparkSuite {

  test("q_countmin_freq: one-sided guarantee and εN error bound") {
    val rows = query("q_countmin_freq").collect()
    val nUsers = graft.Tables.events(spark, Sf0001)
      .select("user_id").distinct().count()
    assert(rows.length === math.min(20L, nUsers))
    val n = graft.Tables.events(spark, Sf0001).count()
    rows.foreach { r =>
      val (exact, est, over) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact, "CMS never underestimates — deterministic")
      assert(over === est - exact)
      // expected overestimate is (N - n_u)/width per row; min over 4
      // rows sits well under the single-row εN = N/256 envelope —
      // allow 4x slack for collision luck at this sf
      assert(over <= 4L * n / 256L,
        s"overestimate $over beyond the sketch's error envelope")
    }
    // the 20 rows are the true top-20 by exact count
    val exactTop = graft.Tables.events(spark, Sf0001)
      .groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet === exactTop)
  }

  test("q_quantile_sketch: estimates track exact quantiles") {
    val est = query("q_quantile_sketch").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val exact = spark.read
      .parquet(s"$Sf0001/lineitem.parquet")
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.9), lit(0.99))))
      .head().getSeq[Double](0)
    val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    // ~256 clustered samples of 6k rows: generous bound here; the
    // sf0.01 calibration in the scaladoc sits at 1–6% relative error
    qs.zip(exact).foreach { case (q, ex) =>
      val rel = math.abs(est(q) - ex) / ex
      assert(rel < 0.25, s"q=$q est=${est(q)} exact=$ex rel=$rel")
    }
    // order statistics from one sorted sample are monotone by
    // construction — a violation means the index arithmetic broke
    assert(qs.map(est) === qs.map(est).sorted)
  }

  test("q_script_id: planted script runs dominate as designed") {
    val rows = query("q_script_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val cyr = r.getInt(2)
      if (id % 5 == 0) {
        // undressed docs are ASCII: zero non-Latin codepoints
        assert(cyr === 0, s"doc $id")
        assert(r.getString(6) === "latin", s"doc $id")
      }
      if (id % 5 == 1)
        // ≥4 repeats of a 9-letter Cyrillic run
        assert(cyr >= 36, s"doc $id cyr=$cyr")
    }
    // ratio is max/total: in (0, 1] wherever any letter exists
    rows.filter(r => !r.isNullAt(7)).foreach { r =>
      val ratio = r.getDouble(7)
      assert(ratio > 0.0 && ratio <= 1.0, r)
    }
  }

  test("q_classifier_eval: metric identities and learnable signal") {
    val r = query("q_classifier_eval").head()
    val (nPos, nNeg) = (r.getLong(0), r.getLong(1))
    val (tp, fp, fn) = (r.getLong(2), r.getLong(3), r.getLong(4))
    val auc = r.getDouble(5)
    assert(nPos === tp + fn)   // every positive is tp or fn
    assert(nPos + nNeg >= tp + fp + fn)
    assert(auc >= 0.0 && auc <= 1.0)
    assert(auc > 0.5, s"classifier should beat chance, auc=$auc")
    val f1 = r.getDouble(8)
    assert(math.abs(f1 - 2.0 * tp / (2.0 * tp + fp + fn)) < 1e-6)
  }

  test("q_temperature_mix: α<1 upweights the low-resource pool") {
    val rows = query("q_temperature_mix").collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val (rawLow, shareLow, _) = rows("low")
    val (rawHigh, shareHigh, _) = rows("high")
    assert(shareLow > rawLow, rows)   // low-resource pulled UP
    assert(shareHigh < rawHigh, rows) // high-resource pushed DOWN
    // largest-remainder apportionment is exactly exhaustive
    assert(rows.values.map(_._3).sum === 200L)
  }

  test("q_curation_audit: reason encodes the first failing policy") {
    val rows = query("q_curation_audit").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cont, qok, dup) =
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
      val (reason, kept) = (r.getString(4), r.getBoolean(5))
      val expected =
        if (cont) "contaminated"
        else if (!qok) "quality"
        else if (dup) "duplicate"
        else "kept"
      assert(reason === expected, r)
      assert(kept === (reason == "kept"), r)
    }
    // the fixture exercises every branch
    assert(rows.map(_.getString(4)).distinct.sorted ===
      Seq("contaminated", "duplicate", "kept", "quality"))
  }

  test("q_robots_eval: group scoping and longest-match semantics") {
    val rows = query("q_robots_eval").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(1)
      val n = src.filter(_.isDigit).toInt
      val (path, rule, allowed) =
        (r.getString(2), if (r.isNullAt(3)) null else r.getString(3),
          r.getBoolean(4))
      if (n % 5 == 4) {
        // no `*` group on these domains: the archiver group's
        // `Disallow: /` must NOT leak — everything allowed, rule-less
        assert(allowed && rule == null, r)
      } else path match {
        case "/private" => assert(!allowed && rule == "/private", r)
        case "/private/ok/page" => // allow overrides the shorter disallow
          assert(allowed && rule == "/private/ok", r)
        case "/private/secret" => assert(!allowed, r)
        case "/data/x" => assert(allowed === (n % 3 != 0), r)
        case "/files/report.zip" => // RFC 9309 wildcard rule /*.zip$
          assert(!allowed && rule == "/*.zip$", r)
        case "/files/report.zip.html" => // $ anchor blocks the match
          assert(allowed && rule == null, r)
        case "/data/a/public" => // wildcard allow outranks /data by length
          assert(allowed && rule == "/data/*/public", r)
        case "/home" => assert(allowed && rule == null, r)
        case other => fail(s"unexpected path $other")
      }
    }
  }

  test("q_bitext_mine: margin gate and per-source uniqueness") {
    val rows = query("q_bitext_mine").collect()
    assert(rows.nonEmpty)
    // one best candidate per source id; sides respect the parity split
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length === ids.length)
    rows.foreach { r =>
      assert(r.getLong(0) % 2 === 0 && r.getLong(1) % 2 === 1, r)
      val (margin, kept) = (r.getDouble(3), r.getBoolean(4))
      assert(margin > 0.0, r)
      // the kept gate sits on the coarser grid of the same ratio:
      // agreement within one 1e-4 step of the threshold
      if (margin > 1.0501) assert(kept, r)
      if (margin < 1.0499) assert(!kept, r)
    }
  }

  test("q_neyman_alloc: exhaustive quotas, nonnegative sigma") {
    val rows = query("q_neyman_alloc").collect()
    assert(rows.map(_.getLong(3)).sum === 100L)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0, r))
  }

  test("q_dedup_yield: the histogram accounts for every document") {
    val rows = query("q_dedup_yield").collect()
    val nDocs = spark.read.parquet(s"$Sf0001/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum === nDocs)
    rows.foreach { r =>
      assert(r.getLong(3) === r.getLong(2) - r.getLong(1), r)
      assert(r.getInt(0) >= 0, r)
    }
  }

  test("q_classifier_calibration: accounting and sigmoid monotonicity") {
    val rows = query("q_classifier_calibration").collect()
    assert(rows.nonEmpty)
    // buckets partition the classifier's scoring frame
    val nScored = query("q_hash_classifier").count()
    assert(rows.map(_.getLong(1)).sum === nScored)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), r)
      val rate = r.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0, r)
    }
    // mean margins are strictly increasing across buckets by
    // construction, so the implied sigmoid must be non-decreasing
    val implied = rows.sortBy(_.getInt(0)).map(_.getDouble(5))
    assert(implied === implied.sorted)
  }

  test("q_langid_eval: shares sum to 1 within every labeled language") {
    val rows = query("q_langid_eval").collect()
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$lang -> $total")
    }
  }

  test("q_ann_recall: recall bounded, exact baseline would be 1.0") {
    val rows = query("q_ann_recall").collect()
    assert(rows.length === 10) // 2 methods × 5 queries
    rows.foreach { r =>
      val (hits, rec) = (r.getLong(2), r.getDouble(3))
      assert(hits >= 0 && hits <= 10, r)
      assert(math.abs(rec - hits / 10.0) < 1e-12, r)
    }
    // the probed-IVF path sees far more true candidates than the
    // 4-plane LSH buckets on this corpus — the eval must expose that
    val mean = rows.groupBy(_.getString(0))
      .map { case (m, rs) => m -> rs.map(_.getDouble(3)).sum / rs.size }
    assert(mean("ivf") > mean("lsh"), mean)
  }
}
