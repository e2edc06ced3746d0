package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-quality regression gates (SURVEY §4): the physical plans that
  * make these queries scale — pushdown into the parquet scan, column
  * pruning, broadcast dimension joins, map-side partial aggregation —
  * asserted so a refactor can't silently trade them away. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_scan_project: filter pushed to parquet, columns pruned") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"))
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"),
      s"scan should read exactly 4 columns:\n$p")
  }

  test("q_dict_left_join: both dictionary dims broadcast, fact never shuffles for the join") {
    val p = plan("q_dict_left_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"), s"dims must broadcast:\n$p")
  }

  test("q1_agg: map-side partial aggregation before the single shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"))
    assert(p.contains("partial_count"))
    // exactly 2 exchanges: agg shuffle + final orderBy range partition
    // (count the "(n) Exchange" detail sections, not tree echoes)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"extra shuffles:\n$p")
  }

  test("q_dedup_exact: document text never crosses the shuffle") {
    val p = plan("q_dedup_exact")
    assert(p.contains("partial_min"), "partial agg must run before exchange")
    // the exchange input carries hash/len/min/count — not text
    val exchangeSection = p.split("\\n\\(").find(_.startsWith("4) Exchange"))
      .orElse(p.split("\\n\\(").find(_.contains("Exchange")))
    exchangeSection.foreach(s =>
      assert(!s.contains("text#"), s"text shuffled:\n$s"))
  }

  test("q_expr_key_join: normalized key precomputed, equi-join planned (no nested loop)") {
    val p = plan("q_expr_key_join")
    assert(p.contains("lpad"))
    assert(p.contains("Join") && !p.contains("CartesianProduct"),
      s"must stay an equi-join:\n$p")
  }

  test("q_semi_join/q_anti_join plan as semi/anti hash joins") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("q_ann_bruteforce: query side broadcast — corpus is never shuffled") {
    val p = plan("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"queries must broadcast:\n$p")
  }

  test("q_dedup_minhash: candidate generation is an equi-join on band buckets") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"),
      s"LSH candidates must equi-join, never cross:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("q_dedup_exact plans a single aggregation (no join at all)") {
    val p = plan("q_dedup_exact")
    assert(!p.contains("Join"), s"exact dedup is one agg:\n$p")
  }

  test("events scan prunes to referenced columns only (q_json_extract)") {
    val p = plan("q_json_extract")
    assert(p.contains("ReadSchema: struct<event_id:bigint,props:string>"),
      s"should read only event_id+props:\n$p")
  }

  test("q_asof_join: pure window pass — the as-of match plans NO join") {
    val p = plan("q_asof_join")
    // (the final projection join is absent too: the whole match is a
    // union + window + filter)
    assert(p.contains("Window"))
    assert(!p.contains("Join"), s"as-of must not pair-join:\n$p")
  }

  test("q_asof_join_bucketed: windows + bounded equi-joins, never a product") {
    val p = plan("q_asof_join_bucketed")
    // phase 1 + the bucket-granularity carry are windows; the only
    // joins are the equi-joins stitching the tiny carry table back on
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed as-of must never plan a product:\n$p")
  }

  test("q_range_join: pair generation is an equi-join on (key, bucket)") {
    val p = plan("q_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join must never plan a product:\n$p")
    // exact range predicate rides the equi-join as its residual
    assert(p.contains("__rts") && p.contains("__lts"))
  }

  test("q_contamination: benchmark shingle set broadcast, corpus unshuffled") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the probe join:\n$p")
  }

  test("sampling queries prune the documents scan to (doc_id, source)") {
    Seq("q_sample_hash", "q_sample_stratified").foreach { q =>
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
        s"$q should read only doc_id+source:\n$p")
    }
  }

  test("q_bucketed_join: co-located SortMergeJoin, zero join exchanges") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"must stay a merge join:\n$p")
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"both scans must be bucketed:\n$p")
    // the only exchanges are AFTER the join: agg shuffle + orderBy
    // range partition — the join inputs read co-located buckets
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"join side shuffled despite bucketing:\n$p")
  }

  test("q_snapshot_diff: document text never crosses the diff shuffle") {
    val p = plan("q_snapshot_diff")
    // each side reduces to (doc_id, md5) before the full-outer join
    p.split("\\n\\(").filter(_.contains("Exchange")).foreach(s =>
      assert(!s.contains("text#"), s"text shuffled:\n$s"))
  }

  test("q_lm_score / q_hash_classifier: scoring is a scan — the only " +
      "exchanges are the final sort") {
    // both model-based scorers inline the model as a literal; the
    // scored corpus must not shuffle (fit-side jobs run at plan build
    // and are not part of this plan)
    Seq("q_lm_score", "q_lm_bigram", "q_hash_classifier").foreach { q =>
      val p = plan(q)
      assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
        s"$q scoring scan gained a shuffle:\n$p")
      assert(!p.contains("Join"), s"$q scoring must be join-free:\n$p")
      assert(!p.contains("HashAggregate"),
        s"$q scoring must be per-row only:\n$p")
    }
  }

  test("q_boilerplate_lines: whole documents never cross a shuffle") {
    val p = plan("q_boilerplate_lines")
    // individual lines legitimately cross the reassembly join and the
    // final sort ships cleaned_text; the raw document column `text#`
    // must not appear in any exchange (the df-count shuffles md5 keys)
    p.split("\\n\\(").filter(_.contains("Exchange"))
      .foreach(s => assert(!"(?<!cleaned_)text#".r.findFirstIn(s).isDefined,
        s"raw text shuffled:\n$s"))
  }

  test("q_shard_stats: assignment is expression-only before one agg shuffle") {
    val p = plan("q_shard_stats")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"shard stats should shuffle once for the agg + once for sort:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"map-side partials expected:\n$p")
  }

  test("q_token_budget: cumsum is the two-pass form — partitioned window only") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_token_budget")(spark, Sf0001)
      .queryExecution.sparkPlan
    val windows = sp.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the bucketed cumsum window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"token budget regressed to a global window:\n$sp"))
  }
}
