package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.window.WindowExec

/** Smoke every registered query at sf0.001: runs, has the declared
  * shape, and (where the operator guarantees it) returns rows. Value
  * correctness is the DuckDB oracle gate's job (tools/selfcheck.py).
  * Each query's one build also feeds the two plan sweeps (run last). */
class QueriesSpec extends SparkSuite {

  // operators whose correct result CAN be empty at tiny scale
  private val mayBeEmpty = Set("q_except", "q_anti_join", "q_filter_null_like",
    "q_intersect", "q_union", "q_group_count_one")

  // What the plan sweeps read, by query name; a sweep builds what is
  // missing. Facts, never DataFrames: a later row's rebuild of a shared
  // index dir GCs files an earlier built plan still references
  // (Verify.exclusiveGroup), so each query runs right after its build.
  private case class PlanFacts(globalWindows: Int, cartesian: Boolean,
    nestedLoop: Boolean)
  private val facts = collection.mutable.Map.empty[String, PlanFacts]
  private def factsOf(q: QueryDef, df: => DataFrame): PlanFacts =
    facts.getOrElseUpdate(q.name, {
      val qe = df.queryExecution
      val p = qe.explainString(ExplainMode.fromString("formatted"))
      val globalWindows = qe.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w }.size
      PlanFacts(globalWindows, p.contains("CartesianProduct"),
        p.contains("BroadcastNestedLoopJoin"))
    })

  SparkEntry.defs.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val df = q.fn(spark, Sf0001)
      factsOf(q, df)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("query names are unique and every oracle key has a query") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("plan sweep: no partition-less Window anywhere on the query surface") {
    // A Window with an empty partition spec funnels every row through
    // ONE task — the scale defect class that shipped in r6's
    // q_token_budget (since rewritten onto ops.PrefixSum). Gate it so
    // it can't ship again. No exception: q_row_number (W1) partitions
    // by order key, and the reference's global surrogate key (ref
    // `:163`) only re-stitches per-column tables that an immutable
    // DataFrame never splits, so the engine has none (DIVERGENCES #9).
    val failures = SparkEntry.defs.flatMap { q =>
      val bad = factsOf(q, q.fn(spark, Sf0001)).globalWindows
      if (bad == 0) None
      else Some(s"${q.name}: $bad partition-less Window node(s)")
    }
    assert(failures.isEmpty,
      s"single-partition windows planned:\n${failures.mkString("\n")}")
  }

  test("plan sweep: no product join anywhere on the whole query surface") {
    // Deliberate exceptions, each an EXACT baseline whose scale path
    // is a separate query: brute-force ANN scores the broadcast query
    // set against every corpus row (vs q_ann_lsh / q_ann_ivf) — the
    // int8 variant is the same full-scan contract, just on 4×-smaller
    // codes — and exact all-pairs embedding dedup joins on id_a < id_b
    // (vs the banded q_dedup_embedding_lsh). All nested-loop by
    // contract.
    // q_ann_recall / q_ann_recall_int8 inherit the brute-force BNLJ:
    // recall@k is BY DEFINITION measured against the exact ground
    // truth, so each eval necessarily contains the q_ann_bruteforce
    // scan (the approximate/quantized paths they grade stay
    // hash-join-only; q_ann_recall_int8 additionally contains the
    // q_ann_int8 full scan it is grading).
    val bnljByDesign = Set("q_ann_bruteforce", "q_ann_int8",
      "q_dedup_embedding_exact", "q_ann_recall", "q_ann_recall_int8",
      // X236 PQ eval: the exact ground-truth lane is a declared
      // brute-force scan (the X74 discipline); the PQ path itself is
      // code-table equi-joins
      "q_pq_recall",
      // X301 OPQ eval: same contract as q_pq_recall — the pq/opq
      // comparison lanes are declared FULL-SCAN ADC rankings (the
      // rotation changes scoring, not candidate geometry), graded
      // against the inherited brute-force ground truth
      "q_ann_opq",
      // X283 binary-quantization eval: ground-truth brute force + the
      // declared binary full scan it grades (the X74/X159 contract)
      "q_ann_recall_binary",
      // X291 recall@k curve inherits the brute-force ground truth
      "q_ann_recall_curve",
      // X298 nprobe curve: same inherited brute-force ground truth;
      // the four IVF lanes it grades stay hash-join-only
      "q_ann_nprobe_curve",
      // X247 Matryoshka eval: all four lanes are declared exact
      // brute-force scans by contract (truncation-recall ground truth)
      "q_matryoshka",
      // X303 NN-descent eval: the DESCENT is local joins only
      // (neighbor-of-neighbor equi-joins); the inherited brute-force
      // scan is the 50-query ground-truth recall lane
      "q_knn_descent",
      // X307 graph search: the SEARCH is equi-join hops with an
      // anti-join visited set; the exact-graph scaffold and the
      // 20-query ground truth are the declared brute-force lanes
      "q_knn_graph_search",
      // X313 RNG pruning: the PRUNE is n·k² local pairs (equi-joins);
      // the raw-graph scaffold is the declared brute-force lane
      "q_graph_prune",
      // X315 served-graph query: the SERVE path is committed-edge
      // equi-join hops (no scaffold); the 20-query ground-truth
      // recall lane is the inherited brute force (X74 discipline)
      "q_ann_graph_index_query",
      // X320 beam operating curve: four served walks (equi-join hops)
      // graded against the same inherited 20-query brute-force truth
      "q_ann_beam_curve",
      // X325 multi-entry beam: two served walks (s = 1 / s = 4 entry
      // sets, equi-join hops) against the same inherited brute force
      "q_ann_graph_multi_entry",
      // X327 filtered serving: both lanes are served walks (equi-join
      // hops + a passing-frontier extension); the declared brute
      // force is the 20-query ground truth over the PASSING corpus
      "q_ann_filtered",
      // X328 layered serving: coarse + layer-0 walks are equi-join
      // hops over committed edges; the inherited brute force is the
      // 20-query full-corpus ground truth
      "q_ann_graph_layered")
    val failures = SparkEntry.defs.flatMap { q =>
      val f = factsOf(q, q.fn(spark, Sf0001))
      val bad = Seq(
        "CartesianProduct" -> f.cartesian,
        "BroadcastNestedLoopJoin" ->
          (!bnljByDesign(q.name) && f.nestedLoop))
        .collect { case (label, true) => label }
      if (bad.isEmpty) None else Some(s"${q.name}: ${bad.mkString(", ")}")
    }
    assert(failures.isEmpty,
      s"product joins planned:\n${failures.mkString("\n")}")
  }
}
