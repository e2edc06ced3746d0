package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted navigable-graph ANN index (X315 — VERDICT r16 #1: the
  * HNSW/NSG production shape assembled from the pieces X303/X307/X313
  * measured separately). Build = NN-descent kNN-graph construction
  * (Dong, Moses & Li WWW 2011 — near-linear: per-round candidate
  * volume n·(2k)², never n²) followed by RNG-rule edge
  * diversification (NSG's MRNG rule, Fu et al. VLDB 2019 — n·k² local
  * pairs), committed as ONE X299 multi-table transaction:
  *
  *  - `edges` — the pruned directed kNN edges (src, dst, cos, rn),
  *  - `entry` — the single search entry node,
  *
  * so a reader can never pair a new edge set with a stale entry point
  * (the torn-index hazard). Serving (greedy beam search, HNSW's
  * layer-0 loop) reads ONLY committed artifacts — this removes the
  * n² exact-graph scaffold from the serving path that the standalone
  * X307 eval row deliberately carried.
  *
  * Entry selection: the max-out-degree node of the pruned graph
  * (ties → min id). NSG navigates from the medoid-nearest node; the
  * hub form is chosen here because it is an EXACT INTEGER argmax —
  * a centroid argmax compares engine-order-dependent float averages,
  * which the bit-replay oracle discipline cannot admit. Every node
  * keeps ≥ 1 edge (the rn = 1 edge has no closer-ranked neighbor, so
  * the RNG rule can never drop it), hence the argmax is total.
  *
  * Scale shape: descent shuffles only fixed-width (id, id, cos) rows
  * with a localCheckpoint per round; the prune is quadratic only
  * WITHIN one node's k-list; `edges` is the lone corpus-sized
  * artifact at k rows/vector (the HNSW memory budget); serving cost
  * is ~1 + beam·k·hops scored candidates regardless of corpus size.
  * Incremental corpus growth re-runs descent seeded from the
  * committed graph (the same warm-start the paper's online variant
  * uses) under a fresh commit of the same transaction. */
object AnnGraph {

  /** The table set one index commit publishes. */
  val tableNames: Seq[String] = Seq("edges", "entry")

  final val K = 16
  final val Rounds = 5
  final val Stride = 37L

  /** Src-range partition width of the committed edge table (VERDICT
    * r17 #2): edges live under `edges/pt=⌊src/W⌋/` partition dirs so
    * [[ingest]] can republish ONLY the partitions whose lists the
    * delta actually changed (new ids arrive at the top of the id
    * range, so they land in fresh partitions; far-away old lists
    * stay byte-identical and their files are carried by manifest
    * reference). At corpus scale W is tuned so one partition is a
    * few hundred MB; the default keeps partitions from degenerating
    * into per-file crumbs at eval sizes (Round18Spec passes its own
    * narrow width to exercise multi-partition carry). */
  final val PartWidth = 256L

  /** The partition column the committed edge layout uses. */
  private def ptOf(width: Long) =
    (col("src") / lit(width)).cast("long").as("pt")

  /** Score (src, dst) pairs against `e` = (id, v, nrm): one
    * fixed-width equi-join per side, bit-identical elementwise
    * cosine (the oracle replays it exactly). */
  def score(e: DataFrame, pairs: DataFrame): DataFrame = {
    val ea = e.select(col("id").as("src"), col("v").as("va"),
      col("nrm").as("na"))
    val eb = e.select(col("id").as("dst"), col("v").as("vb"),
      col("nrm").as("nb"))
    pairs.join(ea, "src").join(eb, "dst")
      .select(col("src"), col("dst"),
        Similarity.cosineWithNorms(col("va"), col("vb"),
          col("na"), col("nb")).as("cos"))
  }

  /** Deterministic stride-lattice init (neighbor j = (id + stride·j)
    * mod n) — the "arbitrary" k-regular start NN-descent requires.
    * Self-loops filtered (ADVICE r16: any n with stride·j ≡ 0 mod n
    * would seed dst = src edges whose cos = 1.0 squats a top-k slot
    * through every round). */
  def latticeEdges(e: DataFrame, n: Long, k: Int,
      stride: Long): DataFrame =
    e.select(col("id").as("src"),
      explode(array((1 to k).map(j =>
        ((col("id") + lit(j * stride)) % lit(n)).cast("long")): _*))
        .as("dst"))
      .filter(col("dst") =!= col("src"))

  /** NN-descent: from the lattice, `rounds` rounds of LOCAL
    * neighbor-of-neighbor joins — each node offers its (forward ∪
    * reverse-capped) neighborhood as candidates, new pairs are
    * scored, each node keeps its k best by (cos desc, dst).
    * Returns (g0, gFinal) — the init graph rides along because the
    * X303 eval reads the recall LIFT. Lineage cut per round. */
  def nnDescent(e: DataFrame, n: Long, k: Int = K,
      rounds: Int = Rounds, stride: Long = Stride)
      : (DataFrame, DataFrame) = {
    val g0 = score(e, latticeEdges(e, n, k, stride)).localCheckpoint(true)
    // r20 NEGATIVE RESULT (kept as documentation): running the build
    // rounds through [[descendFlagged]] with an all-fresh init is
    // result-identical (Round17Spec pins it at 2 and 5 rounds) and
    // scores fewer pairs, but measured SLOWER at bench scale (build
    // 7.9 → 10.5 s, knn_descent 7.3 → 9.5 s): the flag bookkeeping
    // adds ~3 graph-wide passes per round (fresh-adjacency semi-joins,
    // touched/rest splits) and on this slow-converging random fixture
    // most pairs stay fresh-adjacent for several rounds, so the saved
    // cosines never repay the extra exchanges. Full rescore stays.
    (g0, descendFrom(e, g0, k, rounds))
  }

  /** The full-rescoring descent loop from an arbitrary scored start
    * (src, dst, cos) — factored so Round17Spec can pin
    * [[descendFlagged]] ≡ this on an identical init. */
  def descendFrom(e: DataFrame, g0: DataFrame, k: Int,
      rounds: Int): DataFrame =
    // the object, not the `Rounds` round-count constant above
    graft.ops.Rounds.iterate("descend", g0, rounds) { (g, _) =>
      (descendRound(e, g, k).localCheckpoint(true), false)
    }

  /** ONE full-rescoring descent round over `g` — the pre-checkpoint
    * frame (factored so tools can dump the round's physical plan;
    * [[descendFrom]] is this in a loop). */
  private[graft] def descendRound(e: DataFrame, g: DataFrame,
      k: Int): DataFrame = {
    val wRev = Window.partitionBy("dst")
      .orderBy(col("cos").desc, col("src"))
    val wFwd = Window.partitionBy("src")
      .orderBy(col("cos").desc, col("dst"))
    val rev = g.withColumn("rn", row_number().over(wRev))
      .filter(col("rn") <= k)
      .select(col("dst").as("node"), col("src").as("nbr"))
    val fwd = g.select(col("src").as("node"), col("dst").as("nbr"))
    // r20 (guide §2.4 — operations keyed the same way share one
    // exchange): an explicit hash repartition on the key ahead of
    // each keyed chain lets the B(v) distinct AND both sides of the
    // pair self-join ride ONE (node)-keyed exchange (hash(node)
    // satisfies the (node, nbr) clustering and co-partitions the
    // self-join), the candidate distinct AND the first score join
    // ride one (src)-keyed exchange, and the merge's distinct AND
    // the top-k window ride another — the per-round exchange count
    // drops from ~8 to ~5 with bit-identical rows (distinct /
    // row_number over a total order are partitioning-independent).
    val b = fwd.union(rev).repartition(col("node")).distinct()
    // r20 (guide §2.3 — shuffle fewer bytes): the pair set is
    // SYMMETRIC by construction (the self-join emits both orders of
    // every x ≠ y in B(v)), so generate only the canonical src <
    // dst half — half the distinct's shuffle — score it once, and
    // MIRROR the scored rows (cos(x,y) = cos(y,x), the same
    // deterministic expression both directions previously
    // evaluated); the merge distinct then sees exactly the rows the
    // both-orders form produced.
    val canon = b.select(col("node"), col("nbr").as("src"))
      .join(b.select(col("node"), col("nbr").as("dst")), "node")
      .filter(col("src") < col("dst"))
      .select("src", "dst").repartition(col("src")).distinct()
    val scored = score(e, canon)
    val mirrored = scored.unionByName(scored.select(
      col("dst").as("src"), col("src").as("dst"), col("cos")))
    g.unionByName(mirrored)
      .repartition(col("src")).distinct()
      .withColumn("rn", row_number().over(wFwd))
      .filter(col("rn") <= k).drop("rn")
  }

  /** FLAGGED NN-descent rounds (X321 — the new/old incremental rule
    * of Dong et al. §2.3 that the pinned X303 form deliberately
    * drops: a candidate pair in B(v) whose members BOTH entered v's
    * list in earlier rounds was already generated and scored then, so
    * only pairs with ≥ 1 FRESH side need scoring — per-round work
    * shrinks to delta-touched neighborhoods without changing any
    * result, Round17Spec pins flagged ≡ full-rescore). `init` is
    * (src, dst, cos, fresh); fresh propagates: an edge is fresh in
    * round r iff it was absent from round r−1's graph. This is the
    * warm-start engine of [[ingest]]: committed edges enter stale,
    * the new nodes' lattice edges enter fresh, and the rounds touch
    * only what the delta perturbs. */
  def descendFlagged(e: DataFrame, init: DataFrame, k: Int,
      rounds: Int): DataFrame =
    descendFlaggedTouched(e, init, k, rounds)._1

  /** [[descendFlagged]] plus the accumulated candidate-touched src
    * set (r20 — VERDICT r19 "derive the touched set from the warm
    * rounds' touched-src lineage"): the union over rounds of the srcs
    * that received scored candidates. Any src whose list the rounds
    * CHANGED is in this set (an untouched src's list passes through
    * `prevRest` verbatim every round), so it is a delta-bounded
    * SUPERSET of the truly-changed srcs — what [[ingest]] needs to
    * drop its corpus-proportional exceptAll locate-diff. */
  def descendFlaggedTouched(e: DataFrame, init: DataFrame, k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    val wRev = Window.partitionBy("dst")
      .orderBy(col("cos").desc, col("src"))
    val wFwd = Window.partitionBy("src")
      .orderBy(col("cos").desc, col("dst"))
    val start = (init.localCheckpoint(true), Option.empty[DataFrame])
    val (g, touchedAcc) = graft.ops.Rounds.iterate("descend flagged",
        start, rounds) { (state, _) =>
      val (g, touchedAcc) = state
      // FRESH-ADJACENT restriction (r18 — the O(delta) completion of
      // the flag rule): every per-round pass below runs only over
      // nodes that can possibly be affected, with BIT-IDENTICAL
      // results to the full-table form, because each device is
      // per-node local:
      //  - candidate pairs need ≥ 1 fresh side, so a node whose
      //    adjacency (fwd or rev) holds no fresh edge contributes
      //    NO pair — its rev-cap window and b-entries are dead work;
      //  - row_number windows partition by node, so restricting to a
      //    node subset cannot change any other node's ranking;
      //  - a src no scored candidate touches keeps its list
      //    unchanged (and all-stale), so the merge re-ranks only
      //    candidate-touched srcs and passes the rest through.
      // At 100 TB a warm round's shuffled volume is then bounded by
      // delta-touched neighborhoods, not the corpus edge table.
      // r20: no rename and no eager checkpoint on freshNodes — both
      // semi-joins reference the SAME subtree through a join
      // condition, so ReuseExchange dedups the broadcast/shuffle
      // build (one compute instead of two, one job less per round);
      // the distinct is dropped because left_semi dedups inherently.
      val freshNodes = g.filter(col("fresh"))
        .select(col("src").as("node"))
        .union(g.filter(col("fresh")).select(col("dst").as("node")))
      val gAdj = g.join(freshNodes, g("dst") === freshNodes("node"),
        "left_semi")
      val rev = gAdj.withColumn("rn", row_number().over(wRev))
        .filter(col("rn") <= k)
        .select(col("dst").as("node"), col("src").as("nbr"),
          col("fresh"))
      val fwd = g.join(freshNodes, g("src") === freshNodes("node"),
          "left_semi")
        .select(col("src").as("node"), col("dst").as("nbr"),
          col("fresh"))
      // r20 (guide §2.4, the descendFrom comment): one (node)-keyed
      // exchange shared by the B(v) aggregate and the pair self-join;
      // one (src)-keyed exchange shared by the candidate distinct and
      // the first score join.
      val b = fwd.unionByName(rev)
        .repartition(col("node"))
        .groupBy("node", "nbr")
        .agg(max(when(col("fresh"), 1).otherwise(0)).as("fr"))
      // canonical src < dst half only (the pair set is symmetric and
      // the freshness condition is symmetric — see the descendFrom
      // comment); scored once, mirrored below
      val cand = b.select(col("node"), col("nbr").as("src"),
          col("fr").as("fa"))
        .join(b.select(col("node"), col("nbr").as("dst"),
          col("fr").as("fb")), "node")
        .filter(col("src") < col("dst") &&
          (col("fa") === 1 || col("fb") === 1))
        .select("src", "dst").repartition(col("src")).distinct()
        .localCheckpoint(true)
      // BOTH endpoints' lists receive the mirrored pair
      val touchedSrcs = cand.select("src")
        .union(cand.select(col("dst").as("src"))).distinct()
      val touchedNext =
        Some(touchedAcc.fold(touchedSrcs)(_.union(touchedSrcs)))
      val prev = g.select("src", "dst", "cos")
      val prevTouched = prev.join(touchedSrcs, Seq("src"), "left_semi")
      val prevRest = prev.join(touchedSrcs, Seq("src"), "left_anti")
      // r20 fused merge (guide §2.4): dedup, the old/fresh mark and
      // the top-k window all ride ONE (src)-keyed exchange. The old
      // form paid a (src,dst,cos) distinct exchange, a (src) window
      // exchange AND a (src,dst) left join against prev; here the
      // union carries an `old` tag, groupBy(src,dst) dedups (cos is a
      // deterministic function of the pair, so max(cos) IS the value
      // — the same bit-identity the distinct-based merge relied on),
      // max(old) marks pairs present in prev, and fresh = !old —
      // row-for-row what the join produced.
      val scored = score(e, cand)
      val mirrored = scored.unionByName(scored.select(
        col("dst").as("src"), col("src").as("dst"), col("cos")))
      val mergedTouched = prevTouched.withColumn("old", lit(true))
        .unionByName(mirrored.withColumn("old", lit(false)))
        .repartition(col("src"))
        .groupBy("src", "dst")
        .agg(max("cos").as("cos"), max("old").as("old"))
        .withColumn("rn", row_number().over(wFwd))
        .filter(col("rn") <= k).drop("rn")
      val freshTouched = mergedTouched
        .select(col("src"), col("dst"), col("cos"),
          (!col("old")).as("fresh"))
      // untouched srcs: list unchanged, nothing fresh by construction
      ((prevRest.withColumn("fresh", lit(false))
        .unionByName(freshTouched)
        .localCheckpoint(true), touchedNext), false)
    }
    val touched = touchedAcc.fold(
      g.sparkSession.range(0).select(col("id").as("src")))(_.distinct())
    (g.select("src", "dst", "cos"), touched)
  }

  /** Delta-ingest `newPred`-selected vectors of `eAll` into the
    * committed graph at `dir` (X321 — the HNSW insert shape done as
    * batch maintenance: warm-start [[descendFlagged]] from the
    * COMMITTED pruned lists (stale) plus the new nodes' lattice
    * edges (fresh), run `warmRounds` flagged rounds so new nodes wire
    * in and perturbed old lists repair, re-prune, re-select the
    * entry, republish the table set in ONE swap). O(delta) holds on
    * every axis (r18): scored pairs are bounded by delta-touched
    * neighborhoods (the flag rule), the per-round window passes run
    * only over fresh-adjacent nodes (the [[descendFlagged]]
    * restriction, spec-proven invisible), and the publish rewrites
    * ONLY src-range partitions whose pruned lists changed
    * ([[Shard.replaceTablePartitionsAtomic]] — untouched partitions'
    * files carried by manifest reference). r20: the touched set is
    * DERIVED FROM THE WARM ROUNDS' LINEAGE
    * ([[descendFlaggedTouched]] — candidate-touched srcs ∪ the new
    * ids), which removed the last corpus-proportional pass (the r19
    * exceptAll locate-diff scanned the full edge table twice). The
    * lineage set is a delta-bounded SUPERSET of the truly-changed
    * srcs; carrying the extra srcs through the restricted prune is
    * invisible because the committed form is a rank→prune→rerank
    * FIXPOINT (see [[rerankKept]]) — an unchanged list reproduces
    * itself bit-for-bit, and the delta-sized publish diff below then
    * cancels it out of the partition-rewrite set. New ids must
    * be disjoint from committed sources (the X311 retry guard). */
  def ingest(eAll: DataFrame, newPred: org.apache.spark.sql.Column,
      dir: String, k: Int = K, warmRounds: Int = 2,
      stride: Long = Stride, partWidth: Long = PartWidth): Unit = {
    val s = eAll.sparkSession
    val (edges, _) = load(s, dir)
    val n = eAll.count() // bounded action: full-corpus lattice modulus
    val newE = eAll.filter(newPred)
    val dup = newE.select("id")
      .join(edges.select(col("src").as("id")).distinct(), Seq("id"),
        "left_semi").count()
    require(dup == 0L,
      s"graph ingest into $dir: $dup ids already committed — deltas " +
        "must be disjoint (a retry of a committed delta re-ingests)")
    val old = edges.select("src", "dst", "cos", "rn")
      .localCheckpoint(true) // descent init + untouched-list carry
    val init = old.select("src", "dst", "cos")
      .withColumn("fresh", lit(false))
      .unionByName(score(eAll, latticeEdges(newE, n, k, stride))
        .withColumn("fresh", lit(true)))
    val (g, candTouched) =
      descendFlaggedTouched(eAll, init, k, warmRounds)
    // O(touched) RE-PRUNE (r19 — the small-delta probe exposed the
    // full-graph re-rank+re-prune as ingest's last corpus-
    // proportional compute: n·k² candidate scorings per delta): only
    // srcs whose RAW list the warm rounds changed need rank/prune —
    // an untouched src's list is its committed PRUNED rows verbatim
    // (stale edges carry committed cos), and the committed form is a
    // rank→prune→rerank FIXPOINT ([[rerankKept]]: prune of an
    // already-pruned list keeps every edge — a kept edge's violator
    // set only shrinks when the list shrinks — and dense re-ranking
    // over the same row set in the same (cos desc, dst) order
    // reproduces the committed rn). So untouched lists are carried
    // BY VALUE into `kept` without recomputation, bit-identical to
    // the full re-prune (Round18Spec's full-republish twin now
    // applies rerankKept and still matches row-for-row).
    // r20: the touched set comes from the rounds' own lineage — no
    // corpus scan. Candidate-touched srcs cover every OLD list the
    // rounds could have changed; the new ids are added explicitly (a
    // new node may never surface as another node's candidate, but its
    // lattice-seeded list still needs its first rank+prune). `g` is a
    // projection of the last round's checkpoint — no extra copy.
    val touchedSrcs = candTouched
      .union(newE.select(col("id").as("src")))
      .distinct().localCheckpoint(true)
    val gT = g.join(touchedSrcs, Seq("src"), "left_semi")
    val keptT = rerankKept(rngPrune(rankEdges(gT), eAll))
      .localCheckpoint(true)
    val keptUntouched = old.join(touchedSrcs, Seq("src"), "left_anti")
    val kept = keptUntouched.unionByName(keptT).localCheckpoint(true)
    val entry = kept.groupBy("src").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src").asc)
      .select("src").limit(1).head().getLong(0)
    import s.implicits._
    // O(delta) PUBLISH (VERDICT r17 #2, the IVF index's X317 twin):
    // republish ONLY the src-range partitions whose pruned lists
    // changed. With the restricted prune above, the changed-list diff
    // runs over DELTA-SIZED frames (keptT vs the committed rows of
    // the same touched srcs) — the r18 corpus-wide exceptAll scan is
    // gone. Untouched partitions' files enter the new manifest BY
    // REFERENCE; at 100 TB the delta's write I/O is bounded by
    // delta-touched neighborhoods, never the corpus.
    val oldTouched = old.join(touchedSrcs, Seq("src"), "left_semi")
    // r20 (guide §2.3/§2.4): the symmetric diff as ONE tagged
    // aggregate instead of two exceptAll passes (each of which
    // shuffled both delta-sized frames) — a row is in the diff iff
    // its side-tagged multiset counts differ, and per-side lists are
    // rank-unique so the general 2·na ≠ nt test reduces to "appears
    // on exactly one side"; same value-equality semantics exceptAll
    // used (Round18Spec's partition-carry tests pin the behavior).
    val touched = keptT.withColumn("__a", lit(1))
      .unionByName(oldTouched.withColumn("__a", lit(0)))
      .groupBy("src", "dst", "cos", "rn")
      .agg(sum("__a").as("na"), count(lit(1)).as("nt"))
      .filter(col("na") * 2 =!= col("nt"))
      .select((col("src") / lit(partWidth)).cast("long").as("pt"))
      .distinct().collect().map(_.getLong(0)).toSet
    val newRows = kept.withColumn("pt", ptOf(partWidth))
      .filter(col("pt").isin(touched.toSeq: _*))
    Shard.replaceTablePartitionsAtomic(dir, Shard.newCommitId(),
      "edges", newRows, "pt", touched.map(v => s"pt=$v"),
      rewriteTables = Seq("entry" -> Seq(entry).toDF("node")))
    Shard.gcOldCommits(s, dir)
  }

  /** Per-source neighbor rank (cos desc, dst) over a scored edge
    * frame — the (src, dst, cos, rn) shape the prune consumes. */
  def rankEdges(g: DataFrame): DataFrame =
    g.withColumn("rn", row_number().over(
      Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))))

  /** DENSE re-rank of a pruned edge set (r19 — the partition-carry
    * enabler): [[rngPrune]] keeps each edge's rank within the RAW
    * k-list, so a mid-list drop leaves gaps, and a later [[ingest]]
    * recomputing an UNTOUCHED src's list from its committed (pruned)
    * rows would produce different rn values — flagging every src as
    * changed and defeating the O(touched) partition-replace publish
    * on any fixture where the prune drops mid-list edges. Committing
    * ranks DENSE over the kept rows (cos desc, dst — the same total
    * order) makes the committed form a fixpoint: rank→prune→rerank
    * of an already-committed list reproduces it bit-for-bit, which
    * is what lets ingest carry untouched lists by reference AND skip
    * their re-prune entirely. */
  def rerankKept(kept: DataFrame): DataFrame =
    kept.drop("rn").withColumn("rn", row_number().over(
      Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))))

  /** MRNG/RNG-rule edge diversification over (src, dst, cos, rn)
    * edges: drop (q, b) when some closer-ranked neighbor a has
    * cos(a, b) > cos(q, b) — b is better reached THROUGH a. Pair
    * generation is quadratic only within one node's k-list. */
  def rngPrune(gk: DataFrame, e: DataFrame): DataFrame = {
    val cand = gk.as("g1").join(gk.as("g2"),
        col("g1.src") === col("g2.src") && col("g2.rn") < col("g1.rn"))
      .select(col("g1.src").as("src"), col("g1.dst").as("b"),
        col("g1.cos").as("cos_qb"), col("g2.dst").as("a"))
    val viol = cand
      .join(e.select(col("id").as("a"), col("v").as("va"),
        col("nrm").as("na")), "a")
      .join(e.select(col("id").as("b"), col("v").as("vb"),
        col("nrm").as("nb")), "b")
      .filter(Similarity.cosineWithNorms(col("va"), col("vb"),
        col("na"), col("nb")) > col("cos_qb"))
      // r20 (guide §2.4): hash(src) satisfies the (src, b) distinct
      // AND co-partitions the anti-join below with gk's (src)-keyed
      // layout — one exchange instead of two
      .select(col("src"), col("b")).repartition(col("src")).distinct()
    gk.join(viol.withColumnRenamed("b", "dst"),
      Seq("src", "dst"), "left_anti")
  }

  /** Build the navigable graph over `e` = (id, v, nrm) and atomically
    * commit `edges` + `entry` under `dir`. Superseded commits are
    * GC'd (single-use commit ids). */
  def build(e: DataFrame, dir: String, k: Int = K, rounds: Int = Rounds,
      stride: Long = Stride, partWidth: Long = PartWidth): Unit = {
    val s = e.sparkSession
    val n = e.count() // bounded action: corpus cardinality for the lattice
    val (_, g) = nnDescent(e, n, k, rounds, stride)
    val gk = rankEdges(g).localCheckpoint(true) // pair gen + kept filter
    // dense committed ranks (r19): the prune-stable fixpoint form —
    // see [[rerankKept]]
    val kept = rerankKept(rngPrune(gk, e)).localCheckpoint(true)
    val entry = kept.groupBy("src").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src").asc)
      .select("src").limit(1).head().getLong(0) // ONE scalar
    import s.implicits._
    // edges land src-range-partitioned (pt = ⌊src/W⌋ dirs) so a later
    // [[ingest]] can swap ONLY delta-touched partitions; the pt column
    // is directory-only (derivable from src), readers see the same
    // (src, dst, cos, rn) schema as before
    Shard.writeTablesAtomic(
      Seq("edges" -> kept.withColumn("pt", ptOf(partWidth)),
        "entry" -> Seq(entry).toDF("node")),
      dir, Shard.newCommitId(), partitionBy = Map("edges" -> "pt"))
    Shard.gcOldCommits(s, dir)
  }

  /** Build only if `dir` has no committed index (the serve path's
    * build-once guard). */
  def ensureBuilt(e: DataFrame, dir: String): Unit = {
    if (!Shard.hasCommittedTables(e.sparkSession, dir, tableNames))
      build(e, dir)
  }

  /** The committed artifacts: the pruned edge frame (corpus-sized,
    * stays distributed) and the entry node (one scalar). */
  def load(s: SparkSession, dir: String): (DataFrame, Long) = {
    val edges = Shard.readTableViaManifest(s, dir, "edges")
    val entry = Shard.readTableViaManifest(s, dir, "entry")
      .head().getLong(0)
    (edges, entry)
  }
}
