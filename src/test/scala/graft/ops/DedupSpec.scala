package graft.ops

import graft.{SparkSuite, Tables}
import graft.functions.{HashFunctions, Text}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact: identical texts collapse to min id with counts") {
    val df = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z",
      4L -> "a b c")
    val got = Dedup.exact(df, "doc_id", "text")
      .orderBy("kept_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 3L), (3L, 1L)))
  }

  test("nearExact: case/punct/whitespace variants collapse") {
    val df = docs(1L -> "Hello,  World!", 2L -> "hello world",
      3L -> "different doc")
    val got = Dedup.nearExact(df, "doc_id", "text")
      .orderBy("kept_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash signature: identical input → identical sig; sketch approximates jaccard") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val mutated = ((1 to 55).map(i => s"tok$i") ++
      (100 to 104).map(i => s"tok$i")).mkString(" ")
    val other = (200 to 260).map(i => s"tok$i").mkString(" ")
    val df = docs(1L -> base, 2L -> base, 3L -> mutated, 4L -> other)
      .select(col("doc_id"), HashFunctions.minhashSignature(
        Text.hashed(Text.wordShingles(col("text"), 3)), 128).as("sig"))
    val sigs = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y } / 128.0
    // true jaccard(base, mutated) on 3-shingles ≈ 0.79; disjoint ≈ 0
    assert(est(sigs(1L), sigs(3L)) > 0.5)
    assert(est(sigs(1L), sigs(4L)) < 0.15)
  }

  test("minhashPairs finds planted near-dups and skips unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 57).map(i => s"tok$i") ++ Seq("zz1", "zz2", "zz3"))
      .mkString(" ")
    val far = (200 to 260).map(i => s"tok$i").mkString(" ")
    val df = docs(1L -> base, 2L -> near, 3L -> far)
    val pairs = Dedup.minhashPairs(df, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("simhashPairs: near-identical docs within hamming 3, far docs not paired") {
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 99) :+ 999).map(i => s"tok$i").mkString(" ")
    val far = (200 to 300).map(i => s"tok$i").mkString(" ")
    val df = docs(1L -> base, 2L -> near, 3L -> far, 4L -> base)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical → hamming 0
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("clusterKeepMin: chains collapse to one component, isolated docs self-label") {
    val ids = docs(1L -> "x", 2L -> "x", 3L -> "x", 4L -> "x",
      5L -> "x", 9L -> "x").select("doc_id")
    // chain 1-2-3-5 (transitive through 2-3, 3-5) and isolated 4, 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.clusterKeepMin(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      4L -> 4L, 9L -> 9L))
  }

  test("clusterKeepMin: the distributed path equals driver union-find") {
    // chain 1-2-3-5, isolated 4 and 9, and the 12-node chain 20..31
    // (diameter 11, pairs in mixed orientation) that pointer jumping
    // collapses over several rounds
    val ids = ((1L to 5L) ++ Seq(9L) ++ (20L to 31L)).toDF("doc_id")
    val chain = (20L until 31L)
      .map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i))
    val pairs = (Seq((1L, 2L), (3L, 2L), (5L, 3L)) ++ chain.reverse)
      .toDF("id_a", "id_b")
    def clusters(localThreshold: Long): Map[Long, Long] =
      Dedup.clusterKeepMin(ids, "doc_id", pairs,
          localThreshold = localThreshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unionFind = clusters(1000000L)
    assert(clusters(0L) === unionFind)
    assert(unionFind.values.toSet === Set(1L, 4L, 9L, 20L))
  }

  test("keepCanonical keeps exactly one representative per cluster") {
    val df = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    val pairs = Seq((1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val clusters = Dedup.clusterKeepMin(df.select("doc_id"), "doc_id", pairs)
    val kept = Dedup.keepCanonical(df, "doc_id", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L)) // {1,3,4} -> 1; isolated 2 stays
  }

  test("approx_count_distinct respects its relative-error contract") {
    val li = graft.Tables.lineitem(spark, Sf0001)
    val rows = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions
          .approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
        org.apache.spark.sql.functions
          .countDistinct(col("l_partkey")).as("exact"))
      .collect()
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1), r.getLong(2))
      val relErr = math.abs(approx - exact).toDouble / exact
      assert(relErr < 0.1, s"rsd-0.02 sketch off by $relErr")
    }
  }

  test("optimalBanding lands the s-curve midpoint near the threshold") {
    // τ=0.4, n=128: equal-error optimum is 32 bands × 4 rows (midpoint
    // (1/32)^(1/4) ≈ 0.42); r=2 floods candidates (P(collide|s=0.05) ≈
    // 0.15), r=8 collapses recall at τ to ~1%.
    assert(Dedup.optimalBanding(128, 0.4) === (32, 4))
    // τ=0.9 tolerates much deeper rows — anything r ≥ 8 keeps recall
    // while slashing sub-threshold candidates
    val (b9, r9) = Dedup.optimalBanding(128, 0.9)
    assert(r9 >= 8 && b9 * r9 === 128)
    // recall at τ stays high for the chosen banding (fnWeight=2 bias)
    val recall = 1.0 - math.pow(1.0 - math.pow(0.9, r9), b9)
    assert(recall >= 0.8, s"recall@0.9 for ($b9,$r9) = $recall")
  }

  test("high-threshold minhash: capped ≡ uncapped ≡ exact scan (sf0.001)") {
    val d = Tables.documents(spark, Sf0001)
    def pairsOf(cap: Int) =
      Dedup.minhashPairs(d, "doc_id", "text", shingleK = 3,
          numHashes = 128, bands = 32, threshold = 0.9, bucketCap = cap)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairsOf(1000)       // the public q_dedup_minhash_ht path
    val uncapped = pairsOf(Int.MaxValue) // spec-harness-only variant
    assert(capped === uncapped,
      "a band bucket exceeded the cap on the test corpus — the " +
        "oracle-equality claim for the capped public path no longer holds")
    // and the LSH output at τ=0.9 equals the exact all-pairs scan
    // (banding recall ≈ 1-3.5e-15 at this threshold)
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", "source",
        shingleK = 3, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ngramJaccardPairs blocks by source; minhash is corpus-wide, so
    // compare on the blocked subset both can see
    assert(exact.subsetOf(uncapped))
  }

  test("fused Md5SimHash ≡ explode + 60-way vote aggregate on real docs") {
    val d = Tables.documents(spark, Sf0001).limit(200)
    val fused = Dedup.simhashMd5Sig(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = Dedup.simhashMd5SigReference(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === ref)
    assert(fused.nonEmpty)
  }

  test("minhash LSH recall vs exact jaccard on real documents (sf0.001)") {
    val d = Tables.documents(spark, Sf0001)
    // exact pairs at a low threshold within the whole corpus would be
    // quadratic; block by source like the exact query does
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", "source",
        shingleK = 3, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(d, "doc_id", "text", shingleK = 3,
        numHashes = 128, bands = 32, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every exact pair ≥0.4 should be recalled by 32-band LSH
    // (s^4 curve: collision prob at s=0.4 per band = 0.026, over 32
    // bands ≈ 0.56 — so assert majority recall, not totality)
    if (exact.nonEmpty) {
      val recall = exact.count(lsh.contains).toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall $recall over ${exact.size} pairs")
    }
    // and LSH must never emit a pair below the verify threshold
    assert(lsh.forall { case (a, b) => a < b })
  }

  test("embeddingPairs recovers most exact cosine pairs (sf0.001)") {
    val e = Tables.embeddings(spark, Sf0001)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingPairs(e, "vec_id", "embedding",
        threshold = 0.4, planes = 6, tables = 12)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification keeps only true pairs
    if (exact.nonEmpty) {
      val recall = exact.count(lsh.contains).toDouble / exact.size
      assert(recall >= 0.4, s"LSH recall $recall over ${exact.size} pairs")
    }
  }

  // ------------------------------------------- containment (X81)

  private def containment(rows: Seq[(Long, String)], tau: Double = 0.8,
      maxDf: Long = 100L): Map[(Long, Long), Double] = {
    import spark.implicits._
    Dedup.containmentPairs(rows.toDF("id", "text"), "id", "text",
        shingleK = 3, threshold = tau, maxDocFreq = maxDf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
  }

  test("containment: a strict prefix is contained at exactly 1.0") {
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val short = (1 to 12).map(i => s"w$i").mkString(" ")
    val c = containment(Seq(1L -> long, 2L -> short))
    assert(c((2L, 1L)) === 1.0)        // short fully inside long
    assert(!c.contains((1L, 2L)))      // long NOT inside short
  }

  test("containment is asymmetric and both directions can pass") {
    val a = (1 to 20).map(i => s"t$i").mkString(" ")
    val c = containment(Seq(1L -> a, 2L -> a))
    assert(c((1L, 2L)) === 1.0 && c((2L, 1L)) === 1.0)
  }

  test("containment: unrelated texts produce no pair") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = (1 to 20).map(i => s"b$i").mkString(" ")
    assert(containment(Seq(1L -> a, 2L -> b)).isEmpty)
  }

  test("containment: the doc-frequency prune only lowers the score") {
    // the shared run is in all 3 docs; maxDf=2 prunes its shingles, so
    // doc 2 (shared-only) loses every indexed shingle and the (2,1)
    // pair vanishes — pruning can only LOWER scores, never raise them
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      1L -> (shared + " " + (1 to 10).map(i => s"u$i").mkString(" ")),
      2L -> shared, 3L -> shared)
    val unpruned = containment(docs, tau = 0.0, maxDf = 100L)
    val pruned = containment(docs, tau = 0.0, maxDf = 2L)
    assert(unpruned((2L, 1L)) === 1.0)
    assert(pruned.getOrElse((2L, 1L), 0.0) < 1.0)
    pruned.foreach { case (k, v) =>
      assert(v <= unpruned.getOrElse(k, 1.0) + 1e-12, k)
    }
  }

  test("maintainClusters: bridging insert merges two old components, " +
      "untouched components keep their canonical") {
    import spark.implicits._
    // persisted clustering: {1,2} canon 1, {5,6} canon 5, 9 singleton
    val oldClusters = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (9L, 9L)).toDF("doc_id", "canonical_id")
    val newIds = Seq(17L, 23L).toDF("doc_id")
    // new doc 17 is near-dup of a member of EACH old component — the
    // bridge case: both components and the newcomer must merge under
    // the global minimum; new doc 23 matches nothing
    val deltaPairs = Seq((2L, 17L), (6L, 17L)).toDF("id_a", "id_b")
    val got = Dedup.maintainClusters(oldClusters, "doc_id", newIds,
      deltaPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      9L -> 9L, 17L -> 1L, 23L -> 23L))
    // maintained ≡ recomputed from scratch over old + delta pairs
    val allIds = Seq(1L, 2L, 5L, 6L, 9L, 17L, 23L).toDF("doc_id")
    val allPairs = Seq((1L, 2L), (5L, 6L), (2L, 17L), (6L, 17L))
      .toDF("id_a", "id_b")
    val recomputed = Dedup.clusterKeepMin(allIds, "doc_id", allPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === recomputed)
  }

  test("minhashPairsDelta returns exactly the full pairs touching the delta") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val newIds = docs.filter(org.apache.spark.sql.functions.col("doc_id")
      % 10 === 7).select("doc_id")
    val delta = Dedup.minhashPairsDelta(docs, "doc_id", "text", newIds,
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text", shingleK = 3,
        numHashes = 128, bands = 32, threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 10 == 7 || b % 10 == 7 }
    assert(delta === expected)
    assert(delta.nonEmpty, "fixture has no delta-touching pairs")
  }
}
