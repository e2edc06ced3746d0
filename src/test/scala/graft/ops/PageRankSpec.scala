package graft.ops

import graft.SparkSuite

class PageRankSpec extends SparkSuite {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 5)
      : Map[Long, Double] = {
    val df = edges.toDF("src", "dst")
    PageRank.run(df, "src", "dst", iters, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("mass is conserved: ranks sum to ~1 after damped rounds") {
    val r = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)))
    assert(math.abs(r.values.sum - 1.0) < 1e-4, r)
  }

  test("a star hub outranks its leaves") {
    // leaves 1..5 all point at 6; 6 points back at 1 only
    val r = ranks((1L to 5L).map(_ -> 6L) :+ (6L -> 1L))
    assert(r(6L) > r(2L) * 2, r)
    assert((2L to 5L).map(r).distinct.size === 1) // symmetric leaves tie
  }

  test("dangling mass is redistributed, not lost") {
    // 3 is a sink (no out-edges): without redistribution the sum decays
    val r = ranks(Seq((1L, 3L), (2L, 3L), (1L, 2L)), iters = 10)
    assert(math.abs(r.values.sum - 1.0) < 1e-3, r)
    assert(r(3L) > r(1L), r) // the sink still accumulates authority
  }

  test("deterministic under repartitioning") {
    val edges = (0 until 200).map(i =>
      (i.toLong % 20, (i * 7 + 3).toLong % 20))
    val a = PageRank.run(edges.toDF("src", "dst"), "src", "dst", 5, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = PageRank.run(edges.toDF("src", "dst").repartition(9),
        "src", "dst", 5, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  // ------------------------------------------------ seeded (X72)

  private def seeded(edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int = 5): Map[Long, Double] = {
    import spark.implicits._
    PageRank.runSeeded(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("v"), iters, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
  }

  test("seeded: mass is conserved and concentrated near the seed") {
    // chain 1→2→3→4→1; seed {1}
    val r = seeded(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), Seq(1L))
    assert(math.abs(r.values.sum - 1.0) < 1e-4, r)
    assert(r(1L) > r(3L), r) // the seed outranks the far node
    assert(r(2L) > r(3L), r) // proximity order holds along the chain
  }

  test("seeded: a node unreachable from the seeds ranks exactly 0") {
    // component {1,2} seeded; component {8,9} unreachable
    val r = seeded(Seq((1L, 2L), (2L, 1L), (8L, 9L), (9L, 8L)), Seq(1L))
    assert(r(8L) === 0.0 && r(9L) === 0.0, r)
    assert(r(1L) > 0 && r(2L) > 0, r)
  }

  test("seeded: uniform seeds over ALL nodes equals plain PageRank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val all = Seq(1L, 2L, 3L)
    val r = seeded(edges, all)
    val plain = ranks(edges)
    assert(r === plain)
  }

  test("seeded: seeds not present in the graph are ignored") {
    val r = seeded(Seq((1L, 2L), (2L, 1L)), Seq(1L, 99L))
    // |S ∩ V| = 1, so node 1 gets the full teleport, not half
    assert(math.abs(r.values.sum - 1.0) < 1e-4, r)
    assertThrows[IllegalArgumentException] {
      seeded(Seq((1L, 2L)), Seq(99L)) // no seed in graph
    }
  }

  // ------------------------------------------- exact-value pins

  // two small graphs: g1 has a sink (4), g2 a hub (5) with an extra
  // leaf edge; the literals are the qround(6) ranks of the pinned
  // rounds, so any change to the round arithmetic shows here
  private val g1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
  private val g2 = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 1L),
    (2L, 3L))

  private def pin(df: org.apache.spark.sql.DataFrame, prCol: Int) =
    df.collect().map(r => r.getLong(0) -> r.getDouble(prCol)).toMap

  test("run: exact ranks on a graph with a sink and on a hub graph") {
    assert(pin(PageRank.run(g1.toDF("src", "dst"), "src", "dst", 5,
      0.85), 1) === Map(1L -> 0.237025, 2L -> 0.184253, 3L -> 0.341697,
      4L -> 0.237025))
    assert(pin(PageRank.run(g2.toDF("src", "dst"), "src", "dst", 5,
      0.85), 1) === Map(1L -> 0.346921, 2L -> 0.03, 3L -> 0.04275,
      4L -> 0.03, 5L -> 0.55033))
  }

  test("runFrom: exact ranks from a warm start with a vanished node") {
    val init = Seq((1L, 0.5), (2L, 0.25), (9L, 0.25)).toDF("v", "pr")
    assert(pin(PageRank.runFrom(g1.toDF("src", "dst"), "src", "dst",
      init, 3, 0.85), 1) === Map(1L -> 0.279709, 2L -> 0.227779,
      3L -> 0.366336, 4L -> 0.279709))
    assert(pin(PageRank.runFrom(g2.toDF("src", "dst"), "src", "dst",
      init, 3, 0.85), 1) === Map(1L -> 0.330954, 2L -> 0.03,
      3L -> 0.04275, 4L -> 0.03, 5L -> 0.781241))
  }

  test("runSeeded: exact ranks with seeds {1, 3}") {
    val seeds = Seq(1L, 3L).toDF("v")
    assert(pin(PageRank.runSeeded(g1.toDF("src", "dst"), "src", "dst",
      seeds, 5, 0.85), 2) === Map(1L -> 0.30957, 2L -> 0.131567,
      3L -> 0.388049, 4L -> 0.170813))
    assert(pin(PageRank.runSeeded(g2.toDF("src", "dst"), "src", "dst",
      seeds, 5, 0.85), 2) === Map(1L -> 0.261676, 2L -> 0.0,
      3L -> 0.075, 4L -> 0.0, 5L -> 0.663324))
  }
}
