package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contracts of the X186/X187 additions: the Hilbert key against the
  * curve's defining properties (exhaustive 16×16), and RBO against a
  * driver-side recompute of its own fixed-point tail sums. */
class HilbertSpec extends SparkSuite {
  import spark.implicits._

  test("hilbertKey: bijection over the 16x16 grid and unit-step " +
      "adjacency (the curve's defining property)") {
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L)
      yield (x, y)).toDF("x", "y")
    val keyed = Layout.hilbertKey(col("x"), col("y"), 4)
    val got = grid.select(col("x"), col("y"), keyed.as("d")).collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    // bijection: every d in 0..255 exactly once
    assert(got.map(_._1).sorted.toSeq === (0L until 256L).toSeq)
    // adjacency: consecutive d are Manhattan-distance-1 cells — the
    // property the Z curve lacks at quadrant seams
    val byD = got.sortBy(_._1).map(_._2)
    byD.zip(byD.tail).foreach { case ((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"jump between ($x1,$y1) and ($x2,$y2)")
    }
  }

  test("hilbertKeyed (staged projections) ≡ hilbertKey (single " +
      "column) over the 16x16 grid") {
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L)
      yield (x, y)).toDF("x", "y")
    val viaColumn = grid
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), 4).as("d"))
      .orderBy("x", "y").collect().map(_.getLong(2)).toSeq
    val viaStaged = Layout
      .hilbertKeyed(grid, col("x"), col("y"), 4, "d")
      .orderBy("x", "y").collect()
      .map(_.getAs[Long]("d")).toSeq
    assert(viaStaged === viaColumn)
  }

  test("hilbertKeyed rejects input columns that collide with its " +
      "staging columns instead of silently dropping them") {
    val grid = Seq((1L, 2L, 7L)).toDF("x", "y", "__hx")
    assertThrows[IllegalArgumentException] {
      Layout.hilbertKeyed(grid, col("x"), col("y"), 4, "d")
    }
    assertThrows[IllegalArgumentException] {
      Layout.hilbertKeyed(grid.drop("__hx"), col("x"), col("y"), 4,
        "__ry")
    }
  }

  test("q_hilbert_stats: buckets partition the events table; extents " +
      "bound their rows") {
    val rows = graft.SparkEntry.queries("q_hilbert_stats")(spark, Sf0001)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum ===
      graft.Tables.events(spark, Sf0001).count())
    rows.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) < 256L)
      assert(r.getLong(2) <= r.getLong(3)) // a_min ≤ a_max
      assert(r.getLong(4) <= r.getLong(5))
    }
  }

  test("q_rank_rbo: rbo recomputes from the fixed-point tail lanes; " +
      "RBO ∈ [0,1]") {
    val rows = graft.SparkEntry.queries("q_rank_rbo")(spark, Sf0001)
      .collect()
    assert(rows.nonEmpty)
    val n = rows.length
    // recompute the fixed-point tail table exactly as both engines do
    val td = (1 to n).map(d =>
      math.floor(math.pow(0.9, d - 1) / d * 1e9 + 0.5).toLong)
    val tails = (1 to n).map(m => td.drop(m - 1).sum)
    var sumT = 0L
    rows.foreach { r =>
      val m = r.getLong(3).toInt
      assert(m === math.max(r.getLong(1), r.getLong(2)).toInt)
      assert(r.getLong(4) === tails(m - 1), s"node ${r.getLong(0)}")
      sumT += r.getLong(4)
    }
    val rbo = rows.head.getDouble(5)
    assert(rows.forall(_.getDouble(5) === rbo))
    assert(rbo === (1.0 - 0.9) * (sumT.toDouble / 1e9))
    assert(rbo >= 0.0 && rbo <= 1.0 + 1e-9)
  }
}
