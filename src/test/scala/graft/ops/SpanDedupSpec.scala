package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Semantics of intra-document repeated-span removal on crafted
  * documents — first-occurrence-wins, overlap union, degenerate
  * shapes. */
class SpanDedupSpec extends SparkSuite {
  import spark.implicits._

  private def run(texts: Seq[String], k: Int = 3) =
    SpanDedup.clean(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        "doc_id", col("text"), k)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect()

  test("repeated 3-gram is removed, first occurrence kept") {
    val Array((_, n, dups, removed, cleaned)) = run(Seq("a b c d a b c e"))
    assert(n === 8)
    assert(dups === 1)      // the second "a b c"
    assert(removed === 3)
    assert(cleaned === "a b c d e")
  }

  test("overlapping duplicate windows union their removed positions") {
    // windows of "x x x x x": [xxx, xxx, xxx] — windows 2 and 3 are
    // dups; removed = {2,3,4} ∪ {3,4,5} = positions 2..5
    val Array((_, n, dups, removed, cleaned)) = run(Seq("x x x x x"))
    assert(n === 5)
    assert(dups === 2)
    assert(removed === 4)
    assert(cleaned === "x")
  }

  test("no duplicate windows: document unchanged") {
    val Array((_, n, dups, removed, cleaned)) = run(Seq("one two three four"))
    assert((n, dups, removed) === (4L, 0L, 0L))
    assert(cleaned === "one two three four")
  }

  test("documents shorter than the window pass through") {
    val rows = run(Seq("", "solo", "two words"))
    assert(rows.map(_._3).toSeq === Seq(0L, 0L, 0L))
    assert(rows.map(_._5).toSeq === Seq("", "solo", "two words"))
  }

  test("tabs, mixed whitespace runs and leading or trailing whitespace " +
      "split like single spaces") {
    val rows = run(Seq("\ta b\t\tc \n\u000B a b c\r\n", "", " \t\n"))
    assert(rows(0)._2 === 6)
    assert(rows(0)._3 === 1)
    assert(rows(0)._4 === 3)
    assert(rows(0)._5 === "a b c")
    assert(rows.tail.map(r => (r._2, r._5)).toSeq ===
      Seq((0L, ""), (0L, "")))
  }

  test("window size parameter respected (k=2)") {
    // "a b a b": 2-gram windows [ab, ba, ab] — window 3 dups window 1,
    // removing positions 3,4
    val Array((_, _, dups, removed, cleaned)) = run(Seq("a b a b"), k = 2)
    assert(dups === 1)
    assert(removed === 2)
    assert(cleaned === "a b")
  }

  test("fused kernel equals the composed HOF form on random corpora") {
    // small alphabet forces frequent window collisions; varied k
    val rnd = new scala.util.Random(7)
    val texts = Seq.tabulate(200) { _ =>
      Seq.fill(rnd.nextInt(40))("abcd".charAt(rnd.nextInt(4)).toString)
        .mkString(" ")
    }
    for (k <- Seq(2, 3, 5)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val fused = SpanDedup.clean(df, "doc_id", col("text"), k)
        .orderBy("doc_id").collect()
      val composed = SpanDedup.cleanComposed(df, "doc_id", col("text"), k)
        .orderBy("doc_id").collect()
      assert(fused.toSeq === composed.toSeq, s"k=$k")
    }
  }
}
