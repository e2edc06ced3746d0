package graft.engine

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** `Qa.agreement`'s one grouped count against the form it replaced:
  * two counts and an INTERSECT, columns aligned by position. */
class QaSpec extends SparkSuite {
  import spark.implicits._

  private def reference(a: DataFrame, b: DataFrame) = Qa.Agreement(
    a.count(), b.count(), a.intersect(b.toDF(a.columns: _*)).count())

  private def same(a: DataFrame, b: DataFrame): Qa.Agreement = {
    val ag = Qa.agreement(a, b)
    assert(ag === reference(a, b))
    ag
  }

  // a duplicate row, a NULL cell, NaN, -0.0 against 0.0, and a right
  // side under other names: INTERSECT counts (x,1), (null,2), (n,NaN)
  // and (z,±0) once each
  private val a = Seq[(String, Double)](("x", 1.0), ("x", 1.0),
    (null, 2.0), ("n", Double.NaN), ("z", -0.0)).toDF("s", "d")
  private val b = Seq[(String, Double)](("x", 1.0), (null, 2.0),
    ("n", Double.NaN), ("z", 0.0), ("w", 9.0)).toDF("p", "q")

  test("duplicates, NULLs, NaN, -0.0 and renamed columns match INTERSECT") {
    assert(same(a, b) === Qa.Agreement(5, 5, 4))
    assert(same(b, a) === Qa.Agreement(5, 5, 4))
  }

  test("duplicate column names on the left are aligned by position") {
    val dup = a.toDF("k", "k")
    assert(same(dup, b) === Qa.Agreement(5, 5, 4))
    assert(same(dup, dup) === Qa.Agreement(5, 5, 4))
  }

  test("a right side whose names collide with the left's other columns") {
    val swapped = b.select($"p".as("d"), $"q".as("s"))
    assert(same(a, swapped) === Qa.Agreement(5, 5, 4))
  }

  test("zero columns: one distinct empty row, common when both sides have rows") {
    val three = spark.range(3).select()
    val two = spark.range(2).select()
    val none = spark.range(0).select()
    assert(same(three, two) === Qa.Agreement(3, 2, 1))
    // INTERSECT with an empty side is empty. Spark's own `intersect`
    // reports one common row here: its DISTINCT over zero columns is a
    // global aggregate, which yields a row even from an empty input.
    assert(Qa.agreement(three, none) === Qa.Agreement(3, 0, 0))
    assert(Qa.agreement(none, three) === Qa.Agreement(0, 3, 0))
    assert(Qa.agreement(none, none) === Qa.Agreement(0, 0, 0))
  }

  test("empty sides and disjoint sides") {
    val empty = a.limit(0)
    assert(same(empty, b) === Qa.Agreement(0, 5, 0))
    assert(same(a, empty) === Qa.Agreement(5, 0, 0))
    assert(same(a, b.where($"p" === "w")) === Qa.Agreement(5, 1, 0))
  }
}
