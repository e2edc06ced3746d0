package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class RoundsSpec extends SparkSuite {
  import spark.implicits._

  // one checkpointed round: id + 1, materialized by the eager checkpoint
  private def bump(s: DataFrame): DataFrame =
    s.select((col("id") + 1).as("id")).localCheckpoint(true)

  private def start: DataFrame = spark.range(1).toDF()

  private def value(s: DataFrame): Long = s.head().getLong(0)

  test("a step that never reaches a fixpoint runs exactly maxRounds rounds") {
    var rounds = Seq.empty[Int]
    val out = Rounds.iterate("count", start, 5) { (s, t) =>
      rounds :+= t
      (bump(s), false)
    }
    assert(rounds === (1 to 5))
    assert(value(out) === 5L)
  }

  test("a fixpoint in round 2 of 10 stops there with round 2's state") {
    var rounds = Seq.empty[Int]
    val out = Rounds.iterate("fixpoint", start, 10) { (s, t) =>
      rounds :+= t
      (bump(s), t == 2)
    }
    assert(rounds === Seq(1, 2))
    assert(value(out) === 2L)
  }

  test("maxRounds = 0 runs no round and returns the start state") {
    val s0 = start
    val out = Rounds.iterate("none", s0, 0) { (_, _) =>
      fail("a round ran")
    }
    assert(out eq s0)
  }

  test("each round's jobs carry the description \"<name> round t\"") {
    val descs = jobDescriptions {
      Rounds.iterate("label", start, 3) { (s, _) => (bump(s), false) }
    }
    assert(descs.distinct === (1 to 3).map(t => Some(s"label round $t")))
  }

  test("the caller's description is back after a return and after a throw") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      Rounds.iterate("returns", start, 2) { (s, _) => (bump(s), false) }
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      val e = intercept[IllegalStateException] {
        Rounds.iterate("throws", start, 3) { (s, t) =>
          if (t == 2) throw new IllegalStateException("boom")
          (bump(s), false)
        }
      }
      assert(e.getMessage === "boom")
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    } finally sc.setJobDescription(null)
  }

  test("unchanged: true iff no key's value differs between the states") {
    val prev = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("v", "lbl")
    assert(Rounds.unchanged(prev, prev, "v", "lbl"))
    val next = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("v", "lbl")
    assert(!Rounds.unchanged(prev, next, "v", "lbl"))
  }
}
