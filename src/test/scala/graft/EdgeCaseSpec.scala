package graft

import graft.engine.{CleanPlan, Dictionary, Qa}
import graft.functions.Text
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Robustness at the boundaries: a complete library must hold up on
  * empty inputs, degenerate parameters, and unusual values — the cases
  * a 100 TB corpus is guaranteed to contain somewhere. */
class EdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup family on an empty table returns empty, not errors") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashPairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhashPairs(emptyDocs, "doc_id", "text").count() === 0)
  }

  test("clusterKeepMin with no pairs: everything is its own canonical") {
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.clusterKeepMin(ids, "doc_id", noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("text functions on empty and whitespace-only strings") {
    val df = Seq("", "   ", "\t\n").toDF("text").select(
      size(Text.tokens(col("text"))).as("n"),
      Text.stopwordRatio(col("text")).as("swr"),
      Text.langId(col("text")).as("lang"))
    df.collect().foreach { r =>
      assert(r.getInt(0) === 0)
      assert(r.isNullAt(1)) // 0/0 -> NULL, not NaN
      assert(r.getString(2) === "und")
    }
  }

  test("minhash signature of empty shingle set is NULL (no fake similarity)") {
    val df = Seq("").toDF("text").select(
      graft.functions.HashFunctions.minhashSignature(
        graft.functions.ShingleFunctions.shingleHashes(col("text"), 3), 16)
        .as("sig"))
    assert(df.collect().head.isNullAt(0))
  }

  test("top-k with k larger than the corpus returns all neighbors") {
    val e = Tables.embeddings(spark, Sf0001).limit(4)
    val got = Similarity.bruteForceTopK(e, e.limit(1),
      "vec_id", "embedding", "vec_id", "embedding", k = 100)
    assert(got.count() === 3) // corpus minus self
  }

  test("clean plan on a schema with no dictionary matches drops everything") {
    val plan = CleanPlan(drops = Seq("a", "b"), renames = Map.empty)
    val df = Seq(("x", "y")).toDF("a", "b")
    val out = plan.select(df)
    assert(out.columns.isEmpty)
    assert(out.count() === 1) // zero-column rows still count (ref CTAS would too)
  }

  test("dictionary plan over empty dictionaries drops all columns") {
    val emptyDict = Seq.empty[(String, String, String)]
      .toDF("raw_data_column", "raw_data_column_name",
        "equivalent_clean_data_name")
    val plan = Dictionary.planLocal(Seq("c1", "c2"),
      Dictionary.collectDicts(emptyDict, emptyDict))
    assert(plan.drops.toSet === Set("c1", "c2"))
    assert(plan.renames.isEmpty)
  }

  test("QA agreement with an empty produced table reports ratio 0") {
    val a = Seq.empty[(String, String)].toDF("f1", "f2")
    val b = Seq(("A", "B")).toDF("f1", "f2")
    val ag = Qa.agreement(a, b)
    assert(ag.countA === 0 && ag.ratio === 0.0)
  }

  test("unicode and long tokens survive the shingle/token pipeline") {
    val weird = "日本語テキスト émojis 🎉🎉 " + ("x" * 10000) + " end"
    val df = Seq(weird).toDF("text").select(
      size(graft.functions.ShingleFunctions.tokenHashes(col("text")))
        .as("n_tok"),
      Text.fingerprintMd5(col("text")).as("fp"))
    val r = df.collect().head
    assert(r.getInt(0) === 5)
    assert(r.getString(1).length === 32)
  }
}
