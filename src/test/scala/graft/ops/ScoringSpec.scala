package graft.ops

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.functions._

class ScoringSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------------ unigram LM

  test("fitUnigram: add-1 probabilities sum to 1 across classes") {
    val docs = Seq("a a a b b c", "a b d e").toDF("text")
    val m = Scoring.fitUnigram(docs, col("text"), 3)
    // classes: top-3 tokens + unk
    assert(m.top.map(_._1) === Seq("a", "b", "c")) // count desc, token asc
    assert(m.total === 10L)
    val probs = m.top.map { case (_, c) => math.pow(2, m.logp(c)) } :+
      math.pow(2, m.unkLogp)
    assert(math.abs(probs.sum - 1.0) < 1e-12, s"sum ${probs.sum}")
  }

  test("fitUnigram: top-K boundary is deterministic under count ties") {
    val docs = Seq("z y x w v").toDF("text") // all counts = 1
    val m = Scoring.fitUnigram(docs, col("text"), 3)
    assert(m.top.map(_._1) === Seq("v", "w", "x")) // token asc breaks ties
  }

  test("crossEntropy: hand-computed score on a two-class model") {
    val docs = Seq("a a b").toDF("text")
    val m = Scoring.fitUnigram(docs, col("text"), 1)
    // top = [a -> 2], total = 3, denom = 3 + 1 + 1 = 5
    // p(a) = 3/5; p(unk) = (1+1)/5 = 2/5
    val expected =
      -(math.log(3.0 / 5) / math.log(2) * 2 +
        math.log(2.0 / 5) / math.log(2)) / 3
    val got = docs.select(Scoring.crossEntropy(col("text"), m).as("x"))
      .head.getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
  }

  test("crossEntropy is partitioning-independent on the real corpus") {
    val docs = Tables.documents(spark, Sf0001)
    val m = Scoring.fitUnigram(docs, col("text"), 24)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Scoring.crossEntropy(col("text"), m).as("x"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(docs) === scores(docs.repartition(13)))
  }

  // ------------------------------------------------------- hashed NB

  test("featureBucket is stable and within range") {
    val df = Seq("alpha", "beta", "alpha").toDF("f")
    val bs = df.select(Scoring.featureBucket(col("f"), 64).as("b"))
      .collect().map(_.getLong(0))
    assert(bs(0) === bs(2))
    assert(bs.forall(b => b >= 0 && b < 64))
  }

  test("bag kernels match composed forms on multibyte/edge inputs") {
    // the kernels walk raw UTF-8 bytes; multibyte codepoints, mixed
    // whitespace (tab/CR/LF/VT/FF), empty and single-token strings
    // must bucket exactly like the string-level composed form
    val edge = Seq(
      "",
      "solo",
      "café naïve 中文 中文词",
      "a\tb\rc\nde\ff",
      "  leading and trailing  ",
      "é́ composed́marks").toDF("text")
        .withColumn("id", monotonically_increasing_id())
    val w = (0L until 64L).map(b => b -> (b * 0.25 - 8.0)).toMap
    val kernel = edge.select(col("id"),
        element_at(Scoring.inlineStats(col("text"), 64, w), 1).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val composed = edge.select(col("id"),
        Scoring.inlineMarginComposed(col("text"), 64, w).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kernel === composed)
    val kc = Scoring.featureCounts(edge, "id", col("text"), 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cc = Scoring.featureCountsComposed(edge, "id", col("text"), 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kc === cc)
  }

  test("bucket kernel ≡ composed featureCounts (training-side parity)") {
    val docs = Tables.documents(spark, Sf0001).limit(100)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val kernel = triples(
      Scoring.featureCounts(docs, "doc_id", col("text"), 1024))
    val composed = triples(
      Scoring.featureCountsComposed(docs, "doc_id", col("text"), 1024))
    assert(kernel === composed)
    assert(kernel.nonEmpty)
  }

  test("naive Bayes separates a separable corpus exactly") {
    val docs = Seq(
      (0L, "spark scala shuffle partition", 1.0),
      (1L, "spark codegen catalyst plan", 1.0),
      (2L, "tokyo kyoto osaka nara", 0.0),
      (3L, "kyoto nara sake ramen", 0.0)).toDF("id", "text", "y")
    val feats = Scoring.featureCounts(docs, "id", col("text"), 256)
    val m = Scoring.trainNaiveBayes(feats, docs.select("id", "y"), "id")
    val preds = Scoring.marginsUnder(feats, "id", m.w)
      .select(col("id"), (col("margin") + m.bias > 0).as("p"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(preds === Map(0L -> true, 1L -> true, 2L -> false, 3L -> false))
    assert(m.bias === 0.0) // balanced classes -> ln(1)
  }

  test("naive Bayes training is partitioning-independent") {
    val docs = Tables.documents(spark, Sf0001)
    val labels = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    def fit(df: org.apache.spark.sql.DataFrame) = {
      val f = Scoring.featureCounts(df, "doc_id", col("text"), 1024)
      Scoring.trainNaiveBayes(f, labels, "doc_id")
    }
    val a = fit(docs)
    val b = fit(docs.repartition(13))
    assert(a.bias === b.bias)
    assert(a.w === b.w) // exact: weights derive from integer counts
  }

  test("trainNaiveBayesFolds ≡ per-fold trainNaiveBayes (pooled pass)") {
    val folds = 5
    val docs = Tables.documents(spark, Sf0001)
    val foldCol = (conv(substring(md5(concat(lit("cv:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % folds).as("fold")
    val base = docs.select(col("doc_id"), col("text"), col("lang"), foldCol)
    val labels = base.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"), col("fold"))
    val feats = Scoring.featureCounts(base, "doc_id", col("text"), 1024)
      .localCheckpoint(true)
    val pooled = Scoring.trainNaiveBayesFolds(feats, labels, "doc_id", folds)
    (0 until folds).foreach { f =>
      val train = base.filter(col("fold") =!= f)
      val tFeats = Scoring.featureCounts(train, "doc_id", col("text"), 1024)
      val m = Scoring.trainNaiveBayes(tFeats,
        train.select(col("doc_id"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y")), "doc_id")
      // bit-identical, not approximate: both paths derive the same
      // doubles from the same integer counts
      assert(pooled(f).bias === m.bias, s"fold $f bias")
      assert(pooled(f).w === m.w, s"fold $f weights")
    }
  }

  test("inlineStats margin ≡ counted margins (scoring-path equivalence)") {
    val docs = Tables.documents(spark, Sf0001)
    val labels = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val feats = Scoring.featureCounts(docs, "doc_id", col("text"), 1024)
    val m = Scoring.trainNaiveBayes(feats, labels, "doc_id")
    val counted = Scoring.marginsUnder(feats, "doc_id", m.w)
      .select("doc_id", "margin", "n_feats").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val inline = docs.select(col("doc_id"),
        element_at(Scoring.inlineStats(col("text"), 1024, m.w), 1)
          .as("margin"),
        Scoring.inlineFeatureCount(col("text")).as("n_feats"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(inline.keySet === counted.keySet)
    inline.foreach { case (id, (mi, ni)) =>
      val (mc, nc) = counted(id)
      assert(ni === nc)
      // same sum, different association order: float-fold tolerance
      assert(math.abs(mi - mc) <= 1e-9 * math.max(1.0, math.abs(mc)),
        s"doc $id: inline $mi vs counted $mc")
    }
    // the fused kernel is BIT-identical to the composed fold (same
    // feature order, same per-feature weights, same 0.0 seed)
    val composed = docs.select(col("doc_id"),
        Scoring.inlineMarginComposed(col("text"), 1024, m.w).as("margin"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    inline.foreach { case (id, (mi, _)) =>
      assert(mi === composed(id), s"doc $id: kernel $mi != composed")
    }
  }

  test("lang-ID distillation beats the prior on the real corpus") {
    val docs = Tables.documents(spark, Sf0001)
    val labels = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val feats = Scoring.featureCounts(docs, "doc_id", col("text"), 1024)
    val m = Scoring.trainNaiveBayes(feats, labels, "doc_id")
    val joined = Scoring.marginsUnder(feats, "doc_id", m.w)
      .join(labels, "doc_id")
      .select((col("margin") + m.bias > 0).as("p"), col("y"))
      .collect()
    val acc = joined.count(r => r.getBoolean(0) == (r.getDouble(1) == 1.0))
      .toDouble / joined.length
    val prior = math.max(
      joined.count(_.getDouble(1) == 1.0),
      joined.count(_.getDouble(1) == 0.0)).toDouble / joined.length
    assert(acc > prior + 0.05, s"acc $acc vs prior $prior")
  }

  // ----------------------------------------------- per-group unigram LM

  test("fitUnigramByGroup equals independent per-slice fits") {
    val docs = Seq(
      ("en", "a a a b c"), ("en", "a b d"),
      ("de", "x x y"), ("de", "y z z z")).toDF("lang", "text")
    val grouped = Scoring.fitUnigramByGroup(docs, col("lang"),
      col("text"), 2)
    for (g <- Seq("en", "de")) {
      val solo = Scoring.fitUnigram(docs.filter(col("lang") === g),
        col("text"), 2)
      assert(grouped(g).top === solo.top, s"group $g top")
      assert(grouped(g).total === solo.total, s"group $g total")
    }
  }

  test("crossEntropyByGroup scores each doc under its own group model") {
    val docs = Seq(
      ("en", "a a a b c"), ("en", "a b d"),
      ("de", "x x y"), ("de", "y z z z")).toDF("lang", "text")
    val grouped = Scoring.fitUnigramByGroup(docs, col("lang"),
      col("text"), 2)
    val both = docs.select(col("lang"), col("text"),
        Scoring.crossEntropyByGroup(col("lang"), col("text"), grouped)
          .as("xg"))
      .collect()
    both.foreach { r =>
      val m = grouped(r.getString(0))
      val solo = Seq(r.getString(1)).toDF("text")
        .select(Scoring.crossEntropy(col("text"), m)).as[Double].head()
      assert(math.abs(r.getDouble(2) - solo) < 1e-12,
        s"${r.getString(0)}: ${r.getDouble(2)} vs $solo")
    }
  }
}
