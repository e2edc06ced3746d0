package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions.col

class TextSpec extends SparkSuite {
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("tokens: whitespace split, empties removed") {
    val got = one("  a  b\tc ")
      .select(Text.tokens(col("text")).as("t")).collect()
      .head.getSeq[String](0)
    assert(got === Seq("a", "b", "c"))
  }

  test("wordShingles: k-grams distinct; short docs degrade to whole text") {
    val got = one("a b c d")
      .select(Text.wordShingles(col("text"), 3).as("s")).collect()
      .head.getSeq[String](0)
    assert(got === Seq("a b c", "b c d"))
    val short = one("a b")
      .select(Text.wordShingles(col("text"), 3).as("s")).collect()
      .head.getSeq[String](0)
    assert(short === Seq("a b"))
  }

  test("bpeish token count splits words and punctuation") {
    val got = one("don't stop, ever!")
      .select(Text.bpeishTokenCount(col("text")).as("n")).collect()
      .head.getLong(0)
    // don ' t stop , ever !  → 7
    assert(got === 7L)
  }

  test("normalized + fingerprint: case/punct/ws insensitive") {
    val df = Seq("Hello,  World!", "hello world", "other").toDF("text")
      .select(Text.fingerprintMd5(col("text")).as("fp")).collect()
      .map(_.getString(0))
    assert(df(0) === df(1))
    assert(df(0) !== df(2))
  }

  test("langId picks the profile with most marker hits; und on none") {
    val cases = Seq(
      "the cat sat on the mat and it was good" -> "en",
      "el gato y la casa de los niños" -> "es",
      "le chat est dans la maison et les jardins" -> "fr",
      "der hund und die katze ist im haus" -> "de",
      "的 了 是 我 不" -> "zh",
      "zzz qqq www" -> "und")
    val got = cases.map(_._1).toDF("text")
      .select(Text.langId(col("text")).as("l")).collect().map(_.getString(0))
    assert(got.toSeq === cases.map(_._2))
  }

  test("quality score is in [0,1] and penalizes garbage") {
    val good = ("the quick brown fox jumps over the lazy dog and " * 8)
    val bad = "!!! ??? ### $$$ %%%"
    val df = Seq(good, bad).toDF("text")
      .select(Text.qualityScore(col("text")).as("q")).collect()
      .map(_.getDouble(0))
    assert(df.forall(q => q >= 0.0 && q <= 1.0))
    assert(df(0) > df(1))
  }

  test("repetition metrics: known values on a crafted document") {
    // "a b a b a" — tokens 5, distinct 2 → dup 3/5; top 2-gram "a b"
    // ×2, len 3, text chars 9 → 6/9; top 3-grams all ×1... except
    // "a b a" occurs twice → 3*... count: grams are (a b a),(b a b),
    // (a b a) → max count 2, len 5 → 10/9
    val r = one("a b a b a")
      .select(RepetitionFunctions.repetitionStats(col("text")).as("r"))
      .collect().head.getSeq[java.lang.Double](0)
    assert(r(0) === 3.0 / 5.0)
    assert(r(1) === (2L * 3).toDouble / 9.0)
    assert(r(2) === (2L * 5).toDouble / 9.0)
  }

  test("repetition metrics: tabs, mixed whitespace runs and leading or " +
      "trailing whitespace split like single spaces") {
    // tokens a b a b a as in the crafted document above; the two
    // n-gram fractions divide by the raw text's length
    val text = " \ta b\t\ta b \n\u000B a\r\n"
    val r = one(text)
      .select(RepetitionFunctions.repetitionStats(col("text")).as("r"))
      .collect().head.getSeq[java.lang.Double](0)
    assert(r(0) === 3.0 / 5.0)
    assert(r(1) === (2L * 3).toDouble / text.length)
    assert(r(2) === (2L * 5).toDouble / text.length)
  }

  test("repetition metrics: NULL slots for short/empty documents") {
    val rows = Seq("", "   ", "one", "one two").toDF("text")
      .select(RepetitionFunctions.repetitionStats(col("text")).as("r"))
      .collect().map(_.getSeq[java.lang.Double](0))
    assert(rows(0) === Seq(null, null, null)) // empty: no tokens
    assert(rows(1) === Seq(null, null, null)) // whitespace-only
    assert(rows(2)(0) === 0.0)                // 1 token: dup 0, no grams
    assert(rows(2)(1) === null && rows(2)(2) === null)
    assert(rows(3)(1) !== null)               // 2 tokens: 2-gram exists
    assert(rows(3)(2) === null)
  }

  test("fused RepetitionStats ≡ composed higher-order formulation " +
      "on the fixture corpus") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val fused = docs.select(col("doc_id"),
        RepetitionFunctions.repetitionStats(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Double](1))
      .toMap
    // staged composed reference: grams, counts and max materialize as
    // attributes between projections (inlining them into the nested
    // lambdas would re-evaluate the subtrees per element — O(n³))
    import org.apache.spark.sql.functions._
    def frac(counts: String, grams: String, maxc: String) =
      (col(maxc) * array_max(zip_with(col(counts),
        transform(col(grams), g => length(g)),
        (c, l) => when(c === col(maxc), l)))).cast("double") /
        nullif(length(col("text")).cast("double"), lit(0.0))
    val composed = docs
      .select(col("doc_id"), col("text"),
        Text.wordNgramsAll(col("text"), 2).as("g2"),
        Text.wordNgramsAll(col("text"), 3).as("g3"))
      .select(col("*"),
        transform(col("g2"),
          g => size(filter(col("g2"), x => x === g))).as("c2"),
        transform(col("g3"),
          g => size(filter(col("g3"), x => x === g))).as("c3"))
      .select(col("*"), array_max(col("c2")).as("m2"),
        array_max(col("c3")).as("m3"))
      .select(col("doc_id"),
        Text.dupTokenFraction(col("text")).as("d"),
        frac("c2", "g2", "m2").as("t2"),
        frac("c3", "g3", "m3").as("t3"))
      .collect().map(r => r.getLong(0) -> Seq(
        if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(fused.keySet === composed.keySet)
    fused.foreach { case (id, f) => assert(f === composed(id), s"doc $id") }
  }

  test("PII redaction: emails, IPv4s, digit runs — counts and order") {
    val text = "mail a.b+c@x-y.co.uk or 192.168.0.1 acct 12345678 " +
      "short 123456 not an ip 999.999.999.999"
    val df = one(text)
    val (e, i, n) = Text.piiCounts(col("text"))
    val r = df.select(e.as("e"), i.as("i"), n.as("n"),
      Text.redactPii(col("text")).as("t")).collect().head
    assert(r.getLong(0) === 1L)
    // \d{1,3} matches inside 999.999… too (byte pattern, not semantics)
    assert(r.getLong(1) === 2L)
    assert(r.getLong(2) === 1L) // 12345678; 123456 is < 7 digits
    val scrubbed = r.getString(3)
    assert(scrubbed.contains("<EMAIL>") && scrubbed.contains("<IP>")
      && scrubbed.contains("<NUM>"))
    assert(!scrubbed.contains("@") && !scrubbed.contains("12345678"))
    assert(scrubbed.contains("123456")) // short runs survive
  }

  test("dupLineFraction: duplicate lines counted, blanks ignored") {
    val r = one("alpha\nbeta\n\nalpha\ngamma\nbeta\nalpha")
      .select(Text.dupLineFraction(col("text")).as("f"))
      .collect().head.getDouble(0)
    // 6 non-empty lines, 3 distinct → 3/6
    assert(r === 0.5)
    val single = one("no newlines here")
      .select(Text.dupLineFraction(col("text")).as("f"))
      .collect().head.getDouble(0)
    assert(single === 0.0)
  }

  test("repetition_stats registered on the SQL surface") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT repetition_stats('x y x y') AS r")
      .collect().head.getSeq[java.lang.Double](0)
    assert(r(0) === 0.5)
  }
}
