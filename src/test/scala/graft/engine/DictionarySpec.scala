package graft.engine

import graft.SparkSuite

class DictionarySpec extends SparkSuite {
  import spark.implicits._

  private def dict(rows: Seq[(String, String, String)]) =
    rows.toDF("raw_data_column", "raw_data_column_name",
      "equivalent_clean_data_name")
      .withColumn("notes", org.apache.spark.sql.functions.lit(""))

  test("plan: unmatched and NOT USED columns are dropped (ref :128-130)") {
    val d1 = dict(Seq(("c1", "keep_me", "Kept"),
      ("c2", "drop_marked", "NOT USED - x")))
    val d2 = dict(Seq(("c3", "other", "Other")))
    val plan = Dictionary.planLocal(Seq("keep_me", "drop_marked", "unmatched"),
      Dictionary.collectDicts(d1, d2))
    assert(plan.drops.toSet === Set("drop_marked", "unmatched"))
    assert(plan.renames === Map("keep_me" -> "Kept"))
  }

  test("plan: duplicate clean names are kept but not renamed (ref :175-178)") {
    val d1 = dict(Seq(("c1", "a", "Same"), ("c2", "b", "Same"),
      ("c3", "c", "Unique")))
    val d2 = dict(Seq.empty)
    val plan = Dictionary.planLocal(Seq("a", "b", "c"),
      Dictionary.collectDicts(d1, d2))
    assert(plan.drops.isEmpty)
    assert(plan.renames === Map("c" -> "Unique"))
    assert(plan(Seq("a", "b", "c")) ===
      Seq("a" -> "a", "b" -> "b", "c" -> "Unique"))
  }

  test("lookup matches case-insensitively like T-SQL collation") {
    val d1 = dict(Seq(("c1", "school name", "Clean School Name")))
    val d2 = dict(Seq.empty)
    val plan = Dictionary.planLocal(Seq("School NAME"),
      Dictionary.collectDicts(d1, d2))
    assert(plan.drops.isEmpty)
    assert(plan.renames === Map("School NAME" -> "Clean School Name"))
  }

  test("lookup: template 1 wins coalesce (ref :100-103)") {
    val d1 = dict(Seq(("c1", "x", "FromOne")))
    val d2 = dict(Seq(("c2", "x", "FromTwo"), ("c3", "y", "OnlyTwo")))
    val lk = Dictionary.lookup(spark, Seq("x", "y"), d1, d2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lk === Map("x" -> "FromOne", "y" -> "OnlyTwo"))
  }

  test("planLocal ≡ plan(lookup(...)): driver path matches DataFrame path") {
    for (seed <- 0 until 20) {
      val rnd = new scala.util.Random(100 + seed)
      val cols = (0 until (2 + rnd.nextInt(8))).map(i => s"Col_$i")
      def entries() = cols.flatMap { c =>
        rnd.nextInt(6) match {
          case 0 => None
          case 1 => Some((c, c.toLowerCase, s"NOT USED $c"))
          case 2 => Some((c, c, c))
          case 3 => Some((c, c.toUpperCase, s"clean_$c"))
          case 4 => Some((c, c, "shared"))
          case 5 => Some((c, c, s"Renamed $c"))
        }
      }
      val (d1, d2) = (dict(entries()), dict(entries()))
      val viaDf = Dictionary.plan(Dictionary.lookup(spark, cols, d1, d2))
      val viaLocal = Dictionary.planLocal(cols,
        Dictionary.collectDicts(d1, d2))
      assert(viaLocal.drops.toSet === viaDf.drops.toSet, s"seed=$seed drops")
      assert(viaLocal.renames === viaDf.renames, s"seed=$seed renames")
    }
  }

  test("planLocal lower-cases locale-independently (tr_TR: I is not ı)") {
    // Under a Turkish default locale, String.toLowerCase maps ASCII `I`
    // to dotless `ı`, so `School ID` would miss the row `school id`
    // that Spark's `lower()` (the lookup path) matches.
    val d1 = dict(Seq(("c1", "school id", "School ID Clean")))
    val d2 = dict(Seq.empty)
    val cols = Seq("School ID", "NAME")
    val viaDf = Dictionary.plan(Dictionary.lookup(spark, cols, d1, d2))
    assert(viaDf.renames === Map("School ID" -> "School ID Clean"))
    val dicts = Dictionary.DictRows(
      d1 = Map("school id" -> Seq("School ID Clean")), d2 = Map.empty)
    val saved = java.util.Locale.getDefault
    val viaLocal =
      try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
        Dictionary.planLocal(cols, dicts)
      } finally java.util.Locale.setDefault(saved)
    assert(viaLocal.drops === Seq("NAME"))
    assert(viaLocal.renames === viaDf.renames)
    assert(viaLocal(cols) === Seq("School ID" -> "School ID Clean"))
  }

  test("property: kept = matched ∧ ¬NOT-USED, renamed iff clean name 1:1") {
    for (seed <- 0 until 30) {
      val rnd = new scala.util.Random(seed)
      val cols = (0 until (2 + rnd.nextInt(10))).map(i => s"col_$i")
      // each column: unmatched / NOT USED / identity / renamed /
      // duplicate-clean ("shared")
      val entries = cols.flatMap { c =>
        rnd.nextInt(5) match {
          case 0 => None
          case 1 => Some((c, c, s"NOT USED $c"))
          case 2 => Some((c, c, c))
          case 3 => Some((c, c, s"clean_$c"))
          case 4 => Some((c, c, "shared"))
        }
      }
      val plan = Dictionary.planLocal(cols,
        Dictionary.collectDicts(dict(entries), dict(Seq.empty)))
      val byRaw = entries.map(e => e._2 -> e._3).toMap
      val cleanCounts = entries.groupBy(_._3).view.mapValues(_.size).toMap
      val expectKept = cols.filter(c =>
        byRaw.get(c).exists(cl => !cl.contains("NOT USED")))
      val got = plan(cols)
      assert(got.map(_._1) === expectKept, s"seed=$seed kept mismatch")
      got.foreach { case (raw, clean) =>
        val expected =
          if (cleanCounts(byRaw(raw)) == 1) byRaw(raw) else raw
        assert(clean === expected, s"seed=$seed rename of $raw")
      }
    }
  }
}
