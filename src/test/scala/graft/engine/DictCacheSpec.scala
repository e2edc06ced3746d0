package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.SparkSuite

/** `Pipeline`'s dictionaries are collected once per version of the two
  * files: a repeated run over the same templates submits no Spark job,
  * and a rewritten template is read again. */
class DictCacheSpec extends SparkSuite {

  private def cfg(d1: String, d2: String) = Pipeline.Config(
    dict1Path = d1, dict2Path = d2,
    breakfastPath = fixture("2017_2018_SBP_MEAL_PARTICIPATION.txt"),
    lunchPath = fixture("2017_2018_NSLP_MEAL_PARTICIPATION.txt"))

  /** A copy of both fixture templates in a fresh directory, with
    * AGENCY_CODE's clean name set to `agency`. */
  private def templates(agency: String): (Path, Path) = {
    val dir = Files.createTempDirectory("graft-dicts")
    val d1 = dir.resolve("dict1.txt")
    val d2 = dir.resolve("dict2.txt")
    Files.copy(Paths.get(fixture("data_dictionary_template_2.txt")), d2)
    rewrite(d1, agency)
    (d1, d2)
  }

  private def rewrite(d1: Path, agency: String): Unit = {
    val text = new String(Files.readAllBytes(
      Paths.get(fixture("data_dictionary_template_1.txt"))), UTF_8)
    Files.write(d1, text.replace("\tAgency Code\t", s"\t$agency\t").getBytes(UTF_8))
  }

  private def run(d: (Path, Path)) =
    Pipeline.run(spark, cfg(d._1.toString, d._2.toString))

  test("a second run over the golden fixture submits no Spark job") {
    val golden = cfg(fixture("data_dictionary_template_1.txt"),
      fixture("data_dictionary_template_2.txt"))
    val first = Pipeline.run(spark, golden).columns.toSeq
    var second = Seq.empty[String]
    val jobs = jobDescriptions { second = Pipeline.run(spark, golden).columns.toSeq }
    assert(jobs.isEmpty)
    assert(second === first)
  }

  test("a rewritten dictionary is re-read: new length, or same length and new mtime") {
    val d = templates("Agency Code")
    assert(run(d).columns.contains("Agency Code"))
    assert(jobDescriptions(run(d)).isEmpty)

    rewrite(d._1, "Agency Codes") // one byte longer
    val longer = run(d).columns
    assert(longer.contains("Agency Codes") && !longer.contains("Agency Code"))

    val f = d._1.toFile
    val mtime = f.lastModified()
    rewrite(d._1, "Agency Kodes") // the same length
    assert(f.setLastModified(mtime + 60000L))
    val renamed = run(d).columns
    assert(renamed.contains("Agency Kodes") && !renamed.contains("Agency Codes"))
    assert(jobDescriptions(run(d)).isEmpty)
  }

  test("two path pairs keep their own entries") {
    val a = templates("Agency A")
    val b = templates("Agency B")
    assert(run(a).columns.contains("Agency A"))
    assert(run(b).columns.contains("Agency B"))
    var again = Array.empty[String]
    assert(jobDescriptions { again = run(a).columns }.isEmpty)
    assert(again.contains("Agency A") && !again.contains("Agency B"))
  }
}
