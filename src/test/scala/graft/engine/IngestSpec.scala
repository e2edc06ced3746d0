package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSuite

/** `Ingest.readTsv` reads the header on the driver: the same columns
  * and rows as Spark's own header inference (kept here as the
  * reference), and no Spark job. */
class IngestSpec extends SparkSuite {

  private lazy val dir = Files.createTempDirectory("graft-ingest")

  private def write(name: String, text: String): String = {
    val f = dir.resolve(name)
    Files.write(f, text.getBytes(UTF_8))
    f.toString
  }

  private def reference(path: String) = {
    val raw = spark.read.option("sep", "\t").option("header", "true").csv(path)
    raw.toDF(raw.columns.map(Ingest.cleanName).toSeq: _*)
  }

  private val cases = Seq(
    "bom.txt" -> "\uFEFF\"AGENCY_CODE\"\t\"School Name\"\nA1\tfoo\n",
    "dups.txt" -> "Name\tname\tX\tNAME\n1\t2\t3\t4\n",
    "blank.txt" -> "a\t\tc\n1\t2\t3\n",
    "header_only.txt" -> "a\tb\tc\n",
    "empty.txt" -> "",
    "crlf.txt" -> "a\tb\r\n1\t2\r\n3\t4\r\n",
    "quoted_tab.txt" -> "\"a\tb\"\tc\n1\t2\n",
    "repeated_header.txt" -> "a\tb\n1\t2\na\tb\n3\t4\n",
    "blank_lines.txt" -> "\n  \na\tb\n1\t2\n")

  /** Each case written once: file name → path. */
  private lazy val paths: Map[String, String] =
    cases.map { case (name, text) => name -> write(name, text) }.toMap

  cases.foreach { case (name, _) =>
    test(s"readTsv matches Spark's header inference: $name") {
      val path = paths(name)
      val df = Ingest.readTsv(spark, path)
      val ref = reference(path)
      assert(df.columns.toSeq === ref.columns.toSeq)
      assert(df.schema === ref.schema)
      assert(df.collect().toSeq === ref.collect().toSeq)
    }
  }

  test("readTsv names: BOM and quotes cleaned, duplicates and blanks made safe") {
    def columns(name: String) = Ingest.readTsv(spark, paths(name)).columns.toSeq
    assert(columns("bom.txt") === Seq("AGENCY_CODE", "School Name"))
    assert(columns("dups.txt") === Seq("Name0", "name1", "X", "NAME3"))
    assert(columns("blank.txt") === Seq("a", "_c1", "c"))
    assert(columns("empty.txt") === Nil)
    assert(columns("quoted_tab.txt") === Seq("a\tb", "c"))
  }

  test("a first line of only tabs: the header is the line the reader skips") {
    // Spark's inference skips only lines that are blank after trimming
    // spaces, so it names these columns _c0.._c2 from the tab line, while
    // its reader skips every whitespace line and drops `a b c` as the
    // header. `readTsv` names the columns from the line the reader skips.
    val df = Ingest.readTsv(spark, write("tab_line.txt", "\t\t\na\tb\tc\n1\t2\t3\n"))
    assert(df.columns.toSeq === Seq("a", "b", "c"))
    assert(df.collect().map(_.toSeq).toSeq === Seq(Seq("1", "2", "3")))
  }

  test("readTsv submits no Spark job") {
    val files = paths.values.toSeq
    assert(jobDescriptions(files.foreach(Ingest.readTsv(spark, _))).isEmpty)
  }
}
