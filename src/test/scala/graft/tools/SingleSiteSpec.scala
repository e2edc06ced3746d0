package graft.tools

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session factory and one ledger, machine-checked over the code
  * lines of `src/main`: a second `SparkSession.builder()` or a second
  * Spark listener fails here. */
class SingleSiteSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Each Scala file under `src/main/scala` (relative path) with its
    * lines, comment lines skipped. */
  private lazy val code: Seq[(String, Seq[String])] = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.toSeq.map(_.trim)
          .filterNot(l => Seq("//", "/*", "*").exists(l.startsWith)))
    finally files.close()
  }

  private def filesMatching(pattern: String): Set[String] = {
    val re = pattern.r
    code.collect { case (f, lines) if lines.exists(re.findFirstIn(_).nonEmpty) => f }
      .toSet
  }

  test("SparkSession.builder() is called only in Session.scala") {
    assert(filesMatching("""SparkSession\.builder\(""") ===
      Set("graft/Session.scala"))
  }

  test("a Spark listener is registered or extended only in obs/Ledger.scala") {
    val listener = """addSparkListener|listenerManager\.register|""" +
      """streams\.addListener|(extends|with|new)\s+[\w.]*""" +
      """(SparkListener|QueryExecutionListener|StreamingQueryListener)\b"""
    assert(filesMatching(listener) === Set("graft/obs/Ledger.scala"))
  }
}
