package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The bench baseline contract: a previous `bench_full.json` is read by
  * a JSON parser (so its whitespace cannot matter) and is refused,
  * never silently emptied, when it was measured at another sf or core
  * count. No Spark session. */
class BenchBaselineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val committed = Files.readString(Paths.get("bench_full.json"))
  private def tree = mapper.readTree(committed).asInstanceOf[ObjectNode]
  private val sf = tree.path("sf").asText()

  private def withCpus(cpus: Int): ObjectNode = tree.put("cpus", cpus)

  test("compact and pretty-printed baselines give the same figures") {
    val compact = mapper.writeValueAsString(withCpus(32))
    val spaced = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(withCpus(32))
    assert(spaced.contains("\n") && spaced.contains("\" : "))
    val a = Bench.baseline(compact, sf, 32)
    val b = Bench.baseline(spaced, sf, 32)
    assert(a.isRight, a)
    assert(a === b)
    val figures = a.toOption.get
    assert(figures.size === 406)
    val q1 = tree.path("queries").path("q1_agg").asDouble()
    assert(figures("q1_agg") === math.round(q1 * 1000.0))
  }

  test("the committed file records no cpus, so it is refused") {
    assert(!tree.has("cpus"))
    assert(Bench.baseline(committed, sf, 32) === Left("no cpus recorded"))
  }

  test("a baseline at another core count or sf is refused") {
    val at8 = mapper.writeValueAsString(withCpus(8))
    assert(Bench.baseline(at8, sf, 32) === Left("cpus 8 is not 32"))
    val other = Bench.baseline(at8, "/elsewhere", 8)
    assert(other.left.exists(_.startsWith("sf ")), other)
  }

  test("garbage is refused, not thrown") {
    val textFigure = withCpus(32)
    textFigure.putObject("queries").put("q1_agg", "fast")
    Seq("", "not json", "{\"queries\":{", "[1,2]", "null", "{}",
        mapper.writeValueAsString(textFigure)).foreach { s =>
      assert(Bench.baseline(s, sf, 32).isLeft, s)
    }
  }
}
