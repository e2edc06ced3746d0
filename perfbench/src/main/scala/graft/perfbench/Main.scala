package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine.{Pipeline, Qa, Sink}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Runs one benchmark workload over generated inputs and writes what it
  * measured and what the program answered as JSON; `perfbench/run.py`
  * generates the inputs, checks the answers and prints the metrics.
  *
  * One caller drives the units in name order (a closed loop). After a
  * warm-up over its own units, whole passes run until `--seconds` is
  * spent. With `--trace 1`, a pass with the Spark listeners on runs between
  * two untraced ones, and the per-layer metrics come from it.
  *
  * Usage: Main --workload clean_states|wide_dictionary --inputs DIR
  *   --work DIR --out FILE --seconds S --trace 0|1 --cores N
  */
object Main {
  final case class Result(unit: String, seconds: Double,
      values: Map[String, Any], error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val work = opt("work")
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val inputs = new File(opt("inputs"))
    // Units named W* run once, untimed, before measuring: the first unit
    // of a JVM pays class loading and JIT warm-up several times over.
    val (warmUnits, units) = inputs.listFiles.filter(_.isDirectory)
      .map(_.getName).sorted.toSeq.partition(_.startsWith("W"))
    val spans = mutable.ArrayBuffer.empty[Span]
    val stealShares = mutable.ArrayBuffer.empty[Double]
    var tracing = false
    val span = new SpanCall {
      def apply[T](unit: String, name: String, layer: String)(f: => T): T = {
        val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
        val r = f
        if (tracing) spans += Span(unit, name, layer, ms,
          System.currentTimeMillis(), System.nanoTime() - ns)
        r
      }
    }
    val runUnit: String => Result = opt("workload") match {
      case "clean_states" => cleanState(spark, inputs, work, span)
      case "wide_dictionary" => widePair(spark, inputs, span)
    }
    def pass(us: Seq[String]): (Double, Seq[Result]) = {
      val cpu0 = cpuTicks()
      val t = System.nanoTime()
      val rs = us.map { u =>
        val r = runUnit(u)
        System.err.println(f"[perfbench] $u ${r.seconds}%.3f s${r.error.fold("")(" " + _)}")
        r
      }
      val seconds = (System.nanoTime() - t) / 1e9
      val cpu = cpuTicks().zip(cpu0).map { case (a, b) => a - b }
      stealShares += (if (cpu.sum > 0) cpu(7).toDouble / cpu.sum else 0.0)
      (seconds, rs)
    }

    val (warmS, warm) = pass(warmUnits)
    val seconds = opt("seconds").toDouble
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Result])]
    val traced = opt("trace") == "1"
    // Whole passes only; another starts when the median pass still fits.
    while (passes.isEmpty || (!traced && passes.map(_._1).sum +
        median(passes.map(_._1).toSeq) <= seconds))
      passes += pass(units)
    val out = new java.util.LinkedHashMap[String, Object]()
    if (traced) {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      val gc0 = gcMillis()
      heapPools.foreach(_.resetPeakUsage())
      tracing = true
      val (tracedS, tracedResults) = pass(units)
      tracing = false
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
      val gcS = (gcMillis() - gc0) / 1e3
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
      // Untraced passes before and after the traced one: their mean cancels
      // the JIT still warming up from one pass to the next.
      val after = pass(units)
      val layers = tracer.layers(spans.toSeq, cores) ++ Map(
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> heapPeak / 1048576.0,
        "trace.wall_s" -> tracedS,
        "trace.overhead_s" -> (tracedS - (passes.head._1 + after._1) / 2))
      out.put("layers", layers.map { case (k, v) => k -> Double.box(v) }.asJava)
      out.put("spans", spans.map(s => Map[String, Any]("unit" -> s.unit,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "seconds" -> s.nanos / 1e9).asJava).asJava)
      passes += ((tracedS, tracedResults))
      passes += after
    }
    out.put("session_s", Double.box(sessionS))
    out.put("warmup_s", Double.box(warmS))
    out.put("peak_rss_mb", Double.box(vmHwmKb() / 1024.0))
    out.put("cores", Int.box(cores))
    out.put("steal_share", stealShares.map(Double.box).asJava)
    out.put("spark", spark.version)
    out.put("scala", scala.util.Properties.versionNumberString)
    out.put("java", System.getProperty("java.version"))
    out.put("warmup", warm.map(toJava).asJava)
    out.put("passes", passes.map { case (s, rs) =>
      Map[String, Any]("seconds" -> s, "units" -> rs.map(toJava).asJava).asJava
    }.asJava)
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(opt("out")), out)
    spark.stop()
  }

  /** Wraps one call into the program in a span. */
  trait SpanCall {
    def apply[T](unit: String, name: String, layer: String)(f: => T): T
  }

  /** The paper's batch for one state: clean and join its two claim files,
    * write the result partitioned by state, read it back and QA-compare
    * the read-back with the in-memory result. */
  def cleanState(spark: SparkSession, inputs: File, work: String,
      span: SpanCall): String => Result = unit => timed(unit) {
    val t = System.nanoTime()
    val result = span(unit, "Pipeline.run", "construct") {
      Pipeline.run(spark, config(inputs, unit)) }
    val tagged = result.withColumn("state", lit(unit))
    val obs = Observation()
    val observed = tagged.observe(obs, count(lit(1)).as("rows"),
      sum(col("`FR Lunch Meals`")).as("fr_lunch"),
      sum(col("`FR Breakfast Meals`")).as("fr_breakfast"))
    val path = s"$work/out/$unit"
    span(unit, "Sink.writePartitioned", "execute") {
      Sink.writePartitioned(observed, path, Seq("state")) }
    val back = span(unit, "Sink.read", "execute") { Sink.read(spark, path) }
    val qa = span(unit, "Qa.agreement", "execute") { Qa.agreement(tagged, back) }
    val seconds = (System.nanoTime() - t) / 1e9
    val o = obs.get
    seconds -> Map("rows" -> o("rows"), "fr_lunch" -> o("fr_lunch"),
      "fr_breakfast" -> o("fr_breakfast"), "columns" -> result.columns.toSeq,
      "qa_produced" -> qa.countA, "qa_expected" -> qa.countB,
      "qa_common" -> qa.countCommon, "qa_ratio" -> qa.ratio,
      "sink_files" -> dataFiles(new File(path)))
  }

  /** One wide state pair: clean and join, then consume every row through
    * the noop sink, so execution is the cheapest it can be and the
    * dictionary plan and Catalyst analysis dominate. */
  def widePair(spark: SparkSession, inputs: File,
      span: SpanCall): String => Result = unit => timed(unit) {
    val t = System.nanoTime()
    val result = span(unit, "Pipeline.run", "construct") {
      Pipeline.run(spark, config(inputs, unit)) }
    val obs = Observation()
    val observed = result.observe(obs, count(lit(1)).as("rows"))
    span(unit, "noop.write", "execute") {
      observed.write.format("noop").mode("overwrite").save() }
    (System.nanoTime() - t) / 1e9 ->
      Map("rows" -> obs.get("rows"), "columns" -> result.columns.toSeq)
  }

  private def config(inputs: File, unit: String) = Pipeline.Config(
    dict1Path = s"$inputs/dict1.txt", dict2Path = s"$inputs/dict2.txt",
    breakfastPath = s"$inputs/$unit/SBP.txt",
    lunchPath = s"$inputs/$unit/NSLP.txt", state = unit)

  /** Runs one unit; its `seconds` cover the calls into the program, not
    * the reading of what they answered. A failed unit keeps the time it
    * ran until it failed. */
  private def timed(unit: String)(f: => (Double, Map[String, Any])): Result = {
    val t = System.nanoTime()
    try {
      val (seconds, values) = f
      Result(unit, seconds, values, None)
    } catch {
      case NonFatal(e) =>
        Result(unit, (System.nanoTime() - t) / 1e9, Map.empty, Some(e.toString))
    }
  }

  private def toJava(r: Result): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("unit", r.unit)
    m.put("seconds", r.seconds)
    r.values.foreach {
      case (k, v: Seq[_]) => m.put(k, v.asJava)
      case (k, v) => m.put(k, v)
    }
    r.error.foreach(m.put("error", _))
    m
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def dataFiles(dir: File): Int =
    if (!dir.exists) 0
    else Files.walk(dir.toPath).iterator.asScala
      .count(p => p.getFileName.toString.startsWith("part-"))

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** The machine's CPU time counters (`/proc/stat`); the 8th is time
    * stolen by the hypervisor, which slows every unit alike. */
  private def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption
      .map(_.split("\\s+").drop(1).take(8).map(_.toLong))
      .filter(_.length == 8).getOrElse(Array.fill(8)(0L))

  /** Peak resident set of this process (Linux `VmHWM`), in KiB. */
  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
