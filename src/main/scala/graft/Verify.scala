package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Wall discipline (VERDICT r17 #1 — the round's correctness artifact
  * came back empty and the prime suspect is the gate's wall):
  *
  *  - cores default to the BOX (`Session.cpus`), not 4: a local[4]
  *    session on the 32-core container serializes what the contract
  *    says runs at local[32]; `SPARK_GRAFT_CPUS` still overrides.
  *  - queries run CONCURRENTLY on a small pool
  *    (`SPARK_GRAFT_VERIFY_PAR`, default 8): Spark job submission is
  *    thread-safe, each query writes its own output dir, and most of
  *    the 400+ rows are driver-latency-bound (Catalyst planning +
  *    small jobs) — serial execution left the executor threads idle.
  *    Correctness is unaffected: every query is deterministic, the
  *    shared training fits are per-key-locked (FitCache), and the
  *    few queries that REBUILD a shared persisted index dir while
  *    siblings serve from it are serialized through [[exclusiveGroup]]
  *    (a rebuild's post-swap GC deletes files a concurrent reader's
  *    already-loaded plan still references — the one real race).
  *
  * Gate-wall budget (README "Correctness gate wall"): dump ≤ 7 min,
  * DuckDB selfcheck ≤ 8 min at sf0.01 on this box. */
object Verify {
  /** Queries sharing ONE persisted index directory (per JVM, sf):
    * members of a group never overlap. q_ann_graph_index_build and
    * q_ann_index_build rebuild unconditionally; the query/curve rows
    * ensureBuilt + read. Everything else either owns a private dir
    * (the _delta/_compact/_stream lifecycle rows, per-invocation
    * temp dirs) or touches no shared state. */
  private val exclusiveGroup: Map[String, String] = Map(
    "q_ann_graph_index_build" -> "graph-index-dir",
    "q_ann_graph_index_query" -> "graph-index-dir",
    "q_ann_beam_curve" -> "graph-index-dir",
    "q_ann_graph_multi_entry" -> "graph-index-dir",
    "q_ann_filtered" -> "graph-index-dir",
    "q_ann_graph_layered" -> "graph-index-dir",
    "q_ann_recall_curve" -> "graph-index-dir", // graph lane serves it
    "q_ann_index_build" -> "ivf-index-dir",
    "q_ann_index_query" -> "ivf-index-dir")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (local debugging;
    // the driver always passes two args -> full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // A typo'd or empty filter silently produces an empty run — warn so
    // local debugging doesn't chase a phantom "all queries vanished".
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: unknown query name(s): ${unknown.mkString(", ")}")
      if (names.intersect(SparkEntry.queries.keySet).isEmpty)
        System.err.println(
          "[verify] WARNING: filter matches no queries — nothing will run")
    }
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    val groupLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    // ADVICE r18 (medium): the pool swallowed per-query failures into
    // stderr only, so a racing query could silently DISAPPEAR from the
    // round's correctness artifact (the r17 empty-artifact shape).
    // Failures are now (a) collected, (b) retried ONCE serially after
    // the pool drains — a loss to a nondeterministic pool race is
    // deterministic when re-run alone — and (c) written to
    // `outDir/failed.json`, which tools/selfcheck.py reads and counts
    // as hard FAILs next to its own produced-vs-expected sweep.
    val failures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val tq = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        failures.remove(name) // a retry that succeeds clears the mark
        System.err.println(
          s"[verify-ms] $name ${(System.nanoTime() - tq) / 1000000L}")
      }
      catch { case e: Throwable =>
        failures.add(name)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt
    if (par <= 1 || todo.size <= 1) {
      todo.foreach { case (n, f) => runOne(n, f) }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futures = todo.map { case (name, fn) =>
          pool.submit(new Runnable {
            override def run(): Unit = exclusiveGroup.get(name) match {
              case Some(g) =>
                groupLocks.computeIfAbsent(g, _ => new Object)
                  .synchronized { runOne(name, fn) }
              case None => runOne(name, fn)
            }
          })
        }
        futures.foreach(_.get()) // propagate nothing: runOne catches
      } finally pool.shutdown()
    }
    // serial second chance for pool-time failures (no concurrency, so
    // a shared-dir race cannot recur); whatever still fails is recorded
    if (!failures.isEmpty) {
      val retry = failures.toArray(Array.empty[String]).sorted
      System.err.println(
        s"[verify] retrying ${retry.length} failed serially: " +
          retry.mkString(", "))
      retry.foreach(n => todo.find(_._1 == n)
        .foreach { case (nm, f) => runOne(nm, f) })
    }
    val stillFailed = failures.toArray(Array.empty[String]).sorted
    val json = new ObjectMapper()
    json.writeValue(new java.io.File(s"$outDir/failed.json"), stillFailed)
    // the names this run INTENDED to dump — selfcheck sweeps produced
    // dirs against this list (not just what appeared on disk), so a
    // query that vanishes under the pool fails the gate loudly
    json.writeValue(new java.io.File(s"$outDir/expected.json"),
      todo.map(_._1).sorted.toArray)
    if (stillFailed.nonEmpty)
      System.err.println(
        s"[verify] ${stillFailed.length} queries FAILED after retry: " +
          stillFailed.mkString(", "))
    System.err.println(
      s"[verify] dump wall ${(System.nanoTime() - t0) / 1000000000L} s " +
        s"(${todo.size} queries, local[${Session.cpus}], par=$par, " +
        s"failed=${stillFailed.length})")
    json.writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
