package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.Try
/** Benchmark main: times every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Measurement protocol (each piece exists because the naive version
  * lied on this container):
  *  - sorted-name execution order + noop-sink full evaluation;
  *  - two warmup runs before the first timed query;
  *  - best-of-2 per query, EXCEPT fast+stable rows, in two tiers: a
  *    query whose committed figure is under 0.3 s and whose first
  *    attempt lands within 2x of it records that single run; a query
  *    whose committed figure is under 3 s and whose first attempt
  *    lands AT OR UNDER it likewise runs once. Committed figures are
  *    medians of 3, so an at-or-under attempt sits in the lower half of
  *    the noise distribution — a genuine regression cannot produce it,
  *    and any over-committed attempt buys the confirmation run. The
  *    0.3 s tier keeps a 2x band because at sub-300 ms the tens-of-ms
  *    container jitter swamps anything a second sample could certify,
  *    and a real 2x regression still exits the band;
  *  - baseline-commit mode (SPARK_GRAFT_BENCH_PROTOCOL=median3): rows
  *    whose first attempt lands under 3 s run THREE attempts and commit
  *    the MEDIAN (not the best) — the committed figure is then a
  *    typical-run value, so a later best-of-2 rarely beats it by luck
  *    and never trails it 2x by luck. Rows ≥3 s keep best-of-2 (their
  *    relative noise is small; a third run costs real wall). In this
  *    mode no baseline is read, so the exemptions and the re-time pass
  *    are off (this run IS the new reference), and the JSON carries
  *    "protocol":"median3" vs "gate";
  *  - the baseline is the previous `bench_full.json` at the same sf AND
  *    the same core count ([[baseline]]); any other file is refused
  *    loudly (stderr + "baseline":"refused: ..." in both outputs),
  *    never silently read as "no figures";
  *  - self-healing re-time: any row at >2x its committed best gets a
  *    third-attempt pair at session end, disclosed via "retimed" +
  *    "retimed_pre" (the pre-retime figure);
  *  - a fixed reference query timed at start/mid/end (+ once more
  *    after the retime pass) → "noise_index", the box's throughput
  *    swing during this run;
  *  - per-family shared training and engine warms (see `warms`) are
  *    paid once before the loop, timed, disclosed and INCLUDED in the
  *    headline total.
  */
object Bench {
  private val mapper = new ObjectMapper()

  /** Per-query committed figures (ms) from a previous `bench_full.json`,
    * or the reason the file cannot serve as this run's baseline: a
    * figure measured at another sf or core count is not comparable. */
  def baseline(json: String, sf: String, cpus: Int)
      : Either[String, Map[String, Long]] =
    Try(mapper.readTree(json)).toOption.filter(_.isObject) match {
      case None => Left("not a JSON object")
      case Some(j) =>
        val queries = j.path("queries")
        if (j.path("sf").asText() != sf) Left(s"sf ${j.path("sf")} is not $sf")
        else if (!j.path("cpus").isInt) Left("no cpus recorded")
        else if (j.path("cpus").asInt() != cpus)
          Left(s"cpus ${j.path("cpus")} is not $cpus")
        else if (!queries.isObject) Left("no queries map")
        else queries.properties().asScala.find(!_.getValue.isNumber) match {
          case Some(e) => Left(s"non-numeric figure for ${e.getKey}")
          case None => Right(queries.properties().asScala.map(e =>
            e.getKey -> math.round(e.getValue.asDouble() * 1000.0)).toMap)
        }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Force FULL evaluation of every column: a noop-sink write consumes
    // each row end-to-end, so Catalyst cannot prune computed columns or
    // drop the top-level sort the way it can under count().
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // warmup: initialize FS/codegen/parquet-footer caches so the first
    // timed query doesn't absorb one-time session costs. TWO runs: a
    // single run left residual JIT compilation in the session-start
    // noise probe (~1.8x the mid/end probes on identical code),
    // conflating JIT warmup with container drift — the index must
    // measure the BOX, not the JIT.
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try run(fn) catch { case _: Throwable => () }
      try run(fn) catch { case _: Throwable => () }
    }
    // A throwing query is RECORDED as failed — it must not silently
    // score ~0 s and "improve" the total; the gate can cross-check
    // n_failed against CORRECTNESS.
    //
    // Queries run in sorted-name order (hash-map order made adding a
    // query reshuffle the rest, and unchanged queries swung 8x on
    // JIT/GC/state-store luck), and each is timed TWICE with the better
    // time recorded, so the figure measures the plan, not which query
    // paid the JIT bill. BOTH times are kept: this container's
    // throughput swings run-to-run, so the full JSON carries the
    // per-query (best, second) spread to let a reader separate box
    // noise from real regressions mechanically.
    val fastMs = 300L
    val stableMs = 3000L // also the median3 boundary
    // median3: baseline-commit protocol — see the scaladoc. Gate runs
    // never set this; it is used only when recommitting bench_full.json
    // as the reference figures.
    val median3 = sys.env.get("SPARK_GRAFT_BENCH_PROTOCOL")
      .contains("median3")
    // Per-query measurement record. `single` is an EXPLICIT flag set
    // only by the fast-path exemption: inferring it from best == other
    // would conflate genuine single runs with best-of-2 rows whose two
    // attempts tied to the millisecond.
    case class R(name: String, best: Long, other: Long, ok: Boolean,
        single: Boolean)
    // Exemption AUDIT sample: the at-or-under tier trusts the committed
    // baseline; if that goes stale, a lucky low first attempt on a
    // mildly-regressed heavy-tailed row can keep landing at-or-under it
    // and never buy a confirmation. A per-run ~1-in-8 sample of
    // would-be-exempted rows is forced through best-of-2 anyway; the
    // seed is per-run (nanoTime) so the audited subset ROTATES across
    // runs instead of pinning the same rows forever. Audited rows are
    // disclosed ("audited") and counted out of "single_run".
    val auditSeed: Long = System.nanoTime()
    val audited = scala.collection.mutable.ArrayBuffer[String]()
    def auditPick(name: String): Boolean =
      java.lang.Long.remainderUnsigned(
        scala.util.hashing.MurmurHash3.stringHash(name).toLong ^ auditSeed,
        8L) == 0L
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        prevBest: Option[Long] = None): R = {
      def timed(): (Long, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { run(fn); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
        ((System.nanoTime() - t0) / 1000000L, ok)
      }
      val (ms1, ok1) = timed()
      if (!ok1) R(name, ms1, ms1, ok = false, single = true)
      else if (median3 && ms1 < stableMs) {
        // baseline mode, sub-3s row: commit the MEDIAN of 3 attempts
        val (ms2, ok2) = timed()
        val (ms3, ok3) = timed()
        val sorted = Seq(ms1, ms2, ms3).sorted
        R(name, sorted(1), sorted(2), ok2 && ok3, single = false)
      }
      else {
        // fast + stable, or at-or-under the committed figure
        val exempt = prevBest.exists(pb =>
          (pb < fastMs && ms1 <= 2L * pb) || (pb < stableMs && ms1 <= pb))
        if (exempt && !auditPick(name)) R(name, ms1, ms1, ok = true, single = true)
        else { // best-of-2 (median3 rows ≥3s take this path too)
          if (exempt) audited += name
          val (ms2, ok2) = timed()
          R(name, math.min(ms1, ms2), math.max(ms1, ms2), ok2, single = false)
        }
      }
    }
    // Noise index: the same fixed reference query (q1_agg, best-of-2)
    // timed at session start / middle / end. The code is identical at
    // all three points, so the spread measures the CONTAINER's
    // throughput swing during this run — a run-over-run comparator
    // divides it out instead of re-timing by hand.
    val refFn = SparkEntry.queries("q1_agg")
    def refTime(): Long = timeOne("q1_agg(ref)", refFn).best
    // Previous committed per-query bests — read BEFORE this run
    // overwrites bench_full.json. Feeds both the single-run exemption
    // (timeOne) and the self-healing re-time.
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "."))
    val fullPath = outDir.resolve("bench_full.json").toAbsolutePath
    val prior: Either[String, Map[String, Long]] =
      if (median3 || !Files.exists(fullPath)) Right(Map.empty)
      else Try(Files.readString(fullPath)).toEither.left
        .map(e => s"unreadable: ${e.getMessage}")
        .flatMap(baseline(_, sfDir, cpus))
    prior.left.foreach(r => System.err.println(s"[bench] baseline refused: $r"))
    val prevBestMs = prior.getOrElse(Map.empty[String, Long])
    val baselineNote =
      prior.fold("refused: " + _, m => if (m.isEmpty) "none" else "used")
    // Per-family shared training and one-time engine warms, each paid
    // once here, timed, disclosed under its key and INCLUDED in the
    // headline total — per-query figures then measure serving, not a
    // re-paid training tax (the fits are pure functions of (sf, params),
    // so caching is observationally invisible):
    //  - ann: IVF centroids, raw/permuted/residual PQ codebooks, OPQ;
    //  - tok: BPE / WordPiece merges, the quantized unigram seed and its
    //    EM counts (q_bpe_*, q_wordpiece*, q_unigram_*, ...);
    //  - dedup: the from-scratch recompute cross-check that the three
    //    maintenance-equivalence rows share;
    //  - stream: the first streaming query in a JVM absorbs fixed
    //    engine init into its figure.
    val warms: Seq[(String, Long)] = Seq[(String, () => Unit)](
      "ann_family_fit_sec" ->
        (() => graft.queries.ClusterQueries.warmAnnFits(spark, sfDir)),
      "tok_family_fit_sec" ->
        (() => graft.queries.TextQueries.warmTokFits(spark, sfDir)),
      "dedup_family_fit_sec" ->
        (() => graft.queries.SimilarityQueries.warmDedupFits(spark, sfDir)),
      "stream_warm_sec" -> (() => graft.streaming.StreamWarm.ensure(spark)),
    ).map { case (key, warm) =>
      val t0 = System.nanoTime()
      key -> (try { warm(); (System.nanoTime() - t0) / 1000000L }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $key warm FAILED: ${e.getMessage}")
          0L
        })
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val noiseStart = refTime()
    val (firstHalf, secondHalf) = sorted.splitAt(sorted.size / 2)
    val resultsA = firstHalf.map { case (n, f) =>
      timeOne(n, f, prevBestMs.get(n)) }
    val noiseMid = refTime()
    val resultsB = secondHalf.map { case (n, f) =>
      timeOne(n, f, prevBestMs.get(n)) }
    val noiseEnd = refTime()
    val resultsRaw: Seq[R] = resultsA ++ resultsB
    // Self-healing re-time: best-of-2 on a noisy box still manufactures
    // phantom >2x "regressions". Any query whose best-of-2 exceeds 2x
    // its committed baseline gets one end-of-session third-attempt
    // pair; the committed figure takes the overall best. Each retimed
    // query is listed under "retimed", and "retimed_pre" carries its
    // PRE-retime best, so the one-way downward ratchet is disclosed
    // per figure and a reader can reconstruct what best-of-2 measured.
    val retimed = scala.collection.mutable.ArrayBuffer[String]()
    val retimedPre = scala.collection.mutable.LinkedHashMap[String, Long]()
    val results: Seq[R] = resultsRaw.map { r =>
        prevBestMs.get(r.name) match {
          case Some(pb) if r.ok && pb > 0 && r.best > 2L * pb =>
            retimed += r.name
            retimedPre(r.name) = r.best
            val r2 = timeOne(r.name, SparkEntry.queries(r.name))
            if (r2.ok && r2.best < r.best)
              r.copy(best = r2.best, other = math.min(r.best, r2.other),
                single = false)
            else r
          case _ => r
        }
    }
    // Post-retime noise probe: the retime pass runs after noiseEnd, so
    // without a fourth probe the index would not bracket the retimed
    // measurements. When nothing was retimed the fourth probe is
    // OMITTED (a copied third probe would be indistinguishable from a
    // real fourth one) — noise_ref carries 3 entries on a retime-free
    // run, 4 otherwise.
    val noise =
      if (retimed.nonEmpty) Seq(noiseStart, noiseMid, noiseEnd, refTime())
      else Seq(noiseStart, noiseMid, noiseEnd)
    val noiseIndex = java.math.BigDecimal.valueOf(
      noise.max.toDouble / math.max(1L, noise.min).toDouble)
      .setScale(3, java.math.RoundingMode.HALF_UP)
    val failed = results.collect { case r if !r.ok => r.name }
    // Times are kept as integral milliseconds and written as 3-place
    // decimals, so per-query values, omitted_sec, and the total agree
    // EXACTLY in decimal (no round-the-parts-vs-round-the-sum drift).
    def sec(ms: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(ms, 3)
    val totalMs = results.map(_.best).sum + warms.map(_._2).sum
    def strings(j: ObjectNode, key: String, xs: Iterable[String]): Unit = {
      val a = j.putArray(key)
      xs.foreach(x => a.add(x))
    }
    def secs(j: ObjectNode, key: String, xs: Iterable[(String, Long)]): Unit = {
      val o = j.putObject(key)
      xs.foreach { case (k, ms) => o.put(k, sec(ms)) }
    }
    def jsonLine(entries: Seq[(String, Long)])(extra: ObjectNode => Unit): String = {
      val j = mapper.createObjectNode()
        .put("metric", "total").put("value", sec(totalMs)).put("unit", "sec")
        .put("n_queries", results.size).put("n_failed", failed.size)
      strings(j, "failed", failed)
      extra(j)
      secs(j, "queries", entries)
      j.put("sf", sfDir)
      mapper.writeValueAsString(j)
    }
    // Full per-query detail -> file (the driver's stdout tail window is
    // ~2.3 KB; a 70+-entry map overflows it and the driver records
    // parsed:null). The path is resolved against an explicit dir (env
    // override) and logged absolute, so a changed JVM CWD can't orphan
    // the file the stdout line points at.
    val byTime = results.map(r => (r.name, r.best)).sortBy(-_._2)
    // IO-bound queries: these pay a real disk write per run BY DESIGN
    // (the write path must stay on the bench) and are the noisiest
    // rows — tagged so run-over-run comparison separates compute-plan
    // time from disk noise.
    val ioQueries =
      Seq("q_bucketed_join", "q_shard_write", "q_shard_manifest",
        "q_schema_evolution", "q_txn_commit", "q_ann_index_build",
        "q_ann_index_query", "q_ann_graph_index_build",
        "q_ann_graph_index_query")
        .filter(n => results.exists(_.name == n))
    val ioMs = results.filter(r => ioQueries.contains(r.name)).map(_.best).sum
    Files.writeString(fullPath, jsonLine(byTime) { j =>
      val spread = j.putObject("spread")
      results.sortBy(r => -r.other).foreach { r =>
        spread.putArray(r.name).add(sec(r.best)).add(sec(r.other))
      }
      strings(j, "io_queries", ioQueries)
      j.put("io_sec", sec(ioMs)).put("compute_sec", sec(totalMs - ioMs))
      strings(j, "retimed", retimed)
      secs(j, "retimed_pre", retimedPre)
      warms.foreach { case (key, ms) => j.put(key, sec(ms)) }
      j.put("single_run", results.count(_.single))
      strings(j, "audited", audited)
      j.put("protocol", if (median3) "median3" else "gate")
        .put("cpus", cpus).put("baseline", baselineNote)
      val ref = j.putArray("noise_ref")
      noise.foreach(ms => ref.add(sec(ms)))
      j.put("noise_index", noiseIndex)
    })
    System.err.println(s"[bench] full per-query JSON: $fullPath")
    // Final stdout line: slowest 40 only, so line + sbt's trailing
    // "[success]" banner both fit inside the driver's tail capture.
    val (kept, omitted) = byTime.splitAt(40)
    println(jsonLine(kept) { j =>
      j.put("queries_omitted", omitted.size)
        .put("omitted_sec", sec(omitted.map(_._2).sum))
        .put("noise_index", noiseIndex)
      strings(j, "retimed", retimed)
      j.put("full", fullPath.toString)
        .put("cpus", cpus).put("baseline", baselineNote)
    })
    spark.stop()
  }
}
